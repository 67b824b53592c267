package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** Z-order clustered layout (`Layouts.writeZOrdered`): the Morton code
  * must interleave correctly, the layout must be content-invariant, and
  * the point of it all — a 2-D range predicate must prune FAR more
  * row groups than a single-column sort. The skipping proof applies the
  * reader's own pruning rule (file min/max box vs predicate box) to the
  * real written files, which is deterministic where runtime scan
  * metrics are AQE/config-fragile.
  */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  private def rmrf(d: String): Unit = {
    def rec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rec)
      f.delete()
    }
    rec(new java.io.File(d))
  }

  test("mortonCode interleaves bits (a odd positions, b even)") {
    // a=0b11, b=0b01 -> a1 b1 a0 b0 = 1 0 1 1 = 11
    val got = spark.range(1)
      .select(Layouts.mortonCode(lit(3L), lit(1L), bits = 2))
      .head().getLong(0)
    assert(got == 11L)
    // full-width sanity: a=max,b=0 fills the odd bits only
    val odd = spark.range(1)
      .select(Layouts.mortonCode(lit((1L << 16) - 1), lit(0L), bits = 16))
      .head().getLong(0)
    assert(java.lang.Long.toBinaryString(odd).matches("(10){16}".r.regex)
      || odd == java.lang.Long.parseLong("10" * 16, 2))
  }

  test("z-ordered layout is content-invariant; a 2-D range predicate " +
      "prunes far more files than a 1-D sorted layout") {
    // sf0.01 (60k rows -> ~600 files at 100 rows each): the z-curve's
    // locality constant needs enough files for the box-area advantage
    // to dominate curve-boundary fragmentation (at 6k rows / 62 files
    // the measured gap was only 7 vs 13)
    val li = Tables.table(spark, "/root/testdata/sf0.01", "lineitem")
      .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
    val base = Files.createTempDirectory("graft-zorder").toString
    try {
      Layouts.writeZOrdered(li, s"$base/z", "l_orderkey", "l_partkey",
        maxRecordsPerFile = 100L)
      // control: the classic single-column sort, same file granularity
      li.repartitionByRange(4, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"))
        .write.option("maxRecordsPerFile", 100L)
        .mode("overwrite").parquet(s"$base/ctl")

      // content invariance
      val want = li.collect().map(_.toSeq).toSet
      assert(spark.read.parquet(s"$base/z").collect()
        .map(_.toSeq).toSet == want)

      // the reader's pruning rule over the real files: a file is READ
      // iff its (min,max) box intersects the predicate box
      // a 20% x 4.5% predicate box: the 1-D sort prunes on l_orderkey
      // only (reads ~20% of files regardless of the l_partkey range);
      // z-order prunes on the box AREA. sf0.01 key ranges: l_orderkey
      // 0..14999, l_partkey 0..1999.
      val (loA, hiA, loB, hiB) = (1000L, 4000L, 200L, 290L)
      def touched(p: String): (Long, Long) = {
        val stats = spark.read.parquet(p)
          .groupBy(input_file_name().as("f"))
          .agg(min("l_orderkey").as("la"), max("l_orderkey").as("ha"),
            min("l_partkey").as("lb"), max("l_partkey").as("hb"))
        val total = stats.count()
        val read = stats.filter(!(col("ha") < loA || col("la") > hiA ||
          col("hb") < loB || col("lb") > hiB)).count()
        (read, total)
      }
      val (zRead, zTotal) = touched(s"$base/z")
      val (cRead, cTotal) = touched(s"$base/ctl")
      info(s"z-order reads $zRead/$zTotal files; 1-D sort reads $cRead/$cTotal")
      assert(zTotal >= 20 && cTotal >= 20, "fixture too coarse to prove skipping")
      // the 1-D sort can only prune on l_orderkey; z-order prunes on both
      assert(zRead * 2 <= cRead,
        s"z-order read $zRead files vs $cRead — expected at least 2x fewer")
      // and the pruned set still contains every matching row
      val matches = spark.read.parquet(s"$base/z")
        .filter(col("l_orderkey").between(loA, hiA) &&
          col("l_partkey").between(loB, hiB))
        .collect().map(_.toSeq).toSet
      assert(matches == li.filter(col("l_orderkey").between(loA, hiA) &&
        col("l_partkey").between(loB, hiB)).collect().map(_.toSeq).toSet)
      assert(matches.nonEmpty)
    } finally rmrf(base)
  }

  test("3-column z-order prunes on the THIRD dimension too") {
    // same reader-pruning-rule proof as the 2-D test, but the layout
    // interleaves three columns and the witness predicate constrains
    // ONLY the third — a 2-D (or 1-D) layout reads everything for it
    val li = Tables.table(spark, "/root/testdata/sf0.01", "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val base = Files.createTempDirectory("graft-zorder3").toString
    try {
      Layouts.writeZOrdered(li, s"$base/z3",
        Seq("l_orderkey", "l_partkey", "l_suppkey"),
        bits = 16, files = 0, maxRecordsPerFile = 100L)
      // control: 2-D z-order, blind to l_suppkey
      Layouts.writeZOrdered(li, s"$base/z2", "l_orderkey", "l_partkey",
        maxRecordsPerFile = 100L)

      val want = li.collect().map(_.toSeq).toSet
      assert(spark.read.parquet(s"$base/z3").collect()
        .map(_.toSeq).toSet == want)

      // sf0.01 l_suppkey spans 0..99; a 10% band on it alone
      val (loS, hiS) = (40L, 49L)
      def touched(p: String): (Long, Long) = {
        val stats = spark.read.parquet(p)
          .groupBy(input_file_name().as("f"))
          .agg(min("l_suppkey").as("ls"), max("l_suppkey").as("hs"))
        (stats.filter(!(col("hs") < loS || col("ls") > hiS)).count(),
          stats.count())
      }
      val (z3Read, z3Total) = touched(s"$base/z3")
      val (z2Read, z2Total) = touched(s"$base/z2")
      info(s"3-D layout reads $z3Read/$z3Total files for the l_suppkey " +
        s"band; 2-D reads $z2Read/$z2Total")
      assert(z3Total >= 20 && z2Total >= 20)
      // the 2-D layout has no l_suppkey locality: nearly every file
      // intersects a 10% band; the 3-D layout skips most files
      assert(z2Read * 10 >= z2Total * 9,
        s"control unexpectedly clustered: $z2Read/$z2Total")
      assert(z3Read * 2 <= z3Total,
        s"3-D layout read $z3Read/$z3Total files — no third-dim locality")
      // and correctness under the pruned read
      assert(spark.read.parquet(s"$base/z3")
        .filter(col("l_suppkey").between(loS, hiS)).count() ==
        li.filter(col("l_suppkey").between(loS, hiS)).count())
    } finally rmrf(base)
  }

  test("layout lifecycle: cheap unclustered append degrades skipping " +
      "for its fraction only; the measured trigger reclusters and " +
      "restores it; a crashed swap self-heals") {
    val li = Tables.table(spark, "/root/testdata/sf0.01", "lineitem")
      .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
    val base = Files.createTempDirectory("graft-zorder-life").toString
    val lay = s"$base/lay"
    try {
      val (oldSlice, newSlice) =
        (li.filter(col("l_orderkey") <= 9000),
          li.filter(col("l_orderkey") > 9000))
      Layouts.writeZOrderedMaintained(oldSlice, lay,
        Seq("l_orderkey", "l_partkey"), maxRecordsPerFile = 100L)
      assert(Layouts.zOrderFragmentation(spark, lay) == 0.0)

      // cheap append: content correct immediately, fragmentation rises
      Layouts.appendZOrdered(newSlice, lay)
      val want = li.collect().map(_.toSeq).toSet
      assert(spark.read.parquet(lay).collect().map(_.toSeq).toSet == want)
      // byte-based: the appended slice is ~40% of rows but packs into
      // fewer, denser files than the 100-row clustered generation
      val frag = Layouts.zOrderFragmentation(spark, lay)
      assert(frag > 0.05 && frag < 0.7, s"fragmentation $frag")

      // the appended tail is curve-unsorted: a 2-D box over ITS key
      // range must decompress ~every appended BYTE (the appended files
      // are few but wide-boxed), while the clustered generation prunes
      // fine-grained — so measure bytes, not file counts
      def bytesTouched(loA: Long, hiA: Long, loB: Long, hiB: Long): (Long, Long) = {
        val sizes = {
          val fs = new org.apache.hadoop.fs.Path(lay)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          fs.listStatus(new org.apache.hadoop.fs.Path(lay))
            .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
            .map(st => st.getPath.getName -> st.getLen).toMap
        }
        val stats = spark.read.parquet(lay)
          .groupBy(input_file_name().as("f"))
          .agg(min("l_orderkey").as("la"), max("l_orderkey").as("ha"),
            min("l_partkey").as("lb"), max("l_partkey").as("hb"))
          .collect()
        def sz(path: String) = sizes(path.substring(path.lastIndexOf('/') + 1))
        val read = stats.filter(r => !(r.getLong(2) < loA || r.getLong(1) > hiA ||
          r.getLong(4) < loB || r.getLong(3) > hiB)).map(r => sz(r.getString(0))).sum
        (read, sizes.values.sum)
      }
      val (readFrag, totalFrag) = bytesTouched(10000, 12000, 200, 290)
      info(s"fragmented layout reads $readFrag/$totalFrag bytes")

      // below-threshold: trigger refuses (churn guard)
      assert(Layouts.autoReclusterZOrdered(spark, lay,
        threshold = 0.9).isEmpty)
      // at the real fraction: fires, content invariant, skipping back
      val fired = Layouts.autoReclusterZOrdered(spark, lay,
        threshold = 0.05)
      assert(fired.exists(f => f > 0.05), s"trigger did not fire: $fired")
      assert(Layouts.zOrderFragmentation(spark, lay) == 0.0)
      assert(spark.read.parquet(lay).collect().map(_.toSeq).toSet == want)
      val (readClu, totalClu) = bytesTouched(10000, 12000, 200, 290)
      info(s"reclustered layout reads $readClu/$totalClu bytes")
      assert(readClu * 3 <= readFrag,
        s"recluster did not restore skipping: $readClu vs $readFrag bytes")

      // crash heal: simulate a swap that died between its two renames
      val fs = new org.apache.hadoop.fs.Path(lay)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.rename(new org.apache.hadoop.fs.Path(lay),
        new org.apache.hadoop.fs.Path(s"$lay.__zaside")))
      assert(Layouts.zOrderFragmentation(spark, lay) == 0.0) // heals
      assert(spark.read.parquet(lay).collect().map(_.toSeq).toSet == want)

      // crash heal 2: swap completed but the epilogue never ran — the
      // aside holds the consumed old generation PLUS a late append
      // that landed during the stage write. Heal must rescue the late
      // file into the root and drop only the consumed copies.
      val rowsBefore = spark.read.parquet(lay).count()
      val aside = new org.apache.hadoop.fs.Path(s"$lay.__zaside")
      fs.mkdirs(aside)
      val dataFile = fs.listStatus(new org.apache.hadoop.fs.Path(lay))
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
        .head.getPath
      val lateRows = spark.read.parquet(dataFile.toString).count()
      // the late append: a name the last recluster provably did not consume
      org.apache.hadoop.fs.FileUtil.copy(fs, dataFile, fs,
        new org.apache.hadoop.fs.Path(aside, "part-late-append.snappy.parquet"),
        false, spark.sparkContext.hadoopConfiguration)
      // a consumed-generation leftover: must NOT be resurrected
      val consumedName = spark.read
        .parquet(s"$lay/_zorder/consumed_files")
        .head().getString(0)
      org.apache.hadoop.fs.FileUtil.copy(fs, dataFile, fs,
        new org.apache.hadoop.fs.Path(aside, consumedName), false,
        spark.sparkContext.hadoopConfiguration)
      Layouts.zOrderFragmentation(spark, lay) // triggers the heal
      assert(!fs.exists(aside), "aside not dropped after rescue")
      assert(fs.exists(new org.apache.hadoop.fs.Path(lay,
        "part-late-append.snappy.parquet")), "late append lost")
      assert(spark.read.parquet(lay).count() == rowsBefore + lateRows)

      // crash heal 2b (r16 advice fix): an aside the CURRENT generation
      // cannot attribute (consumed_files empty — e.g. a post-swap crash
      // followed by a writeZOrderedMaintained re-create) must be LEFT
      // IN PLACE, not deleted: its data files might be late appends.
      fs.mkdirs(aside)
      org.apache.hadoop.fs.FileUtil.copy(fs, dataFile, fs,
        new org.apache.hadoop.fs.Path(aside, "part-unattributed.snappy.parquet"),
        false, spark.sparkContext.hadoopConfiguration)
      // simulate the re-create's consumed=Nil stamp: overwrite the
      // consumed_files table with an empty one
      spark.read.parquet(s"$lay/_zorder/consumed_files").limit(0)
        .write.mode("overwrite").parquet(s"$lay/_zorder/consumed_files_tmp")
      fs.delete(new org.apache.hadoop.fs.Path(s"$lay/_zorder/consumed_files"), true)
      assert(fs.rename(
        new org.apache.hadoop.fs.Path(s"$lay/_zorder/consumed_files_tmp"),
        new org.apache.hadoop.fs.Path(s"$lay/_zorder/consumed_files")))
      Layouts.zOrderFragmentation(spark, lay) // heal runs, must NOT delete
      assert(fs.exists(new org.apache.hadoop.fs.Path(aside,
        "part-unattributed.snappy.parquet")),
        "unattributable aside was destroyed — late appends lost")
      // manual triage resolution: operator inspects and removes the aside
      fs.delete(aside, true)

      // crash heal 3: a torn metadata stamp — the completed tmp is
      // renamed in and the layout stays maintained
      assert(fs.rename(new org.apache.hadoop.fs.Path(s"$lay/_zorder"),
        new org.apache.hadoop.fs.Path(s"$lay/_zorder__tmp")))
      assert(Layouts.zOrderFragmentation(spark, lay) >= 0.0) // heals
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$lay/_zorder/params")))

      // append validation: missing clustering column / NULL keys fail fast
      val e1 = intercept[IllegalArgumentException] {
        Layouts.appendZOrdered(
          li.select("l_orderkey", "l_linenumber", "l_quantity"), lay)
      }
      assert(e1.getMessage.contains("missing clustering column"))
      val e2 = intercept[IllegalArgumentException] {
        Layouts.appendZOrdered(li.limit(5)
          .withColumn("l_partkey",
            when(col("l_orderkey") >= 0, lit(null: java.lang.Long))
              .otherwise(col("l_partkey"))), lay)
      }
      assert(e2.getMessage.contains("NULL"))
      // the NULL-poisoned append must not have landed any rows
      assert(spark.read.parquet(lay).count() == rowsBefore + lateRows)

      // fused guard (r16): a successful append is the params open plus
      // ONE guarded write job — the old separate null-validation scan
      // is gone. Counted via a job group; the slice is materialized
      // OUTSIDE the group so only the append's own jobs count.
      val slice = li.limit(7).localCheckpoint()
      val sc = spark.sparkContext
      sc.setJobGroup("zappend-jobs", "counted append")
      Layouts.appendZOrdered(slice, lay)
      sc.clearJobGroup()
      val deadline = System.currentTimeMillis + 10000
      def jobs = sc.statusTracker.getJobIdsForGroup("zappend-jobs").length
      var n = jobs
      var stable = 0
      while (System.currentTimeMillis < deadline && stable < 5) {
        Thread.sleep(100)
        val m = jobs
        if (m == n) stable += 1 else { n = m; stable = 0 }
      }
      assert(n <= 2,
        s"appendZOrdered ran $n jobs; expected params open + fused write")
      slice.unpersist()
    } finally rmrf(base)
  }

  test("incremental recluster: bounded rewrite of the tail plus only " +
      "the overlapping clustered files; content invariant; skipping " +
      "restored; a commit-window crash rolls forward; scattered tails " +
      "fall back to the global rewrite") {
    val li = Tables.table(spark, "/root/testdata/sf0.01", "lineitem")
      .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
    val base = Files.createTempDirectory("graft-zorder-inc").toString
    val lay = s"$base/lay"
    def bag(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Int] =
      df.collect().toSeq.map(_.toSeq).groupMapReduce(identity)(_ => 1)(_ + _)
    def clusteredCount: Long =
      spark.read.parquet(s"$lay/_zorder/clustered_files").count()
    try {
      val baseSlice = li.filter(col("l_orderkey") <= 6000)
      Layouts.writeZOrderedMaintained(baseSlice, lay,
        Seq("l_orderkey", "l_partkey"), maxRecordsPerFile = 100L)
      val cluBefore = clusteredCount
      var expected = bag(baseSlice)

      // (1) beyond-the-curve tail (time-ordered ingest shape): the
      // rewrite is EXACTLY the tail — zero clustered files touched
      def merge(a: Map[Seq[Any], Int], b: Map[Seq[Any], Int]) =
        (a.keySet ++ b.keySet).map(k =>
          k -> (a.getOrElse(k, 0) + b.getOrElse(k, 0))).toMap
      val tailA = li.filter(col("l_orderkey") > 9000)
      Layouts.appendZOrdered(tailA, lay)
      expected = merge(expected, bag(tailA))
      val st1 = Layouts.reclusterZOrderedIncremental(spark, lay)
      assert(!st1.usedGlobal && st1.tailFiles > 0, st1)
      assert(st1.overlappedFiles == 0,
        s"a disjoint tail touched clustered files: $st1")
      assert(st1.untouchedFiles == cluBefore, st1)
      assert(Layouts.zOrderFragmentation(spark, lay) == 0.0)
      assert(bag(spark.read.parquet(lay)) == expected)

      // (2) in-domain tail: only the clustered files whose key boxes
      // the tail interleaves with are rewritten — bounded, not global
      val cluBefore2 = clusteredCount
      val tailB = li.filter(col("l_orderkey").between(3000, 3200))
      Layouts.appendZOrdered(tailB, lay)
      expected = merge(expected, bag(tailB))
      val st2 = Layouts.reclusterZOrderedIncremental(spark, lay)
      assert(!st2.usedGlobal && st2.tailFiles > 0, st2)
      assert(st2.overlappedFiles > 0,
        s"an in-domain tail overlapped nothing: $st2")
      assert(st2.untouchedFiles > st2.overlappedFiles,
        s"the bounded rewrite was not bounded: $st2")
      assert(Layouts.zOrderFragmentation(spark, lay) == 0.0)
      assert(bag(spark.read.parquet(lay)) == expected)
      info(s"in-domain pass: ${st2.overlappedFiles} overlapped / " +
        s"${st2.untouchedFiles} untouched of $cluBefore2 clustered")
      // skipping restored: few files intersect the reclustered band
      val stats = spark.read.parquet(lay)
        .groupBy(input_file_name().as("f"))
        .agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi"))
      val hit = stats.filter(!(col("hi") < 3000 || col("lo") > 3200)).count()
      val tot = stats.count()
      info(s"band [3000,3200] intersects $hit/$tot files")
      assert(hit * 3 <= tot, s"no locality after recluster: $hit/$tot")

      // (3) crash INSIDE the commit window (manifest committed, moves/
      // deletes/restamp pending): the next lifecycle call rolls forward
      val tailC = li.filter(col("l_orderkey").between(6001, 7000))
      Layouts.appendZOrdered(tailC, lay)
      expected = merge(expected, bag(tailC))
      Layouts.reclusterZOrderedIncrementalImpl(spark, lay,
        maxRewriteFraction = 0.6, crashAfterManifest = true)
      val fs = new org.apache.hadoop.fs.Path(lay)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$lay/_zorder__inc")))
      assert(Layouts.zOrderFragmentation(spark, lay) == 0.0) // heals
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$lay/_zorder__inc")),
        "manifest not folded after the roll-forward")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$lay/_zinc_stage")),
        "stage not dropped after the roll-forward")
      assert(bag(spark.read.parquet(lay)) == expected)
      // and the healed commit is idempotent: nothing left to recluster
      val st3 = Layouts.reclusterZOrderedIncremental(spark, lay)
      assert(st3.tailFiles == 0 && st3.rewrittenBytes == 0L, st3)

      // (4) scattered tail: rows across the whole clustered domain at a
      // tiny maxRewriteFraction — the pass must fall back to global
      val tailD = li.filter(col("l_orderkey") % 97 === 0)
      Layouts.appendZOrdered(tailD, lay)
      expected = merge(expected, bag(tailD))
      val st4 = Layouts.reclusterZOrderedIncremental(spark, lay,
        maxRewriteFraction = 0.05)
      assert(st4.usedGlobal, st4)
      assert(Layouts.zOrderFragmentation(spark, lay) == 0.0)
      assert(bag(spark.read.parquet(lay)) == expected)
    } finally rmrf(base)
  }

  test("exactly-once append: replays are no-ops, the batch ledger " +
      "survives reclusters, a manifest-committed crash rolls forward") {
    val li = Tables.table(spark, "/root/testdata/sf0.01", "lineitem")
      .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
    val base = Files.createTempDirectory("graft-zorder-eo").toString
    val lay = s"$base/lay"
    def bag(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Int] =
      df.collect().toSeq.map(_.toSeq).groupMapReduce(identity)(_ => 1)(_ + _)
    try {
      val sliceA = li.filter(col("l_orderkey") <= 6000)
      val sliceB = li.filter(col("l_orderkey") > 6000 &&
        col("l_orderkey") <= 9000)
      Layouts.writeZOrderedMaintained(sliceA, lay,
        Seq("l_orderkey", "l_partkey"), maxRecordsPerFile = 500L)
      assert(Layouts.appendZOrderedExactlyOnce(sliceB, lay, batchId = 0L))
      val want = bag(sliceA.unionByName(sliceB))
      assert(bag(spark.read.parquet(lay)) == want)
      // replay of the SAME batch id: a no-op, content unchanged
      assert(!Layouts.appendZOrderedExactlyOnce(sliceB, lay, batchId = 0L))
      assert(bag(spark.read.parquet(lay)) == want)
      // the ledger survives BOTH recluster flavors: replay still skips
      assert(!Layouts.reclusterZOrderedIncremental(spark, lay).usedGlobal)
      assert(!Layouts.appendZOrderedExactlyOnce(sliceB, lay, batchId = 0L))
      Layouts.reclusterZOrdered(spark, lay)
      assert(!Layouts.appendZOrderedExactlyOnce(sliceB, lay, batchId = 0L))
      assert(bag(spark.read.parquet(lay)) == want)

      // crash INSIDE the commit window: stage + committed manifest on
      // disk, files/ledger not yet landed — the next lifecycle call
      // must roll the batch forward exactly once
      val fs = new org.apache.hadoop.fs.Path(lay)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val sliceC = li.filter(col("l_orderkey") > 9000).limit(50)
        .localCheckpoint()
      sliceC.coalesce(1).write.mode("overwrite")
        .parquet(s"$lay/_zappend_stage")
      val stagedName = fs.listStatus(
          new org.apache.hadoop.fs.Path(s"$lay/_zappend_stage"))
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
        .head.getPath.getName
      import spark.implicits._
      Seq(7L).toDF("batch_id").coalesce(1).write.mode("overwrite")
        .parquet(s"$lay/_zorder__app/batch")
      Seq(stagedName).toDF("name").coalesce(1).write.mode("overwrite")
        .parquet(s"$lay/_zorder__app/new_files")
      Layouts.zOrderFragmentation(spark, lay) // heal: rolls forward
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$lay/_zorder__app")),
        "append manifest not folded")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$lay/_zappend_stage")),
        "append stage not dropped")
      val bagC = bag(sliceC) // collected once, not once per key
      val wantC = (want.keySet ++ bagC.keySet).map(k =>
        k -> (want.getOrElse(k, 0) + bagC.getOrElse(k, 0))).toMap
      assert(bag(spark.read.parquet(lay)) == wantC,
        "rolled-forward batch rows missing or duplicated")
      // and batch 7 is now committed: a replay is a no-op
      assert(!Layouts.appendZOrderedExactlyOnce(sliceC, lay, batchId = 7L))
      assert(bag(spark.read.parquet(lay)) == wantC)
      sliceC.unpersist()
    } finally rmrf(base)
  }

  test("constant and negative-ranged columns scale without error") {
    val df = Seq((-50L, 7L), (-10L, 7L), (0L, 7L), (99L, 7L))
      .toDF("a", "b")
    val base = Files.createTempDirectory("graft-zorder-edge").toString
    try {
      Layouts.writeZOrdered(df, base, "a", "b", bits = 8)
      assert(spark.read.parquet(base).collect().map(_.toSeq).toSet ==
        df.collect().map(_.toSeq).toSet)
    } finally rmrf(base)
  }
}
