package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Maintenance contracts of the persisted signature / SRP indexes that
  * round 8 added storage sharding, the occupancy side table, and the
  * epoch fence for:
  *
  *  - the `occupancy/` side table (incrementally maintained so governed
  *    per-batch work is O(batch), never an O(index) band-table
  *    re-aggregate) must equal a from-scratch recomputation after ANY
  *    write/append/ingest/torn-heal sequence;
  *  - the epoch fence must fail loudly on the interleavings it exists to
  *    detect (stale claim, mid-flight mutation before a commit point);
  *  - the per-batch `ingest_stats/` audit sink must mirror the ledger
  *    exactly once, replays included.
  */
class IndexMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private val p = Dedup.MinHashParams(numHashes = 32, bands = 8,
    shingle = 3, threshold = 0.2, maxBucket = 3)

  private def uniq(i: Long) =
    (0 until 8).map(j => s"unique${i}tok$j").mkString(" ")
  // one shared family so the tight maxBucket cap actually bites
  private def fam(i: Long) =
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      s"kilo lima mike november oscar papa quebec romeo sierra tail$i"

  private def docs(ids: Long*): DataFrame =
    ids.map(i => i -> (if (i % 2 == 0) fam(i) else uniq(i)))
      .toDF("doc_id", "text")

  private def rmrf(dir: String): Unit = {
    import scala.reflect.io.Directory
    new Directory(new java.io.File(dir)).deleteRecursively()
  }

  /** The whole-table occupancy view vs a recomputation from the actual
    * bucket rows on disk — the invariant every incremental delta append
    * must preserve. */
  private def occupancyMatchesRecomputed(path: String, sub: String,
                                         keys: Seq[String]): Unit = {
    val side = Dedup.readOccupancy(spark, path, keys, None, Long.MaxValue)
      .collect().map(r => keys.indices.map(r.get(_)).toList ->
        r.getAs[Long]("__occ")).toMap
    val recomputed = spark.read.parquet(s"$path/$sub")
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
      .collect().map(r => keys.indices.map(r.get(_)).toList ->
        r.getAs[Long]("c")).toMap
    assert(side == recomputed,
      s"occupancy side table diverged from recomputed $sub counts: " +
        s"side-only=${side.toSet -- recomputed.toSet}, " +
        s"recomputed-only=${recomputed.toSet -- side.toSet}")
  }

  test("signature index occupancy equals recomputed after write, appends, " +
      "governed ingest, and a torn-append heal") {
    val base = Files.createTempDirectory("graft-occ-sig").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    try {
      Dedup.writeSignatureIndex(docs(0L, 1L, 2L, 3L), "doc_id", "text", ix, p)
      occupancyMatchesRecomputed(ix, "bands", Seq("band", "bkey"))

      // two maintenance appends (the second one pushes the shared family
      // over the maxBucket cap, so capped rows must NOT be counted)
      Dedup.appendSignatureIndex(docs(10L, 11L, 12L), "doc_id", "text", ix)
      occupancyMatchesRecomputed(ix, "bands", Seq("band", "bkey"))
      Dedup.appendSignatureIndex(docs(20L, 21L, 22L), "doc_id", "text", ix)
      occupancyMatchesRecomputed(ix, "bands", Seq("band", "bkey"))

      // a governed batch through the exactly-once path
      Dedup.initIngestLedger(spark, ix)
      Dedup.ingestBatch(docs(30L, 31L), "doc_id", Dedup.MinHashText("text"), ix,
        out, batchId = 0L)
      occupancyMatchesRecomputed(ix, "bands", Seq("band", "bkey"))

      // torn attempt: signatures landed, bands + occupancy + ledger did
      // not — the healing replay must leave occupancy consistent too
      val torn = docs(40L, 41L)
      Dedup.withMinHashSignature(torn, "text", p)
        .select($"doc_id".as("id"), $"shingles",
          size($"shingles").as("sz"), $"minhash")
        .write.mode("append").parquet(s"$ix/signatures")
      Dedup.ingestBatch(torn, "doc_id", Dedup.MinHashText("text"), ix, out,
        batchId = 1L)
      occupancyMatchesRecomputed(ix, "bands", Seq("band", "bkey"))

      // a replay of the committed batch appends no second delta (the
      // governed path's shard+wm-pruned presence check skips it)
      val occBefore = spark.read.parquet(s"$ix/occupancy").count()
      Dedup.ingestBatch(torn, "doc_id", Dedup.MinHashText("text"), ix, out,
        batchId = 1L)
      assert(spark.read.parquet(s"$ix/occupancy").count() == occBefore,
        "replay must not append a second occupancy delta")
      occupancyMatchesRecomputed(ix, "bands", Seq("band", "bkey"))

      // compaction re-files the deltas without changing the counts (and
      // its defense-in-depth dropDuplicates leaves unique rows unique)
      Dedup.compactIndex(spark, ix, targetFileBytes = Long.MaxValue)
      occupancyMatchesRecomputed(ix, "bands", Seq("band", "bkey"))
      val occRows = spark.read.parquet(s"$ix/occupancy")
      assert(occRows.count() == occRows.dropDuplicates().count(),
        "occupancy delta rows must stay unique through compaction")
    } finally rmrf(base)
  }

  test("SRP index occupancy equals recomputed after write, append, and " +
      "governed embedding ingest") {
    val base = Files.createTempDirectory("graft-occ-srp").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(8)(rnd.nextGaussian().toFloat)
    def batch(ids: Long*) = ids.map(i => (i, vec())).toDF("vec_id", "v")
    try {
      Dedup.writeSrpIndex(batch(0L to 19L: _*), "vec_id", "v", ix, dim = 8)
      occupancyMatchesRecomputed(ix, "buckets", Seq("tbl", "bkt"))
      Dedup.appendSrpIndex(batch(30L, 31L, 32L), "vec_id", "v", ix)
      occupancyMatchesRecomputed(ix, "buckets", Seq("tbl", "bkt"))
      Dedup.initIngestLedger(spark, ix)
      Dedup.ingestBatch(batch(40L, 41L), "vec_id", Dedup.SrpVectors("v", 0.9),
        ix, out, batchId = 0L)
      occupancyMatchesRecomputed(ix, "buckets", Seq("tbl", "bkt"))
      Dedup.compactIndex(spark, ix, targetFileBytes = Long.MaxValue)
      occupancyMatchesRecomputed(ix, "buckets", Seq("tbl", "bkt"))
    } finally rmrf(base)
  }

  test("epoch fence: stale claims and mid-flight mutations fail loudly") {
    val base = Files.createTempDirectory("graft-epoch").toString
    val ix = s"$base/ix"
    try {
      Dedup.writeSignatureIndex(docs(0L, 1L, 2L, 3L), "doc_id", "text", ix, p)
      val e0 = Dedup.indexEpoch(spark, ix)

      // a mutation claims the index; a second mutator holding the OLD
      // epoch must be rejected (the stale-claim half)
      val claimed = Dedup.advanceEpoch(spark, ix, e0)
      val stale = intercept[IllegalStateException] {
        Dedup.advanceEpoch(spark, ix, e0)
      }
      assert(stale.getMessage.contains("moved from epoch"))

      // the commit-point re-check: a mutation landing while a governed
      // batch is in flight makes the batch abort before its ledger row
      Dedup.advanceEpoch(spark, ix, claimed) // the interloper
      val midFlight = intercept[IllegalStateException] {
        Dedup.requireEpoch(spark, ix, claimed)
      }
      assert(midFlight.getMessage.contains("in flight") ||
        midFlight.getMessage.contains("moved"))

      // serialized mutators keep working: append after compaction after
      // append, each re-reading the epoch it claims
      Dedup.appendSignatureIndex(docs(10L, 11L), "doc_id", "text", ix)
      Dedup.compactIndex(spark, ix, targetFileBytes = Long.MaxValue)
      Dedup.appendSignatureIndex(docs(20L, 21L), "doc_id", "text", ix)
      val sigs = spark.read.parquet(s"$ix/signatures")
        .select("id").collect().map(_.getLong(0)).toSet
      assert(sigs == Set(0L, 1L, 2L, 3L, 10L, 11L, 20L, 21L))
    } finally rmrf(base)
  }

  test("ingest stats sink mirrors the ledger exactly once, replay included") {
    val base = Files.createTempDirectory("graft-stats").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    try {
      Dedup.writeSignatureIndex(docs(0L, 1L, 2L, 3L), "doc_id", "text", ix, p)
      Dedup.initIngestLedger(spark, ix)
      val s0 = Dedup.ingestBatch(docs(10L, 11L), "doc_id",
        Dedup.MinHashText("text"), ix, out, batchId = 0L)
      Dedup.appendIngestStats(spark, ix, s0)
      val s1 = Dedup.ingestBatch(docs(20L, 21L, 22L), "doc_id",
        Dedup.MinHashText("text"), ix, out, batchId = 1L)
      Dedup.appendIngestStats(spark, ix, s1)
      // the replay path: same batch id again (crash after ledger commit,
      // before the checkpoint advanced) — the stats append must be a no-op
      val s1r = Dedup.ingestBatch(docs(20L, 21L, 22L), "doc_id",
        Dedup.MinHashText("text"), ix, out, batchId = 1L)
      assert(s1r.replayed)
      Dedup.appendIngestStats(spark, ix, s1r)

      val stats = spark.read.parquet(s"$ix/ingest_stats")
        .orderBy($"batch_id").collect()
        .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("batch_rows"),
          r.getAs[Long]("novel_rows"), r.getAs[Long]("watermark_before"),
          r.getAs[Long]("watermark_after")))
      val ledger = spark.read.parquet(s"$ix/ingest_ledger")
        .filter($"batch_id" >= 0L).orderBy($"batch_id").collect()
        .map(r => (r.getAs[Long]("batch_id"),
          r.getAs[Long]("watermark_before"),
          r.getAs[Long]("watermark_after"), r.getAs[Long]("novel_rows")))
      assert(stats.length == ledger.length,
        s"one stats row per committed batch: $stats vs $ledger")
      stats.zip(ledger).foreach { case (s, l) =>
        assert(s._1 == l._1 && s._4 == l._2 && s._5 == l._3 && s._3 == l._4,
          s"stats row $s diverges from ledger row $l")
      }
    } finally rmrf(base)
  }

  test("recoverCompaction heals a torn compaction swap; stream open runs it") {
    val base = Files.createTempDirectory("graft-recover").toString
    val ix = s"$base/ix"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    try {
      Dedup.writeSignatureIndex(docs(0L to 9L: _*), "doc_id", "text", ix, p)
      val bandsBefore = spark.read.parquet(s"$ix/bands")
        .select("id", "band", "bkey").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

      // crash-window state: the swap's delete(dir) happened, the
      // rename(tmp, dir) did not — the table's only copy is the temp dir
      require(fs.rename(path(s"$ix/bands"), path(s"$ix/__compacting_bands")))
      val healed = Dedup.recoverCompaction(spark, ix)
      assert(healed == Map("bands" -> "restored"), s"got $healed")
      val bandsAfter = spark.read.parquet(s"$ix/bands")
        .select("id", "band", "bkey").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(bandsAfter == bandsBefore,
        "restored band table must carry the exact pre-crash rows")

      // stale temp BESIDE an intact table (crash before the delete, or
      // an unfinished abort): stream open removes it, table untouched
      fs.mkdirs(path(s"$ix/__compacting_signatures"))
      Dedup.initIngestLedger(spark, ix) // runs recoverCompaction
      assert(!fs.exists(path(s"$ix/__compacting_signatures")),
        "stream open must clear a redundant leftover temp dir")
      assert(spark.read.parquet(s"$ix/signatures").count() > 0)

      // idempotent when there is nothing to heal (and claims no epoch)
      val epochBefore = fs.listStatus(path(s"$ix/epoch")).length
      assert(Dedup.recoverCompaction(spark, ix).isEmpty)
      assert(fs.listStatus(path(s"$ix/epoch")).length == epochBefore,
        "a no-op recovery must not advance the epoch")

      // rename-aside windows: crash between rename(dir, __old_) and
      // rename(tmp, dir) — both markers present, dir absent; the temp is
      // the complete post-swap content and wins, the old copy is dropped
      val sigRows = spark.read.parquet(s"$ix/signatures")
        .select("id").collect().map(_.getLong(0)).toSet
      require(fs.rename(path(s"$ix/signatures"),
        path(s"$ix/__old_signatures")))
      require(fs.mkdirs(path(s"$ix/__compacting_signatures")))
      fs.listStatus(path(s"$ix/__old_signatures")).foreach { f =>
        org.apache.hadoop.fs.FileUtil.copy(fs, f.getPath, fs,
          path(s"$ix/__compacting_signatures/" + f.getPath.getName),
          false, spark.sparkContext.hadoopConfiguration)
      }
      val healed2 = Dedup.recoverCompaction(spark, ix)
      assert(healed2 == Map("signatures" -> "restored"), s"got $healed2")
      assert(!fs.exists(path(s"$ix/__old_signatures")) &&
        !fs.exists(path(s"$ix/__compacting_signatures")))
      assert(spark.read.parquet(s"$ix/signatures")
        .select("id").collect().map(_.getLong(0)).toSet == sigRows)

      // crash after the swap completed but before the old copy was
      // removed — dir present, __old_ redundant: dropped, table untouched
      require(fs.mkdirs(path(s"$ix/__old_bands")))
      val healed3 = Dedup.recoverCompaction(spark, ix)
      assert(healed3 == Map("bands" -> "removed"), s"got $healed3")
      assert(!fs.exists(path(s"$ix/__old_bands")))
      assert(spark.read.parquet(s"$ix/bands").count() > 0)

      // only the old copy survives (aborted swap whose temp was cleaned):
      // restore it
      require(fs.rename(path(s"$ix/signatures"),
        path(s"$ix/__old_signatures")))
      val healed4 = Dedup.recoverCompaction(spark, ix)
      assert(healed4 == Map("signatures" -> "restored"), s"got $healed4")
      assert(spark.read.parquet(s"$ix/signatures")
        .select("id").collect().map(_.getLong(0)).toSet == sigRows)
    } finally rmrf(base)
  }

  test("autoCompact: a fragmented index self-compacts, an un-fragmented " +
      "one never churns, pending deletes force reclamation") {
    val base = Files.createTempDirectory("graft-autocompact").toString
    val ix = s"$base/ix"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sigFiles: Int = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$ix/signatures"), true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    try {
      Dedup.writeSignatureIndex(docs(0L to 9L: _*), "doc_id", "text", ix, p)
      // fold the build's one-file-per-task write, then: quiet index
      Dedup.compactIndex(spark, ix)
      val baseline = sigFiles
      var preCalls = 0
      (1 to 3).foreach { _ =>
        assert(Dedup.autoCompactIndex(spark, ix,
            preCompact = () => preCalls += 1).isEmpty,
          "an un-fragmented index must never churn")
      }
      assert(sigFiles == baseline)
      assert(preCalls == 0,
        "preCompact must not fire when the compaction does not")

      // decay: each maintenance append lands one file set per table
      var i = 0L
      while (sigFiles < 8 * 1 && i < 32) { // fragmentFactor(8) x parts(1)
        Dedup.appendSignatureIndex(docs(100L + i, 101L + i), "doc_id",
          "text", ix)
        i += 2
      }
      val fragmented = sigFiles
      val res = Dedup.autoCompactIndex(spark, ix)
      assert(res.nonEmpty, s"a fragmented index ($fragmented files) must " +
        "self-compact")
      assert(sigFiles < fragmented, "compaction must actually fold files")
      occupancyMatchesRecomputed(ix, "bands", Seq("band", "bkey"))
      assert(Dedup.autoCompactIndex(spark, ix).isEmpty,
        "immediately after compaction the index is quiet again")

      // pending tombstones force reclamation regardless of file counts;
      // the preCompact hook (the streams' scrub pass) runs exactly once,
      // BEFORE the purge — the tombstones must still be pending inside it
      Dedup.deleteFromIndex(spark, ix, Seq(0L))
      assert(Dedup.autoCompactIndex(spark, ix, preCompact = () => {
          preCalls += 1
          assert(fs.exists(new org.apache.hadoop.fs.Path(s"$ix/tombstones")),
            "preCompact must run before the purge folds the tombstones")
        }).nonEmpty,
        "pending deletes must trigger physical reclamation")
      assert(preCalls == 1, "preCompact fires exactly once per compaction")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$ix/tombstones")))
      assert(Dedup.autoCompactIndex(spark, ix).isEmpty)
    } finally rmrf(base)
  }

  test("autoCompactDigestIndex: a compacted SHARDED digests table is " +
      "quiet (fragmentation floor = occupied shard dirs, not the " +
      "byte-implied 1) and fires once genuinely fragmented") {
    // The digest family keys its trigger on its only table, which is
    // SHARDED — the r19 depth soak caught the old byte-implied floor
    // reading one-file-per-shard (the best a partitionBy table can do)
    // as permanently fragmented, firing an O(index) compaction on
    // every maintenance tick.
    val base = Files.createTempDirectory("graft-digfloor").toString
    val ix = s"$base/ix"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val withDig = docs(0L to 19L: _*).withColumn("dg",
        sha2(col("text").cast("binary"), 256))
      Dedup.writeDigestIndex(withDig, "doc_id", "dg", ix)
      Dedup.compactIndex(spark, ix)
      (1 to 3).foreach { _ =>
        assert(Dedup.autoCompactIndex(spark, ix).isEmpty,
          "a freshly-compacted sharded table must read un-fragmented")
      }
      // genuine fragmentation: replicate one shard's data file until
      // the count clears the dir-floored threshold (8 x occupied dirs)
      def files() = {
        val it = fs.listFiles(
          new org.apache.hadoop.fs.Path(s"$ix/digests"), true)
        val b = Seq.newBuilder[org.apache.hadoop.fs.Path]
        while (it.hasNext) {
          val p = it.next().getPath
          if (p.getName.endsWith(".parquet")) b += p
        }
        b.result()
      }
      val before = files()
      val dirs = before.map(_.getParent).distinct.size
      val victim = before.head
      var n = 0
      while (files().size < 8 * dirs && n < 8 * dirs) {
        org.apache.hadoop.fs.FileUtil.copy(fs, victim, fs,
          new org.apache.hadoop.fs.Path(victim.getParent,
            s"copy-$n.parquet"), false,
          spark.sparkContext.hadoopConfiguration)
        n += 1
      }
      assert(Dedup.autoCompactIndex(spark, ix).nonEmpty,
        s"${files().size} files over $dirs dirs must trigger")
      assert(files().size < 8 * dirs, "compaction must fold the copies")
      assert(Dedup.autoCompactIndex(spark, ix).isEmpty,
        "quiet again immediately after the fold")
    } finally rmrf(base)
  }

  test("index caches self-invalidate on an out-of-process rebuild even " +
      "with a constant params mtime") {
    val base = Files.createTempDirectory("graft-gen-token").toString
    val ixA = s"$base/ixA"; val ixB = s"$base/ixB"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    try {
      Dedup.writeSignatureIndex(docs(0L, 1L, 2L, 3L), "doc_id", "text",
        ixA, p)
      assert(Dedup.readSignatureIndex(spark, ixA).params.bands == p.bands)
      val mtime = fs.getFileStatus(path(s"$ixA/params")).getModificationTime

      // an out-of-process rebuild with DIFFERENT geometry lands at the
      // same path without this JVM's eager cache invalidation ever
      // running — simulated by building elsewhere and renaming over
      val p2 = p.copy(numHashes = 16, bands = 4)
      Dedup.writeSignatureIndex(docs(0L, 1L, 2L, 3L), "doc_id", "text",
        ixB, p2)
      require(fs.delete(path(ixA), true))
      require(fs.rename(path(ixB), path(ixA)))
      // coarse-mtime / object-store directory semantics: the params
      // dir's mtime reports the SAME value as before the rebuild
      fs.setTimes(path(s"$ixA/params"), mtime, -1)
      assert(fs.getFileStatus(path(s"$ixA/params"))
        .getModificationTime == mtime, "test setup: mtime must be pinned")

      // the content-based generation token must still see the rebuild —
      // a dir-mtime token would serve the stale bands=8 geometry here
      assert(Dedup.readSignatureIndex(spark, ixA).params.bands == 4,
        "params cache served stale geometry after an out-of-process " +
          "rebuild with unchanged params-dir mtime")
    } finally rmrf(base)
  }

  test("governed ingest over a legacy unsharded index matches the sharded " +
      "twin") {
    val base = Files.createTempDirectory("graft-legacy-ingest").toString
    val ixS = s"$base/ixS"; val ixL = s"$base/ixL"
    val outS = s"$base/outS"; val outL = s"$base/outL"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    try {
      val corpus = docs(0L to 9L: _*)
      Dedup.writeSignatureIndex(corpus, "doc_id", "text", ixS, p)

      // legacy fixture: same index, pre-sharding layout — bands without
      // the shard column, params without the shards field, no occupancy
      // side table (what an older version of this library wrote)
      Dedup.writeSignatureIndex(corpus, "doc_id", "text", ixL, p)
      val flatBands = spark.read.parquet(s"$ixL/bands")
        .select("id", "band", "bkey").localCheckpoint()
      require(fs.delete(path(s"$ixL/bands"), true))
      flatBands.write.parquet(s"$ixL/bands")
      val pr = spark.read.parquet(s"$ixL/params")
        .drop("shards").localCheckpoint()
      require(fs.delete(path(s"$ixL/params"), true))
      pr.coalesce(1).write.parquet(s"$ixL/params")
      require(fs.delete(path(s"$ixL/occupancy"), true))
      // a pre-registry index has no membership registry at all — the
      // build above wrote one (r19), so drop it with the rest of the
      // modern layout (leaving it would mis-model the legacy contract:
      // a registry naming shard dirs the flat rewrite removed)
      require(fs.delete(path(s"$ixL/${Dedup.MembersSub}"), true))
      graft.plans.Checkpoints.free(flatBands)
      graft.plans.Checkpoints.free(pr)
      assert(Dedup.readSignatureIndex(spark, ixL).shards == 0,
        "test setup: fixture must read back as a legacy unsharded index")

      // the same two governed batches through both layouts — the legacy
      // path (no shard pruning, occupancy recomputed from committed
      // bands, size-probe skipped) must accept/drop identical documents
      def novel(out: String): Set[Long] =
        spark.read.parquet(out).select("doc_id").collect()
          .map(_.getLong(0)).toSet
      for ((ix, out) <- Seq((ixS, outS), (ixL, outL))) {
        Dedup.initIngestLedger(spark, ix)
        Dedup.ingestBatch(docs(20L, 21L, 22L), "doc_id",
          Dedup.MinHashText("text"), ix, out, batchId = 0L)
        Dedup.ingestBatch(docs(30L, 31L), "doc_id", Dedup.MinHashText("text"),
          ix, out, batchId = 1L)
      }
      assert(novel(outL) == novel(outS),
        "legacy unsharded governed ingest diverged from the sharded twin")
      assert(novel(outL).nonEmpty, "test setup: some docs must survive")
    } finally rmrf(base)
  }

  test("membership registry: a registered bands shard invisible to the " +
      "read throws retryable instead of silently narrowing the index " +
      "view; a registry-less index serves the short view this closes") {
    val base = Files.createTempDirectory("graft-members-miss").toString
    val ix = s"$base/ix"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    try {
      Dedup.writeSignatureIndex(docs(0L to 19L: _*), "doc_id", "text",
        ix, p)
      def bandRows(): Long = Dedup.readSignatureIndex(spark, ix)
        .bands.count()
      val full = bandRows()
      assert(full > 0)
      // hide a registered, OCCUPIED shard dir — exactly the entry a
      // racing readdir would drop, or the instant inside a compaction's
      // per-shard rename swap. Registry contract: the read must THROW
      // retryable, never return the narrowed view.
      val registered = Dedup.readMemberDirs(fs, ix, "bands")
        .getOrElse(fail("a fresh index must carry a members registry"))
      val victim = spark.read.parquet(s"$ix/bands")
        .groupBy(col("shard")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc).head.getInt(0)
      val vName = s"shard=$victim"
      assert(registered.contains(vName),
        s"occupied shard $vName missing from the registry $registered")
      val vDir = path(s"$ix/bands/$vName")
      val hidden = path(s"$ix/bands/.hide-$vName")
      assert(fs.rename(vDir, hidden))
      val raced = intercept[Throwable] { bandRows() }
      assert(graft.sources.Layouts.isMissingFileError(raced),
        s"registered-dir miss not classified retryable: $raced")
      // restore: the same read serves the full view again
      assert(fs.rename(hidden, vDir))
      assert(bandRows() == full)
      // CONTRAST (the hole this registry closes): strip the registry —
      // a pre-r19 index — and hide the same dir; listing discovery
      // accepts the short view with no error for any retry to heal
      require(fs.delete(path(s"$ix/${Dedup.MembersSub}"), true))
      assert(fs.rename(vDir, hidden))
      val short = bandRows()
      assert(short < full,
        "test setup: the hidden shard must actually narrow the view")
      assert(fs.rename(hidden, vDir))
      // re-sync restores the registry; the read contract is back
      Dedup.syncMemberDirs(spark, ix, "bands", replace = true)
      assert(Dedup.readMemberDirs(fs, ix, "bands").contains(registered))
      assert(bandRows() == full)
    } finally rmrf(base)
  }
}
