package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.GraftFunctions
import graft.sources.Tables

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exactDedup keeps the lowest-tiebreaker row per key, all columns") {
    val df = Seq(
      (1L, "a", 10.0), (3L, "a", 30.0), (2L, "a", 20.0),
      (5L, "b", 50.0)).toDF("id", "k", "v")
    val out = Dedup.exactDedup(df, Seq("k"), "id").orderBy("k").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1L, "a", 10.0), (5L, "b", 50.0)))
  }

  test("exactDedupBest keeps the max-score row, ties to the min tiebreaker") {
    val df = Seq(
      (1L, "a", 10.0), (3L, "a", 30.0), (2L, "a", 30.0),  // tie at 30 -> id 2
      (5L, "b", 50.0)).toDF("id", "k", "v")
    val out = Dedup.exactDedupBest(df, Seq("k"), "v", "id")
      .orderBy("k").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((2L, "a", 30.0), (5L, "b", 50.0)))
  }

  test("exactDedupBest orders long scores above 2^53 exactly") {
    // 2^53 and 2^53 + 1 collapse to the same double; the native-type
    // ordering must still tell them apart and keep the larger.
    val big = 1L << 53
    val df = Seq(
      (1L, "a", big), (2L, "a", big + 1)).toDF("id", "k", "score")
    val out = Dedup.exactDedupBest(df, Seq("k"), "score", "id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("exactDedupBest raises on a NaN score instead of losing it silently") {
    val df = Seq((1L, "a", Double.NaN), (2L, "a", 1.0)).toDF("id", "k", "v")
    val ex = intercept[Exception] {
      Dedup.exactDedupBest(df, Seq("k"), "v", "id").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("null or NaN score")), ex.toString)
  }

  test("contentDedup groups byte-identical payloads and keeps the min id") {
    val df = Seq(
      (1L, "same-bytes"), (4L, "same-bytes"), (2L, "other"))
      .toDF("doc_id", "s")
      .withColumn("payload", col("s").cast("binary"))
    val out = Multimodal.contentDedup(df, "doc_id", "payload").collect()
    assert(out.length == 2)
    val byKeep = out.map(r =>
      r.getAs[Long]("keep_id") ->
        (r.getAs[Long]("n_copies"), r.getAs[Long]("n_bytes"))).toMap
    assert(byKeep(1L) == ((2L, 10L)))
    assert(byKeep(2L) == ((1L, 5L)))
    // digest column really is the sha-256 hex of the bytes
    val d = out.find(_.getAs[Long]("keep_id") == 2L).get.getAs[String]("digest")
    val expect = java.security.MessageDigest.getInstance("SHA-256")
      .digest("other".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(d == expect)
  }

  test("exactDedup raises on a null tieBreaker instead of degrading silently") {
    val df = Seq((Some(1L), "a", 10.0), (None, "a", 20.0))
      .toDF("id", "k", "v")
    val ex = intercept[Exception] {
      Dedup.exactDedup(df, Seq("k"), "id").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("null tieBreaker")), ex.toString)
  }

  test("minhash LSH finds planted near-duplicates and skips unrelated docs") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 7) "CHANGED" else s"tok$i").mkString(" ")
    val unrelated = (100 to 140).map(i => s"other$i").mkString(" ")
    val df = Seq((0L, base), (1L, nearDup), (2L, unrelated)).toDF("doc_id", "text")
    val pairs = Dedup.minHashNearDupPairs(df, "doc_id", "text",
      Dedup.MinHashParams(threshold = 0.5)).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 1L)))
    // true Jaccard of the planted pair: 35 shared / 41 union of 3-shingles
    assert(pairs.head.getDouble(2) > 0.8)
  }

  test("editDistancePairs equals the naive quadratic join (lossless banding)") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(17)
    val words = (0 until 60).map { i =>
      val base = s"title${i % 20}x" // clusters of similar keys
      if (rnd.nextBoolean()) base.dropRight(rnd.nextInt(2)) else base + "q"
    }
    val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "title")
    val got = Dedup.editDistancePairs(df, "doc_id", "title", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = (for {
      i <- words.indices; j <- words.indices if i < j
      d = lev(words(i), words(j)) if d <= 2
    } yield (i.toLong, j.toLong, d.toLong)).toSet
    assert(want.nonEmpty, "fixture must contain close pairs")
    assert(got == want)
  }

  test("editDistancePairs keeps pairs involving empty keys") {
    // regression: partner-length enumeration must include m = 0, or the
    // empty key is unreachable as the index side and pairs silently drop
    val df = Seq((1L, "a"), (2L, ""), (3L, ""), (4L, "ab"))
      .toDF("doc_id", "title")
    val got = Dedup.editDistancePairs(df, "doc_id", "title", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 0L), (1L, 4L, 1L)))
  }

  test("incremental minhash equals the cross-side slice of the full pair set") {
    val rnd = new scala.util.Random(7)
    // 12 base docs, each with a 1-token-mutated near-dup, ids interleaved
    // so the batch/corpus split (id parity) separates most dup pairs
    val docs = (0 until 12).flatMap { d =>
      val toks = (1 to 30).map(i => s"d${d}t$i")
      val mutated = toks.updated(rnd.nextInt(30), "MUT")
      Seq((2L * d, toks.mkString(" ")), (2L * d + 1, mutated.mkString(" ")))
    }.toDF("doc_id", "text")
    val p = Dedup.MinHashParams(numHashes = 32, bands = 8, shingle = 3,
      threshold = 0.2)
    val batch = docs.filter($"doc_id" % 2 === 1)
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val full = Dedup.minHashNearDupPairs(docs, "doc_id", "text", p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = full.collect {
      case (a, b, j) if a % 2 == 1 && b % 2 == 0 => (a, b, j)
      case (a, b, j) if a % 2 == 0 && b % 2 == 1 => (b, a, j)
    }.toSet
    val incr = Dedup.minHashNearDupPairsIncremental(batch, corpus,
      "doc_id", "text", p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expected.nonEmpty, "the planted dups must straddle the split")
    assert(incr == expected)
  }

  test("persisted signature index probe equals the live incremental path") {
    val rnd = new scala.util.Random(11)
    val docs = (0 until 12).flatMap { d =>
      val toks = (1 to 30).map(i => s"i${d}t$i")
      val mutated = toks.updated(rnd.nextInt(30), "MUT")
      Seq((2L * d, toks.mkString(" ")), (2L * d + 1, mutated.mkString(" ")))
    }.toDF("doc_id", "text")
    val p = Dedup.MinHashParams(numHashes = 32, bands = 8, shingle = 3,
      threshold = 0.2)
    val batch = docs.filter($"doc_id" % 2 === 1)
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val live = Dedup.minHashNearDupPairsIncremental(batch, corpus,
      "doc_id", "text", p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val dir = java.nio.file.Files.createTempDirectory("mh_index").toString
    try {
      Dedup.writeSignatureIndex(corpus, "doc_id", "text", dir, p)
      val ix = Dedup.readSignatureIndex(spark, dir)
      // the index persists pre-capped band rows + sized signatures (the
      // band table carries its storage-shard partition column back)
      assert(ix.bands.columns.toSet == Set("id", "band", "bkey", "shard"))
      assert(ix.signatures.columns.toSet == Set("id", "shingles", "sz", "minhash"))
      val indexed = Dedup.minHashNearDupPairsIncremental(batch, ix,
        "doc_id", "text", p)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(live.nonEmpty && indexed == live)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("signature index bakes the maxBucket cap at write time") {
    // 10 byte-identical docs land in ONE bucket per band; cap 3 keeps the
    // 3 lowest ids per (band, bkey) in the written band table.
    val docs = (0L until 10L).map(i => (i, "same tokens all the way down here"))
      .toDF("doc_id", "text")
    val p = Dedup.MinHashParams(numHashes = 32, bands = 8, shingle = 3,
      threshold = 0.2, maxBucket = 3)
    val dir = java.nio.file.Files.createTempDirectory("mh_cap").toString
    try {
      Dedup.writeSignatureIndex(docs, "doc_id", "text", dir, p)
      val bands = Dedup.readSignatureIndex(spark, dir).bands
        .groupBy($"band", $"bkey").agg(
          count(lit(1)).as("n"), collect_set($"id").as("ids"))
        .collect()
      assert(bands.forall(_.getLong(2) <= 3))
      assert(bands.forall(_.getSeq[Long](3).toSet == Set(0L, 1L, 2L)))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("maxBucket cap bounds an adversarial hot bucket; cold pairs unaffected") {
    // adversarial skew: 40 byte-identical docs put ONE bucket per band at
    // occupancy 40 — uncapped, the band self-join would emit C(40,2) =
    // 780 candidate pairs from those buckets alone; the cap must bound it
    // to the C(cap,2) pairs among the cap LOWEST ids (the deterministic
    // write-time rule), which is exactly the naive all-pairs result over
    // the capped universe. A planted near-dup pair in COLD buckets must
    // be untouched by the cap.
    val hot = (0L until 40L).map(i =>
      (i, "identical adversarial content shared by every hot document"))
    val cold = Seq(
      (100L, "a perfectly normal document about unrelated cold topics one"),
      (101L, "a perfectly normal document about unrelated cold topics two"))
    val docs = (hot ++ cold).toDF("doc_id", "text")
    val p = Dedup.MinHashParams(numHashes = 32, bands = 8, shingle = 3,
      threshold = 0.2, maxBucket = 5)
    val got = Dedup.minHashNearDupPairs(docs, "doc_id", "text", p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val hotPairs = got.filter(_._1 < 100L)
    // capped universe = ids 0..4 in every hot bucket -> exactly C(5,2)
    // pairs, each with exact jaccard 1.0 (identical shingle sets)
    val wantHot = (for {
      a <- 0L until 5L; b <- (a + 1) until 5L
    } yield (a, b, 1.0)).toSet
    assert(hotPairs == wantHot,
      s"hot-bucket candidates not capped to the 5 lowest ids: $hotPairs")
    // the cold planted pair survives with its exact jaccard
    val coldPairs = got.filter(_._1 >= 100L)
    assert(coldPairs.map(x => (x._1, x._2)) == Set((100L, 101L)),
      s"cold pair affected by the cap: $coldPairs")
  }

  test("capBucketRows caps a hot NULL-keyed bucket identically on all paths") {
    // NULL bucket keys are real (an IVF cell miss, a band key off a null
    // signature): the window path groups NULLs into one partition, so the
    // hot broadcast path must treat NULL as the same bucket — its
    // semi/anti joins are null-safe (<=>). Fixture: a NULL bucket and a
    // non-null bucket both over cap, plus an under-cap bucket.
    val rows = (
      (0L until 10L).map(i => (Option.empty[String], i)) ++ // hot NULL bucket
      (10L until 20L).map(i => (Some("hot"), i)) ++         // hot non-null
      (20L until 22L).map(i => (Some("cold"), i))           // under cap
    ).toDF("k", "id")
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (Option(r.getString(0)), r.getLong(1))).toSet
    val hotPath = norm(Dedup.capBucketRows(rows, Seq("k"), "id", 3))
    // maxHotBuckets = 0 forces the plain full-window fallback on the same
    // input — the reference semantics the hot path must match bit-for-bit
    val windowPath = norm(Dedup.capBucketRows(rows, Seq("k"), "id", 3,
      maxHotBuckets = 0L))
    val want = ((0L until 3L).map(i => (None, i)) ++
      (10L until 13L).map(i => (Some("hot"), i)) ++
      (20L until 22L).map(i => (Some("cold"), i))).toSet
    assert(windowPath == want, s"window path wrong: $windowPath")
    assert(hotPath == want,
      s"hot path diverges from the window path on a NULL bucket: $hotPath")
  }

  test("indexed probe rejects a params mismatch loudly") {
    val docs = (0L until 6L).map(i => (i, s"some document number $i with words"))
      .toDF("doc_id", "text")
    val p = Dedup.MinHashParams(numHashes = 32, bands = 8, shingle = 3,
      threshold = 0.2)
    val dir = java.nio.file.Files.createTempDirectory("mh_params").toString
    try {
      Dedup.writeSignatureIndex(docs, "doc_id", "text", dir, p)
      val ix = Dedup.readSignatureIndex(spark, dir)
      assert(ix.params == p, "round-tripped params")
      val ex = intercept[IllegalArgumentException] {
        Dedup.minHashNearDupPairsIncremental(docs, ix, "doc_id", "text",
          p.copy(bands = 4))
      }
      assert(ex.getMessage.contains("params mismatch"))
      // threshold is probe-time only — differing threshold must NOT throw
      Dedup.minHashNearDupPairsIncremental(docs, ix, "doc_id", "text",
        p.copy(threshold = 0.9))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("appendSignatureIndex equals a rebuild from corpus union batch") {
    // near-identical docs so buckets collide across the corpus/batch
    // split, plus a tight cap so the combined-occupancy rule is exercised:
    // batch rows must fill buckets only up to cap - existing.
    val mk = (i: Long) => (i, "the same base tokens here plus " +
      (if (i % 3 == 0) "alpha" else "beta") + s" tail$i")
    val corpus = (0L until 8L).map(mk).toDF("doc_id", "text")
    val batch = (8L until 14L).map(mk).toDF("doc_id", "text")
    val p = Dedup.MinHashParams(numHashes = 32, bands = 8, shingle = 3,
      threshold = 0.2, maxBucket = 4)
    val dirA = java.nio.file.Files.createTempDirectory("mh_app").toString
    val dirR = java.nio.file.Files.createTempDirectory("mh_reb").toString
    try {
      Dedup.writeSignatureIndex(corpus, "doc_id", "text", dirA, p)
      Dedup.appendSignatureIndex(batch, "doc_id", "text", dirA)
      Dedup.writeSignatureIndex(corpus.union(batch), "doc_id", "text", dirR, p)
      val a = Dedup.readSignatureIndex(spark, dirA)
      val r = Dedup.readSignatureIndex(spark, dirR)
      def sigSet(ix: Dedup.MinHashIndex) = ix.signatures
        .select($"id", $"sz", $"minhash").collect()
        .map(x => (x.getLong(0), x.getInt(1), x.getSeq[Long](2))).toSet
      def bandSet(ix: Dedup.MinHashIndex) = ix.bands.collect()
        .map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet
      assert(sigSet(a) == sigSet(r), "signature tables diverge")
      assert(bandSet(a) == bandSet(r), "band tables diverge")
      assert(a.params == r.params)
      // and a probe through the appended index equals the rebuilt one
      val probe = (20L until 23L).map(mk).toDF("doc_id", "text")
      def pairs(dir: String) = Dedup.minHashNearDupPairsIncremental(probe,
        Dedup.readSignatureIndex(spark, dir), "doc_id", "text", p)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
      assert(pairs(dirA) == pairs(dirR))
      assert(pairs(dirA).nonEmpty, "fixture must produce cross pairs")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dirA)).deleteRecursively()
      new Directory(new java.io.File(dirR)).deleteRecursively()
    }
  }

  test("compactSignatureIndex shrinks files, preserves content and probes") {
    val mk = (i: Long) => (i, "the same base tokens here plus " +
      (if (i % 3 == 0) "alpha" else "beta") + s" tail$i")
    val corpus = (0L until 8L).map(mk).toDF("doc_id", "text")
    val p = Dedup.MinHashParams(numHashes = 32, bands = 8, shingle = 3,
      threshold = 0.2, maxBucket = 4)
    val dir = java.nio.file.Files.createTempDirectory("mh_cpt").toString
    // recursive: sharded tables keep their data under shard=K/ dirs
    def files(sub: String): Int = {
      def rec(f: java.io.File): Int =
        if (f.isFile) (if (f.getName.endsWith(".parquet")) 1 else 0)
        else Option(f.listFiles()).map(_.map(rec).sum).getOrElse(0)
      rec(new java.io.File(s"$dir/$sub"))
    }
    def shardDirs(sub: String): Int =
      Option(new java.io.File(s"$dir/$sub").listFiles())
        .map(_.count(_.isDirectory)).getOrElse(0)
    try {
      Dedup.writeSignatureIndex(corpus, "doc_id", "text", dir, p)
      // three appended batches -> three extra file sets per table
      (0 until 3).foreach { b =>
        val batch = (8L + 4 * b until 12L + 4 * b).map(mk).toDF("doc_id", "text")
        Dedup.appendSignatureIndex(batch, "doc_id", "text", dir)
      }
      val before = Dedup.readSignatureIndex(spark, dir)
      def sigSet(ix: Dedup.MinHashIndex) = ix.signatures
        .select($"id", $"sz", $"minhash").collect()
        .map(x => (x.getLong(0), x.getInt(1), x.getSeq[Long](2))).toSet
      def bandSet(ix: Dedup.MinHashIndex) = ix.bands.collect()
        .map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet
      val (s0, b0) = (sigSet(before), bandSet(before))
      val probe = (30L until 33L).map(mk).toDF("doc_id", "text")
      def pairs() = Dedup.minHashNearDupPairsIncremental(probe,
        Dedup.readSignatureIndex(spark, dir), "doc_id", "text", p)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
      val pairsBefore = pairs()
      assert(pairsBefore.nonEmpty, "fixture must produce cross pairs")
      val filesBefore = (files("signatures"), files("bands"))
      // sharded floor: one file per occupied shard dir is already compact
      assert(filesBefore._1 > 1 && filesBefore._2 > shardDirs("bands"),
        s"appends must have fragmented the tables, got $filesBefore")
      val stats = Dedup.compactIndex(spark, dir,
        targetFileBytes = Long.MaxValue)
      assert(stats("signatures")._1 == filesBefore._1)
      assert(stats("signatures")._2 == 1)
      assert(stats("bands")._2 == shardDirs("bands"))
      assert(files("signatures") == 1 && files("bands") == shardDirs("bands"))
      // the occupancy side table compacts to the same sharded floor
      assert(files("occupancy") == shardDirs("occupancy"))
      val after = Dedup.readSignatureIndex(spark, dir)
      assert(sigSet(after) == s0, "compaction changed the signature rows")
      assert(bandSet(after) == b0, "compaction changed the band rows")
      assert(after.params == p, "compaction touched params")
      assert(pairs() == pairsBefore, "probe results diverged")
      // idempotent: already-compact tables are left alone
      val bandFloor = shardDirs("bands")
      val again = Dedup.compactIndex(spark, dir,
        targetFileBytes = Long.MaxValue)
      assert(again("signatures") == ((1, 1)) &&
        again("bands") == ((bandFloor, bandFloor)))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("appendSignatureIndex rejects out-of-order ids loudly") {
    val corpus = (10L until 16L).map(i => (i, s"corpus doc $i tokens here"))
      .toDF("doc_id", "text")
    val stale = Seq((3L, "a stale backfill document")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mh_mono").toString
    try {
      Dedup.writeSignatureIndex(corpus, "doc_id", "text", dir,
        Dedup.MinHashParams(numHashes = 32, bands = 8, shingle = 3))
      val ex = intercept[IllegalArgumentException] {
        Dedup.appendSignatureIndex(stale, "doc_id", "text", dir)
      }
      assert(ex.getMessage.contains("out-of-order") ||
        ex.getMessage.contains("ids <= the index max"))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("simhash: identical docs get identical signatures, near docs are close") {
    val df = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "totally different words entirely here now")).toDF("doc_id", "text")
    val sh = Dedup.withSimHash(df, "text").select("doc_id", "simhash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(1L))
    assert(sh(0L) != sh(2L))
  }

  test("ngramJaccardPairs: planted near-dup found with exact jaccard") {
    val a = (1 to 30).map("w" + _).mkString(" ")
    val b = (1 to 30).map(i => if (i == 30) "X" else "w" + i).mkString(" ")
    val df = Seq((0L, a, "en"), (1L, b, "en"), (2L, a, "fr")).toDF("doc_id", "text", "lang")
    val pairs = Dedup.ngramJaccardPairs(df, "doc_id", "text", Seq(col("lang")), 3, 0.5)
      .collect()
    // (0,1) same lang near-dup; (0,2) identical but different block -> excluded
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 1L)))
    // 28 shingles each; the changed final token hits only the last
    // shingle -> 27 shared, union 29 -> jaccard 27/29
    assert(math.abs(pairs.head.getDouble(2) - 27.0 / 29.0) < 1e-6)
  }

  test("ngramJaccardPairs (prefix-filter join) equals the naive quadratic join") {
    val rnd = new scala.util.Random(11)
    // 60 docs over a small vocab so shared shingles are common, plus
    // planted near-dups; several languages as block keys.
    val docs = (0 until 60).map { i =>
      val nTok = 5 + rnd.nextInt(40)
      val toks = Seq.fill(nTok)("w" + rnd.nextInt(30))
      (i.toLong, toks.mkString(" "), "lang" + (i % 3))
    } ++ Seq(
      (100L, (1 to 30).map("p" + _).mkString(" "), "lang0"),
      (101L, (1 to 30).map(i => if (i == 5) "q" else "p" + i).mkString(" "), "lang0"))
    val df = docs.toDF("doc_id", "text", "lang")
    for (t <- Seq(0.2, 0.5, 0.8); dfo <- Seq(false, true)) {
      val got = Dedup.ngramJaccardPairs(df, "doc_id", "text", Seq(col("lang")), 3, t,
        dfOrdered = dfo)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      // naive reference: full quadratic join within lang blocks
      val sets = docs.map { case (id, text, lang) =>
        val toks = text.split(" ").toSeq
        (id, lang, toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet)
      }.filter(_._3.nonEmpty)
      val want = (for {
        a <- sets; b <- sets
        if a._2 == b._2 && a._1 < b._1
        inter = (a._3 & b._3).size.toDouble
        j = inter / (a._3.size + b._3.size - inter)
        if j >= t - 1e-12
      } yield (a._1, b._1, math.floor(j * 1e6 + 0.5) / 1e6))
        .sortBy(p => (p._1, p._2))
      assert(got == want, s"threshold $t dfOrdered $dfo")
    }
  }

  test("simHashNearDupPairs finds planted near-dups, complete vs quadratic check") {
    val rnd = new scala.util.Random(5)
    val docs = (0 until 50).map { i =>
      (i.toLong, Seq.fill(30)("t" + rnd.nextInt(200)).mkString(" "))
    } ++ Seq(
      (100L, (1 to 40).map("z" + _).mkString(" ")),
      (101L, (1 to 40).map(i => if (i == 3) "CHANGED" else "z" + i).mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.simHashNearDupPairs(df, "doc_id", "text",
      width = 48, bands = 8, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.exists(p => p._1 == 100L && p._2 == 101L),
      "planted near-dup not found")
    // completeness requires bands > maxHamming
    intercept[IllegalArgumentException] {
      Dedup.simHashNearDupPairs(df, "doc_id", "text", bands = 4, maxHamming = 4)
    }
    // quadratic reference over the same signatures
    val sigs = Dedup.withSimHash(df, "text").select("doc_id", "simhash")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val want = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs
      if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb).toLong
      if h <= 6
    } yield (ia, ib, h)).sortBy(p => (p._1, p._2)).toSeq
    assert(got == want)
  }

  test("embeddingNearDup finds same-block high-cosine pairs only") {
    val v = Seq(1f, 0f, 0f)
    val vNear = Seq(0.99f, 0.05f, 0f)
    val vFar = Seq(0f, 1f, 0f)
    val df = Seq(
      (0L, v, 1), (1L, vNear, 1), (2L, vFar, 1),
      (3L, v, 2) // near 0 but different block
    ).toDF("vec_id", "embedding", "label")
    val out = Dedup.embeddingNearDup(df, "vec_id", "embedding", "label", 0.9).collect()
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((0L, 1L)))
  }

  test("containmentPairs finds a short quote inside a long doc; equals naive join") {
    import graft.functions.TextFunctions
    val quote = (1 to 10).map("q" + _).mkString(" ")
    val long = ((1 to 40).map("w" + _) ++ (1 to 10).map("q" + _)).mkString(" ")
    val rnd = new scala.util.Random(11)
    val noise = (0 until 30).map(i =>
      (10L + i, Seq.fill(20)("n" + rnd.nextInt(80)).mkString(" ")))
    val df = (Seq((0L, quote), (1L, long)) ++ noise).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
    val got = Dedup.containmentPairs(df, "doc_id", "text", Seq(col("lang")),
      n = 3, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the quote's 8 trigram shingles all appear in the long doc:
    // containment 1.0 even though Jaccard is tiny
    assert(got.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 1.0))
    // naive quadratic twin over the same shingle sets
    GraftFunctions.register(spark)
    val sets = df.select(col("doc_id"),
      TextFunctions.hashedShingleSet(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet)
      .filter(_._2.nonEmpty)
    val want = (for {
      (ia, sa) <- sets; (ib, sb) <- sets; if ia < ib
      c = (sa & sb).size.toDouble / math.min(sa.size, sb.size)
      cr = math.floor(c * 1e6 + 0.5) / 1e6
      if cr >= 0.6
    } yield (ia, ib, cr)).sortBy(p => (p._1, p._2)).toSeq
    assert(got.toSeq == want)
  }

  test("duplicatedSpans merges overlapping cross-doc windows, zeros unique docs") {
    // doc0/doc1 share the 9-token prefix a1..a9: with window = 8 the
    // duplicated windows sit at positions 1 and 2 and must merge into ONE
    // span covering tokens 1..9. doc2 is fully unique.
    val shared = (1 to 9).map("a" + _)
    val doc0 = (shared ++ (10 to 20).map("b" + _)).mkString(" ")
    val doc1 = (shared ++ (1 to 11).map("c" + _)).mkString(" ")
    val doc2 = (1 to 20).map("u" + _).mkString(" ")
    val df = Seq((0L, doc0), (1L, doc1), (2L, doc2)).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(df, "doc_id", "text", window = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(out.toSeq == Seq(
      (0L, 20L, 9L, 1L, 0.45),
      (1L, 20L, 9L, 1L, 0.45),
      (2L, 20L, 0L, 0L, 0.0)))
  }

  test("duplicatedSpans keeps disjoint spans separate; in-doc repeats don't count") {
    // doc0/doc1 share two non-adjacent 8-token runs -> 2 spans, 16 tokens.
    val s1 = (1 to 8).map("a" + _); val s2 = (1 to 8).map("e" + _)
    val doc0 = (s1 ++ (1 to 10).map("d" + _) ++ s2).mkString(" ")
    val doc1 = (s1 ++ (1 to 10).map("f" + _) ++ s2).mkString(" ")
    // doc2 repeats its own 8-token run twice — WITHIN one doc only, so
    // nothing is cross-doc duplicated
    val doc2 = ((1 to 8).map("r" + _) ++ (1 to 8).map("r" + _)).mkString(" ")
    val df = Seq((0L, doc0), (1L, doc1), (2L, doc2)).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(df, "doc_id", "text", window = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((0L, 26L, 16L, 2L), (1L, 26L, 16L, 2L),
      (2L, 16L, 0L, 0L)))
  }

  test("scrubDuplicatedSpans excises exactly the duplicated spans") {
    // same planted-span shape as the profile spec: doc0/doc1 share the
    // 9-token prefix a1..a9 (one merged span, tokens 1..9); unique tails
    // must survive verbatim; doc2 untouched; doc3 is shorter than the
    // window and passes through even though it textually contains a1..a5
    val shared = (1 to 9).map("a" + _)
    val tail0 = (10 to 20).map("b" + _)
    val tail1 = (1 to 11).map("c" + _)
    val doc0 = (shared ++ tail0).mkString(" ")
    val doc1 = (shared ++ tail1).mkString(" ")
    val doc2 = (1 to 20).map("u" + _).mkString(" ")
    val doc3 = (1 to 5).map("a" + _).mkString(" ")
    val df = Seq((0L, doc0), (1L, doc1), (2L, doc2), (3L, doc3))
      .toDF("doc_id", "text")
    val out = Dedup.scrubDuplicatedSpans(df, "doc_id", "text", window = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (0L, 20L, 9L, tail0.mkString(" ")),
      (1L, 20L, 9L, tail1.mkString(" ")),
      (2L, 20L, 0L, doc2),
      (3L, 5L, 0L, doc3)))
    // dup_tokens agrees with the profile on identical input
    val prof = Dedup.duplicatedSpans(df, "doc_id", "text", window = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out.forall { case (id, _, dup, _) => prof(id) == dup })
  }

  test("scrubDuplicatedSpans empties a fully-duplicated doc") {
    val t = (1 to 12).map("x" + _).mkString(" ")
    val df = Seq((0L, t), (1L, t)).toDF("doc_id", "text")
    val out = Dedup.scrubDuplicatedSpans(df, "doc_id", "text", window = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq((0L, 12L, ""), (1L, 12L, "")))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("bruteForceTopK returns exact neighbors in rank order") {
    val corpus = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0f, 1f)),
      (3L, Seq(0.7f, 0.7f))).toDF("vec_id", "embedding")
    val queries = Seq((0L, Seq(1f, 0f))).toDF("qid", "qvec")
    val out = Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", "qid", "qvec", k = 2).collect()
    // nearest to (1,0) excluding self: id1 (cos~.994), then id3 (cos~.707)
    assert(out.map(r => (r.getLong(1), r.getInt(3))).toSeq == Seq((1L, 1), (3L, 2)))
  }

  test("lshTopK neighbors are a subset of brute-force candidates with same scores") {
    val emb = Tables.embeddings(spark, sf001)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
      "qid", "qvec", k = 50).select("qid", "vec_id", "sim")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val approx = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
      "qid", "qvec", k = 5, dim = 64).collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      // every LSH hit that also appears in the exact top-50 has the same score
      exact.get(key).foreach(s => assert(s == r.getDouble(2)))
    }
  }

  test("quantizeInt8 bounds elements to [-127,127] with a ±127 extreme") {
    val df = Seq((0L, Seq(0.5f, -1.0f, 0.25f)), (1L, Seq(0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("q"))
    val rows = df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(rows(0L) == Seq(64f, -127f, 32f)) // floor(±x*127 + .5)
    assert(rows(1L) == Seq(0f, 0f, 0f))      // zero vector stays zero
  }

  test("quantizedTopK ranks closely track the exact float ranks") {
    val emb = Tables.embeddings(spark, sf001)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def keys(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = keys(Similarity.bruteForceTopK(emb, queries,
      "vec_id", "embedding", "qid", "qvec", k = 5))
    val quant = keys(Similarity.quantizedTopK(emb, queries,
      "vec_id", "embedding", "qid", "qvec", k = 5))
    val overlap = (exact & quant).size.toDouble / exact.size
    assert(overlap >= 0.9, s"quantized top-5 overlap $overlap vs exact")
  }
}

class LshRecallSpec extends SparkSpec {
  test("lshTopK recall >= 0.6 vs exact brute force on sf0.01 embeddings") {
    val sf01 = "/root/testdata/sf0.01"
    val emb = Tables.embeddings(spark, sf01)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
      "qid", "qvec", k = 5)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
      "qid", "qvec", k = 5, dim = 64)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size == 50)
    val recall = (approx & exact).size.toDouble / exact.size
    info(f"lshTopK recall vs exact top-5: $recall%.2f (${approx.size} returned)")
    assert(recall >= 0.6, f"recall $recall%.2f < 0.6")
  }

  test("ivfTopK recall >= 0.5 vs exact brute force on sf0.01 embeddings") {
    val sf01 = "/root/testdata/sf0.01"
    val emb = Tables.embeddings(spark, sf01)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
      "qid", "qvec", k = 5)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
      c = 32, iters = 5)
    assert(cents.length == 32 && cents.head.length == 64)
    val approx = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      "qid", "qvec", k = 5, cents, nprobe = 8)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx & exact).size.toDouble / exact.size
    info(f"ivfTopK recall vs exact top-5: $recall%.2f (${approx.size} returned)")
    assert(recall >= 0.5, f"recall $recall%.2f < 0.5")
  }
}

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("tokenStats counts whitespace and regex tokens") {
    val df = Seq((0L, "ab cd, ef!")).toDF("doc_id", "text")
    val r = TextOps.tokenStats(df).collect()(0)
    assert(r.getInt(1) == 3)      // "ab", "cd,", "ef!"
    assert(r.getInt(2) == 5)      // ab, cd, ',', ef, '!'
  }

  test("langId picks profile with most stopword hits, deterministic ties") {
    val df = Seq(
      (0L, "the cat sat", "en"),      // 'the' -> en
      (1L, "le chat est la", "fr"),   // le, est, la -> fr
      (2L, "xyz qqq www", "zh")       // no hits -> und
    ).toDF("doc_id", "text", "lang")
    val out = TextOps.langId(df).select("doc_id", "lang_guess")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(0L -> "en", 1L -> "fr", 2L -> "und"))
  }

  test("qualityScore components are in range and deterministic") {
    val df = Seq((0L, "the quick brown fox")).toDF("doc_id", "text")
    val r = TextOps.qualityScore(df).collect()(0)
    val quality = r.getDouble(5)
    assert(quality >= 0.0 && quality <= 1.0)
    // 4 tokens, 1 stopword hit, avg word len 4.0
    assert(r.getLong(2) == 4L)
    assert(r.getDouble(4) == 0.25)
  }

  test("packChunks lays docs end-to-end and cuts at the token budget") {
    // doc token counts 3, 4, 5 with budget 6:
    //   doc 0: tokens [0,3)  -> chunk 0..0
    //   doc 1: tokens [3,7)  -> chunks 0..1 (straddles the cut at 6)
    //   doc 2: tokens [7,12) -> chunk 1..1
    val df = Seq(
      (0L, "a b c", "en"),
      (1L, "a b c d", "en"),
      (2L, "a b c d e", "en"),
      (3L, "x y", "fr") // separate stream restarts at chunk 0
    ).toDF("doc_id", "text", "lang")
    val out = TextOps.packChunks(df, "lang", budget = 6)
      .collect()
      .map(r => (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      (0L, 0L, 0L, 0L), (1L, 3L, 0L, 1L), (2L, 7L, 1L, 1L),
      (3L, 0L, 0L, 0L)))
  }

  test("contaminationPairs counts distinct shared n-grams against the benchmark") {
    val bench = Seq((0L, "a b c d e f")).toDF("doc_id", "text")
    val train = Seq(
      (10L, "a b c d x y"), // shares "a b c" and "b c d"
      (11L, "q r s t u v")  // shares nothing
    ).toDF("doc_id", "text")
    val out = TextOps.contaminationPairs(train, bench, "doc_id", "text",
      n = 3, minShared = 1).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((10L, 0L, 2L)))
  }

  test("topNgrams counts duplicate shingles across docs") {
    val df = Seq((0L, "a b c a b c"), (1L, "a b c d")).toDF("doc_id", "text")
    val top = TextOps.topNgrams(df, 3, 2).collect()
    assert(top(0).getString(0) == "a b c" && top(0).getLong(1) == 3L)
  }

  test("tfIdfTopTerms: corpus-wide terms score zero, rare terms rank first") {
    // 'common' appears in all 4 docs -> idf = ln(1) = 0; each doc's
    // distinctive term must outrank it.
    val df = Seq(
      (0L, "common alpha alpha"), (1L, "common beta"),
      (2L, "common gamma"), (3L, "common delta")).toDF("doc_id", "text")
    val out = TextOps.tfIdfTopTerms(df, k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
    val doc0 = out.filter(_._1 == 0L)
    assert(doc0.head._2 == "alpha" && doc0.head._5 == 1L)
    assert(doc0.head._4 == math.floor(2 * math.log(4.0) * 1e6 + 0.5) / 1e6)
    // the ubiquitous term scores 0 and loses every rank-1 slot
    assert(out.filter(_._5 == 1L).forall(_._2 != "common"))
    assert(out.filter(_._2 == "common").forall(_._4 == 0.0))
  }

  test("bigramLmScore: repeated fluent bigrams outscore a gibberish doc") {
    // corpus: "a b" occurs 3x; doc 2's bigrams are all unseen-context-free
    // singletons, so its smoothed probabilities are lower.
    val df = Seq(
      (0L, "a b a b"), (1L, "a b c"), (2L, "x y z"), (3L, "q")
    ).toDF("doc_id", "text")
    val rows = TextOps.bigramLmScore(df).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toList
    val byId = rows.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byId(3L) == ((0L, None)), "single-token doc has nothing to model")
    assert(byId(0L)._1 == 3L && byId(1L)._1 == 2L && byId(2L)._1 == 2L)
    // hand-computed: V = 7 distinct tokens {a,b,c,x,y,z,q}
    // C(a,b)=3, C(b,a)=1, C(b,c)=1, C(x,y)=1, C(y,z)=1
    // contexts from the bigram table: C(a,.)=3, C(b,.)=2, C(x,.)=C(y,.)=1
    val v = 7.0
    def lp(c12: Long, c1: Long) = math.log((c12 + 1.0) / (c1 + v))
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val d0 = r6((lp(3, 3) + lp(1, 2) + lp(3, 3)) / 3)
    val d2 = r6((lp(1, 1) + lp(1, 1)) / 2)
    assert(byId(0L)._2.contains(d0))
    assert(byId(2L)._2.contains(d2))
    assert(byId(0L)._2.get > byId(2L)._2.get,
      "fluent repetition must outscore unseen-bigram gibberish")
  }

  test("redactPii masks emails then phones, counting each stage once") {
    val df = Seq(
      (0L, "mail bob@example.com and call 202-555-0101 now"),
      (1L, "phone-in-email 555-123-4567@host.org stays one email"),
      (2L, "nothing sensitive here 12-34")).toDF("doc_id", "text")
    val out = TextOps.redactPii(df, "text").orderBy("doc_id")
      .select("n_emails", "n_phones", "redacted").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out(0) == ((1L, 1L, "mail <EMAIL> and call <PHONE> now")))
    // the phone-shaped local part is consumed by the email mask
    assert(out(1) == ((1L, 0L, "phone-in-email <EMAIL> stays one email")))
    assert(out(2) == ((0L, 0L, "nothing sensitive here 12-34")))
  }

  test("slidingChunks covers every token, clamps the tail, preserves text") {
    val df = Seq((1L, (1 to 10).map("t" + _).mkString(" "))).toDF("doc_id", "text")
    val out = TextOps.slidingChunks(df, chunkSize = 4, stride = 3)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getString(5)))
    assert(out.toSeq == Seq(
      (0L, 1L, 4L, 4L, "t1 t2 t3 t4"),
      (1L, 4L, 7L, 4L, "t4 t5 t6 t7"),
      (2L, 7L, 10L, 4L, "t7 t8 t9 t10"),
      (3L, 10L, 10L, 1L, "t10")))
  }

  test("hashedLinearScore matches the hand-computed weight; keep = logit >= 0") {
    import graft.functions.{SimHashBits, TextFunctions}
    val df = Seq((1L, "hello"), (2L, "hello"), (3L, "hello world"))
      .toDF("doc_id", "text")
    val out = TextOps.hashedLinearScore(df, "text").collect()
    def weight(tok: String): Long = {
      val h = tok.foldLeft(0L)((acc, c) => (acc * 131 + c) % TextFunctions.ShPrime)
      val mixed = (0 until SimHashBits.MixRounds).foldLeft(h % 1024)((acc, _) =>
        (acc * SimHashBits.MixMul + SimHashBits.MixAdd) % TextFunctions.ShPrime)
      mixed % 2001 - 1000
    }
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val expect1 = -0.1 + weight("hello") / (1000.0 * 1)
    assert(out(0).getLong(1) == 1L)
    assert(out(0).getDouble(2) == r6(expect1))
    assert(out(0).getLong(4) == (if (expect1 >= 0) 1L else 0L))
    // same text -> identical score (pure function of the content)
    assert(out(1).getDouble(2) == out(0).getDouble(2))
    val expect3 =
      -0.1 + (weight("hello") + weight("world")) / (1000.0 * 2)
    assert(out(2).getLong(1) == 2L)
    assert(out(2).getDouble(2) == r6(expect3))
    // prob is the logistic of the unrounded logit
    assert(out(2).getDouble(3) == r6(1.0 / (1.0 + math.exp(-expect3))))
  }
}

/** Test double for the codec-less modalities (audio/video): the
  * mapPartitions plumbing is identical to the real image path; only the
  * per-row decode body differs. Top-level so the task closure captures
  * this serializable object, not the spec class. Main has no stubbed
  * decode anymore.
  */
object StubCodec extends Serializable {
  def decode(payload: Array[Byte], dims: Int): Array[Double] = {
    val out = new Array[Double](dims)
    var i = 0
    while (i < payload.length) {
      out(i % dims) += (payload(i) & 0xff).toDouble / 255.0
      i += 1
    }
    out
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("real image codec: PNG encode → ImageIO decode round-trips exactly") {
    val docs = Tables.documents(spark, sf001).limit(50)
    val feats = Multimodal.decodeImageFeatures(
      Multimodal.imagePayloads(docs, "doc_id"), "doc_id", "payload")
      .collect().sortBy(_.doc_id)
    assert(feats.length == 50)
    // independent re-derivation of the deterministic test-card stats
    feats.foreach { f =>
      val id = f.doc_id
      val w = 4 + Math.floorMod(id, 5)
      val h = 4 + Math.floorMod(id / 5, 5)
      assert(f.width == w && f.height == h && f.n_pixels == w * h)
      var sum = 0L; var wsum = 0L
      for (y <- 0L until h; x <- 0L until w) {
        val r = Math.floorMod(id * 31 + x * 7 + y * 13, 256)
        val g = Math.floorMod(id * 17 + x * 3 + y * 29, 256)
        val b = Math.floorMod(id * 53 + x * 11 + y * 5, 256)
        sum += r + g + b
        wsum += (r + 2 * g + 3 * b) * (y * w + x + 1)
      }
      assert(f.pix_sum == sum, s"pix_sum for doc $id")
      assert(f.pix_wsum == wsum, s"pix_wsum for doc $id")
    }
  }

  test("decode raises on a non-image payload instead of emitting garbage") {
    val ex = intercept[Exception] {
      Multimodal.decodeImageFeatures(
        Seq((7L, "not a png".getBytes("UTF-8"))).toDF("doc_id", "payload"),
        "doc_id", "payload").collect()
    }
    assert(ex.toString.contains("not a decodable image") ||
      Option(ex.getCause).exists(_.toString.contains("not a decodable image")))
  }

  test("generic decode plumbing works with a pluggable test-double codec") {
    val docs = Tables.documents(spark, sf001).limit(20)
    val feats = docs.select(col("doc_id"), col("text").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows =>
        rows.map { case (id, p) => (id, StubCodec.decode(p, 4)) })
      .collect()
    assert(feats.length == 20 && feats.forall(_._2.length == 4))
  }

  test("frameSample covers every offset stride of each doc") {
    val df = Seq((0L, "x" * 250, 250L)).toDF("doc_id", "text", "n_chars")
    val frames = Multimodal.frameSample(df, frameLen = 100).collect()
    assert(frames.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L))
    assert(frames.map(_.getLong(2)).toSeq == Seq(0L, 100L, 200L))
  }

  test("frameSample yields no frames for empty docs instead of erroring") {
    val df = Seq((0L, "", 0L), (1L, "x" * 50, 50L)).toDF("doc_id", "text", "n_chars")
    val frames = Multimodal.frameSample(df, frameLen = 100).collect()
    assert(frames.map(r => (r.getLong(0), r.getLong(2))).toSeq == Seq((1L, 0L)))
  }
}

class EntrySpec extends SparkSpec {
  test("entry returns rows (driver smoke contract)") {
    GraftFunctions.register(spark)
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("every declared oracle key has a matching query") {
    val qs = graft.SparkEntry.queries.keySet
    val os = graft.SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"oracle keys without query: ${os -- qs}")
  }

  test("every registered query executes end-to-end at sf0.001") {
    // Verify logs a failing query and moves on — this makes plain
    // `sbt test` catch a query that breaks at runtime (analysis errors
    // surface lazily)
    GraftFunctions.register(spark)
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sf001)
        assert(df.columns.nonEmpty, s"$name produced no columns")
        df.write.format("noop").mode("overwrite").save()
      } catch {
        case e: Throwable =>
          fail(s"query $name failed at sf0.001: ${e.getMessage}", e)
      }
    }
  }
}

class SkewSpec extends graft.SparkSpec {
  import spark.implicits._

  test("saltedJoin equals plain join (inner and left)") {
    val left = Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d")).toDF("k", "lv")
    val right = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "rv")
    for (jt <- Seq("inner", "left")) {
      val plain = left.join(right, Seq("k"), jt)
        .orderBy("k", "lv").collect().toSeq
      val salted = Skew.saltedJoin(left, right, Seq("k"), salts = 4, joinType = jt)
        .orderBy("k", "lv").collect().toSeq
      assert(salted == plain, s"joinType=$jt")
    }
  }

  test("saltedSumCountAvg equals direct aggregation") {
    val df = (1 to 100).map(i => ("hot", i.toDouble)) ++ Seq(("cold", 5.0))
    val out = Skew.saltedSumCountAvg(df.toDF("k", "v"), Seq("k"), "v", salts = 8)
      .orderBy("k").collect()
    assert(out.map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getDouble(3))).toSeq ==
      Seq(("cold", 5.0, 1L, 5.0), ("hot", 5050.0, 100L, 50.5)))
  }
}

class IntersectCountSpec extends graft.SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("IntersectCountSorted equals size(array_intersect) on sorted distinct arrays") {
    val rnd = new scala.util.Random(1)
    val rows = Seq.fill(100)(
      (Seq.fill(20)(rnd.nextInt(40).toLong).distinct.sorted,
       Seq.fill(20)(rnd.nextInt(40).toLong).distinct.sorted))
    graft.functions.GraftFunctions.register(spark)
    val got = rows.toDF("a", "b").select(
      graft.functions.GraftFunctions.intersectCountSorted(col("a"), col("b")),
      size(array_intersect(col("a"), col("b"))).cast("long")).collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }
}

class ResizeSpec extends graft.SparkSpec {
  test("resizeMeta fits maxDim preserving aspect ratio") {
    val out = Multimodal.resizeMeta(Tables.documents(spark, sf001).limit(20), 256)
      .collect()
    out.foreach { r =>
      val (w, h, ow, oh) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(math.max(ow, oh) <= 256)
      assert(ow == w * 256 / math.max(w, h) && oh == h * 256 / math.max(w, h))
    }
  }
}

class EdgeCaseSpec extends graft.SparkSpec {
  import spark.implicits._

  test("dedup ops tolerate empty input") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.minHashNearDupPairs(empty, "doc_id", "text").count() == 0)
    assert(Dedup.ngramJaccardPairs(empty, "doc_id", "text",
      Seq(lit("x")), 3, 0.5).count() == 0)
    assert(Dedup.exactDedup(empty, Seq("text"), "doc_id").count() == 0)
  }

  test("short and single-token docs produce empty shingle sets, not errors") {
    val df = Seq((0L, "one"), (1L, "two words"), (2L, "")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(df, "doc_id", "text", Seq(lit("b")), 3, 0.1)
    assert(pairs.count() == 0)
    val sh = Dedup.withSimHash(df, "text").collect()
    assert(sh.length == 3) // simhash defined even for degenerate docs
  }

  test("sampling edge fractions: 0 keeps nothing, 1 keeps everything") {
    val ids = (0L until 100L).toDF("doc_id")
    assert(Sampling.sampleByHash(ids, "doc_id", 0.0).count() == 0)
    assert(Sampling.sampleByHash(ids, "doc_id", 1.0).count() == 100)
  }

  test("clustering and contamination tolerate empty inputs") {
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Clustering.nearDupClusters(noPairs).count() == 0)
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextOps.contaminationPairs(docs, noDocs, "doc_id", "text", 3, 1).count() == 0)
    assert(TextOps.contaminationPairs(noDocs, docs, "doc_id", "text", 3, 1).count() == 0)
  }

  test("topK with k larger than the group yields all rows ranked") {
    val corpus = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val queries = Seq((9L, Seq(1f, 0f))).toDF("qid", "qvec")
    val out = Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", "qid", "qvec", k = 10, excludeSelf = false)
    assert(out.count() == 2)
  }
}

class AsOfSpec extends graft.SparkSpec {
  import spark.implicits._

  test("asof join picks latest right <= left ts, inclusive, null before first") {
    val left = Seq(
      (1L, 100L, 5L),   // before any right row -> null
      (2L, 100L, 10L),  // exactly at right ts 10 -> matches (inclusive)
      (3L, 100L, 25L),  // between 20 and 30 -> matches 20
      (4L, 200L, 50L)   // other key, after its only row -> matches 40
    ).toDF("event_id", "k", "ts")
    val right = Seq(
      (100L, 10L, "a"), (100L, 20L, "b"), (100L, 30L, "c"),
      (200L, 40L, "z")).toDF("rk", "rts", "payload")
    val out = AsOf.joinAsOf(left, right, "k", "rk", "ts", "rts", Seq("payload"))
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), Option(r.getString(3))))
    assert(out.toSeq == Seq(
      (1L, None), (2L, Some("a")), (3L, Some("b")), (4L, Some("z"))))
  }

  test("asof join equals naive per-row maximum on random data") {
    val rnd = new scala.util.Random(3)
    val left = Seq.fill(200)((rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong))
      .zipWithIndex.map { case ((k, ts), i) => (i.toLong, k, ts) }
    val right = Seq.fill(60)((rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong))
      .distinct.zipWithIndex.map { case ((k, ts), i) => (k, ts, i.toLong) }
    val expected = left.map { case (id, k, ts) =>
      id -> right.filter(r => r._1 == k && r._2 <= ts)
        .sortBy(r => (r._2, r._3)).lastOption.map(_._3)
    }.toMap
    val out = AsOf.joinAsOf(
      left.toDF("event_id", "k", "ts"),
      // dedup per (k, ts) the same way the engine op requires
      Dedup.exactDedup(right.toDF("rk", "rts", "pid"), Seq("rk", "rts"), "pid"),
      "k", "rk", "ts", "rts", Seq("pid")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toMap
    // naive reference must also respect the dedup (min pid per (k,ts))
    val dedupedRight = right.groupBy(r => (r._1, r._2))
      .map { case (_, rs) => rs.minBy(_._3) }.toSeq
    val expected2 = left.map { case (id, k, ts) =>
      id -> dedupedRight.filter(r => r._1 == k && r._2 <= ts)
        .sortBy(_._2).lastOption.map(_._3)
    }.toMap
    assert(out == expected2)
  }

  test("asof join never stitches payload columns from different right rows") {
    // matching right row carries (null, 5.0); a LATER right row carries
    // ('B', 7.0). Per-column carry would fill the null orderkey from 'B'
    // while keeping total=5.0 — a composite row that never existed.
    val left = Seq((1L, 100L, 15L)).toDF("event_id", "k", "ts")
    val right = Seq(
      (100L, 10L, Option.empty[String], Some(5.0)),
      (100L, 20L, Some("B"), Some(7.0))).toDF("rk", "rts", "okey", "total")
    val back = AsOf.joinAsOf(left, right, "k", "rk", "ts", "rts",
      Seq("okey", "total")).collect().head
    assert(back.isNullAt(3) && back.getDouble(4) == 5.0)
    // forward twin: left at ts=15 matches the ts=20 row ('B', 7.0); the
    // EARLIER row's null must not leak either
    val right2 = Seq(
      (100L, 10L, Some("A"), Option.empty[Double]),
      (100L, 20L, Some("B"), Some(7.0))).toDF("rk", "rts", "okey", "total")
    val fwd = AsOf.joinAsOfForward(left, right2, "k", "rk", "ts", "rts",
      Seq("okey", "total")).collect().head
    assert(fwd.getString(3) == "B" && fwd.getDouble(4) == 7.0)
  }

  test("forward asof join picks earliest right >= left ts, inclusive, " +
    "null after last") {
    val left = Seq(
      (1L, 100L, 5L),   // before first right row -> matches 10
      (2L, 100L, 10L),  // exactly at right ts 10 -> matches (inclusive)
      (3L, 100L, 25L),  // between 20 and 30 -> matches 30
      (4L, 100L, 35L),  // after last right row for the key -> null
      (5L, 200L, 10L)   // other key -> matches 40
    ).toDF("event_id", "k", "ts")
    val right = Seq(
      (100L, 10L, "a"), (100L, 20L, "b"), (100L, 30L, "c"),
      (200L, 40L, "z")).toDF("rk", "rts", "payload")
    val out = AsOf.joinAsOfForward(left, right, "k", "rk", "ts", "rts",
      Seq("payload"))
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), Option(r.getString(3))))
    assert(out.toSeq == Seq(
      (1L, Some("a")), (2L, Some("a")), (3L, Some("c")), (4L, None),
      (5L, Some("z"))))
  }

  test("forward asof join equals naive per-row minimum on random data") {
    val rnd = new scala.util.Random(7)
    val left = Seq.fill(200)((rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong))
      .zipWithIndex.map { case ((k, ts), i) => (i.toLong, k, ts) }
    val right = Seq.fill(60)((rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong))
      .distinct.zipWithIndex.map { case ((k, ts), i) => (k, ts, i.toLong) }
    val out = AsOf.joinAsOfForward(
      left.toDF("event_id", "k", "ts"),
      Dedup.exactDedup(right.toDF("rk", "rts", "pid"), Seq("rk", "rts"), "pid"),
      "k", "rk", "ts", "rts", Seq("pid")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toMap
    val dedupedRight = right.groupBy(r => (r._1, r._2))
      .map { case (_, rs) => rs.minBy(_._3) }.toSeq
    val expected = left.map { case (id, k, ts) =>
      id -> dedupedRight.filter(r => r._1 == k && r._2 >= ts)
        .sortBy(_._2).headOption.map(_._3)
    }.toMap
    assert(out == expected)
  }
}

class GopherRulesSpec extends graft.SparkSpec {
  import spark.implicits._

  test("gopherRules metrics and keep flag on hand-computed docs") {
    val docs = Seq(
      // 50 tokens over 10 distinct words: top word 'the' x5 (frac 0.1),
      // mean word length 3.1, stop hits 5 -> keep
      (1L, ("the cat sat on mat today dog ran far now " * 5).trim),
      // too short (< 30 words) -> rejected by the word-count band
      (2L, "the tiny doc"),
      // 40 tokens but one word repeated 20x -> top_word_frac 0.5 -> reject
      (3L, (("spam " * 20) + ("the dog ran far now " * 4)).trim)
    ).toDF("doc_id", "text")
    val out = TextOps.gopherRules(docs).collect()
      .map(r => r.getLong(0) -> r).toMap

    val d1 = out(1L)
    assert(d1.getAs[Long]("n_tokens") == 50L)
    assert(d1.getAs[Long]("stop_hits") == 5L)   // 'the' x5; 'on' not in list
    assert(d1.getAs[Double]("top_word_frac") == 0.1)
    assert(d1.getAs[Double]("mean_word_len") == 3.1)
    assert(d1.getAs[Long]("keep") == 1L)
    assert(out(2L).getAs[Long]("keep") == 0L)
    val d3 = out(3L)
    assert(d3.getAs[Long]("n_tokens") == 40L)
    assert(d3.getAs[Double]("top_word_frac") == 0.5)
    assert(d3.getAs[Long]("keep") == 0L)
  }

  test("sourceOverlapMatrix equals naive per-source vocabulary Jaccard") {
    import graft.functions.TextFunctions
    GraftFunctions.register(spark)
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta", "webA"),
      (1L, "beta gamma delta epsilon zeta eta theta", "webA"),
      // exact copy of doc 0 in another source -> off-diagonal spike
      (2L, "alpha beta gamma delta epsilon zeta", "webB"),
      (3L, "one two three four five six seven", "webB"),
      (4L, "cats purr dogs bark birds sing loudly", "books")
    ).toDF("doc_id", "text", "source")
    val out = TextOps.sourceOverlapMatrix(docs, "source", "text", n = 3)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    val vocab = docs
      .select(col("source"),
        explode(TextFunctions.hashedShingleSet(col("text"), 3)).as("tok"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).toSet }
    val expected = (for {
      a <- vocab.keys; b <- vocab.keys
      if a < b
      common = (vocab(a) & vocab(b)).size
      if common > 0
    } yield (a, b) -> ((vocab(a).size.toLong, vocab(b).size.toLong,
      common.toLong,
      math.floor(common.toDouble /
        (vocab(a).size + vocab(b).size - common) * 1e6 + 0.5) / 1e6))).toMap
    assert(out == expected)
    assert(out.contains(("webA", "webB")))
    // zero-intersection pairs never join, so they are absent, not 0.0 rows
    assert(!out.keys.exists { case (a, b) => a == "books" || b == "books" })
  }

  test("sourceOverlapMatrix minJaccard drops weak pairs, keeps strong") {
    GraftFunctions.register(spark)
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta", "a"),
      (1L, "alpha beta gamma delta epsilon zeta", "b"),  // jaccard 1.0 with a
      (2L, "alpha beta gamma nine ten eleven twelve", "c")  // weak overlap
    ).toDF("doc_id", "text", "source")
    val all = TextOps.sourceOverlapMatrix(docs, "source", "text", n = 3)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(all == Set(("a", "b"), ("a", "c"), ("b", "c")))
    val strong = TextOps.sourceOverlapMatrix(docs, "source", "text", n = 3,
        minJaccard = 0.9)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(strong == Set(("a", "b")))
  }

  test("sourceOverlapMinHash equals naive per-source signature compare") {
    import graft.functions.{TextFunctions, MinHashCoeffs}
    GraftFunctions.register(spark)
    val k = 16
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta", "a"),
      (1L, "beta gamma delta epsilon zeta eta theta iota", "a"),
      (2L, "alpha beta gamma delta epsilon zeta", "b"),   // = doc 0
      (3L, "one two three four five six seven eight", "b"),
      (4L, "cats purr dogs bark birds sing loudly today", "c"),
      (5L, "", "d")  // no shingles -> source d absent entirely
    ).toDF("doc_id", "text", "source")
    val out = TextOps.sourceOverlapMinHash(docs, "source", "text",
        n = 3, numHashes = k)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // naive: per-source vocab via the same kernel, signatures in Scala
    val (as, bs) = MinHashCoeffs(k)
    val p = MinHashCoeffs.Prime
    val vocab = docs
      .select(col("source"),
        explode(TextFunctions.hashedShingleSet(col("text"), 3)).as("tok"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).toSet }
    def sig(v: Set[Long]): Seq[Long] =
      (0 until k).map(i => v.map(x => (as(i) * (x % p) + bs(i)) % p).min)
    val expected = (for {
      a <- vocab.keys; b <- vocab.keys
      if a < b
      m = sig(vocab(a)).zip(sig(vocab(b))).count { case (x, y) => x == y }
      if m > 0
    } yield (a, b) -> ((m.toLong,
      math.floor(m.toDouble / k * 1e6 + 0.5) / 1e6))).toMap
    assert(out == expected)
    // a and b share doc 0's shingles -> some positions must match
    assert(out(("a", "b"))._1 >= 1)
    // a shingle-less source carries no signature and is absent
    assert(!vocab.contains("d") && !out.keys.exists(k2 =>
      k2._1 == "d" || k2._2 == "d"))
  }

  test("sourceOverlapMinHash accuracy tracks exact Jaccard across [0,0.9]") {
    // The t18b accuracy contract: est_jaccard is the classic k-sample
    // MinHash estimator with stderr ~= sqrt(J(1-J)/k). Build source pairs
    // whose EXACT shingle Jaccard spans ~[0, 0.1, 0.5, 0.9] and gate
    // |est - exact| <= 4*stderr (+ the 1/k quantization floor) — the same
    // 4-sigma style bound SketchAccuracySpec holds HLL to.
    GraftFunctions.register(spark)
    val k = 128
    // Each pseudo-doc is 20 globally-unique words -> 18 globally-unique
    // 3-shingles, so per-source vocabularies are unions of equal-sized
    // disjoint blocks and shingle-set Jaccard == doc-share Jaccard by
    // construction. Pairs: 18/20 shared docs -> J=0.9; 10/20 -> 0.5;
    // 2/20 -> 0.1; disjoint -> 0 (absent from the exact matrix).
    def doc(tag: String, i: Int): String =
      (0 until 20).map(j => s"w${tag}_${i}_$j").mkString(" ")
    def rows(src: String, tag: String, ids: Range): Seq[(String, String)] =
      ids.map(i => (src, doc(tag, i)))
    val docs = (
      rows("a1", "a", 0 until 19) ++ rows("a2", "a", 1 until 20) ++
      rows("b1", "b", 0 until 15) ++ rows("b2", "b", 5 until 20) ++
      rows("c1", "c", 0 until 11) ++ rows("c2", "c", 9 until 20) ++
      rows("d1", "d", 0 until 10) ++ rows("d2", "e", 0 until 10)
    ).toDF("source", "text")
    def pairMap(df: org.apache.spark.sql.DataFrame, vCol: String) =
      df.select(col("src_a"), col("src_b"), col(vCol)).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val exact = pairMap(
      TextOps.sourceOverlapMatrix(docs, "source", "text", n = 3), "jaccard")
    val est = pairMap(
      TextOps.sourceOverlapMinHash(docs, "source", "text", n = 3,
        numHashes = k), "est_jaccard")
    // fixture sanity: the intended J targets actually materialized
    assert(math.abs(exact(("a1", "a2")) - 0.9) < 0.02)
    assert(math.abs(exact(("b1", "b2")) - 0.5) < 0.02)
    assert(math.abs(exact(("c1", "c2")) - 0.1) < 0.02)
    assert(!exact.contains(("d1", "d2")), "disjoint pair must be absent")
    // the gate, over EVERY pair either side surfaced (absent -> J/est = 0)
    (exact.keySet ++ est.keySet).foreach { pair =>
      val j = exact.getOrElse(pair, 0.0)
      val e = est.getOrElse(pair, 0.0)
      val bound = 4.0 * math.sqrt(j * (1 - j) / k) + 1.0 / k
      assert(math.abs(e - j) <= bound,
        s"$pair: est=$e exact=$j bound=$bound")
    }
  }

  test("gopherRules survives the empty document") {
    val docs = Seq((1L, "")).toDF("doc_id", "text")
    val out = TextOps.gopherRules(docs).collect()
    assert(out.length == 1)
    // split("") yields [""]: one empty token, zero length, zero stopwords
    assert(out(0).getAs[Long]("keep") == 0L)
  }
}
