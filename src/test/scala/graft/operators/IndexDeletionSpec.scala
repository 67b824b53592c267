package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Deletion / retraction contracts of the persisted indexes
  * ([[Dedup.deleteFromIndex]] on MinHash and SRP indexes):
  *
  *  - a delete hides the ids from the NEXT index open (probes stop
  *    matching immediately, no compaction required);
  *  - probe-after-delete ≡ probe-of-a-rebuild on the retained corpus
  *    (below the bucket cap, the documented equivalence);
  *  - compaction physically purges the rows from every table, folds the
  *    tombstone table away, and appends NEGATIVE occupancy deltas so
  *    the side table still equals a recomputation from the bucket rows
  *    on disk — and so the write-time cap re-opens for future appends;
  *  - the governed ingest loop keeps exactly-once semantics across a
  *    mid-stream delete (replays included), and a deleted doc stops
  *    suppressing later near-duplicates.
  */
class IndexDeletionSpec extends SparkSpec {
  import spark.implicits._

  // no-cap params: the probe ≡ rebuild-on-retained equivalence is exact
  // below the bucket cap (the cap caveat is exercised separately)
  private val p = Dedup.MinHashParams(numHashes = 32, bands = 8,
    shingle = 3, threshold = 0.2)

  private def uniq(i: Long) =
    (0 until 8).map(j => s"unique${i}tok$j").mkString(" ")
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

  private def pairsOf(df: DataFrame): Set[(Long, Long)] =
    df.select("batch_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Occupancy side table (nonzero sums — a fully-deleted bucket nets
    * to zero, which recomputation cannot see) vs recomputed counts. */
  private def occupancyMatchesRecomputed(path: String, sub: String,
                                         keys: Seq[String]): Unit = {
    val side = Dedup.readOccupancy(spark, path, keys, None, Long.MaxValue)
      .collect().map(r => keys.indices.map(r.get(_)).toList ->
        r.getAs[Long]("__occ")).toMap.filter(_._2 != 0L)
    val recomputed = spark.read.parquet(s"$path/$sub")
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
      .collect().map(r => keys.indices.map(r.get(_)).toList ->
        r.getAs[Long]("c")).toMap
    assert(side == recomputed,
      s"occupancy side table diverged from recomputed $sub counts: " +
        s"side-only=${side.toSet -- recomputed.toSet}, " +
        s"recomputed-only=${recomputed.toSet -- side.toSet}")
  }

  test("signature index: delete hides ids immediately, compaction purges " +
      "them physically, probe equals a rebuild on the retained corpus") {
    val base = Files.createTempDirectory("graft-del-sig").toString
    val ix = s"$base/ix"; val retained = s"$base/retained"
    try {
      val corpus = docs(0L to 9L: _*)
      val batch = docs(100L, 101L) // 100 near-dups every even (fam) doc
      Dedup.writeSignatureIndex(corpus, "doc_id", "text", ix, p)

      val before = pairsOf(Dedup.minHashNearDupPairsIncremental(batch,
        Dedup.readSignatureIndex(spark, ix), "doc_id", "text", p))
      assert(before.exists(_._2 == 2L) && before.exists(_._2 == 4L),
        s"fixture must near-dup the to-be-deleted ids: $before")

      Dedup.deleteFromIndex(spark, ix, Seq(2L, 4L))
      val after = pairsOf(Dedup.minHashNearDupPairsIncremental(batch,
        Dedup.readSignatureIndex(spark, ix), "doc_id", "text", p))
      assert(!after.exists(pr => pr._2 == 2L || pr._2 == 4L),
        s"deleted ids must stop matching immediately: $after")
      assert(after == before.filterNot(pr => pr._2 == 2L || pr._2 == 4L),
        "delete must remove ONLY the tombstoned ids' pairs")

      // ≡ a rebuild on the retained corpus (no cap in play)
      Dedup.writeSignatureIndex(
        corpus.filter(!$"doc_id".isin(2L, 4L)), "doc_id", "text", retained, p)
      val rebuilt = pairsOf(Dedup.minHashNearDupPairsIncremental(batch,
        Dedup.readSignatureIndex(spark, retained), "doc_id", "text", p))
      assert(after == rebuilt, s"probe-after-delete $after != rebuild $rebuilt")

      // compaction: physical purge + tombstone fold + negative deltas
      Dedup.compactIndex(spark, ix)
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$ix/tombstones")),
        "compaction must fold the tombstone table away")
      assert(spark.read.parquet(s"$ix/signatures")
        .filter($"id".isin(2L, 4L)).isEmpty, "signatures must be purged")
      assert(spark.read.parquet(s"$ix/bands")
        .filter($"id".isin(2L, 4L)).isEmpty, "band rows must be purged")
      occupancyMatchesRecomputed(ix, "bands", Seq("band", "bkey"))
      val compacted = pairsOf(Dedup.minHashNearDupPairsIncremental(batch,
        Dedup.readSignatureIndex(spark, ix), "doc_id", "text", p))
      assert(compacted == rebuilt,
        s"post-compaction probe $compacted != rebuild $rebuilt")

      // deleting absent ids is a harmless no-op
      Dedup.deleteFromIndex(spark, ix, Seq(99999L))
      assert(pairsOf(Dedup.minHashNearDupPairsIncremental(batch,
        Dedup.readSignatureIndex(spark, ix), "doc_id", "text", p)) == rebuilt)

      // an overwrite rebuild at the same path supersedes pending deletes
      // — stale tombstones must not hide rows of the new generation
      Dedup.deleteFromIndex(spark, ix, Seq(6L))
      Dedup.writeSignatureIndex(corpus, "doc_id", "text", ix, p)
      assert(pairsOf(Dedup.minHashNearDupPairsIncremental(batch,
        Dedup.readSignatureIndex(spark, ix), "doc_id", "text", p)) == before,
        "a rebuild must clear the previous generation's tombstones")
    } finally rmrf(base)
  }

  test("randomized: probe-after-delete equals rebuild-on-retained for " +
      "arbitrary delete subsets, pending and purged") {
    val rnd = new scala.util.Random(17)
    (0 until 2).foreach { trial =>
      val base = Files.createTempDirectory(s"graft-del-rand$trial").toString
      val ix = s"$base/ix"; val retained = s"$base/retained"
      try {
        val ids = 0L to 19L
        val corpus = docs(ids: _*)
        val batch = docs(100L, 101L, 102L)
        val dropped = ids.filter(_ => rnd.nextDouble() < 0.4)
        Dedup.writeSignatureIndex(corpus, "doc_id", "text", ix, p)
        Dedup.deleteFromIndex(spark, ix, dropped)
        Dedup.writeSignatureIndex(
          corpus.filter(!$"doc_id".isin(dropped.map(Long.box): _*)),
          "doc_id", "text", retained, p)
        def probeOf(path: String) =
          pairsOf(Dedup.minHashNearDupPairsIncremental(batch,
            Dedup.readSignatureIndex(spark, path), "doc_id", "text", p))
        val rebuilt = probeOf(retained)
        assert(probeOf(ix) == rebuilt,
          s"trial $trial pending-path diverged (dropped=$dropped)")
        Dedup.compactIndex(spark, ix)
        assert(probeOf(ix) == rebuilt,
          s"trial $trial purged-path diverged (dropped=$dropped)")
      } finally rmrf(base)
    }
  }

  test("compaction re-opens bucket-cap slots freed by deletes") {
    val base = Files.createTempDirectory("graft-del-cap").toString
    val ix = s"$base/ix"
    val capped = Dedup.MinHashParams(numHashes = 32, bands = 8,
      shingle = 3, threshold = 0.2, maxBucket = 3)
    try {
      // evens share the fam family: cap 3 fills the family-shared
      // buckets with ids 0,2,4; later family members are capped out of
      // exactly those (their unshared tail-token buckets still admit)
      Dedup.writeSignatureIndex(docs(0L, 2L, 4L), "doc_id", "text", ix,
        capped)
      def bucketsOf(id: Long): Set[(Int, Long)] =
        spark.read.parquet(s"$ix/bands").filter($"id" === id)
          .select("band", "bkey").collect()
          .map(r => (r.getInt(0), r.getLong(1))).toSet
      val atCap = spark.read.parquet(s"$ix/bands")
        .groupBy("band", "bkey").agg(count(lit(1)).as("c"))
        .filter($"c" === 3).select("band", "bkey").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSet
      val cappedWith0 = atCap.intersect(bucketsOf(0L))
      assert(cappedWith0.nonEmpty, "fixture must have full shared buckets")

      Dedup.deleteFromIndex(spark, ix, Seq(0L))

      // pre-compaction: the tombstoned rows still hold their slots
      // (occupancy is conservative until the purge) — 10 stays out of
      // every at-cap bucket
      Dedup.appendSignatureIndex(docs(10L), "doc_id", "text", ix)
      val blocked10 = bucketsOf(10L).intersect(cappedWith0)
      assert(blocked10.isEmpty,
        s"pre-purge appends must still honor the occupied cap: $blocked10")

      // post-compaction: 0's slots are freed (negative deltas) — 12
      // lands in at least one bucket that was at cap before the purge
      Dedup.compactIndex(spark, ix)
      Dedup.appendSignatureIndex(docs(12L), "doc_id", "text", ix)
      val reopened12 = bucketsOf(12L).intersect(cappedWith0)
      assert(reopened12.nonEmpty,
        "compaction must re-open the cap slots the delete freed")
      occupancyMatchesRecomputed(ix, "bands", Seq("band", "bkey"))
    } finally rmrf(base)
  }

  test("SRP index: delete hides ids, compaction purges, probe equals a " +
      "rebuild on the retained corpus") {
    val base = Files.createTempDirectory("graft-del-srp").toString
    val ix = s"$base/ix"; val retained = s"$base/retained"
    val dim = 8
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(dim)(r.nextFloat() * 2f - 1f)
    }
    try {
      val corpus = (0 until 10).map(i => (i.toLong, vec(i))).toDF("id", "v")
      // batch vectors are exact copies of corpus 3 and 5 → cos = 1.0
      val batch = Seq((100L, vec(3)), (101L, vec(5))).toDF("id", "v")
      Dedup.writeSrpIndex(corpus, "id", "v", ix, dim = dim, tables = 4)

      val before = pairsOf(Dedup.embeddingNearDupLshIncremental(batch,
        Dedup.readSrpIndex(spark, ix), "id", "v", threshold = 0.99))
      assert(before == Set((100L, 3L), (101L, 5L)), s"fixture: $before")

      Dedup.deleteFromIndex(spark, ix, Seq(3L))
      val after = pairsOf(Dedup.embeddingNearDupLshIncremental(batch,
        Dedup.readSrpIndex(spark, ix), "id", "v", threshold = 0.99))
      assert(after == Set((101L, 5L)),
        s"deleted id must stop matching immediately: $after")

      Dedup.writeSrpIndex(corpus.filter($"id" =!= 3L), "id", "v", retained,
        dim = dim, tables = 4)
      val rebuilt = pairsOf(Dedup.embeddingNearDupLshIncremental(batch,
        Dedup.readSrpIndex(spark, retained), "id", "v", threshold = 0.99))
      assert(after == rebuilt, s"$after != rebuild $rebuilt")

      Dedup.compactIndex(spark, ix)
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$ix/tombstones")))
      assert(spark.read.parquet(s"$ix/vectors").filter($"id" === 3L).isEmpty)
      assert(spark.read.parquet(s"$ix/buckets").filter($"id" === 3L).isEmpty)
      occupancyMatchesRecomputed(ix, "buckets", Seq("tbl", "bkt"))
      val compacted = pairsOf(Dedup.embeddingNearDupLshIncremental(batch,
        Dedup.readSrpIndex(spark, ix), "id", "v", threshold = 0.99))
      assert(compacted == rebuilt)
    } finally rmrf(base)
  }

  test("stale tombstones for already-purged ids never double-subtract " +
      "occupancy (the crash window between rewrite and negative deltas)") {
    val base = Files.createTempDirectory("graft-del-stale").toString
    val ix = s"$base/ix"
    try {
      Dedup.writeSignatureIndex(docs(0L to 9L: _*), "doc_id", "text", ix, p)
      Dedup.deleteFromIndex(spark, ix, Seq(2L, 4L))
      Dedup.compactIndex(spark, ix)
      occupancyMatchesRecomputed(ix, "bands", Seq("band", "bkey"))
      val occAfter = Dedup.readOccupancy(spark, ix, Seq("band", "bkey"),
        None, Long.MaxValue).collect()
        .map(r => (r.get(0), r.get(1)) -> r.getAs[Long]("__occ")).toMap

      // simulate the re-run after a crash that lost the negative-delta
      // step: the same ids tombstoned again, but their rows are already
      // physically gone — the recomputed drop counts must be empty, so
      // occupancy must not move, and the stale tombstones must fold away
      Dedup.deleteFromIndex(spark, ix, Seq(2L, 4L))
      Dedup.compactIndex(spark, ix)
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$ix/tombstones")))
      val occAgain = Dedup.readOccupancy(spark, ix, Seq("band", "bkey"),
        None, Long.MaxValue).collect()
        .map(r => (r.get(0), r.get(1)) -> r.getAs[Long]("__occ")).toMap
      assert(occAgain == occAfter,
        "re-deleting purged ids must not subtract occupancy twice")
      occupancyMatchesRecomputed(ix, "bands", Seq("band", "bkey"))
    } finally rmrf(base)
  }

  test("two equal-count purges emit distinct negative rows that survive " +
      "the occupancy rewrite's replay-duplicate fold") {
    val base = Files.createTempDirectory("graft-del-twice").toString
    val ix = s"$base/ix"
    try {
      // fam family: 0, 2, 4 share buckets, so deleting 0 then 2 drops
      // EQUAL counts (one row) from the same buckets in two purges with
      // no ingest in between — byte-identical negative rows under a
      // non-unique stamp, which dropDuplicates would fold into one
      Dedup.writeSignatureIndex(docs(0L, 2L, 4L), "doc_id", "text", ix, p)
      Dedup.deleteFromIndex(spark, ix, Seq(0L))
      Dedup.compactIndex(spark, ix)
      Dedup.deleteFromIndex(spark, ix, Seq(2L))
      Dedup.compactIndex(spark, ix)
      occupancyMatchesRecomputed(ix, "bands", Seq("band", "bkey"))
      // force an occupancy rewrite (huge target => parts = 1, file count
      // above the floor after the appended negative filesets) — the
      // dropDuplicates replay fold must keep BOTH purges' negatives
      Dedup.compactIndex(spark, ix, targetFileBytes = 1L << 40)
      occupancyMatchesRecomputed(ix, "bands", Seq("band", "bkey"))
    } finally rmrf(base)
  }

  test("a purge between a torn governed attempt and its replay cannot " +
      "mask the batch's missing occupancy delta") {
    val base = Files.createTempDirectory("graft-del-torn").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    try {
      Dedup.writeSignatureIndex(docs(0L, 1L, 2L, 3L), "doc_id", "text",
        ix, p)
      Dedup.initIngestLedger(spark, ix)
      Dedup.ingestBatch(docs(10L, 11L), "doc_id", Dedup.MinHashText("text"), ix,
        out, batchId = 1L)

      // torn attempt of batch 2 (doc 21, uniq text — a fam doc would
      // be legitimately screened against the surviving corpus family):
      // signatures landed, bands / occupancy delta / ledger did not —
      // physical max id is now the torn batch's wAfter (21), the exact
      // value a purge's negative rows must never be mistaken for
      Dedup.withMinHashSignature(docs(21L), "text", p)
        .select($"doc_id".as("id"), $"shingles",
          size($"shingles").as("sz"), $"minhash")
        .write.mode("append").parquet(s"$ix/signatures")

      // takedown + physical purge land between the crash and the replay
      Dedup.deleteFromIndex(spark, ix, Seq(0L))
      Dedup.compactIndex(spark, ix)

      // replay: torn path; the replay-presence probe must not read the
      // purge's negative rows as "this batch's delta already landed"
      val s = Dedup.ingestBatch(docs(21L), "doc_id", Dedup.MinHashText("text"),
        ix, out, batchId = 2L)
      assert(!s.replayed && s.novelRows == 1L, s"$s")
      occupancyMatchesRecomputed(ix, "bands", Seq("band", "bkey"))
    } finally rmrf(base)
  }

  test("a purge between a COMMITTED batch and its replay leaves the " +
      "replay bit-identical (negatives invisible below the committed " +
      "watermark); the freed cap slots open for the NEXT fresh batch") {
    val base = Files.createTempDirectory("graft-del-replay").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    // threshold ~1: family docs band-collide (shared buckets fill the
    // cap) but fail exact-Jaccard verification, so they are admitted as
    // novel instead of screened — the only way to contest cap slots
    // through the governed path
    val pc = Dedup.MinHashParams(numHashes = 32, bands = 8, shingle = 3,
      threshold = 0.999, maxBucket = 3)
    def bandSet() = spark.read.parquet(s"$ix/bands")
      .select("id", "band", "bkey").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    try {
      // corpus fam 0,2,4 fills the shared buckets to the cap
      Dedup.writeSignatureIndex(docs(0L, 2L, 4L), "doc_id", "text", ix, pc)
      Dedup.initIngestLedger(spark, ix)
      val atCap = spark.read.parquet(s"$ix/bands")
        .groupBy("band", "bkey").agg(count(lit(1)).as("c"))
        .filter($"c" === 3).select("band", "bkey").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSet
      assert(atCap.nonEmpty, "fixture: shared buckets must be at cap")

      // batch 1 commits: fam 10,12 are novel (verification fails at
      // 0.999) but their rows in the AT-CAP shared buckets are capped
      // out (their unshared tail-token buckets still admit); uniq 11
      // supplies a positive occupancy delta at the batch watermark
      val s1 = Dedup.ingestBatch(docs(10L, 11L, 12L), "doc_id",
        Dedup.MinHashText("text"), ix, out, batchId = 1L)
      assert(s1.novelRows == 3L, s"$s1")
      val bandsAfter1 = bandSet()
      assert(!bandsAfter1.exists(r =>
          (r._1 == 10L || r._1 == 12L) && atCap((r._2, r._3))),
        "fixture: batch rows in the at-cap buckets must be capped out")

      // takedown + purge free two slots per shared bucket
      Dedup.deleteFromIndex(spark, ix, Seq(0L, 2L))
      Dedup.compactIndex(spark, ix)
      val bandsAfterPurge = bandSet()
      assert(bandsAfterPurge ==
        bandsAfter1.filterNot(r => r._1 == 0L || r._1 == 2L))

      // replay of the COMMITTED batch 1: its occupancy view must be the
      // FIRST attempt's (negatives stamped above its watermark), so the
      // capped-out rows stay out and nothing is appended
      val s1r = Dedup.ingestBatch(docs(10L, 11L, 12L), "doc_id",
        Dedup.MinHashText("text"), ix, out, batchId = 1L)
      assert(s1r.replayed && s1r.novelRows == 3L, s"$s1r")
      assert(bandSet() == bandsAfterPurge,
        "a replay after the purge must not re-admit capped-out rows")
      occupancyMatchesRecomputed(ix, "bands", Seq("band", "bkey"))

      // a FRESH batch sees the re-opened slots
      val s2 = Dedup.ingestBatch(docs(20L), "doc_id", Dedup.MinHashText("text"),
        ix, out, batchId = 2L)
      assert(s2.novelRows == 1L, s"$s2")
      assert(bandSet().exists(r => r._1 == 20L && atCap((r._2, r._3))),
        "the freed cap slots must admit the next fresh batch's rows")
      occupancyMatchesRecomputed(ix, "bands", Seq("band", "bkey"))
    } finally rmrf(base)
  }

  test("a purge before the replay of a torn batch WITH its delta " +
      "already landed: the healed remainder gets a supplementary delta " +
      "(occupancy stays in parity with the re-opened-cap band rows)") {
    val base = Files.createTempDirectory("graft-del-tornd").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    val pc = Dedup.MinHashParams(numHashes = 32, bands = 8, shingle = 3,
      threshold = 0.999, maxBucket = 3)
    try {
      Dedup.writeSignatureIndex(docs(0L, 2L, 4L), "doc_id", "text", ix, pc)
      Dedup.initIngestLedger(spark, ix)

      // batch 1 runs to completion (bands AND occupancy delta landed),
      // then the crash is simulated by removing only its ledger row —
      // the torn-with-delta state
      Dedup.ingestBatch(docs(10L, 11L, 12L), "doc_id",
        Dedup.MinHashText("text"), ix, out, batchId = 1L)
      val ldir = new org.apache.hadoop.fs.Path(s"$ix/ingest_ledger")
      val fs = ldir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val removed = fs.listStatus(ldir)
        .filter(_.getPath.getName.startsWith("ledger-1-"))
      assert(removed.nonEmpty, "fixture: batch 1's ledger row must exist")
      removed.foreach(s => require(fs.delete(s.getPath, false)))

      // takedown + purge re-open the shared-bucket cap slots BEFORE the
      // replay
      Dedup.deleteFromIndex(spark, ix, Seq(0L, 2L))
      Dedup.compactIndex(spark, ix)

      // replay (fresh path — no ledger row): sees the re-opened caps,
      // heals the newly-admitted band rows, and MUST append a
      // supplementary delta for exactly that remainder — the first
      // attempt's delta alone would leave occupancy undercounting the
      // physical band table forever
      val s = Dedup.ingestBatch(docs(10L, 11L, 12L), "doc_id",
        Dedup.MinHashText("text"), ix, out, batchId = 1L)
      assert(!s.replayed && s.novelRows == 3L, s"$s")
      occupancyMatchesRecomputed(ix, "bands", Seq("band", "bkey"))

      // and the loop continues cleanly
      val s2 = Dedup.ingestBatch(docs(21L), "doc_id", Dedup.MinHashText("text"),
        ix, out, batchId = 2L)
      assert(s2.novelRows == 1L, s"$s2")
      occupancyMatchesRecomputed(ix, "bands", Seq("band", "bkey"))
    } finally rmrf(base)
  }

  test("governed ingest keeps exactly-once across a mid-stream delete; " +
      "a deleted doc stops suppressing later near-duplicates") {
    val base = Files.createTempDirectory("graft-del-gov").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    try {
      Dedup.writeSignatureIndex(docs(0L, 1L), "doc_id", "text", ix, p)
      Dedup.initIngestLedger(spark, ix)

      // batch 1: 100 (fam) near-dups corpus doc 0 → screened; 101 novel
      val s1 = Dedup.ingestBatch(docs(100L, 101L), "doc_id",
        Dedup.MinHashText("text"), ix, out, batchId = 1L)
      assert(s1.novelRows == 1L, s"batch 1 expected 1 novel: $s1")

      // retract the fam representative — the only fam doc in the index
      Dedup.deleteFromIndex(spark, ix, Seq(0L))

      // batch 2: 200 (fam) is no longer suppressed → ingested as novel
      val s2 = Dedup.ingestBatch(docs(200L), "doc_id",
        Dedup.MinHashText("text"), ix, out, batchId = 2L)
      assert(s2.novelRows == 1L,
        s"a deleted doc must stop suppressing near-dups: $s2")

      // replay of batch 2 (crash after ledger commit): recognized, same
      // result, no duplicate state
      val s2r = Dedup.ingestBatch(docs(200L), "doc_id",
        Dedup.MinHashText("text"), ix, out, batchId = 2L)
      assert(s2r.replayed && s2r.novelRows == s2.novelRows &&
        s2r.watermarkAfter == s2.watermarkAfter, s"replay diverged: $s2r")
      assert(spark.read.parquet(s"$out/batch_id=2").count() == 1L)

      // batch 3: 300 (fam) near-dups the now-indexed 200 → screened
      val s3 = Dedup.ingestBatch(docs(300L), "doc_id",
        Dedup.MinHashText("text"), ix, out, batchId = 3L)
      assert(s3.novelRows == 0L,
        s"the re-ingested family must suppress again: $s3")
      occupancyMatchesRecomputed(ix, "bands", Seq("band", "bkey"))
    } finally rmrf(base)
  }

  test("SRP governed ingest: a deleted vector stops suppressing, " +
      "exactly-once intact (the embedding twin of the mid-stream delete)") {
    val base = Files.createTempDirectory("graft-del-gov-srp").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    val dim = 8
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(dim)(r.nextFloat() * 2f - 1f)
    }
    try {
      val corpus = Seq((0L, vec(0)), (1L, vec(1))).toDF("id", "v")
      Dedup.writeSrpIndex(corpus, "id", "v", ix, dim = dim, tables = 4)
      Dedup.initIngestLedger(spark, ix)

      // batch 1: 100 copies corpus vector 0 → screened; 101 novel
      val s1 = Dedup.ingestBatch(
        Seq((100L, vec(0)), (101L, vec(50))).toDF("id", "v"), "id",
        Dedup.SrpVectors("v", 0.99), ix, out, batchId = 1L)
      assert(s1.novelRows == 1L, s"batch 1 expected 1 novel: $s1")

      Dedup.deleteFromIndex(spark, ix, Seq(0L))

      // batch 2: another copy of vector 0 — no longer suppressed
      val s2 = Dedup.ingestBatch(
        Seq((200L, vec(0))).toDF("id", "v"), "id", Dedup.SrpVectors("v", 0.99),
          ix, out,
        batchId = 2L)
      assert(s2.novelRows == 1L,
        s"a deleted vector must stop suppressing copies: $s2")

      // replay: recognized, idempotent
      val s2r = Dedup.ingestBatch(
        Seq((200L, vec(0))).toDF("id", "v"), "id", Dedup.SrpVectors("v", 0.99),
          ix, out,
        batchId = 2L)
      assert(s2r.replayed && s2r.novelRows == 1L)

      // batch 3: yet another copy — suppressed by the re-ingested 200
      val s3 = Dedup.ingestBatch(
        Seq((300L, vec(0))).toDF("id", "v"), "id", Dedup.SrpVectors("v", 0.99),
          ix, out,
        batchId = 3L)
      assert(s3.novelRows == 0L, s"200 must suppress again: $s3")
      occupancyMatchesRecomputed(ix, "buckets", Seq("tbl", "bkt"))
    } finally rmrf(base)
  }

  test("a purge crash that leaves a marker-only tombstones/ dir does not " +
      "poison subsequent opens (tolerated and opportunistically swept)") {
    val base = Files.createTempDirectory("graft-del-marker").toString
    val ix = s"$base/ix"
    try {
      Dedup.writeSignatureIndex(docs(0L to 5L: _*), "doc_id", "text", ix, p)
      Dedup.deleteFromIndex(spark, ix, Seq(2L))
      // simulated purge crash: every data file folded, the directory
      // removal not reached — only the write's _SUCCESS marker remains
      val dir = new org.apache.hadoop.fs.Path(s"$ix/tombstones")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(dir).filterNot { s =>
        val n = s.getPath.getName; n.startsWith("_") || n.startsWith(".")
      }.foreach(s => require(fs.delete(s.getPath, false)))
      assert(fs.exists(dir), "fixture: the marker-only dir must remain")

      // the open must succeed (previously: schema inference failed on
      // the empty table, poisoning EVERY subsequent open) and the
      // leftover must be swept away
      val probe = pairsOf(Dedup.minHashNearDupPairsIncremental(
        docs(100L), Dedup.readSignatureIndex(spark, ix), "doc_id", "text",
        p))
      assert(probe.nonEmpty, "open after the simulated crash must probe")
      assert(!fs.exists(dir),
        "the marker-only tombstone leftover must be swept on open")
    } finally rmrf(base)
  }

  /** Data files under `root`, recursive, markers excluded. */
  private def listDataFiles(root: String): Set[String] = {
    val dir = new org.apache.hadoop.fs.Path(root)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Set.empty
    else {
      val it = fs.listFiles(dir, true)
      val b = Set.newBuilder[String]
      while (it.hasNext) {
        val f = it.next().getPath
        if (!f.getName.startsWith("_") && !f.getName.startsWith("."))
          b += f.toString
      }
      b.result()
    }
  }

  private def deleteFiles(paths: Set[String]): Unit = {
    assert(paths.nonEmpty, "fixture: the simulated crash must remove files")
    paths.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.delete(p, false), s"fixture: could not delete $f")
    }
  }

  test("a takedown of ALL ids written by a torn (uncommitted) append " +
      "cannot mask the torn tail: the replay heals against PHYSICAL " +
      "tables and ends bit-identical to the never-crashed run") {
    val base = Files.createTempDirectory("graft-del-tornmask").toString
    val crashed = s"$base/crashed"; val clean = s"$base/clean"
    def contentOf(path: String) = (
      spark.read.parquet(s"$path/signatures").select("id").collect()
        .map(_.getLong(0)).toSeq.sorted,
      spark.read.parquet(s"$path/bands").select("id", "band", "bkey")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .toSeq.sorted,
      spark.read.parquet(s"$path/occupancy")
        .select("band", "bkey", "occ", "wm").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sorted,
      spark.read.parquet(s"$path/ingest_ledger")
        .select("batch_id", "watermark_before", "watermark_after",
          "novel_rows").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sorted)
    def driveTo(ixPath: String, outPath: String): Unit = {
      Dedup.writeSignatureIndex(docs(0L to 3L: _*), "doc_id", "text",
        ixPath, p)
      Dedup.initIngestLedger(spark, ixPath)
      Dedup.ingestBatch(docs(10L, 11L), "doc_id", Dedup.MinHashText("text"),
        ixPath, outPath, batchId = 1L)
    }
    try {
      driveTo(s"$crashed/ix", s"$crashed/out")
      driveTo(s"$clean/ix", s"$clean/out")
      val cix = s"$crashed/ix"

      // batch 2 runs fully, then the crash is simulated by removing its
      // occupancy delta files and ledger row — the torn-BEFORE-delta
      // state (signatures + bands on disk, delta + ledger missing)
      val occBefore = listDataFiles(s"$cix/occupancy")
      val ledBefore = listDataFiles(s"$cix/ingest_ledger")
      Dedup.ingestBatch(docs(21L, 23L), "doc_id", Dedup.MinHashText("text"),
        cix, s"$crashed/out", batchId = 2L)
      deleteFiles(listDataFiles(s"$cix/occupancy") -- occBefore)
      deleteFiles(listDataFiles(s"$cix/ingest_ledger") -- ledBefore)

      // takedown of EXACTLY the torn ids: the tombstone-filtered index
      // view reads an EMPTY tail past the watermark — only a physical
      // read can still see the tear
      Dedup.deleteFromIndex(spark, cix, Seq(21L, 23L))

      // replay: must detect the tear, heal (no duplicate rows), append
      // ONE delta, and commit
      val s = Dedup.ingestBatch(docs(21L, 23L), "doc_id",
        Dedup.MinHashText("text"), cix, s"$crashed/out", batchId = 2L)
      assert(!s.replayed && s.novelRows == 2L, s"$s")
      val sigIds = spark.read.parquet(s"$cix/signatures").select("id")
        .collect().map(_.getLong(0)).toSeq
      assert(sigIds.distinct.size == sigIds.size,
        s"replay re-appended signature rows over the torn tail: $sigIds")

      // the never-crashed twin: same batches, then the same takedown
      Dedup.ingestBatch(docs(21L, 23L), "doc_id", Dedup.MinHashText("text"),
        s"$clean/ix", s"$clean/out", batchId = 2L)
      Dedup.deleteFromIndex(spark, s"$clean/ix", Seq(21L, 23L))
      assert(contentOf(cix) == contentOf(s"$clean/ix"),
        "crashed+healed index must be bit-identical to the never-crashed " +
          "run")

      // the physical purge nets out exactly (no negative drift) and the
      // loop continues
      Dedup.compactIndex(spark, cix)
      occupancyMatchesRecomputed(cix, "bands", Seq("band", "bkey"))
      val s3 = Dedup.ingestBatch(docs(31L), "doc_id", Dedup.MinHashText("text"),
        cix, s"$crashed/out", batchId = 3L)
      assert(s3.novelRows == 1L, s"$s3")
      occupancyMatchesRecomputed(cix, "bands", Seq("band", "bkey"))
    } finally rmrf(base)
  }

  test("SRP twin: a takedown of a torn append's own ids cannot mask the " +
      "torn tail (replay heals against physical tables, bit-identical " +
      "to the never-crashed run)") {
    val base = Files.createTempDirectory("graft-del-tornmask-srp").toString
    val crashed = s"$base/crashed"; val clean = s"$base/clean"
    val dim = 8
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(dim)(r.nextFloat() * 2f - 1f)
    }
    def contentOf(path: String) = (
      spark.read.parquet(s"$path/vectors").select("id").collect()
        .map(_.getLong(0)).toSeq.sorted,
      spark.read.parquet(s"$path/buckets").select("id", "tbl", "bkt")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .toSeq.sorted,
      spark.read.parquet(s"$path/occupancy")
        .select("tbl", "bkt", "occ", "wm").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sorted,
      spark.read.parquet(s"$path/ingest_ledger")
        .select("batch_id", "watermark_before", "watermark_after",
          "novel_rows").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sorted)
    def driveTo(ixPath: String, outPath: String): Unit = {
      Dedup.writeSrpIndex(
        Seq((0L, vec(0)), (1L, vec(1))).toDF("id", "v"), "id", "v",
        ixPath, dim = dim, tables = 4)
      Dedup.initIngestLedger(spark, ixPath)
      Dedup.ingestBatch(
        Seq((10L, vec(10)), (11L, vec(11))).toDF("id", "v"), "id",
        Dedup.SrpVectors("v", 0.99), ixPath, outPath, batchId = 1L)
    }
    try {
      driveTo(s"$crashed/ix", s"$crashed/out")
      driveTo(s"$clean/ix", s"$clean/out")
      val cix = s"$crashed/ix"

      val occBefore = listDataFiles(s"$cix/occupancy")
      val ledBefore = listDataFiles(s"$cix/ingest_ledger")
      Dedup.ingestBatch(
        Seq((21L, vec(21)), (23L, vec(23))).toDF("id", "v"), "id",
        Dedup.SrpVectors("v", 0.99), cix, s"$crashed/out", batchId = 2L)
      deleteFiles(listDataFiles(s"$cix/occupancy") -- occBefore)
      deleteFiles(listDataFiles(s"$cix/ingest_ledger") -- ledBefore)

      Dedup.deleteFromIndex(spark, cix, Seq(21L, 23L))

      val s = Dedup.ingestBatch(
        Seq((21L, vec(21)), (23L, vec(23))).toDF("id", "v"), "id",
        Dedup.SrpVectors("v", 0.99), cix, s"$crashed/out", batchId = 2L)
      assert(!s.replayed && s.novelRows == 2L, s"$s")
      val vecIds = spark.read.parquet(s"$cix/vectors").select("id")
        .collect().map(_.getLong(0)).toSeq
      assert(vecIds.distinct.size == vecIds.size,
        s"replay re-appended vector rows over the torn tail: $vecIds")

      Dedup.ingestBatch(
        Seq((21L, vec(21)), (23L, vec(23))).toDF("id", "v"), "id",
        Dedup.SrpVectors("v", 0.99), s"$clean/ix", s"$clean/out", batchId = 2L)
      Dedup.deleteFromIndex(spark, s"$clean/ix", Seq(21L, 23L))
      assert(contentOf(cix) == contentOf(s"$clean/ix"),
        "crashed+healed SRP index must be bit-identical to the " +
          "never-crashed run")

      Dedup.compactIndex(spark, cix)
      occupancyMatchesRecomputed(cix, "buckets", Seq("tbl", "bkt"))
      val s3 = Dedup.ingestBatch(
        Seq((30L, vec(30))).toDF("id", "v"), "id", Dedup.SrpVectors("v", 0.99),
          cix,
        s"$crashed/out", batchId = 3L)
      assert(s3.novelRows == 1L, s"$s3")
      occupancyMatchesRecomputed(cix, "buckets", Seq("tbl", "bkt"))
    } finally rmrf(base)
  }
}
