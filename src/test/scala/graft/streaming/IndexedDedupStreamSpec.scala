package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkSpec
import graft.operators.Dedup

/** The streaming incremental-dedup loop over the persisted MinHash
  * signature index ([[StreamOps.governedDedupStream]] /
  * [[Dedup.ingestBatch]] with `MinHashText`): end-to-end exactly-once across
  * restarts, ledger-governed replay idempotence, and torn-append
  * self-healing — the crash contracts the operator's docs state,
  * asserted rather than assumed.
  */
class IndexedDedupStreamSpec extends SparkSpec {
  import spark.implicits._

  private val p = Dedup.MinHashParams(numHashes = 32, bands = 8,
    shingle = 3, threshold = 0.2)
  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))

  // Three disjoint-vocabulary families (within-family docs differ only in
  // the tail token: 18 of 20 shared shingles, J ≈ 0.9 — far above the
  // 0.2 threshold and essentially certain to band-collide at 8 bands)
  // plus fully unique docs (J = 0 against everything).
  private def famA(i: Long) =
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      s"kilo lima mike november oscar papa quebec romeo sierra tail$i"
  private def famB(i: Long) =
    "zinc copper iron nickel cobalt silver platinum mercury lead tin " +
      s"gold carbon boron neon argon xenon radon helium lithium tail$i"
  private def famC(i: Long) =
    "maple oak birch cedar willow aspen spruce poplar alder elm " +
      s"hazel rowan linden beech hornbeam chestnut walnut pecan fir tail$i"
  private def uniq(i: Long) =
    (0 until 8).map(j => s"unique${i}tok$j").mkString(" ")

  private def corpus: DataFrame = Seq(
    0L -> famA(0), 1L -> famA(1), 2L -> famB(2), 3L -> uniq(3))
    .toDF("doc_id", "text")

  // batch 1: 10 cross-dups corpus famA, 11/12 are within-batch famC dups
  // (11 is the min-id representative), 13 is novel.
  private def batch1: DataFrame = Seq(
    10L -> famA(10), 11L -> famC(11), 12L -> famC(12), 13L -> uniq(13))
    .toDF("doc_id", "text")

  // batch 2: 20 cross-dups the batch-1 survivor 11 (so it is only dropped
  // if batch 1's novel docs actually reached the index), 21 is novel,
  // 22 cross-dups corpus famB.
  private def batch2: DataFrame = Seq(
    20L -> famC(20), 21L -> uniq(21), 22L -> famB(22))
    .toDF("doc_id", "text")

  private def sigSet(dir: String) =
    Dedup.readSignatureIndex(spark, dir).signatures
      .select($"id", $"sz", $"minhash").collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getSeq[Long](2))).toSet
  private def bandSet(dir: String) =
    Dedup.readSignatureIndex(spark, dir).bands.collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet
  private def outIds(out: String): Set[Long] =
    spark.read.schema(schema.add("batch_id", LongType)).parquet(out)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
  private def rmrf(dir: String): Unit = {
    import scala.reflect.io.Directory
    new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("streaming loop: two drops across restarts, exactly-once output, " +
      "index equals a rebuild from corpus union accepted docs") {
    val base = Files.createTempDirectory("graft-ixdedup").toString
    val in = s"$base/in"; val out = s"$base/out"; val cp = s"$base/cp"
    val ix = s"$base/ix"; val ixR = s"$base/ixR"
    try {
      Dedup.writeSignatureIndex(corpus, "doc_id", "text", ix, p)

      batch1.coalesce(1).write.mode("append").parquet(in)
      val q1 = StreamOps.governedDedupStream(spark, in, schema, "doc_id",
        Dedup.MinHashText("text"), ix, out, cp)
      q1.awaitTermination(120000)

      assert(outIds(out) == Set(11L, 13L),
        "batch 1 must keep the famC representative and the unique doc, " +
          "drop the corpus dup and the within-batch dup")

      // second drop through a RESTARTED stream on the same checkpoint
      batch2.coalesce(1).write.mode("append").parquet(in)
      val q2 = StreamOps.governedDedupStream(spark, in, schema, "doc_id",
        Dedup.MinHashText("text"), ix, out, cp)
      q2.awaitTermination(120000)

      assert(outIds(out) == Set(11L, 13L, 21L),
        "batch 2 must drop the dup of batch 1's survivor (via the index) " +
          "and the corpus dup, keep the unique doc")

      // the grown index is content-identical to a from-scratch rebuild
      // over corpus + everything accepted
      val accepted = batch1.filter($"doc_id".isin(11L, 13L))
        .union(batch2.filter($"doc_id" === 21L))
      Dedup.writeSignatureIndex(corpus.union(accepted), "doc_id", "text",
        ixR, p)
      assert(sigSet(ix) == sigSet(ixR), "signature tables diverge")
      assert(bandSet(ix) == bandSet(ixR), "band tables diverge")

      // ledger: bootstrap row + one committed row per batch
      val ledger = spark.read.parquet(s"$ix/ingest_ledger")
        .orderBy($"batch_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(ledger.length == 3, s"ledger rows: ${ledger.mkString(", ")}")
      assert(ledger(0) == (-1L, 3L, 3L, 0L))
      assert(ledger(1) == (0L, 3L, 13L, 2L))
      assert(ledger(2) == (1L, 13L, 22L, 1L))
    } finally rmrf(base)
  }

  test("a takedown reaches the served corpus on the NEXT committed " +
      "batch — bounded latency, no compaction needed") {
    val base = Files.createTempDirectory("graft-ixscrub-latency").toString
    val in = s"$base/in"; val out = s"$base/out"; val cp = s"$base/cp"
    val ix = s"$base/ix"
    try {
      Dedup.writeSignatureIndex(corpus, "doc_id", "text", ix, p)
      Seq(100L -> uniq(100), 101L -> uniq(101)).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(in)
      StreamOps.governedDedupStream(spark, in, schema, "doc_id",
        Dedup.MinHashText("text"), ix, out, cp).awaitTermination(120000)
      assert(outIds(out) == Set(100L, 101L))

      // takedown while the stream is down; the stream never compacts, so
      // only the pending-set scrub gate can propagate it
      Dedup.deleteFromIndex(spark, ix, Seq(100L))
      Seq(200L -> uniq(200)).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(in)
      StreamOps.governedDedupStream(spark, in, schema, "doc_id",
        Dedup.MinHashText("text"), ix, out, cp).awaitTermination(120000)
      assert(outIds(out) == Set(101L, 200L),
        "the takedown'd doc must leave the SERVED corpus on the next " +
          "committed batch, not wait for a compaction")
      // the tombstone is still pending (no compaction ran) — the scrub
      // propagated it without purging it
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$ix/tombstones")))
    } finally rmrf(base)
  }

  test("quarantine mode: a contract-violating batch diverts and the " +
      "STREAM continues across restarts") {
    val base = Files.createTempDirectory("graft-ixquarantine").toString
    val in = s"$base/in"; val out = s"$base/out"; val cp = s"$base/cp"
    val ix = s"$base/ix"
    try {
      Dedup.writeSignatureIndex(corpus, "doc_id", "text", ix, p)

      // batch 0: good (novel unique docs)
      Seq(100L -> uniq(100), 101L -> uniq(101)).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(in)
      StreamOps.governedDedupStream(spark, in, schema, "doc_id",
        Dedup.MinHashText("text"),
        ix, out, cp, quarantine = true).awaitTermination(120000)
      assert(outIds(out) == Set(100L, 101L))

      // batch 1: VIOLATES the monotone contract (id 50 <= watermark 101)
      // — without quarantine this kills the stream; with it, diverted
      Seq(50L -> uniq(50)).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(in)
      StreamOps.governedDedupStream(spark, in, schema, "doc_id",
        Dedup.MinHashText("text"),
        ix, out, cp, quarantine = true).awaitTermination(120000)
      assert(spark.read.parquet(s"$ix/quarantine/batch_id=1").count() == 1L,
        "the bad batch must land in the quarantine directory")
      assert(outIds(out) == Set(100L, 101L),
        "a quarantined batch must contribute no output")
      assert(!sigSet(ix).exists(_._1 == 50L),
        "a quarantined batch must not touch the index")

      // batch 2: good again — the restarted stream continues from the
      // unmoved watermark
      Seq(200L -> uniq(200)).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(in)
      StreamOps.governedDedupStream(spark, in, schema, "doc_id",
        Dedup.MinHashText("text"),
        ix, out, cp, quarantine = true).awaitTermination(120000)
      assert(outIds(out) == Set(100L, 101L, 200L),
        "the stream must continue normally after a quarantined batch")

      // ledger: bootstrap + good + flagged + good
      val ledger = spark.read.parquet(s"$ix/ingest_ledger")
        .orderBy($"batch_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(ledger.length == 4, s"ledger: ${ledger.mkString(", ")}")
      assert(ledger(2) == (1L, 101L, 101L, -1L),
        s"quarantined row must be flagged with novel_rows = -1: ${ledger(2)}")
      assert(ledger(3) == (2L, 101L, 200L, 1L))
    } finally rmrf(base)
  }

  test("replaying a committed batch is recognized and changes nothing") {
    val base = Files.createTempDirectory("graft-ixreplay").toString
    val out = s"$base/out"; val ix = s"$base/ix"
    try {
      Dedup.writeSignatureIndex(corpus, "doc_id", "text", ix, p)
      Dedup.initIngestLedger(spark, ix)
      val s1 = Dedup.ingestBatch(batch1, "doc_id", Dedup.MinHashText("text"),
        ix, out, batchId = 7L)
      assert(!s1.replayed && s1.novelRows == 2L && s1.watermarkBefore == 3L
        && s1.watermarkAfter == 13L)
      val (sig1, band1, out1) = (sigSet(ix), bandSet(ix), outIds(out))

      // the replay: same batch id, same data — e.g. a crash after the
      // ledger commit but before the stream checkpoint advanced
      val s2 = Dedup.ingestBatch(batch1, "doc_id", Dedup.MinHashText("text"),
        ix, out, batchId = 7L)
      assert(s2.replayed, "second run must recognize the ledgered batch")
      assert(s2.novelRows == s1.novelRows &&
        s2.watermarkBefore == s1.watermarkBefore)
      assert(sigSet(ix) == sig1, "replay appended signature rows")
      assert(bandSet(ix) == band1, "replay appended band rows")
      assert(outIds(out) == out1)
      assert(spark.read.parquet(s"$ix/ingest_ledger")
        .filter($"batch_id" === 7L).count() == 1L,
        "replay must not write a second ledger row")
    } finally rmrf(base)
  }

  test("torn append self-heals: signatures landed, bands and ledger did not") {
    val base = Files.createTempDirectory("graft-ixtorn").toString
    val out = s"$base/out"; val ix = s"$base/ix"; val ixT = s"$base/ixT"
    try {
      // twin indexes; ixT suffers the crash, ix is the clean-run truth
      Seq(ix, ixT).foreach { d =>
        Dedup.writeSignatureIndex(corpus, "doc_id", "text", d, p)
        Dedup.initIngestLedger(spark, d)
      }
      Dedup.ingestBatch(batch1, "doc_id", Dedup.MinHashText("text"), ix,
        s"$base/outClean", batchId = 0L)

      // the crash: the attempt computed novel = {11, 13}, committed the
      // signatures append, then died before the bands append and the
      // ledger row. A partial output from the same attempt is also left
      // behind (overwrite must fix it on replay).
      val novel = batch1.filter($"doc_id".isin(11L, 13L))
      Dedup.withMinHashSignature(novel, "text", p)
        .select($"doc_id".as("id"), $"shingles",
          size($"shingles").as("sz"), $"minhash")
        .write.mode("append").parquet(s"$ixT/signatures")
      batch1.filter($"doc_id" === 11L)
        .write.mode("overwrite").parquet(s"$out/batch_id=0")

      // replay through the governed path: heals the bands, fixes the
      // output, commits the ledger
      val s = Dedup.ingestBatch(batch1, "doc_id", Dedup.MinHashText("text"),
        ixT, out, batchId = 0L)
      assert(!s.replayed, "no ledger row landed, so this is not a replay")
      assert(s.novelRows == 2L)
      assert(sigSet(ixT) == sigSet(ix),
        "healed signatures diverge from the clean run (duplicated tail?)")
      assert(bandSet(ixT) == bandSet(ix),
        "healed bands diverge from the clean run")
      assert(outIds(out) == Set(11L, 13L),
        "the partial output directory must be overwritten, not merged")
      assert(spark.read.parquet(s"$ixT/ingest_ledger")
        .filter($"batch_id" === 0L).count() == 1L)
    } finally rmrf(base)
  }

  test("torn append self-heals: bands landed, signatures and ledger did " +
      "not (the overlapped-lane crash state)") {
    // r20: the signature and band appends run on overlapped lanes, so a
    // crash can leave the BAND tail alone — a state the pre-r20 strict
    // append order (sigs before bands) could never produce. The dual
    // torn-tail check (front fold counts BOTH physical tails) must
    // detect it and the replay must converge to the clean-run state.
    val base = Files.createTempDirectory("graft-ixtorn2").toString
    val out = s"$base/out"; val ix = s"$base/ix"; val ixT = s"$base/ixT"
    val ixS = s"$base/ixS"
    try {
      // ix = clean-run truth; ixT = the crash victim; ixS = a scratch
      // twin whose committed batch supplies the EXACT band rows the
      // crashed attempt would have appended (identical build inputs →
      // identical index geometry → identical capped band set).
      Seq(ix, ixT, ixS).foreach { d =>
        Dedup.writeSignatureIndex(corpus, "doc_id", "text", d, p)
        Dedup.initIngestLedger(spark, d)
      }
      Dedup.ingestBatch(batch1, "doc_id", Dedup.MinHashText("text"), ix,
        s"$base/outClean", batchId = 0L)
      Dedup.ingestBatch(batch1, "doc_id", Dedup.MinHashText("text"), ixS,
        s"$base/outScratch", batchId = 0L)

      // the crash: the attempt computed novel = {11, 13}, the BAND lane
      // committed its sharded append (dirs registered), then the batch
      // died before the signature lane's write, the occupancy delta and
      // the ledger row landed.
      Dedup.readSignatureIndex(spark, ixS).bands
        .filter($"id".isin(11L, 13L))
        .write.partitionBy("shard").mode("append").parquet(s"$ixT/bands")
      Dedup.syncMemberDirs(spark, ixT, "bands", replace = false)

      // replay through the governed path: must see the band tail (the
      // signature tail is empty), heal the bands append (no duplicates),
      // run the signature append in full, and commit exactly once
      val s = Dedup.ingestBatch(batch1, "doc_id", Dedup.MinHashText("text"),
        ixT, out, batchId = 0L)
      assert(!s.replayed, "no ledger row landed, so this is not a replay")
      assert(s.novelRows == 2L)
      assert(sigSet(ixT) == sigSet(ix),
        "healed signatures diverge from the clean run")
      assert(bandSet(ixT) == bandSet(ix),
        "healed bands diverge from the clean run (duplicated tail?)")
      // physical band-row count parity too — bandSet is a set and would
      // mask an exact duplicate row
      assert(spark.read.parquet(s"$ixT/bands").count() ==
        spark.read.parquet(s"$ix/bands").count(),
        "physical band rows diverge (the heal appended a duplicate)")
      // occupancy parity: the crashed attempt never appended its delta,
      // so the replay must append the full expected set exactly once
      val occOf = (d: String) => spark.read.parquet(s"$d/occupancy")
        .groupBy($"band", $"bkey").agg(sum($"occ").as("o"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(occOf(ixT) == occOf(ix),
        "occupancy diverges from the clean run")
      assert(outIds(out) == Set(11L, 13L))
      assert(spark.read.parquet(s"$ixT/ingest_ledger")
        .filter($"batch_id" === 0L).count() == 1L)
    } finally rmrf(base)
  }

  test("a present-but-empty ingest ledger fails with the contract error") {
    // Unreachable through the API (initIngestLedger writes the bootstrap
    // row before any batch), pinned so foreign corruption surfaces the
    // contract error rather than a bare .max-on-empty exception.
    val base = Files.createTempDirectory("graft-ixemptyledger").toString
    val ix = s"$base/ix"
    try {
      Dedup.writeSignatureIndex(corpus, "doc_id", "text", ix, p)
      Dedup.initIngestLedger(spark, ix)
      // corrupt the ledger: one visible ZERO-ROW file (a zero-FILE table
      // is a different, already-mapped state — the mid-publish window)
      val conf = spark.sparkContext.hadoopConfiguration
      val dir = new org.apache.hadoop.fs.Path(s"$ix/ingest_ledger")
      val fs = dir.getFileSystem(conf)
      fs.listStatus(dir).foreach(st => fs.delete(st.getPath, false))
      graft.sources.MetaIO.writeTable(conf, s"$ix/ingest_ledger",
        Seq("batch_id" -> graft.sources.MetaIO.MLong,
          "watermark_before" -> graft.sources.MetaIO.MLong,
          "watermark_after" -> graft.sources.MetaIO.MLong,
          "novel_rows" -> graft.sources.MetaIO.MLong), Seq())
      val e = intercept[IllegalArgumentException] {
        Dedup.ingestBatch(batch1, "doc_id", Dedup.MinHashText("text"), ix,
          s"$base/out", batchId = 0L)
      }
      assert(e.getMessage.contains("zero rows"),
        s"wrong error for an empty ledger: ${e.getMessage}")
    } finally rmrf(base)
  }

  test("ledger compaction folds per-batch files, preserves governance") {
    val base = Files.createTempDirectory("graft-ixlcpt").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    def ledgerRows() = spark.read.parquet(s"$ix/ingest_ledger")
      .orderBy($"batch_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    try {
      Dedup.writeSignatureIndex(corpus, "doc_id", "text", ix, p)
      Dedup.initIngestLedger(spark, ix)
      (0 until 3).foreach { i =>
        val b = Seq(100L + 10 * i -> uniq(100 + 10 * i),
          101L + 10 * i -> uniq(101 + 10 * i)).toDF("doc_id", "text")
        Dedup.ingestBatch(b, "doc_id", Dedup.MinHashText("text"), ix, out,
          i.toLong)
      }
      val before = ledgerRows()
      assert(before.length == 4) // bootstrap + 3 committed batches
      val stats = Dedup.compactIndex(spark, ix)
      val (lb, la) = stats("ingest_ledger")
      assert(lb >= 4 && la < lb,
        s"ledger must fold its per-batch files: $lb -> $la")
      assert(ledgerRows() == before, "compaction changed ledger content")
      // governance intact: a replay is still recognized against its own
      // watermark, and a fresh batch still commits
      val s2 = Dedup.ingestBatch(
        Seq(110L -> uniq(110), 111L -> uniq(111)).toDF("doc_id", "text"),
        "doc_id", Dedup.MinHashText("text"), ix, out, 1L)
      assert(s2.replayed && s2.watermarkBefore == before(2)._2)
      val s3 = Dedup.ingestBatch(
        Seq(130L -> uniq(130)).toDF("doc_id", "text"),
        "doc_id", Dedup.MinHashText("text"), ix, out, 3L)
      assert(!s3.replayed && s3.watermarkBefore == 121L &&
        s3.watermarkAfter == 130L)
    } finally rmrf(base)
  }

  test("in-loop compaction (autoCompact) loses no rows and keeps replay " +
      "governance across a restart") {
    val base = Files.createTempDirectory("graft-ixautocpt").toString
    val in = s"$base/in"; val out = s"$base/out"; val cp = s"$base/cp"
    val ix = s"$base/ix"; val ixR = s"$base/ixR"
    def files(sub: String): Int = {
      def rec(f: java.io.File): Int =
        if (f.isFile) (if (f.getName.endsWith(".parquet")) 1 else 0)
        else Option(f.listFiles()).map(_.map(rec).sum).getOrElse(0)
      rec(new java.io.File(s"$ix/$sub"))
    }
    // corpus plus a second unique doc, so each run can take down a doc
    // whose family no batch uses
    val corpus4 = corpus.union(Seq(4L -> uniq(4)).toDF("doc_id", "text"))
    try {
      Dedup.writeSignatureIndex(corpus4, "doc_id", "text", ix, p)

      // batch 0 through a compacting stream. A pending takedown forces
      // the measured trigger, so compaction fires after EVERY committed
      // batch — the most adversarial cadence. The deleted corpus docs
      // (3 and 4) share no family with either batch.
      Dedup.deleteFromIndex(spark, ix, Seq(3L))
      batch1.coalesce(1).write.mode("append").parquet(in)
      val q1 = StreamOps.governedDedupStream(spark, in, schema, "doc_id",
        Dedup.MinHashText("text"), ix, out, cp, autoCompact = true)
      q1.awaitTermination(120000)
      assert(Dedup.listTombstoneFiles(spark, ix).isEmpty,
        "the pending takedown did not trigger the in-loop compaction")
      val sigFilesAfterCpt = files("signatures")

      // batch 1 through a RESTARTED stream on the same checkpoint — the
      // restart must read the POST-compaction index generation cleanly
      Dedup.deleteFromIndex(spark, ix, Seq(4L))
      batch2.coalesce(1).write.mode("append").parquet(in)
      val q2 = StreamOps.governedDedupStream(spark, in, schema, "doc_id",
        Dedup.MinHashText("text"), ix, out, cp, autoCompact = true)
      q2.awaitTermination(120000)
      assert(Dedup.listTombstoneFiles(spark, ix).isEmpty,
        "the second takedown did not trigger the in-loop compaction")

      // identical accepted set to the non-compacting stream test
      assert(outIds(out) == Set(11L, 13L, 21L),
        "mid-stream compaction changed the accepted set")
      // index content equals a rebuild over the retained corpus +
      // accepted — nothing lost, nothing duplicated by the compaction
      // rewrites
      val accepted = batch1.filter($"doc_id".isin(11L, 13L))
        .union(batch2.filter($"doc_id" === 21L))
      Dedup.writeSignatureIndex(
        corpus4.filter(!$"doc_id".isin(3L, 4L)).union(accepted), "doc_id",
        "text", ixR, p)
      assert(sigSet(ix) == sigSet(ixR),
        "signature tables diverge after in-loop compaction")
      assert(bandSet(ix) == bandSet(ixR),
        "band tables diverge after in-loop compaction")
      // the compactions actually folded files (batch 1's append would
      // otherwise strictly grow the set compaction left behind)
      assert(files("signatures") <= sigFilesAfterCpt + 1,
        s"file folding ineffective: $sigFilesAfterCpt -> ${files("signatures")}")
      // governance intact: replaying the last committed batch by hand is
      // recognized and is a no-op
      val s = Dedup.ingestBatch(batch2, "doc_id", Dedup.MinHashText("text"), ix,
        out, batchId = 1L)
      assert(s.replayed, "replay not recognized after in-loop compaction")
      assert(outIds(out) == Set(11L, 13L, 21L))
    } finally rmrf(base)
  }

  test("an EMPTY governed batch commits a ledger row, appends nothing") {
    val base = Files.createTempDirectory("graft-ixempty").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    try {
      Dedup.writeSignatureIndex(corpus, "doc_id", "text", ix, p)
      Dedup.initIngestLedger(spark, ix)
      val (sig0, band0) = (sigSet(ix), bandSet(ix))
      val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
      val s = Dedup.ingestBatch(empty, "doc_id", Dedup.MinHashText("text"), ix,
        out, batchId = 0L)
      assert(!s.replayed && s.batchRows == 0L && s.novelRows == 0L)
      assert(s.watermarkBefore == s.watermarkAfter,
        "an empty batch must not advance the watermark")
      assert(sigSet(ix) == sig0 && bandSet(ix) == band0,
        "empty batch appended index rows")
      // the commit marker landed: a follow-up batch sees batch 0 as done
      val s2 = Dedup.ingestBatch(
        Seq(50L -> uniq(50)).toDF("doc_id", "text"), "doc_id",
        Dedup.MinHashText("text"), ix, out, batchId = 1L)
      assert(!s2.replayed && s2.novelRows == 1L)
      // and replaying the empty batch is recognized
      val s3 = Dedup.ingestBatch(empty, "doc_id", Dedup.MinHashText("text"), ix,
        out, batchId = 0L)
      assert(s3.replayed)
    } finally rmrf(base)
  }

  test("non-long-castable batch ids fail loudly (watermark contract)") {
    val base = Files.createTempDirectory("graft-ixbadid").toString
    val ix = s"$base/ix"
    try {
      Dedup.writeSignatureIndex(corpus, "doc_id", "text", ix, p)
      Dedup.initIngestLedger(spark, ix)
      val bad = Seq("not-a-number" -> uniq(60)).toDF("doc_id", "text")
      val e = intercept[IllegalArgumentException] {
        Dedup.ingestBatch(bad, "doc_id", Dedup.MinHashText("text"), ix,
          s"$base/out", batchId = 0L)
      }
      assert(e.getMessage.contains("non-long-castable"))
      // NULL ids are equally non-castable — loud failure, not an NPE
      val withNull = Seq((null: String) -> uniq(61)).toDF("doc_id", "text")
      val e2 = intercept[IllegalArgumentException] {
        Dedup.ingestBatch(withNull, "doc_id", Dedup.MinHashText("text"), ix,
          s"$base/out", batchId = 0L)
      }
      assert(e2.getMessage.contains("non-long-castable"))
    } finally rmrf(base)
  }

  test("ledger bootstrap is idempotent; out-of-order batch ids throw") {
    val base = Files.createTempDirectory("graft-ixmono").toString
    val ix = s"$base/ix"
    try {
      Dedup.writeSignatureIndex(corpus, "doc_id", "text", ix, p)
      Dedup.initIngestLedger(spark, ix)
      Dedup.initIngestLedger(spark, ix) // second call must not reset
      assert(spark.read.parquet(s"$ix/ingest_ledger").count() == 1L)
      val stale = Seq(2L -> uniq(99)).toDF("doc_id", "text")
      val e = intercept[IllegalArgumentException] {
        Dedup.ingestBatch(stale, "doc_id", Dedup.MinHashText("text"), ix,
          s"$base/out", batchId = 0L)
      }
      assert(e.getMessage.contains("monotone"))
    } finally rmrf(base)
  }

  test("ledger init heals a ledger directory holding only a crashed " +
      "bootstrap's hidden temp file") {
    val base = Files.createTempDirectory("graft-ixledgerheal").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    try {
      Dedup.writeSignatureIndex(corpus, "doc_id", "text", ix, p)
      // the crash window of the driver-side bootstrap write: the hidden
      // temp exists, the rename into place never happened
      val dir = new java.io.File(s"$ix/ingest_ledger")
      assert(dir.mkdirs())
      val tmp = new java.io.File(dir,
        s".ledger-bootstrap-${java.util.UUID.randomUUID()}.parquet.tmp")
      java.nio.file.Files.write(tmp.toPath, Array[Byte](1, 2, 3))
      Dedup.initIngestLedger(spark, ix)
      assert(!tmp.exists(), "the stale bootstrap temp was not removed")
      val ledger = spark.read.parquet(s"$ix/ingest_ledger").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(ledger.toSeq == Seq((-1L, 3L, 3L, 0L)))
      val s = Dedup.ingestBatch(batch1, "doc_id", Dedup.MinHashText("text"), ix,
        out, batchId = 0L)
      assert(!s.replayed && s.novelRows == 2L && s.watermarkAfter == 13L)
    } finally rmrf(base)
  }

  test("ledger init over a signature index written from 32-bit ids") {
    val base = Files.createTempDirectory("graft-ixintid").toString
    val ix = s"$base/ix"
    try {
      Dedup.writeSignatureIndex(
        corpus.withColumn("doc_id", $"doc_id".cast("int")), "doc_id",
        "text", ix, p)
      Dedup.initIngestLedger(spark, ix)
      val ledger = spark.read.parquet(s"$ix/ingest_ledger").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(ledger.toSeq == Seq((-1L, 3L, 3L, 0L)),
        "the base watermark must be the max int id")
    } finally rmrf(base)
  }
}
