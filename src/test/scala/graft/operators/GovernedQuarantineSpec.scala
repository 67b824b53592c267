package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Quarantine mode of the governed ingest loops: a contract-violating
  * batch (ids at/below the committed watermark, or non-castable ids)
  * diverts WHOLE to `<indexPath>/quarantine/batch_id=N/`, the ledger
  * records it with the `novel_rows = -1` flag, the watermark does not
  * move, and the stream continues — replays included. Default behavior
  * (fail-loud) is pinned unchanged.
  */
class GovernedQuarantineSpec extends SparkSpec {
  import spark.implicits._

  private val p = Dedup.MinHashParams(numHashes = 32, bands = 8,
    shingle = 3, threshold = 0.2)

  private def uniq(i: Long) =
    (0 until 8).map(j => s"unique${i}tok$j").mkString(" ")
  private def docs(ids: Long*): DataFrame =
    ids.map(i => i -> uniq(i)).toDF("doc_id", "text")

  private def rmrf(dir: String): Unit = {
    import scala.reflect.io.Directory
    new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("default mode stays fail-loud on a non-monotone batch") {
    val base = Files.createTempDirectory("graft-q-default").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    try {
      Dedup.writeSignatureIndex(docs(0L, 1L, 2L), "doc_id", "text", ix, p)
      Dedup.initIngestLedger(spark, ix)
      val e = intercept[IllegalArgumentException] {
        Dedup.ingestBatch(docs(1L), "doc_id", Dedup.MinHashText("text"), ix,
          out, batchId = 1L)
      }
      assert(e.getMessage.contains("monotone"))
    } finally rmrf(base)
  }

  test("quarantine mode diverts a bad batch, keeps the watermark, and " +
      "the stream continues exactly-once (replays included)") {
    val base = Files.createTempDirectory("graft-q-divert").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    try {
      Dedup.writeSignatureIndex(docs(0L, 1L, 2L), "doc_id", "text", ix, p)
      Dedup.initIngestLedger(spark, ix)

      // batch 1: id 1 <= watermark (2) → quarantined whole
      val s1 = Dedup.ingestBatch(docs(1L, 10L), "doc_id",
        Dedup.MinHashText("text"), ix, out, batchId = 1L, quarantine = true)
      assert(s1.novelRows == Dedup.QuarantinedNovelRows && !s1.replayed)
      assert(s1.watermarkAfter == s1.watermarkBefore,
        "a quarantined batch must not advance the watermark")
      val qdir = s"$ix/quarantine/batch_id=1"
      assert(spark.read.parquet(qdir).count() == 2L,
        "the WHOLE batch is the quarantine unit")
      // id 10 must NOT have entered the index (whole-batch divert)
      assert(spark.read.parquet(s"$ix/signatures")
        .filter($"id" === 10L).isEmpty)
      val ledger1 = spark.read.parquet(s"$ix/ingest_ledger")
        .filter($"batch_id" === 1L).collect()
      assert(ledger1.length == 1 &&
        ledger1.head.getAs[Long]("novel_rows") == -1L,
        "the ledger must flag the quarantined batch with novel_rows = -1")

      // replay of the quarantined batch: recognized, idempotent
      val s1r = Dedup.ingestBatch(docs(1L, 10L), "doc_id",
        Dedup.MinHashText("text"), ix, out, batchId = 1L, quarantine = true)
      assert(s1r.replayed &&
        s1r.novelRows == Dedup.QuarantinedNovelRows &&
        s1r.watermarkAfter == s1.watermarkAfter)
      assert(spark.read.parquet(s"$ix/ingest_ledger")
        .filter($"batch_id" === 1L).count() == 1L,
        "a replay must not duplicate the ledger row")
      assert(spark.read.parquet(qdir).count() == 2L)

      // the stream CONTINUES: the next good batch processes normally
      // from the unmoved watermark
      val s2 = Dedup.ingestBatch(docs(20L, 21L), "doc_id",
        Dedup.MinHashText("text"), ix, out, batchId = 2L, quarantine = true)
      assert(!s2.replayed && s2.novelRows == 2L &&
        s2.watermarkBefore == s1.watermarkAfter &&
        s2.watermarkAfter == 21L, s"continuation broke: $s2")
      assert(spark.read.parquet(s"$out/batch_id=2").count() == 2L)
    } finally rmrf(base)
  }

  test("an overwrite rebuild refuses while quarantined batches await " +
      "triage (raw diverted data is never silently destroyed)") {
    val base = Files.createTempDirectory("graft-q-rebuild").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    try {
      Dedup.writeSignatureIndex(docs(0L, 1L, 2L), "doc_id", "text", ix, p)
      Dedup.initIngestLedger(spark, ix)
      Dedup.ingestBatch(docs(1L), "doc_id", Dedup.MinHashText("text"), ix, out,
        batchId = 1L, quarantine = true)
      val e = intercept[IllegalArgumentException] {
        Dedup.writeSignatureIndex(docs(0L, 1L, 2L), "doc_id", "text", ix, p)
      }
      assert(e.getMessage.contains("quarantine"))
      // after the operator removes the quarantined data, rebuild works
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$ix/quarantine"), true)
      Dedup.writeSignatureIndex(docs(0L, 1L, 2L), "doc_id", "text", ix, p)
      assert(spark.read.parquet(s"$ix/signatures").count() == 3L)
    } finally rmrf(base)
  }

  test("quarantine mode diverts non-castable ids (both loop flavors)") {
    val base = Files.createTempDirectory("graft-q-cast").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    val sx = s"$base/sx"; val sout = s"$base/sout"
    try {
      Dedup.writeSignatureIndex(docs(0L, 1L), "doc_id", "text", ix, p)
      Dedup.initIngestLedger(spark, ix)
      val bad = Seq(("not-a-number", "some text here ok")).toDF("doc_id", "text")
      val s1 = Dedup.ingestBatch(bad, "doc_id", Dedup.MinHashText("text"), ix,
        out, batchId = 1L, quarantine = true)
      assert(s1.novelRows == Dedup.QuarantinedNovelRows)
      assert(spark.read.parquet(s"$ix/quarantine/batch_id=1").count() == 1L)

      // SRP twin
      val dim = 4
      val corpus = Seq((0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)))
        .toDF("id", "v")
      Dedup.writeSrpIndex(corpus, "id", "v", sx, dim = dim, tables = 2)
      Dedup.initIngestLedger(spark, sx)
      val badVec = Seq(("oops", Array(0f, 0f, 1f, 0f))).toDF("id", "v")
      val s2 = Dedup.ingestBatch(badVec, "id", Dedup.SrpVectors("v", 0.9), sx,
        sout, batchId = 1L, quarantine = true)
      assert(s2.novelRows == Dedup.QuarantinedNovelRows)
      assert(spark.read.parquet(s"$sx/quarantine/batch_id=1").count() == 1L)
      // a good batch continues the SRP stream too
      val s3 = Dedup.ingestBatch(
        Seq((5L, Array(0f, 0f, 0f, 1f))).toDF("id", "v"), "id",
        Dedup.SrpVectors("v", 0.9), sx, sout, batchId = 2L, quarantine = true)
      assert(!s3.replayed && s3.novelRows == 1L)
    } finally rmrf(base)
  }

  test("redriveQuarantined re-ingests the repaired batch exactly-once, " +
      "flips the -1 ledger row, clears the quarantine, and matches a " +
      "run that never violated") {
    val base = Files.createTempDirectory("graft-q-redrive").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    val ix2 = s"$base/ix2"; val out2 = s"$base/out2"
    // the id repair: re-key PAST the current committed watermark (20),
    // preserving payloads — 1 -> 22, 10 -> 31
    val rekey: DataFrame => DataFrame = df =>
      df.withColumn("doc_id", col("doc_id") + lit(21L))
    try {
      Dedup.writeSignatureIndex(docs(0L, 1L, 2L), "doc_id", "text", ix, p)
      Dedup.initIngestLedger(spark, ix)
      // batch 1 quarantined (id 1 <= watermark 2); the stream continues
      Dedup.ingestBatch(docs(1L, 10L), "doc_id", Dedup.MinHashText("text"), ix,
        out, batchId = 1L, quarantine = true)
      Dedup.ingestBatch(docs(20L), "doc_id", Dedup.MinHashText("text"), ix, out,
        batchId = 2L, quarantine = true)

      val qdir = new org.apache.hadoop.fs.Path(s"$ix/quarantine/batch_id=1")
      val fs = qdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // keep a copy of the raw quarantined rows to simulate the
      // crash-after-commit re-run below
      val qcopy = new org.apache.hadoop.fs.Path(s"$base/qcopy")
      org.apache.hadoop.fs.FileUtil.copy(fs, qdir, fs, qcopy, false,
        spark.sparkContext.hadoopConfiguration)

      val s = Dedup.redriveQuarantined(spark, ix, out, 1L, "doc_id",
        Dedup.MinHashText("text"), rekey)
      // doc 22 keeps corpus doc 1's text — legitimately screened as a
      // cross-dup; only 31 is novel
      assert(!s.replayed && s.novelRows == 1L && s.watermarkBefore == 20L &&
        s.watermarkAfter == 31L, s"$s")
      assert(!fs.exists(qdir), "the quarantine dir must clear on commit")
      val rows = spark.read.parquet(s"$ix/ingest_ledger")
        .filter($"batch_id" === 1L)
        .select("novel_rows", "watermark_before", "watermark_after")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(rows == Set((-1L, 2L, 2L), (1L, 20L, 31L)),
        s"the -1 row must be flipped by ONE committed row: $rows")
      assert(spark.read.parquet(s"$out/batch_id=1").select("doc_id")
        .collect().map(_.getLong(0)).toSet == Set(31L))

      // crash between the ledger commit and the directory removal:
      // the re-run resolves as a replay and finishes the removal
      require(fs.rename(qcopy, qdir))
      val sr = Dedup.redriveQuarantined(spark, ix, out, 1L, "doc_id",
        Dedup.MinHashText("text"), rekey)
      assert(sr.replayed && sr.novelRows == 1L, s"$sr")
      assert(!fs.exists(qdir))
      assert(spark.read.parquet(s"$ix/ingest_ledger")
        .filter($"batch_id" === 1L).count() == 2L,
        "a redrive re-run must not append further ledger rows")

      // a redrive with nothing quarantined fails loudly
      intercept[IllegalArgumentException] {
        Dedup.redriveQuarantined(spark, ix, out, 1L, "doc_id",
          Dedup.MinHashText("text"), rekey)
      }

      // ≡ the run that never violated: same committed batches in the
      // same watermark order, no quarantine ever
      Dedup.writeSignatureIndex(docs(0L, 1L, 2L), "doc_id", "text", ix2, p)
      Dedup.initIngestLedger(spark, ix2)
      Dedup.ingestBatch(docs(20L), "doc_id", Dedup.MinHashText("text"), ix2,
        out2, batchId = 2L, quarantine = true)
      Dedup.ingestBatch(rekey(docs(1L, 10L)), "doc_id",
        Dedup.MinHashText("text"), ix2, out2, batchId = 1L, quarantine = true)
      def sigIds(path: String) = spark.read.parquet(s"$path/signatures")
        .select("id").collect().map(_.getLong(0)).toSet
      def committed(path: String) = spark.read
        .parquet(s"$path/ingest_ledger")
        .filter($"novel_rows" =!= -1L)
        .select("batch_id", "watermark_before", "watermark_after",
          "novel_rows")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(sigIds(ix) == sigIds(ix2),
        "redriven index must equal the never-violated run")
      assert(committed(ix) == committed(ix2),
        "committed ledger history must equal the never-violated run")

      // and the governed loop continues normally after the redrive
      val s4 = Dedup.ingestBatch(docs(40L), "doc_id", Dedup.MinHashText("text"),
        ix, out, batchId = 3L, quarantine = true)
      assert(!s4.replayed && s4.novelRows == 1L &&
        s4.watermarkBefore == 31L, s"$s4")
    } finally rmrf(base)
  }

  test("dropQuarantined destroys the diverted rows explicitly and " +
      "unblocks a refused rebuild") {
    val base = Files.createTempDirectory("graft-q-drop").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    try {
      Dedup.writeSignatureIndex(docs(0L, 1L, 2L), "doc_id", "text", ix, p)
      Dedup.initIngestLedger(spark, ix)
      Dedup.ingestBatch(docs(1L), "doc_id", Dedup.MinHashText("text"), ix, out,
        batchId = 1L, quarantine = true)
      intercept[IllegalArgumentException] {
        Dedup.writeSignatureIndex(docs(0L, 1L, 2L), "doc_id", "text", ix, p)
      }
      Dedup.dropQuarantined(spark, ix, 1L)
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(
        new org.apache.hadoop.fs.Path(s"$ix/quarantine/batch_id=1")))
      // dropping an absent batch fails loudly (never a silent no-op)
      intercept[IllegalArgumentException] {
        Dedup.dropQuarantined(spark, ix, 1L)
      }
      // the refused rebuild now proceeds
      Dedup.writeSignatureIndex(docs(0L, 1L, 2L), "doc_id", "text", ix, p)
      assert(spark.read.parquet(s"$ix/signatures").count() == 3L)
    } finally rmrf(base)
  }

  test("scrubQuarantined reaches takedowns into quarantined raw batches; " +
      "a fully-scrubbed batch is dropped") {
    val base = Files.createTempDirectory("graft-q-scrub").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    try {
      Dedup.writeSignatureIndex(docs(0L, 1L, 2L), "doc_id", "text", ix, p)
      Dedup.initIngestLedger(spark, ix)
      // batch 1 quarantined: id 1 replays a committed id (<= watermark 2)
      Dedup.ingestBatch(docs(1L, 10L), "doc_id", Dedup.MinHashText("text"), ix,
        out, batchId = 1L, quarantine = true)
      val qdir = s"$ix/quarantine/batch_id=1"
      assert(spark.read.parquet(qdir).count() == 2L)

      // takedown of id 1 must reach the diverted raw copy too
      Dedup.deleteFromIndex(spark, ix, Seq(1L))
      assert(Dedup.scrubQuarantined(spark, ix, "doc_id") == 1L)
      assert(spark.read.parquet(qdir).select("doc_id").collect()
        .map(_.getLong(0)).toSet == Set(10L),
        "only the takedown'd row leaves the quarantined batch")
      // idempotent: nothing left to scrub
      assert(Dedup.scrubQuarantined(spark, ix, "doc_id") == 0L)

      // take down the remaining row: the batch scrubs to zero rows and
      // the directory is dropped (nothing left to triage; the -1 ledger
      // row stays as the historical record)
      Dedup.deleteFromIndex(spark, ix, Seq(10L))
      assert(Dedup.scrubQuarantined(spark, ix, "doc_id") == 1L)
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(qdir)),
        "a fully-taken-down quarantined batch must be dropped")
      assert(spark.read.parquet(s"$ix/ingest_ledger")
        .filter($"batch_id" === 1L && $"novel_rows" === -1L).count() == 1L)
      // the formerly-refused rebuild now proceeds (quarantine is clear)
      Dedup.writeSignatureIndex(docs(0L, 1L, 2L), "doc_id", "text", ix, p)
      assert(spark.read.parquet(s"$ix/signatures").count() == 3L)
    } finally rmrf(base)
  }

  test("a takedown followed by an immediate redrive cannot resurrect " +
      "the document (pending tombstones are honored on the raw ids)") {
    val base = Files.createTempDirectory("graft-q-resurrect").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    try {
      Dedup.writeSignatureIndex(docs(0L, 1L, 2L), "doc_id", "text", ix, p)
      Dedup.initIngestLedger(spark, ix)
      Dedup.ingestBatch(docs(1L, 10L), "doc_id", Dedup.MinHashText("text"), ix,
        out, batchId = 1L, quarantine = true)
      // takedown id 1 — which hides its committed signature from the
      // screening view, so WITHOUT the raw-id anti-join the redrive
      // below would re-admit doc 1's text under the repaired id 22
      Dedup.deleteFromIndex(spark, ix, Seq(1L))
      val s = Dedup.redriveQuarantined(spark, ix, out, 1L, "doc_id",
        Dedup.MinHashText("text"), df => df.withColumn("doc_id",
          col("doc_id") + lit(21L)))
      assert(!s.replayed && s.novelRows == 1L && s.watermarkAfter == 31L,
        s"$s")
      assert(spark.read.parquet(s"$out/batch_id=1").select("doc_id")
        .collect().map(_.getLong(0)).toSet == Set(31L),
        "the taken-down document must not reappear in the served corpus")
      assert(spark.read.parquet(s"$ix/signatures")
        .filter($"id" === 22L).isEmpty,
        "the taken-down document must not re-enter the index")
    } finally rmrf(base)
  }

  test("a scrub crash mid-swap (batch parked under __scrub_old_) is " +
      "healed by the rebuild guard and by triage") {
    val base = Files.createTempDirectory("graft-q-scrub-crash").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    try {
      Dedup.writeSignatureIndex(docs(0L, 1L, 2L), "doc_id", "text", ix, p)
      Dedup.initIngestLedger(spark, ix)
      Dedup.ingestBatch(docs(1L, 10L), "doc_id", Dedup.MinHashText("text"), ix,
        out, batchId = 1L, quarantine = true)
      // simulate scrubQuarantined dying between rename(dir, old) and
      // rename(tmp, dir): sole raw copy under the old-marker, temp orphan
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val live = new org.apache.hadoop.fs.Path(s"$ix/quarantine/batch_id=1")
      val old = new org.apache.hadoop.fs.Path(
        s"$ix/quarantine/__scrub_old_batch_id=1")
      assert(fs.rename(live, old))
      fs.mkdirs(new org.apache.hadoop.fs.Path(
        s"$ix/quarantine/__scrub_tmp_batch_id=1"))
      // the rebuild guard must heal and REFUSE — the "_"-prefixed marker
      // tolerance must not read the stranded batch as a marker and let
      // the rebuild destroy un-triaged raw data
      val e = intercept[IllegalArgumentException] {
        Dedup.writeSignatureIndex(docs(0L, 1L, 2L), "doc_id", "text", ix, p)
      }
      assert(e.getMessage.contains("quarantine"))
      // the healed batch is visible to triage again
      // novelRows 1: repaired doc 22 carries doc 1's text — the
      // cross-index screen drops it as a near-dup of the committed doc
      val s = Dedup.redriveQuarantined(spark, ix, out, 1L, "doc_id",
        Dedup.MinHashText("text"), df => df.withColumn("doc_id",
          col("doc_id") + lit(21L)))
      assert(!s.replayed && s.novelRows == 1L && s.watermarkAfter == 31L,
        s"$s")
      assert(!fs.exists(live) && !fs.exists(old))
    } finally rmrf(base)
  }

  test("triage refuses an IN-FLIGHT divert (dir present, no -1 ledger " +
      "row) until the replay completes it — triaging it would race the " +
      "replay's rewrite") {
    val base = Files.createTempDirectory("graft-q-inflight").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    try {
      Dedup.writeSignatureIndex(docs(0L, 1L, 2L), "doc_id", "text", ix, p)
      Dedup.initIngestLedger(spark, ix)
      // simulate a divert that crashed between the quarantine dir write
      // and its -1 ledger append
      docs(1L, 10L).write.parquet(s"$ix/quarantine/batch_id=1")
      val e = intercept[IllegalArgumentException] {
        Dedup.dropQuarantined(spark, ix, 1L)
      }
      assert(e.getMessage.contains("in flight"), e.getMessage)
      intercept[IllegalArgumentException] {
        Dedup.redriveQuarantined(spark, ix, out, 1L, "doc_id",
          Dedup.MinHashText("text"))
      }
      // the stream replay completes the divert (rewrite + ledger row)…
      val s = Dedup.ingestBatch(docs(1L, 10L), "doc_id",
        Dedup.MinHashText("text"), ix, out, batchId = 1L, quarantine = true)
      assert(!s.replayed && s.novelRows == Dedup.QuarantinedNovelRows)
      // …and triage proceeds on the committed divert
      Dedup.dropQuarantined(spark, ix, 1L)
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(
        new org.apache.hadoop.fs.Path(s"$ix/quarantine/batch_id=1")))
    } finally rmrf(base)
  }

  test("a replay after dropQuarantined does not resurrect the destroyed " +
      "raw data") {
    val base = Files.createTempDirectory("graft-q-replay-drop").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    try {
      Dedup.writeSignatureIndex(docs(0L, 1L, 2L), "doc_id", "text", ix, p)
      Dedup.initIngestLedger(spark, ix)
      Dedup.ingestBatch(docs(1L, 10L), "doc_id", Dedup.MinHashText("text"), ix,
        out, batchId = 1L, quarantine = true)
      Dedup.dropQuarantined(spark, ix, 1L)
      // the source re-delivers batch 1 (crash between the foreachBatch
      // return and the streaming checkpoint commit)
      val r = Dedup.ingestBatch(docs(1L, 10L), "doc_id",
        Dedup.MinHashText("text"), ix, out, batchId = 1L, quarantine = true)
      assert(r.replayed && r.novelRows == Dedup.QuarantinedNovelRows, s"$r")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(
        new org.apache.hadoop.fs.Path(s"$ix/quarantine/batch_id=1")),
        "a replay must not rewrite a quarantine dir the operator destroyed")
    } finally rmrf(base)
  }

  test("a replay after scrubQuarantined + tombstone purge does not " +
      "resurrect the scrubbed row") {
    val base = Files.createTempDirectory("graft-q-replay-scrub").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    try {
      Dedup.writeSignatureIndex(docs(0L, 1L, 2L), "doc_id", "text", ix, p)
      Dedup.initIngestLedger(spark, ix)
      Dedup.ingestBatch(docs(1L, 10L), "doc_id", Dedup.MinHashText("text"), ix,
        out, batchId = 1L, quarantine = true)
      Dedup.deleteFromIndex(spark, ix, Seq(1L))
      assert(Dedup.scrubQuarantined(spark, ix, "doc_id") == 1L)
      // compaction purges the pending tombstone set — after this, no
      // later scrub pass could ever remove a resurrected row again
      Dedup.compactIndex(spark, ix)
      val r = Dedup.ingestBatch(docs(1L, 10L), "doc_id",
        Dedup.MinHashText("text"), ix, out, batchId = 1L, quarantine = true)
      assert(r.replayed && r.novelRows == Dedup.QuarantinedNovelRows, s"$r")
      assert(spark.read.parquet(s"$ix/quarantine/batch_id=1")
        .select("doc_id").collect().map(_.getLong(0)).toSet == Set(10L),
        "a replay must not rewrite scrubbed rows back from the raw source")
    } finally rmrf(base)
  }

  test("a replay after redriveQuarantined does not recreate a quarantine " +
      "dir beside the committed row") {
    val base = Files.createTempDirectory("graft-q-replay-redrive").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    try {
      Dedup.writeSignatureIndex(docs(0L, 1L, 2L), "doc_id", "text", ix, p)
      Dedup.initIngestLedger(spark, ix)
      Dedup.ingestBatch(docs(1L, 10L), "doc_id", Dedup.MinHashText("text"), ix,
        out, batchId = 1L, quarantine = true)
      Dedup.redriveQuarantined(spark, ix, out, 1L, "doc_id",
        Dedup.MinHashText("text"),
        df => df.withColumn("doc_id", col("doc_id") + lit(21L)))
      // raw batch 1 replays: the RAW ids re-violate against the advanced
      // watermark, but the batch is committed (under the repaired ids)
      // and triaged — the replay must be a pure no-op
      val sigsBefore = spark.read.parquet(s"$ix/signatures").count()
      val r = Dedup.ingestBatch(docs(1L, 10L), "doc_id",
        Dedup.MinHashText("text"), ix, out, batchId = 1L, quarantine = true)
      assert(r.replayed && r.novelRows == Dedup.QuarantinedNovelRows, s"$r")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(
        new org.apache.hadoop.fs.Path(s"$ix/quarantine/batch_id=1")),
        "a replay must not recreate a quarantine dir for a redriven batch")
      assert(spark.read.parquet(s"$ix/signatures").count() == sigsBefore,
        "the replay must not touch the index")
    } finally rmrf(base)
  }

  test("SRP twin: a takedown followed by an immediate redrive cannot " +
      "resurrect the embedding") {
    val base = Files.createTempDirectory("graft-q-resurrect-srp").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    val dim = 4
    try {
      Dedup.writeSrpIndex(
        Seq((0L, Array(1f, 0f, 0f, 0f)), (2L, Array(0f, 1f, 0f, 0f)))
          .toDF("id", "v"), "id", "v", ix, dim = dim, tables = 2)
      Dedup.initIngestLedger(spark, ix)
      // batch 1 quarantined: id 2 replays a committed id (<= watermark 2)
      Dedup.ingestBatch(
        Seq((2L, Array(0f, 0f, 1f, 0f)), (5L, Array(0f, 0f, 0f, 1f)))
          .toDF("id", "v"), "id", Dedup.SrpVectors("v", 0.9), ix, out,
            batchId = 1L, quarantine = true)
      // takedown id 2 BEFORE the redrive: without the raw-id anti-join
      // the repaired redrive would re-admit its vector under id 23
      Dedup.deleteFromIndex(spark, ix, Seq(2L))
      val s = Dedup.redriveQuarantined(spark, ix, out, 1L, "id",
        Dedup.SrpVectors("v", 0.9), repair = df => df.withColumn("id",
        $"id" + lit(21L)))
      assert(!s.replayed && s.novelRows == 1L && s.watermarkAfter == 26L,
        s"$s")
      assert(spark.read.parquet(s"$out/batch_id=1").select("id")
        .collect().map(_.getLong(0)).toSet == Set(26L),
        "the taken-down embedding must not reappear in the served corpus")
      assert(spark.read.parquet(s"$ix/vectors")
        .filter($"id" === 23L).isEmpty,
        "the taken-down embedding must not re-enter the index")
    } finally rmrf(base)
  }

  test("SRP twin: redriveQuarantinedSrp re-ingests a repaired embedding " +
      "batch and clears the quarantine") {
    val base = Files.createTempDirectory("graft-q-redrive-srp").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    val dim = 4
    try {
      Dedup.writeSrpIndex(
        Seq((0L, Array(1f, 0f, 0f, 0f)), (2L, Array(0f, 1f, 0f, 0f)))
          .toDF("id", "v"), "id", "v", ix, dim = dim, tables = 2)
      Dedup.initIngestLedger(spark, ix)
      val s1 = Dedup.ingestBatch(
        Seq((1L, Array(0f, 0f, 1f, 0f))).toDF("id", "v"), "id",
        Dedup.SrpVectors("v", 0.9), ix, out, batchId = 1L, quarantine = true)
      assert(s1.novelRows == Dedup.QuarantinedNovelRows)

      val s = Dedup.redriveQuarantined(spark, ix, out, 1L, "id",
        Dedup.SrpVectors("v", 0.9), repair = df => df.withColumn("id",
        lit(10L)))
      assert(!s.replayed && s.novelRows == 1L && s.watermarkAfter == 10L,
        s"$s")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(
        new org.apache.hadoop.fs.Path(s"$ix/quarantine/batch_id=1")))
      assert(spark.read.parquet(s"$out/batch_id=1").select("id")
        .collect().map(_.getLong(0)).toSet == Set(10L))
    } finally rmrf(base)
  }
}
