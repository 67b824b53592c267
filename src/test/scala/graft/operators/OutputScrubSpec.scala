package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Takedown propagation to the governed loops' emitted output corpora
  * ([[Dedup.scrubOutputs]]):
  *
  *  - pending deletes reach `out/batch_id=N/` — the served data, not
  *    just the index rows;
  *  - only directories with hits are rewritten (untouched batch dirs
  *    keep their exact files);
  *  - re-running is a no-op, and a governed REPLAY of a scrubbed batch
  *    cannot resurrect the scrubbed rows while the tombstone pends;
  *  - post-delete outputs ≡ the retained-corpus replay (the loop run
  *    where the deleted docs simply never existed — modulo the docs'
  *    own screening side effects, exercised with non-duplicating docs);
  *  - a crash inside the rename-aside swap self-heals on the next call.
  */
class OutputScrubSpec extends SparkSpec {
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

  private def fsOf(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def filesOf(dir: String): Set[(String, Long)] = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(dir)
    fs.listStatus(d).filter(_.isFile).map(s =>
      (s.getPath.getName, s.getModificationTime)).toSet
  }

  private def idsIn(dir: String): Set[Long] =
    spark.read.parquet(dir).select("doc_id").collect()
      .map(_.getLong(0)).toSet

  test("pending deletes reach the output corpus; only hit directories " +
      "rewrite; re-run and governed replay are no-ops; compaction " +
      "preserves the scrub") {
    val base = Files.createTempDirectory("graft-scrub").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    try {
      Dedup.writeSignatureIndex(docs(0L, 1L), "doc_id", "text", ix, p)
      Dedup.initIngestLedger(spark, ix)
      Dedup.ingestBatch(docs(10L, 11L), "doc_id", Dedup.MinHashText("text"), ix,
        out, batchId = 1L)
      Dedup.ingestBatch(docs(21L, 23L), "doc_id", Dedup.MinHashText("text"), ix,
        out, batchId = 2L)
      val batch1Files = filesOf(s"$out/batch_id=1")

      // scrub with nothing pending: zero work, zero rewrites
      assert(Dedup.scrubOutputs(spark, ix, out, "doc_id") == 0L)

      Dedup.deleteFromIndex(spark, ix, Seq(21L))
      assert(Dedup.scrubOutputs(spark, ix, out, "doc_id") == 1L)
      assert(idsIn(s"$out/batch_id=2") == Set(23L),
        "the scrub must drop exactly the tombstoned rows")
      assert(idsIn(s"$out/batch_id=1") == Set(10L, 11L))
      assert(filesOf(s"$out/batch_id=1") == batch1Files,
        "a directory without hits must keep its exact files")

      // idempotent re-run
      assert(Dedup.scrubOutputs(spark, ix, out, "doc_id") == 0L)
      assert(idsIn(s"$out/batch_id=2") == Set(23L))

      // governed REPLAY of the scrubbed batch overwrites the directory
      // from the raw batch — the in-batch scrub must re-remove the
      // tombstoned rows (replay-after-scrub ≡ scrub)
      val r = Dedup.ingestBatch(docs(21L, 23L), "doc_id",
        Dedup.MinHashText("text"), ix, out, batchId = 2L)
      assert(r.replayed, s"$r")
      assert(idsIn(s"$out/batch_id=2") == Set(23L),
        "a replay must not resurrect scrubbed rows")

      // compaction folds the tombstones; the scrubbed outputs stand
      Dedup.compactIndex(spark, ix)
      assert(idsIn(s"$out/batch_id=2") == Set(23L))
      assert(idsIn(s"$out/batch_id=1") == Set(10L, 11L))

      // post-delete outputs ≡ the retained-corpus replay: the same loop
      // where doc 21 never existed (unique texts → no screening effects)
      val ix2 = s"$base/ix2"; val out2 = s"$base/out2"
      Dedup.writeSignatureIndex(docs(0L, 1L), "doc_id", "text", ix2, p)
      Dedup.initIngestLedger(spark, ix2)
      Dedup.ingestBatch(docs(10L, 11L), "doc_id", Dedup.MinHashText("text"),
        ix2, out2, batchId = 1L)
      Dedup.ingestBatch(docs(23L), "doc_id", Dedup.MinHashText("text"), ix2,
        out2, batchId = 2L)
      assert(idsIn(s"$out/batch_id=1") == idsIn(s"$out2/batch_id=1") &&
        idsIn(s"$out/batch_id=2") == idsIn(s"$out2/batch_id=2"),
        "scrubbed outputs must equal the retained-corpus replay")
    } finally rmrf(base)
  }

  test("a crash inside the scrub swap self-heals on the next call") {
    val base = Files.createTempDirectory("graft-scrub-crash").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    try {
      Dedup.writeSignatureIndex(docs(0L), "doc_id", "text", ix, p)
      Dedup.initIngestLedger(spark, ix)
      Dedup.ingestBatch(docs(10L, 11L), "doc_id", Dedup.MinHashText("text"), ix,
        out, batchId = 1L)
      val fs = fsOf(out)

      // crash state A: moved aside, temp not yet swapped in (live dir
      // absent) — the original must be restored losslessly
      require(fs.rename(new org.apache.hadoop.fs.Path(s"$out/batch_id=1"),
        new org.apache.hadoop.fs.Path(s"$out/__scrub_old_batch_id=1")))
      assert(Dedup.scrubOutputs(spark, ix, out, "doc_id") == 0L)
      assert(idsIn(s"$out/batch_id=1") == Set(10L, 11L),
        "a mid-swap crash must restore the moved-aside directory")
      assert(!fs.exists(
        new org.apache.hadoop.fs.Path(s"$out/__scrub_old_batch_id=1")))

      // crash state B: an orphaned temp copy — dropped, live untouched
      docs(10L, 11L).write
        .parquet(s"$out/__scrub_tmp_batch_id=1")
      Dedup.deleteFromIndex(spark, ix, Seq(10L))
      assert(Dedup.scrubOutputs(spark, ix, out, "doc_id") == 1L)
      assert(idsIn(s"$out/batch_id=1") == Set(11L))
      assert(!fs.exists(
        new org.apache.hadoop.fs.Path(s"$out/__scrub_tmp_batch_id=1")))
    } finally rmrf(base)
  }

  test("SRP twin: embedding-loop outputs scrub the same way") {
    val base = Files.createTempDirectory("graft-scrub-srp").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    val dim = 8
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(dim)(r.nextFloat() * 2f - 1f)
    }
    try {
      Dedup.writeSrpIndex(Seq((0L, vec(0))).toDF("id", "v"), "id", "v", ix,
        dim = dim, tables = 4)
      Dedup.initIngestLedger(spark, ix)
      Dedup.ingestBatch(
        Seq((10L, vec(10)), (11L, vec(11))).toDF("id", "v"), "id",
        Dedup.SrpVectors("v", 0.99), ix, out, batchId = 1L)
      Dedup.deleteFromIndex(spark, ix, Seq(10L))
      assert(Dedup.scrubOutputs(spark, ix, out, "id") == 1L)
      assert(spark.read.parquet(s"$out/batch_id=1").select("id").collect()
        .map(_.getLong(0)).toSet == Set(11L))
    } finally rmrf(base)
  }
}
