package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.SparkSpec
import graft.operators.Dedup

/** The embedding twin of `IndexedDedupStreamSpec`: the governed ingest
  * loop over the persisted SRP index ([[StreamOps.governedDedupStream]]
  * / [[Dedup.ingestBatch]] with `SrpVectors`). The ledger machinery is shared
  * with the MinHash loop (proven there); these specs assert the
  * embedding-family semantics ride it correctly: exactly-once across a
  * streamed run, bit-identical replays, and torn-append self-healing on
  * the vectors/buckets pair.
  */
class IndexedEmbeddingDedupStreamSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8
  private val schema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  // Three near-orthogonal families: members differ by a small per-id
  // perturbation on a second axis (cosine ~0.999 within a family, 0
  // across), plus one-hot uniques on otherwise-unused axes.
  private def fam(axis: Int, i: Long): Seq[Float] =
    (0 until dim).map(j => if (j == axis) 1f
      else if (j == axis + 1) 0.02f * ((i % 7) + 1) else 0f).map(_.toFloat)
  private def uniq(axis: Int): Seq[Float] =
    (0 until dim).map(j => if (j == axis) 1f else 0f)

  private def corpus: DataFrame = Seq(
    0L -> fam(0, 0), 1L -> fam(0, 1), 2L -> fam(2, 2), 3L -> uniq(6))
    .toDF("vec_id", "embedding")
    .withColumn("embedding", col("embedding").cast("array<float>"))

  // batch 1: 10 cross-dups family-0, 11/12 are within-batch family-4
  // dups (11 is the representative), 13 is novel (one-hot axis 7).
  private def batch1: DataFrame = Seq(
    10L -> fam(0, 10), 11L -> fam(4, 11), 12L -> fam(4, 12),
    13L -> uniq(7)).toDF("vec_id", "embedding")
    .withColumn("embedding", col("embedding").cast("array<float>"))

  // batch 2: 20 dups batch-1's survivor 11 (only dropped if the append
  // landed), 21 is novel (axis-5 one-hot), 22 dups corpus family-2.
  private def batch2: DataFrame = Seq(
    20L -> fam(4, 20), 21L -> uniq(5), 22L -> fam(2, 22))
    .toDF("vec_id", "embedding")
    .withColumn("embedding", col("embedding").cast("array<float>"))

  private def vecSet(dir: String) =
    Dedup.readSrpIndex(spark, dir).vectors.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSet
  private def bktSet(dir: String) =
    Dedup.readSrpIndex(spark, dir).buckets.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
  private def outIds(out: String): Set[Long] =
    spark.read.schema(schema.add("batch_id", LongType)).parquet(out)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
  private def rmrf(dir: String): Unit = {
    import scala.reflect.io.Directory
    new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("streamed embedding loop across restarts: exactly-once output, " +
      "index equals a rebuild over corpus union accepted vectors") {
    val base = Files.createTempDirectory("graft-srpdedup").toString
    val in = s"$base/in"; val out = s"$base/out"; val cp = s"$base/cp"
    val ix = s"$base/ix"; val ixR = s"$base/ixR"
    try {
      Dedup.writeSrpIndex(corpus, "vec_id", "embedding", ix, dim)

      batch1.coalesce(1).write.mode("append").parquet(in)
      val q1 = StreamOps.governedDedupStream(spark, in, schema,
        "vec_id", Dedup.SrpVectors("embedding", 0.4), ix, out, cp)
      q1.awaitTermination(120000)
      assert(outIds(out) == Set(11L, 13L))

      batch2.coalesce(1).write.mode("append").parquet(in)
      val q2 = StreamOps.governedDedupStream(spark, in, schema,
        "vec_id", Dedup.SrpVectors("embedding", 0.4), ix, out, cp)
      q2.awaitTermination(120000)
      assert(outIds(out) == Set(11L, 13L, 21L),
        "batch 2 must drop the dup of batch 1's survivor and the corpus " +
          "dup, keep the unique vector")

      // grown index content == rebuild over corpus + accepted — EXCEPT
      // the plane count, which writeSrpIndex would re-derive; same vector
      // count here, so geometry matches and content must too
      val accepted = batch1.filter($"vec_id".isin(11L, 13L))
        .union(batch2.filter($"vec_id" === 21L))
      Dedup.writeSrpIndex(corpus.union(accepted), "vec_id", "embedding",
        ixR, dim)
      assert(vecSet(ix) == vecSet(ixR), "vector tables diverge")
      assert(bktSet(ix) == bktSet(ixR), "bucket tables diverge")
    } finally rmrf(base)
  }

  test("embedding-loop replay is recognized and appends nothing") {
    val base = Files.createTempDirectory("graft-srpreplay").toString
    val out = s"$base/out"; val ix = s"$base/ix"
    try {
      Dedup.writeSrpIndex(corpus, "vec_id", "embedding", ix, dim)
      Dedup.initIngestLedger(spark, ix)
      val s1 = Dedup.ingestBatch(batch1, "vec_id",
        Dedup.SrpVectors("embedding", 0.4), ix, out, batchId = 3L)
      assert(!s1.replayed && s1.novelRows == 2L && s1.watermarkBefore == 3L
        && s1.watermarkAfter == 13L)
      val (v1, b1, o1) = (vecSet(ix), bktSet(ix), outIds(out))
      val s2 = Dedup.ingestBatch(batch1, "vec_id",
        Dedup.SrpVectors("embedding", 0.4), ix, out, batchId = 3L)
      assert(s2.replayed && s2.watermarkBefore == s1.watermarkBefore)
      assert(vecSet(ix) == v1 && bktSet(ix) == b1 && outIds(out) == o1)
      assert(spark.read.parquet(s"$ix/ingest_ledger")
        .filter($"batch_id" === 3L).count() == 1L)
    } finally rmrf(base)
  }

  test("torn SRP append self-heals: vectors landed, buckets did not") {
    val base = Files.createTempDirectory("graft-srptorn").toString
    val out = s"$base/out"; val ix = s"$base/ix"; val ixT = s"$base/ixT"
    try {
      Seq(ix, ixT).foreach { d =>
        Dedup.writeSrpIndex(corpus, "vec_id", "embedding", d, dim)
        Dedup.initIngestLedger(spark, d)
      }
      Dedup.ingestBatch(batch1, "vec_id", Dedup.SrpVectors("embedding", 0.4),
        ix, s"$base/outClean", batchId = 0L)

      // the crash: novel = {11, 13} vectors committed, buckets + ledger
      // lost; a partial output from the same attempt is left behind
      batch1.filter($"vec_id".isin(11L, 13L))
        .select($"vec_id".as("id"),
          $"embedding".cast("array<float>").as("v"))
        .write.mode("append").parquet(s"$ixT/vectors")
      batch1.filter($"vec_id" === 13L)
        .write.mode("overwrite").parquet(s"$out/batch_id=0")

      val s = Dedup.ingestBatch(batch1, "vec_id",
        Dedup.SrpVectors("embedding", 0.4), ixT, out, batchId = 0L)
      assert(!s.replayed && s.novelRows == 2L)
      assert(vecSet(ixT) == vecSet(ix), "healed vectors diverge")
      assert(bktSet(ixT) == bktSet(ix), "healed buckets diverge")
      assert(outIds(out) == Set(11L, 13L))
    } finally rmrf(base)
  }
}
