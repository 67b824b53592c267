package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Sampling, Similarity}
import graft.sources.Tables

/** END-TO-END PLATFORM WALKTHROUGH — the production composition of the
  * library's major subsystems in their real order, on one corpus:
  *
  *   governed ingest-dedup (exactly-once) → takedown → output scrub →
  *   physical purge → ANN serving layout (+ its own takedown) →
  *   served probe → k-NN graph from the layout → training shards.
  *
  * Every subsystem has its own oracle and spec suite; THIS spec pins
  * that they COMPOSE — the invariants asserted here are the cross-stage
  * ones no per-operator suite can see (a takedown issued at the index
  * reaches the served probe three stages later; the shard set equals
  * exactly the retained served corpus).
  */
class PlatformWalkthroughSpec extends SparkSpec {
  import spark.implicits._

  private def rmrf(d: String): Unit = {
    def rec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rec)
      f.delete()
    }
    rec(new java.io.File(d))
  }

  test("ingest → takedown → scrub → purge → layout → serve → graph → shards") {
    val emb = Tables.embeddings(spark, sf001) // vec_id 0..499
    val root = Files.createTempDirectory("graft-platform").toString
    val ix = s"$root/ix"; val out = s"$root/out"
    val layout = s"$root/layout"; val shards = s"$root/shards"
    try {
      // 1. base corpus indexed; two governed batches ingest exactly-once
      val base = emb.filter(col("vec_id") < 300)
      Dedup.writeSrpIndex(base, "vec_id", "embedding", ix, dim = 64)
      Dedup.initIngestLedger(spark, ix)
      val b1 = emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
      val b2 = emb.filter(col("vec_id") >= 400)
      val s1 = Dedup.ingestBatch(b1, "vec_id",
        Dedup.SrpVectors("embedding", 0.4), ix, out, batchId = 1L)
      val s2 = Dedup.ingestBatch(b2, "vec_id",
        Dedup.SrpVectors("embedding", 0.4), ix, out, batchId = 2L)
      assert(!s1.replayed && !s2.replayed && s1.novelRows > 0)
      assert(Dedup.ingestBatch(b2, "vec_id", Dedup.SrpVectors("embedding", 0.4),
        ix, out, batchId = 2L).replayed)
      def survivors = spark.read.parquet(out)
        .select(col("vec_id"), col("embedding"))

      // 2. takedown at the INDEX: one base id + one served survivor
      val v1 = Seq(7L, survivors.agg(max("vec_id")).head().getLong(0))
      Dedup.deleteFromIndex(spark, ix, v1)
      assert(Dedup.scrubOutputs(spark, ix, out, "vec_id") == 1L)
      Dedup.compactIndex(spark, ix) // physical purge; tombstones fold
      assert(survivors.filter(col("vec_id").isin(v1: _*)).isEmpty)

      // 3. serving layout over the retained corpus; ITS own takedown
      val retained1 = base.filter(!col("vec_id").isin(v1: _*))
        .select(col("vec_id"), col("embedding")).union(survivors)
      Similarity.writeIvfLayoutAuto(retained1, layout, "vec_id", "embedding")
      val v2 = Seq(11L)
      Similarity.deleteFromIvfLayout(spark, layout, v2)
      assert(Similarity.compactIvfLayout(spark, layout) == 1L)
      val allVictims = v1 ++ v2

      // 4. served probe: no taken-down vector is ever returned
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val served = Similarity.ivfTopKIndexed(spark, layout, queries,
        "qid", "qvec", k = 5, nprobe = 8).collect()
      assert(served.nonEmpty)
      assert(served.forall(r => !allVictims.contains(r.getLong(1))))

      // 5. k-NN graph FROM the same layout: victims in neither direction
      val graph = Similarity.knnGraphIndexed(spark, layout, k = 3,
        nprobe = 2).cache()
      try {
        assert(graph.count() > 0)
        assert(graph.filter(col("qid").isin(allVictims: _*) ||
          col("vec_id").isin(allVictims: _*)).isEmpty)
      } finally graph.unpersist()

      // 6. training shards from the served corpus: the shard union is
      // EXACTLY the retained set — base + survivors − every takedown
      val servedCorpus = spark.read.parquet(s"$layout/cells")
        .select(col("vec_id"))
      Sampling.writeTrainingShards(servedCorpus, shards, "vec_id",
        shards = 4, salt = "walk")
      val shardIds = spark.read.parquet(shards)
        .select("vec_id").as[Long].collect().toSet
      val expected = retained1.select("vec_id").as[Long].collect().toSet
        .diff(v2.toSet)
      assert(shardIds == expected)
      assert(allVictims.forall(!shardIds.contains(_)))
    } finally rmrf(root)
  }
}
