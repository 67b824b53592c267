package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.GraftFunctions
import graft.sources.Tables

class EmbeddingLshSpec extends SparkSpec {

  /** Exact all-pairs baseline (no blocks): every pair with cosine >=
    * threshold, computed with the same codegen'd kernel and rounding as
    * the operator under test.
    */
  private def exactPairs(dir: String, threshold: Double): Set[(Long, Long)] = {
    val emb = Tables.embeddings(spark, dir)
    GraftFunctions.register(spark)
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(GraftFunctions.cosineSim(col("va"), col("vb")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("embeddingNearDupLsh: precision 1.0 (every pair verified) and recall >= 0.7") {
    val dir = "/root/testdata/sf0.01"
    val want = exactPairs(dir, 0.4)
    assert(want.nonEmpty)
    val got = Dedup.embeddingNearDupLsh(Tables.embeddings(spark, dir),
      "vec_id", "embedding", threshold = 0.4, dim = 64)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact-cosine verification makes false positives impossible
    assert(got.subsetOf(want), s"unverified pairs: ${got -- want}")
    val recall = (got & want).size.toDouble / want.size
    info(f"embeddingNearDupLsh recall vs exact all-pairs: $recall%.2f " +
      s"(${got.size}/${want.size})")
    assert(recall >= 0.7, f"recall $recall%.2f < 0.7")
  }

  test("scaled 8-plane config (d5c): multi-probe recovers recall >= 0.6") {
    // the corpus-density config packs 8x fewer vectors per bucket than
    // d5b (BENCH_SF1.json); single-probe that costs recall (measured
    // 0.29 at cos 0.4: p ≈ 0.63, p^8 ≈ 0.025/table). Hamming-1
    // multi-probe lifts per-table collision to p^8 + 8·p^7(1-p) ≈ 0.14
    // => ~0.91 expected across 16 tables — gated here at 0.6 with
    // precision still exactly 1.0 (every candidate is cosine-verified).
    val dir = "/root/testdata/sf0.01"
    val want = exactPairs(dir, 0.4)
    val got = Dedup.embeddingNearDupLsh(Tables.embeddings(spark, dir),
      "vec_id", "embedding", threshold = 0.4, dim = 64, planes = 8,
      multiProbe = true)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(want), s"unverified pairs: ${got -- want}")
    val recall = (got & want).size.toDouble / want.size
    info(f"8-plane multi-probe (d5c) recall vs exact all-pairs: $recall%.2f " +
      s"(${got.size}/${want.size})")
    assert(recall >= 0.6, f"recall $recall%.2f < 0.6")
  }

  test("multi-probe is a superset of single-probe at the same config") {
    // Hamming-1 probing only ADDS candidate buckets; with verification
    // exact, the result set must grow monotonically
    val dir = "/root/testdata/sf0.01"
    def pairs(mp: Boolean) = Dedup.embeddingNearDupLsh(
      Tables.embeddings(spark, dir), "vec_id", "embedding",
      threshold = 0.4, dim = 64, planes = 8, multiProbe = mp)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = pairs(mp = false)
    val multi = pairs(mp = true)
    assert(single.subsetOf(multi),
      s"single-probe pairs missing under multi-probe: ${single -- multi}")
    assert(multi.size > single.size, "multi-probe must add recall here")
  }

  test("srpPlanesFor tracks log2(corpus) and clamps sanely") {
    import Dedup.srpPlanesFor
    // the growth law: +1 plane per corpus doubling above the floor
    assert(srpPlanesFor(500) == 4)        // verify SF fixture
    assert(srpPlanesFor(2000) == 6)       // bench SF fixture
    assert(srpPlanesFor(20000) == 10)     // synthetic sf1
    assert(srpPlanesFor(20000000) == 20)  // ~corpus scale at occ 32
    // monotone non-decreasing in n
    val ns = Seq(1L, 10L, 100L, 1000L, 10000L, 100000L, 1000000L,
      1000000000L, 1000000000000L)
    val ps = ns.map(srpPlanesFor(_))
    assert(ps == ps.sorted, s"not monotone: ${ns.zip(ps)}")
    // clamps: tiny corpora never under 4 planes, absurd ones cap at 24
    assert(srpPlanesFor(0) == 4 && srpPlanesFor(1) == 4)
    assert(srpPlanesFor(Long.MaxValue) == 24)
    // occupancy dial shifts the curve
    assert(srpPlanesFor(2048, targetOccupancy = 2) == 10)
  }

  test("auto path: precision 1.0 and multi-probe recall at the chosen density") {
    val dir = "/root/testdata/sf0.01"
    val want = exactPairs(dir, 0.4)
    val got = Dedup.embeddingNearDupLshAuto(Tables.embeddings(spark, dir),
      "vec_id", "embedding", threshold = 0.4, dim = 64)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(want), s"unverified pairs: ${got -- want}")
    val recall = (got & want).size.toDouble / want.size
    info(f"auto (4-plane multi-probe) recall vs exact all-pairs: $recall%.2f " +
      s"(${got.size}/${want.size})")
    assert(recall >= 0.8, f"recall $recall%.2f < 0.8")
  }

  test("persisted SRP index probe: precision 1.0, recall vs brute-force cross pairs") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.01"
    val emb = Tables.embeddings(spark, dir)
    GraftFunctions.register(spark)
    val corpus = emb.filter(col("vec_id") % 5 =!= 4)
    val batch = emb.filter(col("vec_id") % 5 === 4)
    // exact cross-side baseline (batch × corpus, cos >= 0.4)
    val want = batch.select(col("vec_id").as("ba"), col("embedding").as("va"))
      .crossJoin(corpus.select(col("vec_id").as("ca"), col("embedding").as("vb")))
      .withColumn("cos", round(GraftFunctions.cosineSim(col("va"), col("vb")), 6))
      .filter(col("cos") >= 0.4)
      .select("ba", "ca").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty)
    val ixDir = java.nio.file.Files.createTempDirectory("srp_ix").toString
    try {
      Dedup.writeSrpIndex(corpus, "vec_id", "embedding", ixDir, dim = 64)
      val ix = Dedup.readSrpIndex(spark, ixDir)
      assert(ix.planes == Dedup.srpPlanesFor(corpus.count()),
        "stored planes must be the auto choice for the corpus size")
      val got = Dedup.embeddingNearDupLshIncremental(batch, ix, "vec_id",
        "embedding", threshold = 0.4)
        .select("batch_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.subsetOf(want), s"unverified pairs: ${got -- want}")
      val recall = (got & want).size.toDouble / want.size
      info(f"SRP index probe recall vs exact cross pairs: $recall%.2f " +
        s"(${got.size}/${want.size})")
      assert(recall >= 0.8, f"recall $recall%.2f < 0.8")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(ixDir)).deleteRecursively()
    }
  }

  test("appendSrpIndex equals a rebuild; out-of-order ids rejected") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(23)
    def vec() = Array.fill(16)(rnd.nextGaussian().toFloat)
    val corpus = (0L until 60L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val batch = (60L until 90L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val dirA = java.nio.file.Files.createTempDirectory("srp_app").toString
    val dirR = java.nio.file.Files.createTempDirectory("srp_reb").toString
    try {
      Dedup.writeSrpIndex(corpus, "vec_id", "embedding", dirA, dim = 16,
        maxBucket = 3)
      Dedup.appendSrpIndex(batch, "vec_id", "embedding", dirA)
      // rebuild at the APPENDED index's plane choice: append keeps the
      // write-time density (documented divergence), so the equivalence
      // claim is against a rebuild pinned to the same occupancy target
      // that yields those planes for 60 vectors
      val planes = Dedup.readSrpIndex(spark, dirA).planes
      Dedup.writeSrpIndex(corpus.union(batch), "vec_id", "embedding", dirR,
        dim = 16, targetOccupancy = math.max(1,
          (90 / math.pow(2, planes)).ceil.toInt), maxBucket = 3)
      val a = Dedup.readSrpIndex(spark, dirA)
      val r = Dedup.readSrpIndex(spark, dirR)
      assert(a.planes == r.planes, s"plane mismatch: ${a.planes} vs ${r.planes}")
      def bset(ix: Dedup.SrpIndex) = ix.buckets.collect()
        .map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet
      def vset(ix: Dedup.SrpIndex) = ix.vectors.select(col("id")).collect()
        .map(_.getLong(0)).toSet
      assert(vset(a) == vset(r))
      assert(bset(a) == bset(r), "bucket tables diverge after append")
      // out-of-order append refused
      val stale = Seq((5L, vec())).toDF("vec_id", "embedding")
      val ex = intercept[IllegalArgumentException] {
        Dedup.appendSrpIndex(stale, "vec_id", "embedding", dirA)
      }
      assert(ex.getMessage.contains("ids <= the index max"))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dirA)).deleteRecursively()
      new Directory(new java.io.File(dirR)).deleteRecursively()
    }
  }

  test("compactSrpIndex shrinks files, preserves rows and geometry") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(29)
    def vec() = Array.fill(16)(rnd.nextGaussian().toFloat)
    val corpus = (0L until 40L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("srp_cpt").toString
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
      Dedup.writeSrpIndex(corpus, "vec_id", "embedding", dir, dim = 16)
      (0 until 2).foreach { b =>
        val batch = (40L + 10 * b until 50L + 10 * b).map(i => (i, vec()))
          .toDF("vec_id", "embedding")
        Dedup.appendSrpIndex(batch, "vec_id", "embedding", dir)
      }
      val before = Dedup.readSrpIndex(spark, dir)
      def bset(ix: Dedup.SrpIndex) = ix.buckets.collect()
        .map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet
      def vset(ix: Dedup.SrpIndex) = ix.vectors.select(col("id")).collect()
        .map(_.getLong(0)).toSet
      val (v0, b0) = (vset(before), bset(before))
      assert(files("vectors") > 1 && files("buckets") > shardDirs("buckets"))
      val stats = Dedup.compactIndex(spark, dir,
        targetFileBytes = Long.MaxValue)
      assert(stats("vectors")._2 == 1)
      assert(stats("buckets")._2 == shardDirs("buckets"))
      assert(files("vectors") == 1 && files("buckets") == shardDirs("buckets"))
      assert(files("occupancy") == shardDirs("occupancy"))
      val after = Dedup.readSrpIndex(spark, dir)
      assert(vset(after) == v0 && bset(after) == b0,
        "compaction changed index rows")
      assert(after.planes == before.planes && after.tables == before.tables
        && after.dim == before.dim && after.maxBucket == before.maxBucket)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("maxBucket cap bounds an adversarial hot bucket, single- and multi-probe") {
    import spark.implicits._
    // 30 identical vectors collapse every table's hot bucket to occupancy
    // 30; cap 4 must keep the 4 lowest ids per bucket, so the output is
    // exactly C(4,2) pairs among ids 0..3 (cos 1.0) — in BOTH probe
    // modes: multi-probe adds neighbor buckets, but those hold no base
    // rows here, and the probe side is re-capped per target bucket, so
    // the bound must not loosen. A distinct cold pair stays unaffected.
    val rnd = new scala.util.Random(17)
    val hotVec = Array.fill(16)(rnd.nextGaussian().toFloat)
    val coldBase = Array.fill(16)(rnd.nextGaussian().toFloat)
    val coldNear = coldBase.map(x => x + 0.005f * rnd.nextGaussian().toFloat)
    val rows = (0L until 30L).map(i => (i, hotVec)) ++
      Seq((100L, coldBase), (101L, coldNear))
    val df = rows.toDF("vec_id", "embedding")
    for (mp <- Seq(false, true)) {
      val got = Dedup.embeddingNearDupLsh(df, "vec_id", "embedding",
        threshold = 0.9, dim = 16, tables = 8, planes = 6,
        maxBucket = 4, multiProbe = mp)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val wantHot = (for { a <- 0L until 4L; b <- (a + 1) until 4L }
        yield (a, b)).toSet
      assert(got.filter(_._1 < 100L) == wantHot,
        s"multiProbe=$mp: hot pairs not capped to 4 lowest ids: " +
          got.filter(_._1 < 100L))
      assert(got.contains((100L, 101L)),
        s"multiProbe=$mp: cold planted pair lost under the cap")
    }
  }

  test("embeddingNearDupLsh at a high threshold finds planted near-identical pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    def vec() = Array.fill(16)(rnd.nextGaussian().toFloat)
    val base = (0 until 50).map(i => (i.toLong, vec()))
    // plant 5 near-identical copies (tiny perturbation => cosine ~ 1)
    val dups = (0 until 5).map { i =>
      val src = base(i)._2
      (100L + i, src.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDupLsh(df, "vec_id", "embedding",
      threshold = 0.95, dim = 16, tables = 16, planes = 8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 5).map(i => (i.toLong, 100L + i)).toSet
    assert(planted.subsetOf(got),
      s"missed planted near-dups: ${planted -- got}")
  }
}
