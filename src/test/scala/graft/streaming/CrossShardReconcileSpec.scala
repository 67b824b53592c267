package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Dedup

/** Cross-shard duplicate reconciliation
  * ([[Dedup.reconcileShardOutputs]]): the periodic batch pass that
  * closes the multi-stream deployment's documented semantic boundary
  * (near-dup screening is WITHIN a shard). The spec plants a
  * cross-shard near-dup pair that both in-shard screens provably miss,
  * then proves the reconcile pass (1) finds exactly it, (2) drops the
  * larger id through the owning shard's own takedown machinery
  * (tombstone + served-output scrub), (3) converges both serving
  * corpora to the global min-id-representative retained set, (4) is
  * idempotent, and (5) survives a governed replay of the scrubbed
  * batch without resurrecting the dropped row. Contract violations
  * (mismatched geometry, non-unique ids across shards) fail loudly.
  */
class CrossShardReconcileSpec extends SparkSpec {
  import spark.implicits._

  private val p = Dedup.MinHashParams(numHashes = 32, bands = 8,
    shingle = 3, threshold = 0.2)

  private def uniq(i: Long) =
    (0 until 8).map(j => s"unique${i}tok$j").mkString(" ")
  private def famA(i: Long) =
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      s"kilo lima mike november oscar papa quebec romeo sierra tail$i"

  private def df(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private def servedIds(out: String): Set[Long] =
    spark.read.parquet(out).select("doc_id").collect()
      .map(_.getLong(0)).toSet

  test("a planted cross-shard near-dup pair is reconciled: larger id " +
      "dropped via its shard's tombstone+scrub, corpora converge, " +
      "second pass is a no-op, replay does not resurrect") {
    val base = Files.createTempDirectory("graft-reconcile").toString
    val ix0 = s"$base/ix0"; val out0 = s"$base/out0"
    val ix1 = s"$base/ix1"; val out1 = s"$base/out1"
    // router: even doc_id -> shard 0, odd -> shard 1
    Dedup.writeSignatureIndex(df(0L -> uniq(0), 2L -> uniq(2)),
      "doc_id", "text", ix0, p)
    Dedup.writeSignatureIndex(df(1L -> uniq(1), 3L -> uniq(3)),
      "doc_id", "text", ix1, p)
    Dedup.initIngestLedger(spark, ix0)
    Dedup.initIngestLedger(spark, ix1)
    // famA(10) <-> famA(11) is the planted CROSS-shard near-dup: each
    // shard's own screens (within-batch star + committed-index probe)
    // cannot see the other shard's index by construction
    val batch1 = df(11L -> famA(11), 13L -> uniq(13))
    Dedup.ingestBatch(df(10L -> famA(10), 12L -> uniq(12)),
      "doc_id", Dedup.MinHashText("text"), ix0, out0, batchId = 0L)
    Dedup.ingestBatch(batch1, "doc_id", Dedup.MinHashText("text"), ix1, out1,
      batchId = 0L)
    assert(servedIds(out0) == Set(10L, 12L))
    assert(servedIds(out1) == Set(11L, 13L))

    val shards = Seq(Dedup.GovernedShardPaths(ix0, out0),
      Dedup.GovernedShardPaths(ix1, out1))
    val st = Dedup.reconcileShardOutputs(spark, shards, "doc_id",
      Dedup.MinHashText("text"))
    assert(st.crossPairs == 1L, st)
    assert(st.dropped == 1L && st.droppedPerShard == Seq(0L, 1L), st)
    assert(st.scrubbedRows == 1L, st)
    // convergence: global min-id representative (10) kept in shard 0;
    // 11 gone from shard 1's SERVED corpus and tombstoned in its index
    assert(servedIds(out0) == Set(10L, 12L))
    assert(servedIds(out1) == Set(13L))
    val ix1open = Dedup.readSignatureIndex(spark, ix1)
    assert(ix1open.signatures.filter(col("id") === 11L).isEmpty,
      "tombstone must hide the dropped id from the index view")

    // idempotence: the dropped side is physically gone from the union
    val st2 = Dedup.reconcileShardOutputs(spark, shards, "doc_id",
      Dedup.MinHashText("text"))
    assert(st2.dropped == 0L && st2.crossPairs == 0L, st2)

    // governed replay of the scrubbed batch must NOT resurrect 11:
    // the replay rewrites the output dir from the raw batch, then the
    // in-loop scrub re-applies the pending tombstones
    val replay = Dedup.ingestBatch(batch1, "doc_id", Dedup.MinHashText("text"),
      ix1, out1, batchId = 0L)
    assert(replay.replayed)
    assert(servedIds(out1) == Set(13L),
      "replay resurrected a reconciled takedown")
  }

  test("a pending takedown (not yet scrubbed) cannot win greedy-star: " +
      "the dead row is filtered from the union, its surviving " +
      "duplicate is kept") {
    val base = Files.createTempDirectory("graft-reconcile-tomb").toString
    val ix0 = s"$base/ix0"; val out0 = s"$base/out0"
    val ix1 = s"$base/ix1"; val out1 = s"$base/out1"
    Dedup.writeSignatureIndex(df(0L -> uniq(0)), "doc_id", "text", ix0, p)
    Dedup.writeSignatureIndex(df(1L -> uniq(1)), "doc_id", "text", ix1, p)
    Dedup.initIngestLedger(spark, ix0)
    Dedup.initIngestLedger(spark, ix1)
    Dedup.ingestBatch(df(10L -> famA(10)), "doc_id", Dedup.MinHashText("text"),
      ix0, out0, batchId = 0L)
    Dedup.ingestBatch(df(11L -> famA(11)), "doc_id", Dedup.MinHashText("text"),
      ix1, out1, batchId = 0L)
    // take down 10 in shard 0 — deliberately WITHOUT scrubbing, so its
    // row is still physically present in out0 (the scrub is a separate
    // pass); the union must see the RETAINED corpus, where 11 has no
    // smaller-id duplicate and must survive
    Dedup.deleteFromIndex(spark, ix0, Seq(10L))
    val st = Dedup.reconcileShardOutputs(spark,
      Seq(Dedup.GovernedShardPaths(ix0, out0),
        Dedup.GovernedShardPaths(ix1, out1)), "doc_id",
          Dedup.MinHashText("text"))
    assert(st.crossPairs == 0L && st.dropped == 0L,
      s"a tombstoned row dropped its surviving duplicate: $st")
    assert(servedIds(out1) == Set(11L))
  }

  test("SRP embedding twin: a planted cross-shard near-dup vector is " +
      "reconciled through deleteFromSrpIndex + scrub") {
    val base = Files.createTempDirectory("graft-reconcile-srp").toString
    val ix0 = s"$base/ix0"; val out0 = s"$base/out0"
    val ix1 = s"$base/ix1"; val out1 = s"$base/out1"
    def oneHot(k: Int): Seq[Float] =
      Seq.tabulate(8)(j => if (j == k % 8) 1f else 0f)
    // the planted pair shares one vector (cosine 1.0); every other
    // vector is one-hot on a distinct axis (cosine 0 or 0.707 vs the
    // shared (e4+e5)/sqrt2 — all below the 0.9 threshold)
    val shared = Seq.tabulate(8)(j =>
      if (j == 4 || j == 5) (1.0 / math.sqrt(2)).toFloat else 0f)
    def edf(rows: (Long, Seq[Float])*) = rows.toDF("vec_id", "embedding")
    Dedup.writeSrpIndex(edf(0L -> oneHot(0), 2L -> oneHot(2)),
      "vec_id", "embedding", ix0, dim = 8)
    Dedup.writeSrpIndex(edf(1L -> oneHot(1), 3L -> oneHot(3)),
      "vec_id", "embedding", ix1, dim = 8)
    Dedup.initIngestLedger(spark, ix0)
    Dedup.initIngestLedger(spark, ix1)
    Dedup.ingestBatch(edf(10L -> shared, 12L -> oneHot(6)),
      "vec_id", Dedup.SrpVectors("embedding", 0.9), ix0, out0, batchId = 0L)
    Dedup.ingestBatch(edf(11L -> shared, 13L -> oneHot(7)),
      "vec_id", Dedup.SrpVectors("embedding", 0.9), ix1, out1, batchId = 0L)
    def ids(out: String): Set[Long] =
      spark.read.parquet(out).select("vec_id").collect()
        .map(_.getLong(0)).toSet
    assert(ids(out0) == Set(10L, 12L))
    assert(ids(out1) == Set(11L, 13L))

    val shards = Seq(Dedup.GovernedShardPaths(ix0, out0),
      Dedup.GovernedShardPaths(ix1, out1))
    val st = Dedup.reconcileShardOutputs(spark, shards,
      "vec_id", Dedup.SrpVectors("embedding", 0.9))
    assert(st.crossPairs == 1L && st.dropped == 1L &&
      st.droppedPerShard == Seq(0L, 1L), st)
    assert(ids(out0) == Set(10L, 12L))
    assert(ids(out1) == Set(13L))
    assert(Dedup.readSrpIndex(spark, ix1).vectors
      .filter(col("id") === 11L).isEmpty)
    // idempotent
    val st2 = Dedup.reconcileShardOutputs(spark, shards,
      "vec_id", Dedup.SrpVectors("embedding", 0.9))
    assert(st2.dropped == 0L && st2.crossPairs == 0L, st2)
  }

  test("digest twin: a planted cross-shard duplicate digest is caught " +
      "by the equi-join star, tombstoned via deleteFromDigestIndex + " +
      "scrubbed, idempotent, NULL digests never pair, replay does not " +
      "resurrect") {
    val base = Files.createTempDirectory("graft-reconcile-dig").toString
    val ix0 = s"$base/ix0"; val out0 = s"$base/out0"
    val ix1 = s"$base/ix1"; val out1 = s"$base/out1"
    def ddf(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "dig")
    // router: even doc_id -> shard 0, odd -> shard 1
    Dedup.writeDigestIndex(ddf(0L -> "h0", 2L -> "h2"), "doc_id", "dig", ix0)
    Dedup.writeDigestIndex(ddf(1L -> "h1", 3L -> "h3"), "doc_id", "dig", ix1)
    Dedup.initIngestLedger(spark, ix0)
    Dedup.initIngestLedger(spark, ix1)
    // "hX" is the planted CROSS-shard duplicate digest (docs 10 and 11);
    // 14/15 carry NULL digests in both shards — admitted by the exact
    // screen (unindexable) and they must never pair with each other.
    val batch1 = ddf(11L -> "hX", 13L -> "h13", 15L -> (null: String))
    Dedup.ingestBatch(ddf(10L -> "hX", 12L -> "h12",
      14L -> (null: String)), "doc_id", Dedup.Digests("dig"), ix0, out0,
        batchId = 0L)
    Dedup.ingestBatch(batch1, "doc_id", Dedup.Digests("dig"), ix1, out1,
      batchId = 0L)
    assert(servedIds(out0) == Set(10L, 12L, 14L))
    assert(servedIds(out1) == Set(11L, 13L, 15L))

    val shards = Seq(Dedup.GovernedShardPaths(ix0, out0),
      Dedup.GovernedShardPaths(ix1, out1))
    val st = Dedup.reconcileShardOutputs(spark, shards, "doc_id",
      Dedup.Digests("dig"))
    assert(st.crossPairs == 1L, st)
    assert(st.dropped == 1L && st.droppedPerShard == Seq(0L, 1L), st)
    // convergence: min-id representative 10 kept in shard 0; 11 gone
    // from shard 1's served corpus and hidden in its index view; the
    // NULL-digest rows survive in both shards
    assert(servedIds(out0) == Set(10L, 12L, 14L))
    assert(servedIds(out1) == Set(13L, 15L))
    assert(Dedup.readDigestIndex(spark, ix1).digests
      .filter(col("id") === 11L).isEmpty,
      "tombstone must hide the dropped id from the index view")

    val st2 = Dedup.reconcileShardOutputs(spark, shards, "doc_id",
      Dedup.Digests("dig"))
    assert(st2.dropped == 0L && st2.crossPairs == 0L, st2)

    // governed replay of the scrubbed batch must NOT resurrect 11
    val replay = Dedup.ingestBatch(batch1, "doc_id",
      Dedup.Digests("dig"), ix1, out1, batchId = 0L)
    assert(replay.replayed)
    assert(servedIds(out1) == Set(13L, 15L),
      "replay resurrected a reconciled takedown")
  }

  test("mixed-family deployments compose per family: a MinHash and a " +
      "digest deployment over the SAME corpus each reconcile their own " +
      "duplicate kind and neither disturbs the other's indexes or " +
      "served corpora") {
    val base = Files.createTempDirectory("graft-reconcile-mixed").toString
    // one corpus, two parallel deployments (even/odd doc_id router):
    // the MinHash family screens near-dup TEXT, the digest family
    // screens exact CONTENT — a production stack runs both side by side
    val mIx0 = s"$base/m-ix0"; val mOut0 = s"$base/m-out0"
    val mIx1 = s"$base/m-ix1"; val mOut1 = s"$base/m-out1"
    val dIx0 = s"$base/d-ix0"; val dOut0 = s"$base/d-out0"
    val dIx1 = s"$base/d-ix1"; val dOut1 = s"$base/d-out1"
    def ddf(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "dig")
    Dedup.writeSignatureIndex(df(0L -> uniq(0)), "doc_id", "text", mIx0, p)
    Dedup.writeSignatureIndex(df(1L -> uniq(1)), "doc_id", "text", mIx1, p)
    Dedup.writeDigestIndex(ddf(0L -> "h0"), "doc_id", "dig", dIx0)
    Dedup.writeDigestIndex(ddf(1L -> "h1"), "doc_id", "dig", dIx1)
    Seq(mIx0, mIx1).foreach(Dedup.initIngestLedger(spark, _))
    Seq(dIx0, dIx1).foreach(Dedup.initIngestLedger(spark, _))

    // planted: 10<->11 is a cross-shard NEAR-dup (distinct digests —
    // only the MinHash family may drop it); 20<->21 is a cross-shard
    // EXACT dup (digest hX, dissimilar texts — only the digest family
    // may drop it)
    val corpus = Map(
      10L -> (famA(10), "h10"), 12L -> (uniq(12), "h12"),
      20L -> (uniq(20), "hX"),
      11L -> (famA(11), "h11"), 13L -> (uniq(13), "h13"),
      21L -> (uniq(21), "hX"))
    def mBatch(ids: Long*) = df(ids.map(i => i -> corpus(i)._1): _*)
    def dBatch(ids: Long*) = ddf(ids.map(i => i -> corpus(i)._2): _*)
    Dedup.ingestBatch(mBatch(10L, 12L, 20L), "doc_id",
      Dedup.MinHashText("text"), mIx0, mOut0, batchId = 0L)
    Dedup.ingestBatch(mBatch(11L, 13L, 21L), "doc_id",
      Dedup.MinHashText("text"), mIx1, mOut1, batchId = 0L)
    Dedup.ingestBatch(dBatch(10L, 12L, 20L), "doc_id",
      Dedup.Digests("dig"), dIx0, dOut0, batchId = 0L)
    Dedup.ingestBatch(dBatch(11L, 13L, 21L), "doc_id",
      Dedup.Digests("dig"), dIx1, dOut1, batchId = 0L)
    assert(servedIds(mOut1) == Set(11L, 13L, 21L))
    assert(servedIds(dOut1) == Set(11L, 13L, 21L))

    val mShards = Seq(Dedup.GovernedShardPaths(mIx0, mOut0),
      Dedup.GovernedShardPaths(mIx1, mOut1))
    val dShards = Seq(Dedup.GovernedShardPaths(dIx0, dOut0),
      Dedup.GovernedShardPaths(dIx1, dOut1))
    val mSt = Dedup.reconcileShardOutputs(spark, mShards, "doc_id",
      Dedup.MinHashText("text"))
    val dSt = Dedup.reconcileShardOutputs(spark, dShards, "doc_id",
      Dedup.Digests("dig"))
    // each family converged exactly its own duplicate kind
    assert(mSt.crossPairs == 1L && mSt.dropped == 1L, mSt)
    assert(dSt.crossPairs == 1L && dSt.dropped == 1L, dSt)
    assert(servedIds(mOut0) == Set(10L, 12L, 20L))
    assert(servedIds(mOut1) == Set(13L, 21L),
      "the MinHash pass must drop the near-dup 11 and keep the exact-dup 21")
    assert(servedIds(dOut0) == Set(10L, 12L, 20L))
    assert(servedIds(dOut1) == Set(11L, 13L),
      "the digest pass must drop the exact-dup 21 and keep the near-dup 11")
    // ...and left the OTHER family's index untouched
    val mView = Dedup.readSignatureIndex(spark, mIx1).signatures
    assert(mView.filter(col("id") === 21L).count() == 1L,
      "the digest family's drop leaked into the MinHash index")
    assert(mView.filter(col("id") === 11L).isEmpty)
    val dView = Dedup.readDigestIndex(spark, dIx1).digests
    assert(dView.filter(col("id") === 11L).count() == 1L,
      "the MinHash family's drop leaked into the digest index")
    assert(dView.filter(col("id") === 21L).isEmpty)
    // both passes idempotent against the composed state
    val mSt2 = Dedup.reconcileShardOutputs(spark, mShards, "doc_id",
      Dedup.MinHashText("text"))
    val dSt2 = Dedup.reconcileShardOutputs(spark, dShards,
      "doc_id", Dedup.Digests("dig"))
    assert(mSt2.dropped == 0L && mSt2.crossPairs == 0L, mSt2)
    assert(dSt2.dropped == 0L && dSt2.crossPairs == 0L, dSt2)
  }

  test("contract violations fail loudly: mismatched MinHash geometry; " +
      "duplicate ids across shards") {
    val base = Files.createTempDirectory("graft-reconcile-bad").toString
    val ixA = s"$base/ixA"; val outA = s"$base/outA"
    val ixB = s"$base/ixB"; val outB = s"$base/outB"
    Dedup.writeSignatureIndex(df(0L -> uniq(0)), "doc_id", "text", ixA, p)
    Dedup.writeSignatureIndex(df(1L -> uniq(1)), "doc_id", "text", ixB,
      p.copy(bands = 4))
    val e = intercept[IllegalArgumentException] {
      Dedup.reconcileShardOutputs(spark,
        Seq(Dedup.GovernedShardPaths(ixA, outA),
          Dedup.GovernedShardPaths(ixB, outB)), "doc_id",
            Dedup.MinHashText("text"))
    }
    assert(e.getMessage.contains("MinHashParams"))

    // same geometry, but both shards served the same id: router broken
    val ixC = s"$base/ixC"; val outC = s"$base/outC"
    Dedup.writeSignatureIndex(df(1L -> uniq(1)), "doc_id", "text", ixC, p)
    Dedup.initIngestLedger(spark, ixA)
    Dedup.initIngestLedger(spark, ixC)
    Dedup.ingestBatch(df(5L -> uniq(5)), "doc_id", Dedup.MinHashText("text"),
      ixA, outA, batchId = 0L)
    Dedup.ingestBatch(df(5L -> uniq(50)), "doc_id", Dedup.MinHashText("text"),
      ixC, outC, batchId = 0L)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.reconcileShardOutputs(spark,
        Seq(Dedup.GovernedShardPaths(ixA, outA),
          Dedup.GovernedShardPaths(ixC, outC)), "doc_id",
            Dedup.MinHashText("text"))
    }
    assert(e2.getMessage.contains("duplicate"))
  }

  test("shards with empty or absent output roots reconcile to a no-op") {
    val base = Files.createTempDirectory("graft-reconcile-empty").toString
    val ix0 = s"$base/ix0"; val ix1 = s"$base/ix1"
    Dedup.writeSignatureIndex(df(0L -> uniq(0)), "doc_id", "text", ix0, p)
    Dedup.writeSignatureIndex(df(1L -> uniq(1)), "doc_id", "text", ix1, p)
    val st = Dedup.reconcileShardOutputs(spark,
      Seq(Dedup.GovernedShardPaths(ix0, s"$base/out0"),
        Dedup.GovernedShardPaths(ix1, s"$base/out1")), "doc_id",
          Dedup.MinHashText("text"))
    assert(st == Dedup.ShardReconcileStats(0L, 0L, Seq(0L, 0L), 0L))
  }
}
