package graft.streaming

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Dedup

/** The multi-stream ingest scale-out pattern (PLANS.md "multi-stream
  * ingest scale-out"): N independent governed indexes behind a
  * deterministic id router, one governed stream per shard. The spec
  * proves the mechanical claims:
  *
  *  - two streams on DISJOINT shards never fence-collide — concurrent
  *    batches commit independently (epoch fences and ledgers are per
  *    index path);
  *  - within-shard screening is fully effective, including against
  *    rows a previous concurrent batch of the same shard ingested;
  *  - the documented semantic boundary: near-dup screening is WITHIN a
  *    shard — a cross-shard near-duplicate is NOT screened (route by a
  *    content-stable key, or run the periodic cross-shard batch dedup
  *    operators, when cross-shard duplicates are in contract);
  *  - replays stay exactly-once per shard under concurrency;
  *  - each shard owns its session (`spark.newSession()`, the deployment
  *    pattern's prescription): the per-batch plan tuning
  *    (shuffle-partition sizing / AQE pinning) is session-scoped and its
  *    save/restore is not atomic across threads, so shards sharing ONE
  *    session could interleave restores and leave the session mis-tuned
  *    after all batches finish — per-shard sessions make that
  *    impossible, and the spec asserts the parent session's knobs are
  *    never touched and each shard's are restored.
  */
class ShardedGovernedIngestSpec extends SparkSpec {
  import spark.implicits._

  private val p = Dedup.MinHashParams(numHashes = 32, bands = 8,
    shingle = 3, threshold = 0.2)

  private def uniq(i: Long) =
    (0 until 8).map(j => s"unique${i}tok$j").mkString(" ")
  private def famA(i: Long) =
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      s"kilo lima mike november oscar papa quebec romeo sierra tail$i"
  private def famB(i: Long) =
    "zulu yankee xray whiskey victor uniform tango sierra romeo quebec " +
      s"papa oscar november mike lima kilo juliet india tail$i"

  private def df(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "text")

  /** Batch frame bound to a SHARD's own session — the governed loop
    * reads `batch.sparkSession`, so this is what routes each shard's
    * plan tuning to its own session. */
  private def dfOn(s: SparkSession)(rows: (Long, String)*): DataFrame = {
    val sqlc = s.sqlContext
    import sqlc.implicits._
    rows.toDF("doc_id", "text")
  }

  private def rmrf(dir: String): Unit = {
    import scala.reflect.io.Directory
    new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("two governed streams on disjoint shards never fence-collide: " +
      "concurrent batches commit independently; screening is complete " +
      "within a shard and (documented) does not cross shards") {
    val base = Files.createTempDirectory("graft-sharded").toString
    val ix0 = s"$base/ix0"; val out0 = s"$base/out0"
    val ix1 = s"$base/ix1"; val out1 = s"$base/out1"
    try {
      // router: even doc_id -> shard 0, odd -> shard 1 (any deterministic
      // id router works; each shard's id stream stays monotone)
      Dedup.writeSignatureIndex(df(0L -> famA(0), 2L -> famA(2)),
        "doc_id", "text", ix0, p)
      Dedup.writeSignatureIndex(df(1L -> famB(1), 3L -> famB(3)),
        "doc_id", "text", ix1, p)
      Dedup.initIngestLedger(spark, ix0)
      Dedup.initIngestLedger(spark, ix1)

      // each shard OWNS its session (the pattern's prescription): the
      // per-batch plan tuning is session-scoped, so concurrent shards on
      // one session could interleave conf restores
      val sess0 = spark.newSession(); val sess1 = spark.newSession()
      val parentShuffle = spark.conf.get("spark.sql.shuffle.partitions")
      val parentAqe = spark.conf.get("spark.sql.adaptive.enabled")

      // batch 1, both shards CONCURRENTLY: 12 near-dups shard 0's own
      // family (screened); 13 carries shard-0 family text but lives in
      // shard 1 — the documented cross-shard miss (stays novel there)
      val f0 = Future(Dedup.ingestBatch(
        dfOn(sess0)(10L -> uniq(10), 12L -> famA(12)), "doc_id",
        Dedup.MinHashText("text"), ix0, out0, batchId = 1L))
      val f1 = Future(Dedup.ingestBatch(
        dfOn(sess1)(11L -> uniq(11), 13L -> famA(13)), "doc_id",
        Dedup.MinHashText("text"), ix1, out1, batchId = 1L))
      val s0 = Await.result(f0, 5.minutes)
      val s1 = Await.result(f1, 5.minutes)
      assert(!s0.replayed && s0.novelRows == 1L, s"$s0")
      assert(!s1.replayed && s1.novelRows == 2L,
        s"cross-shard near-dup must NOT be screened (documented): $s1")
      assert(spark.read.parquet(s"$out0/batch_id=1").select("doc_id")
        .collect().map(_.getLong(0)).toSet == Set(10L))
      assert(spark.read.parquet(s"$out1/batch_id=1").select("doc_id")
        .collect().map(_.getLong(0)).toSet == Set(11L, 13L))

      // batch 2, concurrent again: shard 1's new doc 21 near-dups the
      // row batch 1 of the SAME shard ingested (13, famA text) — the
      // within-shard screen spans the shard's whole committed history
      val g0 = Future(Dedup.ingestBatch(
        dfOn(sess0)(20L -> uniq(20)), "doc_id", Dedup.MinHashText("text"), ix0,
          out0,
        batchId = 2L))
      val g1 = Future(Dedup.ingestBatch(
        dfOn(sess1)(21L -> famA(21)), "doc_id", Dedup.MinHashText("text"), ix1,
          out1,
        batchId = 2L))
      val t0 = Await.result(g0, 5.minutes)
      val t1 = Await.result(g1, 5.minutes)
      assert(!t0.replayed && t0.novelRows == 1L, s"$t0")
      assert(t1.novelRows == 0L,
        s"within-shard screening must span committed history: $t1")

      // concurrent REPLAYS: recognized on both shards, no extra state
      val r0 = Future(Dedup.ingestBatch(
        dfOn(sess0)(20L -> uniq(20)), "doc_id", Dedup.MinHashText("text"), ix0,
          out0,
        batchId = 2L))
      val r1 = Future(Dedup.ingestBatch(
        dfOn(sess1)(21L -> famA(21)), "doc_id", Dedup.MinHashText("text"), ix1,
          out1,
        batchId = 2L))
      assert(Await.result(r0, 5.minutes).replayed)
      assert(Await.result(r1, 5.minutes).replayed)

      // session isolation held: the parent session's execution knobs
      // were never touched, and each shard's were restored after its
      // last batch
      assert(spark.conf.get("spark.sql.shuffle.partitions") ==
          parentShuffle &&
          spark.conf.get("spark.sql.adaptive.enabled") == parentAqe,
        "per-batch tuning must stay on the shard's own session")
      Seq(sess0, sess1).foreach { s =>
        assert(s.conf.get("spark.sql.shuffle.partitions") == parentShuffle,
          "a shard session's knobs must be restored after its batches")
        assert(s.conf.get("spark.sql.adaptive.enabled") == parentAqe,
          "a shard session's AQE flag must be restored after its batches")
      }
      Seq(ix0, ix1).foreach { ix =>
        // bootstrap row (batch_id = -1) + the shard's own two batches
        assert(spark.read.parquet(s"$ix/ingest_ledger")
          .filter($"batch_id" >= 0L).count() == 2L,
          s"each shard's ledger must hold exactly its own two batches: $ix")
      }
      // fences were never crossed: both indexes stay openable and
      // consistent
      Dedup.readSignatureIndex(spark, ix0)
      Dedup.readSignatureIndex(spark, ix1)
    } finally rmrf(base)
  }

  test("digest family scale-out: routing BY the digest makes cross-shard " +
      "duplicates unrepresentable; concurrent commits stay exactly-once") {
    val base = Files.createTempDirectory("graft-sharded-dig").toString
    try {
      // The EXACT family's router is the digest itself: shard =
      // pmod(hash(dig), N). Duplicates share the digest, so they share
      // the shard BY CONSTRUCTION — the near-dup families' documented
      // cross-shard-miss boundary does not exist here; the scale-out is
      // semantically exact. Derive the real routes with the engine's
      // own hash.
      val digs = (0 until 12).map(i => s"dig$i")
      val route = digs.map { d =>
        d -> spark.range(1)
          .select(pmod(hash(lit(d)), lit(2))).head().getInt(0)
      }.toMap
      val (d0, d1) = digs.partition(route(_) == 0)
      assert(d0.size >= 4 && d1.size >= 3, s"fixture routes: $route")
      def obj(s: SparkSession)(rows: (Long, String)*): DataFrame = {
        val sqlc = s.sqlContext
        import sqlc.implicits._
        rows.toDF("id", "dig")
      }
      val ix0 = s"$base/ix0"; val out0 = s"$base/out0"
      val ix1 = s"$base/ix1"; val out1 = s"$base/out1"
      Dedup.writeDigestIndex(obj(spark)(0L -> d0(0), 1L -> d0(1)),
        "id", "dig", ix0)
      Dedup.writeDigestIndex(obj(spark)(0L -> d1(0), 1L -> d1(1)),
        "id", "dig", ix1)
      Dedup.initIngestLedger(spark, ix0)
      Dedup.initIngestLedger(spark, ix1)
      val sess0 = spark.newSession(); val sess1 = spark.newSession()

      // concurrent batch 1: shard 0 sees a corpus dup (d0(0)); shard 1
      // sees a within-batch dup (d1(2) twice)
      val f0 = Future(Dedup.ingestBatch(
        obj(sess0)(10L -> d0(2), 11L -> d0(0)), "id", Dedup.Digests("dig"),
        ix0, out0, batchId = 1L))
      val f1 = Future(Dedup.ingestBatch(
        obj(sess1)(10L -> d1(2), 11L -> d1(2)), "id", Dedup.Digests("dig"),
        ix1, out1, batchId = 1L))
      val s0 = Await.result(f0, 5.minutes)
      val s1 = Await.result(f1, 5.minutes)
      assert(!s0.replayed && s0.novelRows == 1L, s"$s0")
      assert(!s1.replayed && s1.novelRows == 1L, s"$s1")

      // two stream copies of the SAME digest (d0(3)) both route to
      // shard 0 — a cross-shard duplicate cannot be constructed — and
      // the second copy is screened within that shard
      assert(route(d0(3)) == 0)
      val s2 = Dedup.ingestBatch(
        obj(sess0)(20L -> d0(3), 21L -> d0(3)), "id", Dedup.Digests("dig"),
        ix0, out0, batchId = 2L)
      assert(s2.novelRows == 1L, s"$s2")
      assert(spark.read.parquet(s"$out0/batch_id=2").select("id")
        .collect().map(_.getLong(0)).toSet == Set(20L))

      // concurrent replays: recognized per shard, no extra state
      val r0 = Future(Dedup.ingestBatch(
        obj(sess0)(20L -> d0(3), 21L -> d0(3)), "id", Dedup.Digests("dig"),
        ix0, out0, batchId = 2L))
      val r1 = Future(Dedup.ingestBatch(
        obj(sess1)(10L -> d1(2), 11L -> d1(2)), "id", Dedup.Digests("dig"),
        ix1, out1, batchId = 1L))
      assert(Await.result(r0, 5.minutes).replayed)
      assert(Await.result(r1, 5.minutes).replayed)
      Dedup.readDigestIndex(spark, ix0)
      Dedup.readDigestIndex(spark, ix1)
    } finally rmrf(base)
  }
}
