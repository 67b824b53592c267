package graft.operators

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Fixed cost of one governed micro-batch, per index family: the Spark
  * jobs a clean batch submits are pinned, so a change that adds a job to
  * any family's path fails here. Jobs are counted through the batch's
  * job group (`statusTracker.getJobIdsForGroup`) and cross-checked
  * against a listener that sees every job, so a job that escapes the
  * group — a lane thread tagged with an earlier batch's properties —
  * fails too. Each direct batch call must also leave the session confs
  * it tunes as it found them, set or unset. And a steady batch must
  * reuse the generated code of the batches before it instead of
  * compiling its own.
  */
class GovernedBatchJobsSpec extends SparkSpec {
  import GovernedBatchJobsSpec.Family
  import spark.implicits._

  private val sc = spark.sparkContext

  /** (job id, job group) of every job the scheduler starts. */
  private object Jobs extends SparkListener {
    val seen = new ConcurrentLinkedQueue[(Int, String)]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      seen.add(e.jobId -> Option(e.properties)
        .map(_.getProperty("spark.jobGroup.id")).orNull)
  }
  sc.addSparkListener(Jobs)

  private var settles = 0

  /** Wait until both the listener and the status store have seen every
    * job submitted so far: a sentinel job is posted after them, and each
    * listener queue delivers in order. */
  private def settle(): Unit = {
    settles += 1
    val tag = s"settle-$settles"
    sc.setJobGroup(tag, "settle")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis + 30000
    def done = Jobs.seen.asScala.exists(_._2 == tag) &&
      sc.statusTracker.getJobIdsForGroup(tag).nonEmpty
    while (!done && System.currentTimeMillis < deadline) Thread.sleep(20)
    assert(done, "listener bus did not drain")
  }

  /** Run `body` under job group `group`; returns (the groups of every job
    * started meanwhile, the job count the status store files under
    * `group`). */
  private def underGroup(group: String)(body: => Any)
      : (Seq[String], Int) = {
    settle()
    val before = Jobs.seen.size
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    settle()
    val started = Jobs.seen.asScala.toSeq.drop(before)
      .map(_._2).filterNot(_.startsWith("settle-"))
    (started, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  /** The confs a governed batch tunes for its own plan
    * (`Dedup.withPinnedPlan`); a direct batch call must leave the
    * caller's session reading the same values afterwards, and holding
    * the same keys as explicitly set (`getAll`): `getOption` reads a
    * registered default for an unset key, so values alone cannot tell a
    * key left set from one left unset. `shuffle.partitions` is set by
    * [[SparkSpec]], `adaptive.enabled` is not. */
  private val pinnedConfs =
    Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")

  private def confState =
    pinnedConfs.map(k => (k, spark.conf.getOption(k),
      spark.conf.getAll.contains(k)))

  /** Run one direct batch call and assert it restored [[pinnedConfs]]. */
  private def restoresConfs[A](call: String)(body: => A): A = {
    val before = confState
    val r = body
    assert(confState == before,
      s"$call changed the caller's session confs (key, value, set)")
    r
  }

  private def rmrf(dir: String): Unit = {
    import scala.reflect.io.Directory
    new Directory(new java.io.File(dir)).deleteRecursively()
  }

  private val p = Dedup.MinHashParams(numHashes = 32, bands = 8,
    shingle = 3, threshold = 0.2)
  private def fam(i: Long) =
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      s"kilo lima mike november oscar papa quebec romeo sierra tail$i"
  private def uniq(i: Long) =
    (0 until 8).map(j => s"unique${i}tok$j").mkString(" ")

  private val dim = 8
  private def vec(axis: Int, i: Long): Seq[Float] =
    (0 until dim).map(j => if (j == axis) 1f
      else if (j == axis + 1) 0.02f * ((i % 7) + 1) else 0f)
  private def vecs(rows: (Long, Seq[Float])*): DataFrame =
    rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))

  private def objs(rows: (Long, String)*): DataFrame =
    rows.toDF("id", "dig").withColumn("payload", concat(lit("o-"), col("dig")))

  private val families = Seq(
    Family("minhash", jobs = 21,
      ix => {
        Dedup.writeSignatureIndex(Seq(0L -> fam(0), 1L -> uniq(1))
          .toDF("doc_id", "text"), "doc_id", "text", ix, p)
        Dedup.initIngestLedger(spark, ix)
      },
      (b, ix, out, id) =>
        Dedup.ingestBatch(b, "doc_id", Dedup.MinHashText("text"), ix, out, id),
      () => Seq(10L -> uniq(10), 11L -> uniq(11)).toDF("doc_id", "text"),
      () => Seq(20L -> fam(20), 21L -> uniq(21), 22L -> uniq(21),
        23L -> uniq(23)).toDF("doc_id", "text"),
      i => Seq(i -> fam(i), (i + 1) -> uniq(i + 1), (i + 2) -> uniq(i + 1),
        (i + 3) -> uniq(i + 3)).toDF("doc_id", "text"),
      ix => Dedup.compactIndex(spark, ix)),
    Family("srp", jobs = 24,
      ix => {
        Dedup.writeSrpIndex(vecs(0L -> vec(0, 0), 1L -> vec(2, 1)),
          "vec_id", "embedding", ix, dim)
        Dedup.initIngestLedger(spark, ix)
      },
      (b, ix, out, id) => Dedup.ingestBatch(b, "vec_id",
        Dedup.SrpVectors("embedding", 0.4), ix, out, id),
      () => vecs(10L -> vec(4, 10), 11L -> vec(6, 11)),
      () => vecs(20L -> vec(0, 20), 21L -> vec(5, 21), 22L -> vec(5, 22),
        23L -> vec(7, 23)),
      i => vecs(i -> vec(0, i), (i + 1) -> vec(5, i + 1),
        (i + 2) -> vec(5, i + 2), (i + 3) -> vec(7, i + 3)),
      ix => Dedup.compactIndex(spark, ix)),
    Family("digest", jobs = 13,
      ix => {
        Dedup.writeDigestIndex(objs((0L, "d0"), (1L, "d1")), "id", "dig", ix)
        Dedup.initIngestLedger(spark, ix)
      },
      (b, ix, out, id) =>
        Dedup.ingestBatch(b, "id", Dedup.Digests("dig"), ix, out, id),
      () => objs((10L, "e10"), (11L, "e11")),
      () => objs((20L, "d0"), (21L, "e21"), (22L, "e21"), (23L, "e23")),
      i => objs((i, "d0"), (i + 1, s"e${i + 1}"), (i + 2, s"e${i + 1}"),
        (i + 3, s"e${i + 3}")),
      ix => Dedup.compactIndex(spark, ix)))

  families.foreach { f =>
    test(s"${f.name}: a clean governed batch runs a pinned number of " +
        "Spark jobs, every one under the batch's job group") {
      val base = Files.createTempDirectory(s"graft-jobs-${f.name}").toString
      val ix = s"$base/ix"; val out = s"$base/out"
      try {
        f.build(ix)
        // batch 0 runs under its own group first: any lane thread it
        // leaves behind carries that group, not batch 1's
        underGroup(s"${f.name}-0")(restoresConfs(s"${f.name} batch 0")(
          f.ingest(f.batch0(), ix, out, 0L)))
        val (started, grouped) =
          underGroup(s"${f.name}-1")(restoresConfs(s"${f.name} batch 1")(
            f.ingest(f.batch1(), ix, out, 1L)))
        assert(started.forall(_ == s"${f.name}-1"),
          s"jobs of batch 1 ran under other groups: ${started.mkString(", ")}")
        assert(grouped == f.jobs,
          s"${f.name}: a clean governed batch ran $grouped Spark jobs, " +
            s"pinned ${f.jobs}")
      } finally rmrf(base)
    }
  }

  families.foreach { f =>
    test(s"${f.name}: a steady governed batch reuses the generated code " +
        "of the batches before it") {
      val base = Files.createTempDirectory(s"graft-codegen-${f.name}")
        .toString
      val ix = s"$base/ix"; val out = s"$base/out"
      def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      def batch(k: Int): Long = {
        val before = compiles
        val stats = f.ingest(f.steady(100L * (k + 1)), ix, out, k.toLong)
        Dedup.appendIngestStats(spark, ix, stats) // as the stream loop does
        compiles - before
      }
      try {
        f.build(ix)
        // batches of one shape (ids, watermarks and touched shards
        // differ), three before a compaction and two after it: a
        // compacted index plans new code once. The third and the fifth
        // may still compile Spark's own runtime predicates, e.g. dynamic
        // partition pruning's over a shard set no earlier batch touched
        // (one on MinHash)
        val perBatch = (0 until 3).map(batch) ++ {
          f.compact(ix); (3 until 5).map(batch)
        }
        assert(perBatch(2) <= 3 && perBatch(4) <= 3,
          s"${f.name}: compiles per batch ${perBatch.mkString(", ")} " +
            "(compaction after the third)")
      } finally rmrf(base)
    }
  }
}

object GovernedBatchJobsSpec {

  /** One index family: how to build its index and ledger, how to ingest
    * one governed batch, two clean batches (the second has within-batch
    * and cross-index duplicates), its pinned jobs per clean batch, and
    * `steady(i)`: a clean batch of the second one's shape with ids from
    * `i` up, and how to compact the index. */
  final case class Family(name: String, jobs: Int,
                          build: String => Unit,
                          ingest: (DataFrame, String, String, Long) =>
                            Dedup.IngestBatchStats,
                          batch0: () => DataFrame,
                          batch1: () => DataFrame,
                          steady: Long => DataFrame,
                          compact: String => Unit)
}
