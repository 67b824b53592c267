package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

import graft.functions.GraftFunctions

/** Library entry points for users.
  *
  * [[GraftExtensions]] plugs the custom functions into any session via the
  * standard extension mechanism
  * (`spark.sql.extensions=graft.GraftExtensions`), so pure-SQL users get
  * `graft_cosine` / `graft_dot` / `graft_topk` without touching Scala.
  * [[GraftSession]] builds a session with the configuration this engine is
  * designed around.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.injectable.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.IntersectCountRewrite)
  }
}

object GraftSession {

  /** The static conf that sizes Spark's cache of compiled generated
    * classes (JVM-wide, least recently used first out; default 100). */
  val CodegenCacheConf = "spark.sql.codegen.cache.maxEntries"

  /** Compiled classes the codegen cache keeps: [[CodegenCacheConf]] in
    * every session [[builder]] makes (see there for the reason).
    *
    * Measured by emptying Spark's cache and counting the entries one
    * loop cycle of a governed stream compiles (a batch, a takedown
    * scrub, a compaction, a batch; the `GovernedBatchJobsSpec` batch
    * shapes): 173 on a MinHash index, 138 on an SRP index, 81 on a
    * digest index, and 269 for one JVM that streams all three (shared
    * classes count once); a second cycle compiled 4 more. The value is
    * those 269 plus a margin of about the same again, for replayed or
    * quarantined batches, plans that grow, and the application's own
    * queries: the cache is JVM-wide. An entry holds ~27 KB of heap
    * (7.3 MB freed by emptying the 269) plus ~6 KB of metaspace, so a
    * full cache is ~20 MB. */
  val CodegenCacheEntries = 600

  /** Recommended session for this engine. `shufflePartitions` should track
    * the executor-core budget (32 locally; hundreds-to-thousands on a real
    * cluster — AQE coalesces the excess at runtime).
    *
    * The codegen cache holds [[CodegenCacheEntries]] classes, not Spark's
    * default 100. A governed micro-batch
    * (`graft.streaming.StreamOps.governedDedupStream`)
    * plans the same queries every batch, but more distinct classes than
    * 100: with the default, each batch evicts classes the next batch
    * needs, and Janino compiles them again, ~20 ms each on the driver of
    * a 4-core host.
    * Steady batches of the `GovernedBatchJobsSpec` shapes compiled 71
    * (MinHash), 56 (SRP) and 4 (digest) classes per batch with the
    * default cache; 15, 10 and 4 with a 1000-entry cache alone, the rest
    * being classes that inlined a per-batch value; 1, 0 and 0 now that
    * per-batch values (watermarks, touched shards, batch ids) stay out
    * of the generated code ([[graft.plans.BatchConstants]]), also after
    * a compaction. That last part is also what keeps a long stream from
    * filling the cache with classes no later batch uses.
    */
  def builder(master: String = "local[32]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config(CodegenCacheConf, CodegenCacheEntries.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)

  /** The warning a governed stream logs at open when its session's
    * codegen cache holds fewer than [[CodegenCacheEntries]] classes. */
  private[graft] def codegenCacheWarning(entries: Int): Option[String] =
    Option.when(entries < CodegenCacheEntries)(
      s"$CodegenCacheConf is $entries, below the $CodegenCacheEntries a " +
        "governed stream needs: its batches evict each other's generated " +
        "classes and recompile them every batch. Build the session with " +
        s"GraftSession.builder or set $CodegenCacheConf=$CodegenCacheEntries.")

  def getOrCreate(master: String = "local[32]",
                  shufflePartitions: Int = 32): SparkSession = {
    val s = builder(master, shufflePartitions).getOrCreate()
    GraftFunctions.register(s)
    s
  }

  /** Object-store (s3a://) configuration for a real deployment — the
    * reference is S3-first end to end (`flink-s3-fs-hadoop` at the
    * reference `pom.xml:40-44`, `s3://` URIs in all three jobs); Spark
    * reads the same buckets through the identical Hadoop FileSystem
    * abstraction, so every reader/sink in [[graft.sources.Tables]] takes
    * an `s3a://bucket/key` path unchanged.
    *
    * Exposed as a plain map so it can feed either `.config(...)` calls or
    * `spark-submit --conf` lines. Needs `hadoop-aws` (+ bundled AWS SDK)
    * and `spark-hadoop-cloud` on the cluster classpath — not shipped in
    * this offline build, which is also why there is no integration test.
    * Credentials are deliberately ABSENT: the default s3a provider chain
    * (env vars, instance profile, sso) is the supported path; never bake
    * keys into session conf.
    *
    *  - magic committer: task commits become S3 multipart-upload
    *    completions — no rename-based commit (S3 has no atomic rename),
    *    which is the batch equivalent of the reference sink's
    *    in-progress → finished part lifecycle.
    *  - upload tuning: parallel multipart upload buffered to disk, 64 MB
    *    parts, 128 MB target split size for downstream scans.
    */
  def s3aConfigs(committer: String = "magic"): Map[String, String] = Map(
    "spark.hadoop.fs.s3a.committer.name" -> committer,
    "spark.hadoop.fs.s3a.committer.magic.enabled" ->
      (committer == "magic").toString,
    "spark.sql.sources.commitProtocolClass" ->
      "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol",
    "spark.sql.parquet.output.committer.class" ->
      "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter",
    "spark.hadoop.fs.s3a.fast.upload" -> "true",
    "spark.hadoop.fs.s3a.fast.upload.buffer" -> "disk",
    "spark.hadoop.fs.s3a.multipart.size" -> "64M",
    "spark.hadoop.fs.s3a.block.size" -> "128M",
    "spark.hadoop.fs.s3a.connection.maximum" -> "96",
    "spark.hadoop.fs.s3a.threads.max" -> "64")

  /** [[builder]] with the [[s3aConfigs]] preset applied. */
  def s3aBuilder(master: String = "local[32]",
                 shufflePartitions: Int = 32,
                 committer: String = "magic"): SparkSession.Builder =
    s3aConfigs(committer).foldLeft(builder(master, shufflePartitions)) {
      case (b, (k, v)) => b.config(k, v)
    }
}
