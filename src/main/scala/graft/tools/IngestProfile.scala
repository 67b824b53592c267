package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only phase profiler for the governed ingest loops (p5/p6):
  * times index build and each governed batch separately so fixed
  * per-batch overhead is visible. Usage: IngestProfile [sfDir]
  */
object IngestProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    import graft.operators.Dedup

    // job-level breakdown: count jobs and their scheduler time per phase
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobTimes =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          // the result stage's name is the action's call site ("parquet at
          // Dedup.scala:2345") — the per-line map the floor-cutting work
          // needs; callSite.short is absent from job properties here
          val site = js.stageInfos.lastOption.map(_.name).getOrElse("?")
          jobs.put(js.jobId, (js.time, site))
        }
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val v = jobs.remove(je.jobId)
          if (v != null) jobTimes.add((je.time - v._1, v._2))
        }
      })

    def t[A](label: String)(f: => A): A = {
      jobTimes.clear()
      val t0 = System.nanoTime()
      val r = f
      Thread.sleep(150) // let the listener bus drain
      val times = {
        val it = jobTimes.iterator()
        val b = Seq.newBuilder[(Long, String)]
        while (it.hasNext) b += it.next(); b.result()
      }
      println(f"  $label%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s  " +
        f"${times.length}%3d jobs")
      times.sortBy(-_._1).take(48).foreach { case (ms, site) =>
        println(f"      $ms%5d ms  $site%s")
      }
      r
    }

    (1 to 2).foreach { round =>
      println(s"== p5 round $round ==")
      val docs = graft.sources.Tables.table(spark, dir, "documents")
      val p = Dedup.MinHashParams(numHashes = 32, bands = 8, shingle = 3,
        threshold = 0.2)
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val (c1, c2) = (maxId * 3 / 5, maxId * 4 / 5)
      val base = s"/tmp/graft_profile_p5"
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val ix = s"$base/ix"; val out = s"$base/out"
      t("writeSignatureIndex") {
        Dedup.writeSignatureIndex(docs.filter(col("doc_id") <= c1),
          "doc_id", "text", ix, p)
      }
      t("initIngestLedger")(Dedup.initIngestLedger(spark, ix))
      t("ingestBatch 0") {
        Dedup.ingestBatch(
          docs.filter(col("doc_id") > c1 && col("doc_id") <= c2),
          "doc_id", Dedup.MinHashText("text"), ix, out, batchId = 0L)
      }
      t("ingestBatch 1") {
        Dedup.ingestBatch(docs.filter(col("doc_id") > c2),
          "doc_id", Dedup.MinHashText("text"), ix, out, batchId = 1L)
      }
      t("read result") {
        spark.read.parquet(s"$out/batch_id=0").count()
        spark.read.parquet(s"$out/batch_id=1").count()
      }
    }

    // p6 twin: the SRP embedding loop, same phase split
    (1 to 2).foreach { round =>
      println(s"== p6 round $round ==")
      val emb = graft.sources.Tables.table(spark, dir, "embeddings")
      val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
      val (c1, c2) = (maxId * 3 / 5, maxId * 4 / 5)
      val base = s"/tmp/graft_profile_p6"
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val ix = s"$base/ix"; val out = s"$base/out"
      t("writeSrpIndex") {
        Dedup.writeSrpIndex(emb.filter(col("vec_id") <= c1), "vec_id",
          "embedding", ix, dim = 64)
      }
      t("initIngestLedger")(Dedup.initIngestLedger(spark, ix))
      t("srpIngestBatch 0") {
        Dedup.ingestBatch(
          emb.filter(col("vec_id") > c1 && col("vec_id") <= c2),
          "vec_id", Dedup.SrpVectors("embedding", 0.4), ix, out, batchId = 0L)
      }
      t("srpIngestBatch 1") {
        Dedup.ingestBatch(emb.filter(col("vec_id") > c2),
          "vec_id", Dedup.SrpVectors("embedding", 0.4), ix, out, batchId = 1L)
      }
      t("read result") {
        spark.read.parquet(s"$out/batch_id=0").count()
        spark.read.parquet(s"$out/batch_id=1").count()
      }
    }
    spark.stop()
  }
}
