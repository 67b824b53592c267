package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark harness. One closed loop, one client thread:
  *
  *   perfbench.Main --workload <ref_etl|governed_ingest|ann_serve>
  *                  --seed <n> --seconds <s> --trace <0|1>
  *                  --work <empty dir> --cpus <n>
  *
  * Generates seeded inputs, builds the program state (several times; the
  * median is the set-up time), warms up, then calls the library for
  * `--seconds`. `--trace 1` measures the same untraced loop first, then
  * a second loop with spans and public Spark listeners, and reports the
  * per-layer metrics instead of the end-to-end ones. The last stdout line
  * is one JSON object.
  */
object Main {

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "items_per_s" -> "1/s", "call_s_p50" -> "s",
    "call_s_tail" -> "s", "heap_peak_mb" -> "MB", "result_recall" -> "share")

  val perLayer: Seq[(String, String)] = Seq(
    "engine.jobs_per_call" -> "count", "engine.tasks_per_call" -> "count",
    "engine.driver_s_per_call" -> "s", "engine.self_s_per_call" -> "s",
    "engine.gc_s" -> "s", "engine.speedup_vs_1core" -> "ratio",
    "bench.self_s_per_call" -> "s", "sources.self_s_per_call" -> "s",
    "operators.self_s_per_call" -> "s", "streaming.self_s_per_call" -> "s",
    "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.overhead_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "functions.task_cpu_s" -> "s",
    "sources.scan_bytes" -> "B", "sources.scan_records" -> "count",
    "sources.write_bytes" -> "B", "sources.write_files" -> "count",
    "operators.refops.shuffle_bytes" -> "B",
    "operators.refops.task_skew" -> "ratio",
    "operators.refops.upper_job_s_p50" -> "s",
    "operators.refops.filter_job_s_p50" -> "s",
    "operators.refops.avg_job_s_p50" -> "s",
    "operators.dedup.shuffle_bytes_per_batch" -> "B",
    "operators.dedup.novel_share" -> "share",
    "operators.dedup.novel_kept" -> "share",
    "operators.dedup.index_files" -> "count",
    "operators.dedup.index_bytes_per_doc" -> "B",
    "operators.similarity.vectors_scanned_per_query" -> "count",
    "operators.similarity.candidates_per_result" -> "count",
    "plans.persisted_rdds_after_call" -> "count",
    "plans.storage_bytes_after_call" -> "B",
    "setup.session_s" -> "s", "setup.index_build_s" -> "s",
    "setup.layout_build_s" -> "s",
    "trace.call_s_p50_traced" -> "s", "trace.overhead_share" -> "share",
    "trace.spans" -> "count")

  /** Set-up repetitions per run; `setup_s` takes their median. */
  private val setupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: File, cpus: Int)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")), need("cpus").toInt)
  }

  private def log(msg: String): Unit = println(s"[perfbench] $msg")

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; secs(t0)
  }

  def session(master: String, shufflePartitions: Int, work: File)
      : SparkSession = {
    val s = graft.GraftSession.builder(master, shufflePartitions)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s
  }

  /** Old-generation occupancy after its most recent collection, in MiB
    * (read right after a full GC: the live heap the run retained). */
  private def oldGenMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum /
      1048576.0

  /** Median of three full-GC readings of the old generation: a single
    * reading can catch objects in flight in the background threads. */
  private def liveHeapMb(): Double =
    Stats.median((0 until 3).map { _ =>
      System.gc(); val mb = oldGenMb(); Thread.sleep(100); mb
    })

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  final case class Phase(callS: Seq[Double], items: Long, attempted: Int,
                         failed: Int)

  /** The closed loop: the next call starts when the previous one ends. */
  private def measure(spark: SparkSession, wl: Workload, tr: Tracer,
                      seconds: Int): Phase = {
    val calls = mutable.ArrayBuffer.empty[Double]
    var items = 0L; var attempted = 0; var failed = 0
    val deadline = System.nanoTime() + seconds * 1000000000L
    var broken = false
    while (!broken && System.nanoTime() < deadline && !wl.exhausted) {
      attempted += 1
      val t0 = System.nanoTime()
      try {
        val n = tr.root(s"${wl.name}.call")(wl.call(spark, tr))
        calls += secs(t0)
        items += n
        if (!wl.afterCall()) failed += 1
      } catch {
        case NonFatal(e) =>
          failed += 1; broken = true
          System.err.println(s"[perfbench] call $attempted failed:")
          e.printStackTrace()
      }
    }
    Phase(calls.toSeq, items, attempted, failed)
  }

  def main(argv: Array[String]): Unit =
    try run(parse(argv))
    catch {
      case NonFatal(e) =>
        System.err.println("[perfbench] run aborted:")
        e.printStackTrace()
        sys.exit(2)
    }

  private def run(a: Args): Unit = {
    a.work.mkdirs()
    log(s"workload=${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0} cpus=${a.cpus} " +
      s"heap_max_mb=${Runtime.getRuntime.maxMemory / 1048576}")
    val wl = Workload(a.workload, a.work, a.seed, a.cpus)
    val master = s"local[${a.cpus}]"

    val t0 = System.nanoTime()
    var spark = session(master, a.cpus, a.work)
    val sessionS = secs(t0)
    val genS = timed(wl.generate(spark))
    val builds = (0 until setupReps).map(r => timed(wl.setup(spark, r)))
    val warmS = timed(wl.warmup(spark, Tracer.off(spark)))
    val setupS = sessionS + Stats.median(builds) + warmS
    log(f"setup: session $sessionS%.3f s, builds ${builds.map(b => f"$b%.3f")
      .mkString("[", ", ", "]")} s, warm-up $warmS%.3f s " +
      f"(inputs generated in $genS%.3f s, not counted)")

    // untraced loop: the end-to-end numbers
    val plain = measure(spark, wl, Tracer.off(spark), a.seconds)
    val heapMb = liveHeapMb()

    // traced loop: spans + public listeners
    var traced: Phase = null
    var tracer: Tracer = null
    var listener: EngineListener = null
    var gcS, persisted, storage = 0.0
    if (a.trace) {
      listener = new EngineListener
      spark.sparkContext.addSparkListener(listener)
      spark.streams.addListener(listener.streaming)
      tracer = new Tracer(spark.sparkContext, enabled = true)
      val gc0 = gcSeconds()
      traced = measure(spark, wl, tracer, a.seconds)
      gcS = gcSeconds() - gc0
      persisted = spark.sparkContext.getPersistentRDDs.size.toDouble
      storage = spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum.toDouble
      listener.quiesce()
    }

    wl.finish()
    val checks = wl.check(spark)
    val figures = wl.layerFigures(spark)
    checks.failures.foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))

    // scaling baseline: the same ETL iteration on one core
    var speedup = 0.0
    if (a.trace) wl match {
      case etl: RefEtl if plain.callS.nonEmpty =>
        spark.stop()
        spark = session("local[1]", 1, a.work)
        etl.iterate(spark, Tracer.off(spark))
        val one = (0 until 2).map(_ => timed(etl.iterate(spark, Tracer.off(spark))))
        speedup = Stats.median(one) / Stats.percentile(plain.callS, 50)
        log(f"one-core iteration ${Stats.median(one)}%.3f s, speed-up $speedup%.2f")
      case _ =>
    }

    val attempted = plain.attempted + Option(traced).map(_.attempted).getOrElse(0)
    val failed = plain.failed + Option(traced).map(_.failed).getOrElse(0) +
      checks.failures.size
    val correct = failed == 0 && plain.callS.nonEmpty

    // nearest-rank: with few samples one slow call cannot move it
    def p50(xs: Seq[Double]) =
      if (xs.isEmpty) 0.0 else Stats.percentile(xs, 50)
    val (tailP, tailV) =
      if (plain.callS.isEmpty) (0, 0.0) else Stats.tail(plain.callS)
    val itemsPerS = if (plain.callS.isEmpty) 0.0 else plain.items / plain.callS.sum
    val e2e = Map("setup_s" -> setupS, "items_per_s" -> itemsPerS,
      "call_s_p50" -> p50(plain.callS), "call_s_tail" -> tailV,
      "heap_peak_mb" -> heapMb, "result_recall" -> checks.recall)
    log(s"calls=${plain.callS.size} ${wl.itemName}/call=" +
      s"${if (plain.callS.isEmpty) 0 else plain.items / plain.callS.size} " +
      s"call_s_tail=p$tailP of n=${plain.callS.size} calls")
    log(workloadNames(wl, e2e, plain, checks, a.cpus))
    log(s"call seconds: ${plain.callS.map(c => f"$c%.3f").mkString(" ")}")

    val metrics =
      if (!a.trace) e2e
      else {
        val m = layerMetrics(wl, tracer, listener, checks, figures)
        val tracedP50 = p50(traced.callS)
        m ++ Map(
          "engine.gc_s" -> gcS / math.max(1, traced.callS.size),
          "engine.speedup_vs_1core" -> speedup,
          "plans.persisted_rdds_after_call" -> persisted,
          "plans.storage_bytes_after_call" -> storage,
          "setup.session_s" -> sessionS,
          "setup.index_build_s" ->
            (if (wl.isInstanceOf[GovernedIngest]) Stats.median(builds) else 0.0),
          "setup.layout_build_s" ->
            (if (wl.isInstanceOf[AnnServe]) Stats.median(builds) else 0.0),
          "trace.call_s_p50_traced" -> tracedP50,
          "trace.overhead_share" ->
            (if (p50(plain.callS) > 0) tracedP50 / p50(plain.callS) - 1 else 0.0))
      }
    if (a.trace) {
      val path = new File(a.work, s"spans-${wl.name}.jsonl")
      val w = new PrintWriter(path, "UTF-8")
      try allSpans(wl, tracer, listener).foreach(s => w.println(s.json))
      finally w.close()
      log(s"spans written to ${path.getName} in the work directory; " +
        f"tracing overhead on call_s_p50: ${metrics("trace.overhead_share") * 100}%.1f%%")
    }
    spark.stop()

    val names = if (a.trace) perLayer else endToEnd
    val body = names.map { case (n, unit) =>
      val v = metrics.getOrElse(n, 0.0)
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": $x, "unit": "$unit"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$body}}""")
    sys.exit(if (correct) 0 else 1)
  }

  /** The end-to-end figures under the workload-specific names of the
    * benchmark's design table, for the log. */
  private def workloadNames(wl: Workload, e2e: Map[String, Double], ph: Phase,
                         c: Checks, cpus: Int): String = {
    val common = f"setup_s=${e2e("setup_s")}%.4f s " +
      f"failed_share=${ph.failed}/${ph.attempted} " +
      f"heap_peak_mb=${e2e("heap_peak_mb")}%.1f MB"
    val specific = wl match {
      case etl: RefEtl =>
        def j(l: String) = if (etl.jobSeconds(l).isEmpty) 0.0
                           else Stats.median(etl.jobSeconds(l).toSeq)
        f"etl_rows_per_s=${e2e("items_per_s")}%.1f 1/s " +
          f"upper_job_s_p50=${j("upper")}%.4f s filter_job_s_p50=" +
          f"${j("filter")}%.4f s avg_job_s_p50=${j("avg")}%.4f s"
      case _: GovernedIngest =>
        f"ingest_docs_per_s=${e2e("items_per_s")}%.1f 1/s " +
          f"ingest_batch_s_p50=${e2e("call_s_p50")}%.4f s " +
          f"ingest_batch_s_tail=${e2e("call_s_tail")}%.4f s " +
          f"ingest_dup_recall=${c.recall}%.4f share " +
          f"ingest_novel_kept=${c.figures.getOrElse("novel_kept", 0.0)}%.4f share"
      case _: AnnServe =>
        f"ann_queries_per_s=${e2e("items_per_s")}%.1f 1/s " +
          f"ann_call_s_p50=${e2e("call_s_p50")}%.4f s " +
          f"ann_call_s_tail=${e2e("call_s_tail")}%.4f s " +
          f"ann_recall_at_10=${c.recall}%.4f share"
    }
    s"${wl.name}: $specific $common (local[$cpus], 1 client, closed loop)"
  }

  /** Request id of a stage or job: its job group names the span that
    * submitted it; stream jobs carry the micro-batch id instead. */
  private def requestOf(wl: Workload, byId: Map[Long, Span])
                       (group: String, batch: Long): Option[Long] =
    if (group.startsWith("pb-")) byId.get(group.drop(3).toLong).map(_.request)
    else wl match {
      case g: GovernedIngest if batch >= 0 => g.batchRequest.get(batch)
      case _ => None
    }

  /** Client spans plus one engine span per Spark job, parented to the
    * call span that caused it. */
  private def allSpans(wl: Workload, tr: Tracer, l: EngineListener)
      : Seq[Span] = {
    val client = tr.spans.toSeq
    val byId = client.map(s => s.id -> s).toMap
    val streamCall = client.filter(_.layer == "streaming")
      .map(s => s.request -> s.id).toMap
    val jobs = l.jobs.asScala.toSeq.flatMap { j =>
      val parent =
        if (j.group.startsWith("pb-")) byId.get(j.group.drop(3).toLong).map(_.id)
        else requestOf(wl, byId)(j.group, j.batchId).flatMap(streamCall.get)
      parent.map { p =>
        Span(1000000000L + j.jobId, s"job-${j.jobId}", "engine", p,
          byId(p).request, j.startMs * 1000000L, j.endMs * 1000000L)
      }
    }
    client ++ jobs
  }

  private def layerMetrics(wl: Workload, tr: Tracer, l: EngineListener,
                           c: Checks, figures: Map[String, Double])
      : Map[String, Double] = {
    val spans = allSpans(wl, tr, l)
    val byId = tr.spans.map(s => s.id -> s).toMap
    val roots = spans.filter(_.parent == 0)
    val n = math.max(1, roots.size).toDouble
    val jobSpans = spans.filter(_.layer == "engine")
    val stages = l.stages.asScala.toSeq
      .filter(s => requestOf(wl, byId)(s.group, s.batchId).isDefined)
    val self = Trace.selfTimeByLayer(spans)
    def selfS(layer: String) = self.getOrElse(layer, 0L) / 1e9 / n
    val jobsByReq = jobSpans.groupBy(_.request)
    val driverS = roots.map { r =>
      r.dur - Trace.covered(jobsByReq.getOrElse(r.id, Nil)
        .map(j => (j.start, j.end)), r.start, r.end)
    }.sum / 1e9 / n
    def sum(f: StageRec => Long) = stages.map(f).sum.toDouble
    val m = mutable.Map[String, Double](
      "engine.jobs_per_call" -> jobSpans.size / n,
      "engine.tasks_per_call" -> sum(_.tasks) / n,
      "engine.driver_s_per_call" -> driverS,
      "engine.self_s_per_call" -> selfS("engine"),
      "bench.self_s_per_call" -> selfS("bench"),
      "sources.self_s_per_call" -> selfS("sources"),
      "operators.self_s_per_call" -> selfS("operators"),
      "streaming.self_s_per_call" -> selfS("streaming"),
      "functions.task_cpu_s" -> sum(_.cpuNs) / 1e9 / n,
      "sources.scan_bytes" -> sum(_.inBytes) / n,
      "sources.scan_records" -> sum(_.inRecords) / n,
      "sources.write_bytes" -> sum(_.outBytes) / n,
      "trace.spans" -> spans.size.toDouble)
    wl match {
      case etl: RefEtl =>
        val avgSpans = tr.spans.filter(_.name == "sources.Tables.writeTextLines:avg")
          .map(s => s"pb-${s.id}").toSet
        val avgStages = stages.filter(s => avgSpans(s.group))
        m("operators.refops.shuffle_bytes") = avgStages.map(_.shuffleWrite).sum / n
        val skews = avgStages.filter(s => s.shuffleRead > 0 && s.taskMs.nonEmpty)
          .map(s => s.taskMs.max / math.max(1.0, Stats.median(s.taskMs.map(_.toDouble))))
        m("operators.refops.task_skew") = if (skews.isEmpty) 0.0 else Stats.median(skews)
        Seq("upper", "filter", "avg").foreach { j =>
          m(s"operators.refops.${j}_job_s_p50") =
            if (etl.jobSeconds(j).isEmpty) 0.0 else Stats.median(etl.jobSeconds(j).toSeq)
        }
      case g: GovernedIngest =>
        m("operators.dedup.shuffle_bytes_per_batch") = sum(_.shuffleWrite) / n
        m("operators.dedup.novel_share") = c.figures.getOrElse("novel_share", 0.0)
        m("operators.dedup.novel_kept") = c.figures.getOrElse("novel_kept", 0.0)
        val mine = g.batchRequest.keySet
        val prog = l.progress.asScala.toSeq.filter(p => mine(p.batchId) &&
          p.inputRows > 0 && roots.exists(_.id == g.batchRequest(p.batchId)))
        def d(k: String) = Stats.median(prog.map(_.durations.getOrElse(k, 0L).toDouble))
        if (prog.nonEmpty) {
          m("streaming.trigger_ms") = d("triggerExecution")
          m("streaming.add_batch_ms") = d("addBatch")
          m("streaming.overhead_ms") = Stats.median(prog.map(p =>
            (p.durations.getOrElse("triggerExecution", 0L) -
              p.durations.getOrElse("addBatch", 0L)).toDouble))
          m("streaming.wal_commit_ms") = d("walCommit")
        }
      case a: AnnServe =>
        val queries = n * a.batch
        m("operators.similarity.vectors_scanned_per_query") = sum(_.inRecords) / queries
        m("operators.similarity.candidates_per_result") = sum(_.inRecords) / (queries * a.k)
    }
    m ++= figures
    m.toMap
  }
}
