package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.{Dedup, RefOps, Similarity}
import graft.sources.Tables
import graft.streaming.StreamOps

/** Outcome of a workload's correctness checks. `recall` is the workload's
  * quality figure (share of expected results the program delivered). */
final case class Checks(failures: Seq[String], recall: Double,
                        figures: Map[String, Double])

/** One closed-loop workload. A call is one request of the single client;
  * `call` returns the number of items (rows, docs, queries) it served. */
trait Workload {
  def name: String
  def itemName: String
  /** Seeded inputs and ground truth. Untimed. */
  def generate(spark: SparkSession): Unit
  /** Builds the program state the calls serve, into fresh directories;
    * the state of the last repetition is the one served. */
  def setup(spark: SparkSession, rep: Int): Unit
  /** First requests after set-up (lazy initialisation, JIT). */
  def warmup(spark: SparkSession, tr: Tracer): Unit
  def call(spark: SparkSession, tr: Tracer): Long
  /** True when the workload has no input left for another call. */
  def exhausted: Boolean = false
  /** Untimed validation of the last call's output. Returns false if the
    * output was malformed. */
  def afterCall(): Boolean = true
  def finish(): Unit = ()
  def check(spark: SparkSession): Checks
  /** Workload-specific per-layer figures, read after the run from what
    * the program left on disk. */
  def layerFigures(spark: SparkSession): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, work: File, seed: Long, cpus: Int): Workload =
    name match {
      case "ref_etl" => new RefEtl(work, seed, cpus)
      case "governed_ingest" => new GovernedIngest(work, seed, cpus)
      case "ann_serve" => new AnnServe(work, seed, cpus)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (ref_etl, governed_ingest, ann_serve)")
    }

  /** Regular data files under `dir` (recursively), skipping the `_` and
    * `.` metadata files Hadoop writers leave beside them. */
  def dataFiles(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else Files.walk(dir.toPath).iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).toSeq

  /** Lines of every data file under `dir`, one file in memory at a time. */
  def readLines(dir: File): Iterator[String] =
    dataFiles(dir).iterator.flatMap(f => Files.readAllLines(f.toPath).asScala)
}

/** The reference's three file→file jobs, each iteration: uppercase map,
  * city filter, per-city (sum, count) → average. */
final class RefEtl(work: File, seed: Long, cpus: Int) extends Workload {
  val name = "ref_etl"
  val itemName = "rows"
  private val files = 16
  private val linesPerFile = 25000
  private val in = new File(work, "etl_in")
  private val out = new File(work, "etl_out")
  private var truth: Gen.EtlTruth = _
  /** Client-side seconds of each job of each measured iteration. */
  val jobSeconds: mutable.Map[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap("upper" -> mutable.ArrayBuffer.empty[Double],
      "filter" -> mutable.ArrayBuffer.empty[Double],
      "avg" -> mutable.ArrayBuffer.empty[Double])
  private var recording = false

  def generate(spark: SparkSession): Unit =
    truth = Gen.etl(in, seed, files, linesPerFile, cities = 10000,
      zipfS = 1.1, malformedShare = 0.01)

  def setup(spark: SparkSession, rep: Int): Unit =
    iterate(spark, Tracer.off(spark))

  /** The set-up iterations leave the iteration time still falling (JIT,
    * heap sizing); four more bring it close to steady. */
  def warmup(spark: SparkSession, tr: Tracer): Unit =
    (0 until 4).foreach(_ => iterate(spark, tr))

  def call(spark: SparkSession, tr: Tracer): Long = {
    recording = true
    try iterate(spark, tr) finally recording = false
    truth.totalLines
  }

  /** One iteration on any session (the traced run's one-core pass uses
    * a `local[1]` one). */
  def iterate(spark: SparkSession, tr: Tracer): Unit = {
    val city = truth.excludedCity
    // rolling part files, as the reference's sink writes them
    val parts = cpus
    val roll = 100000L
    def job(label: String)(plan: org.apache.spark.sql.DataFrame
        => org.apache.spark.sql.DataFrame): Unit = {
      val lines = tr.span("sources.Tables.textLines", "sources")(
        Tables.textLines(spark, in.getPath))
      val df = tr.span(s"operators.RefOps.$label", "operators")(plan(lines))
      val t0 = System.nanoTime()
      tr.span(s"sources.Tables.writeTextLines:$label", "sources")(
        Tables.writeTextLines(df, new File(out, label).getPath, parts, roll))
      if (recording) jobSeconds(label) += (System.nanoTime() - t0) / 1e9
    }
    job("upper")(RefOps.upperCaseLines)
    job("filter")(RefOps.filterJob(_, city))
    job("avg")(RefOps.avgSalaryJob(_, city).select(col("line")))
  }

  def check(spark: SparkSession): Checks = {
    val fails = mutable.ArrayBuffer.empty[String]
    def fingerprint(dir: String): (Long, Long) =
      Workload.readLines(new File(out, dir))
        .foldLeft((0L, 0L)) { case ((n, h), l) => (n + 1, h + Gen.lineHash(l)) }
    val (un, uh) = fingerprint("upper")
    if (un != truth.totalLines || uh != truth.upperHash)
      fails += s"upper: $un lines (expected ${truth.totalLines}) or content differs"
    val (fn, fh) = fingerprint("filter")
    if (fn != truth.filterLines || fh != truth.filterHash)
      fails += s"filter: $fn lines, expected ${truth.filterLines} = " +
        s"${truth.totalLines} - ${truth.malformed} malformed - " +
        s"${truth.excludedRows} '${truth.excludedCity}' rows"
    val avg = Workload.readLines(new File(out, "avg")).toSeq
    val matched = avg.count(truth.avgLines.contains)
    if (avg.length != truth.avgLines.size || matched != avg.length)
      fails += s"avg: ${avg.length} lines, $matched match the expected " +
        s"${truth.avgLines.size} \"%s,%.2f,%d\" lines"
    Checks(fails.toSeq, matched.toDouble / truth.avgLines.size, Map.empty)
  }

  override def layerFigures(spark: SparkSession): Map[String, Double] =
    Map("sources.write_files" ->
      jobSeconds.keys.toSeq.map(l => Workload.dataFiles(new File(out, l))
        .size).sum.toDouble)
}

/** The governed write path: a long-running MinHash dedup stream over a
  * persisted index; the client lands the next batch file after the
  * previous batch commits. */
final class GovernedIngest(work: File, seed: Long, cpus: Int)
    extends Workload {
  val name = "governed_ingest"
  val itemName = "docs"
  private val baseDocs = 10000
  private val batchSize = 1000
  private val maxBatches = 10
  private val warmBatches = 2
  private val params = Dedup.MinHashParams(numHashes = 32, bands = 8,
    shingle = 3, threshold = 0.5)
  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))
  private val base = new File(work, "ingest_base")
  private val staging = new File(work, "ingest_staging")
  private val in = new File(work, "ingest_in")
  private val out = new File(work, "ingest_out")
  private val cp = new File(work, "ingest_checkpoint")
  private def ix(rep: Int) = new File(work, s"ingest_index_$rep")
  private var served: File = _
  private var truth: Gen.IngestTruth = _
  private var batches: IndexedSeq[Gen.Batch] = _
  private var landed = 0
  private var query: StreamingQuery = _
  /** Stream batch id → request (root span) id, traced run only. */
  val batchRequest = mutable.Map.empty[Long, Long]

  def generate(spark: SparkSession): Unit = {
    val (baseRows, bs, t) = Gen.ingest(seed, vocab = 200000, baseDocs,
      maxBatches, batchSize, plantedShare = 0.30, withinShare = 0.05)
    truth = t; batches = bs
    val sc = spark.sparkContext
    spark.createDataFrame(sc.parallelize(baseRows.map(Row.fromTuple), cpus),
      schema).write.parquet(base.getPath)
    // every batch as one parquet file staged under b=<i>/, landed later
    // by an atomic rename, the way a producer publishes a file
    val rows = bs.zipWithIndex.flatMap { case (b, i) =>
      b.docs.map { case (id, text) => Row(id, text, i) } }
    spark.createDataFrame(sc.parallelize(rows, cpus),
        schema.add("b", IntegerType))
      .repartition(col("b")).write.partitionBy("b").parquet(staging.getPath)
  }

  def setup(spark: SparkSession, rep: Int): Unit = {
    served = ix(rep)
    Dedup.writeSignatureIndex(spark.read.parquet(base.getPath), "doc_id",
      "text", served.getPath, params)
  }

  /** Compacts the served index once, as a maintenance job would: the
    * stream starts from a one-file signature table, so its in-loop
    * auto-compaction (fragmentation factor 8) first fires on the seventh
    * batch, past the end of a short measured window. */
  def warmup(spark: SparkSession, tr: Tracer): Unit = {
    Dedup.compactSignatureIndex(spark, served.getPath)
    in.mkdirs()
    query = StreamOps.indexedDedupStream(spark, in.getPath, schema,
      "doc_id", "text", served.getPath, out.getPath, cp.getPath,
      trigger = Trigger.ProcessingTime(0L), autoCompact = true)
    (0 until warmBatches).foreach(_ => call(spark, tr))
  }

  private def land(i: Int): Unit = {
    val f = Workload.dataFiles(new File(staging, s"b=$i"))
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(f.toPath, new File(in, f"batch-$i%05d.parquet").toPath,
      StandardCopyOption.ATOMIC_MOVE)
  }

  def call(spark: SparkSession, tr: Tracer): Long = {
    require(!exhausted, s"all $landed staged batches used")
    val i = landed
    if (tr.enabled) batchRequest(i.toLong) = tr.current
    tr.span("bench.land_file", "bench")(land(i))
    landed += 1
    tr.span("streaming.StreamOps.indexedDedupStream", "streaming")(
      query.processAllAvailable())
    query.exception.foreach(e => throw e)
    batches(i).docs.length
  }

  override def exhausted: Boolean = landed >= batches.length

  override def finish(): Unit = if (query != null) query.stop()

  def check(spark: SparkSession): Checks = {
    val fails = mutable.ArrayBuffer.empty[String]
    val landedIds = batches.take(landed).flatMap(_.docs.map(_._1)).toSet
    val kept = spark.read.parquet(out.getPath).select("doc_id").collect()
      .map(_.getLong(0))
    val keptSet = kept.toSet
    if (kept.length != keptSet.size) fails += "output holds a doc twice"
    if (!keptSet.subsetOf(landedIds)) fails += "output holds unknown docs"
    val planted = truth.planted.intersect(landedIds)
    val within = truth.withinDup.intersect(landedIds)
    val novel = truth.novel.intersect(landedIds)
    val recall = planted.count(!keptSet(_)).toDouble / planted.size
    val novelKept = novel.count(keptSet).toDouble / novel.size
    val withinDropped = within.count(!keptSet(_))
    if (novelKept < 1.0)
      fails += s"${novel.size - novel.count(keptSet)} novel docs dropped"
    if (withinDropped != within.size)
      fails += s"${within.size - withinDropped} within-batch duplicates kept"
    if (recall < 0.5) fails += s"planted-duplicate recall $recall < 0.5"
    // the ledger watermark advances monotonically, batch after batch
    val ledger = spark.read.parquet(s"${served.getPath}/ingest_ledger")
      .select("batch_id", "watermark_before", "watermark_after")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val chained = ledger.sliding(2).forall {
      case Array(a, b) => b._2 == a._3 && b._3 >= b._2 && b._1 == a._1 + 1
      case _ => true
    }
    if (!chained) fails += "ingest ledger watermark is not monotone"
    if (ledger.length != landed + 1)
      fails += s"ledger has ${ledger.length} rows for $landed batches"
    if (ledger.nonEmpty && ledger.last._3 != landedIds.max)
      fails += s"final watermark ${ledger.last._3} != ${landedIds.max}"
    Checks(fails.toSeq, recall, Map("novel_kept" -> novelKept,
      "novel_share" -> kept.length.toDouble / landedIds.size))
  }

  override def layerFigures(spark: SparkSession): Map[String, Double] = {
    val files = Workload.dataFiles(served)
    val indexed = baseDocs + spark.read.parquet(out.getPath).count()
    Map("operators.dedup.index_files" -> files.size.toDouble,
      "operators.dedup.index_bytes_per_doc" ->
        files.map(_.length).sum.toDouble / indexed)
  }
}

/** The read-only serving path: repeated top-10 probes of a persisted IVF
  * layout with 32-query batches. */
final class AnnServe(work: File, seed: Long, cpus: Int) extends Workload {
  val name = "ann_serve"
  val itemName = "queries"
  private val n = 20000
  private val dim = 64
  private val poolSize = 512
  val batch = 32
  val k = 10
  private val nprobe = 8
  private val corpusDir = new File(work, "ann_corpus")
  private def layout(rep: Int) = new File(work, s"ann_layout_$rep")
  private var served: File = _
  private var queries: Array[Array[Float]] = _
  private var exact: Array[Array[Long]] = _
  private val qSchema = StructType(Seq(StructField("qid", LongType),
    StructField("qvec", ArrayType(FloatType, containsNull = false))))
  private var next = 0
  private var lastQ: Range = _
  private var lastRows: Array[Row] = _
  private var hits = 0L
  private var slots = 0L
  /** Query ids start here, disjoint from the corpus ids 0 until n. */
  private val qidBase = 1L << 40

  def generate(spark: SparkSession): Unit = {
    val (vecs, qs) = Gen.vectors(seed, n, dim, clusters = 500, sigma = 0.5,
      queries = poolSize)
    queries = qs
    exact = Gen.exactTopK(vecs, qs, k, cpus)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    val rows = vecs.indices.map(i => Row(i.toLong, vecs(i).toSeq))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, cpus), schema)
      .write.parquet(corpusDir.getPath)
  }

  def setup(spark: SparkSession, rep: Int): Unit = {
    served = layout(rep)
    Similarity.writeIvfLayoutAuto(spark.read.parquet(corpusDir.getPath),
      served.getPath, "id", "embedding")
  }

  def warmup(spark: SparkSession, tr: Tracer): Unit = {
    (0 until 3).foreach { _ => call(spark, tr); afterCall() }
    hits = 0; slots = 0
  }

  def call(spark: SparkSession, tr: Tracer): Long = {
    val start = (next % (poolSize / batch)) * batch
    next += 1
    lastQ = start until start + batch
    val rows = lastQ.map(i => Row(qidBase + i, queries(i).toSeq))
    lastRows = tr.span("operators.Similarity.ivfTopKIndexed", "operators") {
      val qdf = spark.createDataFrame(rows.asJava, qSchema)
      Similarity.ivfTopKIndexed(spark, served.getPath, qdf, "qid", "qvec",
        k, nprobe).collect()
    }
    batch
  }

  /** Every query gets k distinct ids ranked 1..k; recall against the
    * exact neighbours accumulates over the measured calls. */
  override def afterCall(): Boolean = {
    val byQ = lastRows.groupBy(_.getAs[Long]("qid"))
    val ok = byQ.size == lastQ.size && lastQ.forall { i =>
      byQ.get(qidBase + i).exists { rs =>
        val ids = rs.map(_.getAs[Long]("id"))
        rs.length == k && ids.distinct.length == k &&
          rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to k)
      }
    }
    if (ok) lastQ.foreach { i =>
      val got = byQ(qidBase + i).map(_.getAs[Long]("id")).toSet
      hits += exact(i).count(got)
      slots += k
    }
    ok
  }

  def check(spark: SparkSession): Checks = {
    val recall = if (slots == 0) 0.0 else hits.toDouble / slots
    val fails =
      if (recall < 0.5) Seq(s"recall@$k $recall < 0.5 against exact top-$k")
      else Nil
    Checks(fails, recall, Map.empty)
  }
}
