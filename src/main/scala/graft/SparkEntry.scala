package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{AnnModels, GraftFunctions, TextFunctions}
import graft.operators.{Analytics, AsOf, Clustering, Dedup, Diff, Multimodal, Percentiles, Pipelines, RefOps, Sampling, Sessionize, Similarity, Sketches, Skew, TextOps, TimeSeries}
import graft.sources.{Layouts, Tables}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Naming: r* = reference-parity pipelines (SURVEY.md §2.1), q* = star-schema
  * SQL surface, t* = text analysis, d* = dedup, s* = similarity search,
  * m* = multimodal, a* = approximate sketches (rows-only check).
  *
  * Determinism rules (oracle hash-compare): every query ends in an explicit
  * total ORDER BY with a unique tie-breaker; computed integers are cast to
  * bigint (DuckDB's default integer width); doubles that pass through
  * arithmetic are rounded (2 dp for money sums, 4-6 dp for ratios) in BOTH
  * engines so partition-order ULP noise cannot flip the hash.
  */
object SparkEntry {

  private def T(s: SparkSession, dir: String, n: String): DataFrame = {
    GraftFunctions.register(s)
    if (n == "events") Tables.events(s, dir) else Tables.table(s, dir, n)
  }

  /** revenue expression shared by q3/q5 */
  private def revenue: Column =
    col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** q32 per-language keep fractions — single source for the query AND
    * its oracle CASE expression, so the two cannot drift.
    */
  private val StratifiedFractions: ListMap[String, Double] =
    ListMap("en" -> 0.5, "fr" -> 0.25, "es" -> 0.2, "de" -> 0.1)
  private val StratifiedDefault = 0.05

  /** q59 per-decile keep rates (ascending quality; decile 10 = best) —
    * single source for the query AND its oracle CASE expression.
    */
  private val QualityMixRates: Seq[Double] =
    Seq(0.02, 0.05, 0.1, 0.15, 0.2, 0.3, 0.4, 0.6, 0.8, 1.0)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q7_flagship_nation_avg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(

    // ---- reference-parity tier (SURVEY.md §2.1) ----

    // M1 uppercase map (reference S3ReadWriteExample.java:26)
    "r1_uppercase" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), upper(col("text")).as("text_upper"))
        .orderBy(col("doc_id"))),

    // F1 predicate filter (reference S3FlinkFilterJacksonville.java:66-71),
    // on the schema'd path (idiomatic tier)
    "r2_filter_city" -> ((s, dir) =>
      T(s, dir, "customer")
        .filter(col("c_mktsegment") =!= "BUILDING")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))),

    // K1+A1 keyed (sum,count)->avg (reference S3FlinkAverageSalaryByCity)
    "r3_avg_by_segment" -> ((s, dir) =>
      T(s, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(round(sum(col("c_acctbal")), 2).as("sum_bal"),
          count(lit(1)).as("cnt"),
          TextFunctions.roundHalfUp(avg(col("c_acctbal")), 4).as("avg_bal"))
        .orderBy(col("c_mktsegment"))),

    // M2+F1+M3 literal pipeline: build line -> split(",") -> positional
    // filter -> re-join (reference S3FlinkFilterJacksonville.main)
    "r4_csv_roundtrip" -> ((s, dir) => {
      val lines = T(s, dir, "customer")
        .select(concat_ws(",", col("c_custkey"), col("c_name"),
          col("c_nationkey"), col("c_mktsegment")).as("value"))
      RefOps.filterJob(lines, "BUILDING").orderBy(col("value"))
    }),

    // gzip-compressed text round-trip: the reference's S1 text source
    // reads compressed objects transparently; here the corpus text is
    // WRITTEN as real .txt.gz part files, read back through Hadoop's
    // codec discovery, and uppercased (the M1 map) — the full
    // compressed-ingest path, not just the format flag. Fixture text is
    // newline-free by construction, so line-splitting is lossless.
    "r8_gzip_text_roundtrip" -> ((s, dir) => {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_gztext_" +
        java.lang.Integer.toHexString(dir.hashCode)
      T(s, dir, "documents").select(col("text").as("value"))
        .write.mode("overwrite").option("compression", "gzip").text(out)
      s.read.text(out)
        .select(upper(col("value")).as("text_upper"))
        .orderBy(col("text_upper"))
    }),

    // JSONL round-trip — the de-facto interchange format of LLM corpora
    // (one JSON object per line). The corpus is WRITTEN as real JSONL
    // files and read back under an explicit schema (no inference job);
    // the oracle is the original table, so a hash match proves the
    // write→escape→parse cycle is byte-faithful for every row. bigint +
    // string columns only by design: JSON float round-trips are
    // representation-hazardous and belong to columnar formats.
    "r6_jsonl_roundtrip" -> ((s, dir) => {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_jsonl_" +
        java.lang.Integer.toHexString(dir.hashCode)
      T(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .write.mode("overwrite").json(out)
      s.read.schema(
          "doc_id BIGINT, text STRING, lang STRING, source STRING, " +
            "n_chars BIGINT")
        .json(out)
        .orderBy(col("doc_id"))
    }),

    // ORC round-trip — Spark's second built-in columnar format. The
    // customer table is written as ORC, read back, and aggregated with a
    // FILTER that must reach the ORC scan (predicate pushdown exercises
    // the format's own row-group statistics, not just the bytes).
    "r7_orc_roundtrip" -> ((s, dir) => {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_orc_" +
        java.lang.Integer.toHexString(dir.hashCode)
      T(s, dir, "customer").write.mode("overwrite").orc(out)
      s.read.orc(out)
        .filter(col("c_mktsegment") =!= "BUILDING")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"),
          TextFunctions.roundHalfUp(sum(col("c_acctbal")), 2).as("sum_bal"))
        .orderBy(col("c_mktsegment"))
    }),

    // K1+A1 on the TYPED Dataset API: case-class Encoder, groupByKey, the
    // Aggregator whose (sum, count) buffer mirrors the reference's
    // SalaryReducer — compile-time types, same partial->merge->finish
    // decomposition as the untyped plan
    "r5_typed_avg" -> ((s, dir) => {
      import s.implicits._
      val avgCol = graft.functions.TypedAggregators.SumCountAvg.toColumn
      T(s, dir, "customer")
        .select(col("c_mktsegment").as("seg"), col("c_acctbal").as("bal"))
        .as[(String, Double)]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(avgCol.name("avg_raw"))
        .toDF("c_mktsegment", "avg_raw")
        .select(col("c_mktsegment"),
          TextFunctions.roundHalfUp(col("avg_raw"), 4).as("avg_bal"))
        .orderBy(col("c_mktsegment"))
    }),

    // ---- star-schema SQL surface ----

    // scan + filter (pushed) + grouped agg with decomposable sum/avg/count
    "q1_pricing_summary" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .filter(expr("l_shipdate <= TIMESTAMP_NTZ '1998-09-02 00:00:00'"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(revenue), 2).as("sum_disc_price"),
          round(sum(revenue * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
          TextFunctions.roundHalfUp(avg(col("l_quantity")), 4).as("avg_qty"),
          TextFunctions.roundHalfUp(avg(col("l_extendedprice")), 4).as("avg_price"),
          TextFunctions.roundHalfUp(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // 3-way join + agg + top-n (broadcastable dims broadcast by AQE)
    "q3_top_orders" -> ((s, dir) => {
      val c = T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = T(s, dir, "orders")
        .filter(expr("o_orderdate < TIMESTAMP_NTZ '1997-01-01 00:00:00'"))
      val l = T(s, dir, "lineitem")
        .filter(expr("l_shipdate > TIMESTAMP_NTZ '1997-01-01 00:00:00'"))
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum(revenue), 2).as("revenue"))
        .select(col("l_orderkey"),
          unix_timestamp(col("o_orderdate").cast("timestamp")).as("o_date_epoch"),
          col("o_orderpriority"), col("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // 6-way star join, dims broadcast, grouped revenue
    "q5_region_revenue" -> ((s, dir) => {
      val r = T(s, dir, "region").filter(col("r_name") === "EUROPE")
      val n = T(s, dir, "nation")
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders")
        .filter(expr("o_orderdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00'") &&
          expr("o_orderdate < TIMESTAMP_NTZ '1998-01-01 00:00:00'"))
      val l = T(s, dir, "lineitem")
      val sup = T(s, dir, "supplier")
      broadcast(r).join(n, col("r_regionkey") === col("n_regionkey"))
        .join(c, col("n_nationkey") === col("c_nationkey"))
        .join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(revenue), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // flagship: the reference's avg-salary-by-city pattern on the star
    // schema (SURVEY.md §7.2) — join, exclusion filter, keyed avg
    "q7_flagship_nation_avg" -> ((s, dir) => {
      val o = T(s, dir, "orders")
      val c = T(s, dir, "customer")
      val n = T(s, dir, "nation").filter(col("n_name") =!= "NATION_13")
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("o_totalprice")), 2).as("sum_price"),
          count(lit(1)).as("cnt"),
          TextFunctions.roundHalfUp(avg(col("o_totalprice")), 4).as("avg_price"))
        .orderBy(col("n_name"))
    }),

    // ranking window function, per-group top-k
    "q8_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      T(s, dir, "customer")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"), col("rn"))
        .orderBy(col("c_mktsegment"), col("rn"))
    }),

    // anti join (NOT EXISTS) — against big orders so the result is
    // non-empty at every scale factor (every customer has SOME order)
    "q9_customers_without_orders" -> ((s, dir) => {
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy(col("c_custkey"))
    }),

    // semi join (EXISTS)
    "q10_customers_with_big_orders" -> ((s, dir) => {
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // grouping sets / rollup
    "q11_rollup_flag_status" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // event-time bucketing on the events stream table (ts = raw nanos)
    "q12_events_hourly" -> ((s, dir) => {
      val secs = expr("ts div 1000000000")
      T(s, dir, "events")
        .withColumn("hour_epoch", (secs - pmod(secs, lit(3600L))))
        .groupBy(col("hour_epoch"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("hour_epoch"), col("event_type"))
    }),

    // grouped top-k through the bounded TopKByScore aggregate (the
    // general analytics shape of the similarity ranker): map-side
    // partials carry <= k rows per group, unlike the window formulation
    // that shuffles every row before discarding (q8 keeps the window
    // twin). Oracle = the row_number formulation.
    "q47_grouped_topk" -> ((s, dir) => {
      GraftFunctions.register(s)
      T(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(GraftFunctions.topK(col("o_totalprice"), col("o_orderkey"), 3)
          .as("tk"))
        .select(col("o_orderpriority"), posexplode(col("tk")).as(Seq("r0", "e")))
        .select(col("o_orderpriority"), (col("r0") + 1).cast("long").as("rank"),
          col("e.id").as("o_orderkey"),
          round(col("e.score"), 2).as("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("rank"))
    }),

    // null-semantics battery: nulls synthesized deterministically, then
    // coalesce / nullif / null-safe equality / conditional defaults /
    // null-skipping aggregation — the ANSI corner cases that silently
    // diverge between engines if untested
    "q49_null_battery" -> ((s, dir) => {
      val c = T(s, dir, "customer").filter(col("c_custkey") < 300)
        .withColumn("bal_n", when(col("c_custkey") % 3 === 0, lit(null))
          .otherwise(col("c_acctbal")))
        .withColumn("seg_n", when(col("c_custkey") % 5 === 0, lit(null))
          .otherwise(col("c_mktsegment")))
      c.select(
        col("c_custkey"),
        coalesce(col("bal_n"), lit(-1.0)).as("bal_or_default"),
        nullif(col("seg_n"), lit("BUILDING")).as("seg_nullif"),
        (col("bal_n") <=> col("c_acctbal")).cast("int").as("bal_nse"),
        when(col("seg_n").isNotNull, lit("has")).otherwise(lit("none"))
          .as("seg_nvl2"),
        col("bal_n").isNull.cast("int").as("bal_is_null"),
        coalesce(col("seg_n"), col("c_name")).as("seg_or_name"))
        .orderBy(col("c_custkey"))
    }),

    // weighted sampling without replacement (Efraimidis–Spirakis A-Res
    // with hash-derived uniforms): 5 docs per language, selection odds
    // proportional to document length — through the bounded top-k
    // aggregate, so the shuffle carries O(k·partitions) rows
    "q50_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(T(s, dir, "documents"), "doc_id", "n_chars",
        "lang", k = 5)),

    // statistical-aggregate battery: correlation, covariance, variance /
    // stddev (population + sample), skewness, kurtosis, and the regr_*
    // linear-fit family — every one a decomposable one-pass aggregate;
    // the oracle rebuilds skew/kurt from raw central-moment sums because
    // DuckDB's built-ins apply sample-bias corrections Spark's don't
    "q51_stats_battery" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("cnt"),
          TextFunctions.roundHalfUp(
            corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          TextFunctions.roundHalfUp(
            covar_pop(col("l_quantity"), col("l_extendedprice")), 4).as("covar_pop_qp"),
          TextFunctions.roundHalfUp(
            covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("covar_samp_qp"),
          TextFunctions.roundHalfUp(stddev_pop(col("l_quantity")), 6).as("sd_pop_q"),
          TextFunctions.roundHalfUp(stddev_samp(col("l_quantity")), 6).as("sd_samp_q"),
          TextFunctions.roundHalfUp(var_pop(col("l_quantity")), 6).as("var_pop_q"),
          TextFunctions.roundHalfUp(var_samp(col("l_quantity")), 6).as("var_samp_q"),
          TextFunctions.roundHalfUp(skewness(col("l_quantity")), 6).as("skew_q"),
          TextFunctions.roundHalfUp(kurtosis(col("l_quantity")), 6).as("kurt_q"),
          TextFunctions.roundHalfUp(
            regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope_pq"),
          TextFunctions.roundHalfUp(
            regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("icept_pq"),
          TextFunctions.roundHalfUp(
            regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2_pq"))
        .orderBy(col("l_returnflag"))),

    // GROUPING SETS surface (the chosen-levels complement of q11 ROLLUP /
    // q30 CUBE): four explicit aggregation levels, grouping() flags pin
    // which level each output row belongs to
    "q53_grouping_sets" -> ((s, dir) => {
      T(s, dir, "documents").createOrReplaceTempView("q53_docs")
      s.sql(
        """SELECT lang, source, count(*) AS cnt,
          |  CAST(grouping(lang) AS BIGINT) AS g_lang,
          |  CAST(grouping(source) AS BIGINT) AS g_source
          |FROM q53_docs
          |GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
          |ORDER BY g_lang, g_source, lang ASC NULLS FIRST,
          |  source ASC NULLS FIRST""".stripMargin)
    }),

    // equi-width histogram (data profiling): bucket bounds from one tiny
    // min/max aggregate broadcast onto the scan — identical IEEE bucket
    // arithmetic on both engines, edge value clamped into the last bucket
    "q54_histogram" -> ((s, dir) => {
      val o = T(s, dir, "orders")
      val stats = o.agg(min(col("o_totalprice")).as("mn"),
        max(col("o_totalprice")).as("mx"))
      o.crossJoin(broadcast(stats))
        .select(least(
          floor((col("o_totalprice") - col("mn")) /
            ((col("mx") - col("mn")) / lit(20.0))), lit(19L))
          .cast("long").as("bucket"),
          col("o_totalprice"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("cnt"),
          round(min(col("o_totalprice")), 2).as("lo_seen"),
          round(max(col("o_totalprice")), 2).as("hi_seen"))
        .orderBy(col("bucket"))
    }),

    // per-source cap (crawl "domain cap"): at most 10 docs per source,
    // picked in stable hash order through the bounded top-k aggregate
    "q55_source_cap" -> ((s, dir) =>
      Sampling.capPerGroup(T(s, dir, "documents"), "doc_id", "source",
        k = 10)),

    // correlated LATERAL subquery (top-2 customers per nation): the
    // planner must decorrelate the ordered-limited subquery into a
    // ranked join — no per-row re-execution survives at scale
    "q52_lateral_topn" -> ((s, dir) => {
      T(s, dir, "nation").createOrReplaceTempView("q52_nation")
      T(s, dir, "customer").createOrReplaceTempView("q52_customer")
      s.sql("""
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM q52_nation n, LATERAL (
          SELECT c_custkey, c_acctbal FROM q52_customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""")
    }),

    // the full join-type spectrum on one keyed pair, summarized so the
    // oracle pins the semantics of each type
    "q44_join_types" -> ((s, dir) => {
      val c = T(s, dir, "customer").filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("k"))
      val o = T(s, dir, "orders").filter(col("o_custkey") % 2 === 0)
        .select(col("o_custkey").as("k")).distinct()
      def n(df: DataFrame) = df.agg(count(lit(1)).as("cnt"))
      n(c.join(o, Seq("k"))).withColumn("join_type", lit("inner"))
        .unionByName(n(c.join(o, Seq("k"), "left")).withColumn("join_type", lit("left")))
        .unionByName(n(c.join(o, Seq("k"), "right")).withColumn("join_type", lit("right")))
        .unionByName(n(c.join(o, Seq("k"), "full")).withColumn("join_type", lit("full")))
        .unionByName(n(c.join(o, Seq("k"), "left_semi")).withColumn("join_type", lit("semi")))
        .unionByName(n(c.join(o, Seq("k"), "left_anti")).withColumn("join_type", lit("anti")))
        .select(col("join_type"), col("cnt"))
        .orderBy(col("join_type"))
    }),

    // snapshot diff: added/removed/changed/unchanged audit of an
    // incremental corpus update (changes synthesized deterministically)
    "q45_snapshot_diff" -> ((s, dir) => {
      val docs = T(s, dir, "documents").select("doc_id", "lang", "text")
      val oldSnap = docs.filter(col("doc_id") % 7 =!= 0)
      val newSnap = docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      Diff.snapshotDiff(oldSnap, newSnap, Seq("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // regular-grid resample with explicit zero rows for empty buckets
    "q46_gap_fill" -> ((s, dir) =>
      TimeSeries.fillGaps(T(s, dir, "events"), "event_type",
        expr("ts div 1000000000"), "value", stepSecs = 600)),

    // distinct aggregation
    "q13_distinct_parts_per_flag" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"))),

    // set operations: INTERSECT / EXCEPT (distinct semantics)
    "q14_set_ops" -> ((s, dir) => {
      val a = T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("key"))
      val b = T(s, dir, "orders").select(col("o_custkey").as("key"))
      a.intersect(b).withColumn("tag", lit("with_orders"))
        .unionByName(a.except(b).withColumn("tag", lit("without_orders")))
        .select(col("tag"), col("key"))
        .orderBy(col("tag"), col("key"))
    }),

    // exact percentiles (interpolating) per group, composing BOTH scale
    // strategies by column shape: value-histogram aggregation for the
    // 50-distinct-value quantity column (shuffle = histogram, not rows)
    // and range-partitioned distributed order statistics for the
    // near-unique price column (parallel sort, no per-group serial
    // stage); identical values to the built-in (spec-checked)
    "q15_percentiles" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
      Percentiles.exactPercentiles(li, Seq("l_returnflag"),
        Seq(("qty_p50", "l_quantity", 0.5),
          ("qty_p90", "l_quantity", 0.9)), keepAllGroups = false)
        .join(Percentiles.exactPercentilesRanged(li, Seq("l_returnflag"),
          Seq(("price_p50", "l_extendedprice", 0.5)), keepAllGroups = false),
          Seq("l_returnflag"))
        .select(col("l_returnflag"),
          round(col("qty_p50"), 4).as("qty_p50"),
          round(col("qty_p90"), 4).as("qty_p90"),
          round(col("price_p50"), 4).as("price_p50"))
        .orderBy(col("l_returnflag"))
    }),

    // semi-structured extraction from the events props JSON strings
    // (regexp-based so the oracle needs no JSON extension; NULLIF guards
    // the ANSI cast when a row lacks the key)
    "q16_props_extract" -> ((s, dir) =>
      T(s, dir, "events")
        .withColumn("k_val",
          nullif(regexp_extract(col("props"), "\"k\": (\\d+)", 1), lit(""))
            .cast("long"))
        .groupBy(col("event_type"))
        .agg(sum(col("k_val")).as("sum_k"), count(col("k_val")).as("cnt_k"),
          TextFunctions.roundHalfUp(avg(col("k_val")), 4).as("avg_k"))
        .orderBy(col("event_type"))),

    // calendar bucketing via date formatting
    "q17_monthly_revenue" -> ((s, dir) =>
      T(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("cnt"))
        .orderBy(col("month"))),

    // gap-based sessionization of the event log (30 min gap)
    "e1_sessionize" -> ((s, dir) => {
      val ev = T(s, dir, "events")
        .withColumn("ts_secs", expr("ts div 1000000000"))
      Sessionize.sessionSummaries(ev, "user_id", "ts_secs", "event_id", 1800L)
    }),

    // the BUILT-IN session_window aggregation over the same gap — the
    // declarative twin of e1's Sessionize (boundary semantics differ by
    // design: session_window merges on gap < 30min, so a gap of exactly
    // 1800 s STARTS a session here; window end = last event + gap)
    "e4_session_window" -> ((s, dir) =>
      T(s, dir, "events")
        .withColumn("ts_sec", expr("timestamp_seconds(ts div 1000000000)"))
        .groupBy(col("user_id"),
          session_window(col("ts_sec"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .select(col("user_id"),
          col("w.start").cast("long").as("start_secs"),
          col("w.end").cast("long").as("end_secs"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("start_secs"))),

    // scalar math-function battery (rounded: Java vs C libm can differ in
    // the last ULP for transcendentals)
    "q19_math_battery" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .filter(col("l_orderkey") < 500)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          round(sqrt(col("l_quantity")), 6).as("sqrt_qty"),
          round(log(col("l_extendedprice")), 6).as("ln_price"),
          round(exp(col("l_discount")), 6).as("exp_disc"),
          round(pow(lit(1.0) + col("l_tax"), 2), 6).as("pow_tax"),
          abs(col("l_quantity") - 25.0).as("abs_qty"),
          signum(col("l_discount") - 0.05).as("sign_disc"),
          pmod(col("l_partkey"), lit(7L)).as("mod_part"),
          round(sin(col("l_discount")), 6).as("sin_disc"),
          round(cos(col("l_discount")), 6).as("cos_disc"),
          round(atan2(col("l_quantity"), col("l_extendedprice")), 6).as("atan2_qp"),
          round(degrees(col("l_discount")), 6).as("deg_disc"),
          ceil(col("l_quantity") / 7.0).cast("long").as("ceil_q7"),
          floor(col("l_quantity") / 7.0).cast("long").as("floor_q7"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // scalar string-function battery (the reference's only string ops are
    // upper/split/join; this covers the wider surface an engine needs)
    "q24_string_battery" -> ((s, dir) =>
      T(s, dir, "customer")
        .filter(col("c_custkey") < 500)
        .select(
          col("c_custkey"),
          lower(col("c_name")).as("lower_name"),
          length(col("c_name")).cast("long").as("name_len"),
          substring(col("c_name"), 3, 5).as("name_mid"),
          lpad(col("c_mktsegment"), 12, "*").as("seg_lpad"),
          rpad(col("c_mktsegment"), 12, ".").as("seg_rpad"),
          regexp_replace(col("c_name"), "0", "#").as("name_subst"),
          instr(col("c_name"), "1").cast("long").as("pos_one"),
          reverse(col("c_name")).as("name_rev"),
          translate(col("c_name"), "0123", "abcd").as("name_trans"),
          concat_ws("-", col("c_mktsegment"), col("c_name")).as("seg_name"),
          trim(lpad(col("c_name"), 25, " ")).as("name_trim"))
        .orderBy(col("c_custkey"))),

    // date/time-function battery over the order dates (a category the
    // reference lacks entirely — SURVEY §2.2)
    "q25_datetime_battery" -> ((s, dir) =>
      T(s, dir, "orders")
        .filter(col("o_orderkey") < 2000)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          dayofmonth(col("o_orderdate")).cast("long").as("d"),
          dayofweek(col("o_orderdate")).cast("long").as("dow"),
          dayofyear(col("o_orderdate")).cast("long").as("doy"),
          quarter(col("o_orderdate")).cast("long").as("q"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("iso_day"),
          unix_timestamp(date_add(col("o_orderdate").cast("date"), 30)
            .cast("timestamp")).as("plus30_epoch"),
          datediff(lit("1998-01-01").cast("date"),
            col("o_orderdate").cast("date")).cast("long").as("days_to_98"),
          unix_timestamp(last_day(col("o_orderdate").cast("date"))
            .cast("timestamp")).as("month_end_epoch"),
          unix_timestamp(date_trunc("month", col("o_orderdate"))
            .cast("timestamp")).as("month_start_epoch"))
        .orderBy(col("o_orderkey"))),

    // array-function battery over tokenized documents (array surface the
    // reference lacks; split-based like its CSV parse)
    // higher-order functions over arrays: transform (with and without
    // index), filter, exists, forall, aggregate, zip_with — all codegen-
    // adjacent lambda surfaces, mirrored by DuckDB list comprehensions
    "q43_hof_battery" -> ((s, dir) => {
      val tok = TextFunctions.tokens(col("text"))
      T(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(
          col("doc_id"),
          array_join(transform(slice(tok, 1, 6),
            t => length(t).cast("string")), ",").as("tok_lens"),
          size(filter(tok, t => length(t) > 4)).cast("long").as("n_long"),
          exists(tok, t => t === "the").cast("int").as("has_the"),
          forall(tok, t => length(t) < 20).cast("int").as("all_short"),
          aggregate(tok, lit(0L),
            (acc, t) => acc + length(t).cast("long")).as("sum_chars"),
          element_at(zip_with(tok, reverse(tok),
            (a, b) => concat(a, lit("~"), b)), 1).as("zip_first"),
          array_join(transform(slice(tok, 1, 3),
            (t, i) => concat(i.cast("string"), lit(":"), t)), "|").as("idx3"))
        .orderBy(col("doc_id"))
    }),

    "q26_array_battery" -> ((s, dir) =>
      T(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(
          col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          array_join(slice(split(col("text"), " "), 1, 3), "_").as("first3"),
          array_contains(split(col("text"), " "), "the").cast("int").as("has_the"),
          array_position(split(col("text"), " "), "the").cast("long").as("pos_the"),
          element_at(split(col("text"), " "), -1).as("last_tok"),
          array_join(sort_array(array_distinct(
            slice(split(col("text"), " "), 1, 5))), "|").as("first5_sorted"),
          size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct"))
        .orderBy(col("doc_id"))),

    // conditional / null-handling battery: CASE chains, NULLIF/COALESCE,
    // LEAST/GREATEST, boolean-to-int — the branching surface every
    // engine needs (reference has only one hard-coded predicate)
    "q27_conditional_battery" -> ((s, dir) =>
      T(s, dir, "customer")
        .filter(col("c_custkey") < 1000)
        .select(
          col("c_custkey"),
          when(col("c_mktsegment") === "BUILDING", "b")
            .when(col("c_mktsegment") === "MACHINERY", "m")
            .otherwise("other").as("seg_class"),
          when(col("c_acctbal") < 0, "neg")
            .when(col("c_acctbal") > 5000, "high")
            .otherwise("mid").as("bal_band"),
          nullif(col("c_nationkey"), lit(13)).cast("long").as("nk_nullif"),
          coalesce(nullif(col("c_nationkey"), lit(13)), lit(-1))
            .cast("long").as("nk_coalesce"),
          greatest(col("c_acctbal"), lit(0.0)).as("bal_floor0"),
          least(col("c_acctbal"), lit(1000.0)).as("bal_cap1000"),
          (col("c_nationkey") === 13).cast("int").as("is_13"))
        .orderBy(col("c_custkey"))),

    // bitwise battery over the integer keys (and/or/xor/shifts/popcount/not)
    "q28_bitwise_battery" -> ((s, dir) => {
      val pk = col("l_partkey").cast("long")
      val sk = col("l_suppkey").cast("long")
      T(s, dir, "lineitem")
        .filter(col("l_orderkey") < 1000)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          pk.bitwiseAND(sk).as("pk_and_sk"),
          pk.bitwiseOR(sk).as("pk_or_sk"),
          pk.bitwiseXOR(sk).as("pk_xor_sk"),
          shiftleft(pk, 3).as("pk_shl3"),
          shiftright(pk, 2).as("pk_shr2"),
          bit_count(pk).cast("long").as("pk_bits"),
          bitwise_not(pk).as("pk_not"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ranking/analytic window battery: rank vs dense_rank exercised over a
    // REAL tie (coarse price band); ntile over a unique ordering (its
    // assignment under ties is engine-arbitrary); value-picking functions
    // over an explicit full frame
    "q29_window_battery" -> ((s, dir) => {
      val band = floor(col("o_totalprice") / 50000.0)
      val wTies = Window.partitionBy(col("o_custkey")).orderBy(band.desc)
      val wUniq = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val wDate = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate"))
        .withColumn("rnk", rank().over(wTies).cast("long"))
        .withColumn("drnk", dense_rank().over(wTies).cast("long"))
        .withColumn("pr", TextFunctions.roundHalfUp(percent_rank().over(wTies), 6))
        .withColumn("cd", TextFunctions.roundHalfUp(cume_dist().over(wTies), 6))
        .withColumn("nt", ntile(4).over(wUniq).cast("long"))
        .withColumn("first_key", first(col("o_orderkey")).over(wDate))
        .withColumn("last_key", last(col("o_orderkey")).over(wDate))
        .withColumn("second_key", nth_value(col("o_orderkey"), 2).over(wDate))
        .drop("o_orderdate")
        .orderBy(col("o_orderkey"))
    }),

    // multi-dimensional aggregation: CUBE + grouping_id (q11 covers ROLLUP)
    "q30_cube_grouping" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // JSON extraction battery over the events props strings (path hit,
    // typed cast, missing path -> NULL)
    "q31_json_extract" -> ((s, dir) =>
      T(s, dir, "events")
        .filter(col("event_id") < 2000)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          get_json_object(col("props"), "$.k").cast("long").as("k_int"),
          get_json_object(col("props"), "$.missing").as("k_missing"),
          get_json_object(col("props"), "$.k").isNotNull.cast("int").as("has_k"))
        .orderBy(col("event_id"))),

    // nested-type battery: map construction/extraction/keys + struct
    // field access, all projected back to scalars (the harness hash
    // compares scalar columns)
    "q37_nested_types" -> ((s, dir) => {
      def m = map_from_arrays(
        array(lit("lo"), lit("hi")),
        array(col("c_acctbal") * 0.5, col("c_acctbal") * 1.5))
      def st = struct(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
      T(s, dir, "customer")
        .filter(col("c_custkey") < 300)
        .select(col("c_custkey"),
          round(element_at(m, "hi"), 4).as("m_hi"),
          size(m).cast("long").as("m_size"),
          array_join(map_keys(m), ",").as("m_keys"),
          st.getField("seg").as("s_seg"),
          (st.getField("k") * 2).as("s_k2"))
        .orderBy(col("c_custkey"))
    }),

    // correlated scalar subquery through the spark.sql entry path —
    // Catalyst decorrelates it into an aggregate + join (no per-row
    // re-execution); the same text runs verbatim in DuckDB
    // subquery battery through the SQL surface: correlated EXISTS /
    // NOT EXISTS and (NOT) IN against a non-null key set (NOT IN over a
    // nullable column would three-valued-logic to empty — deliberately
    // avoided, as any production pipeline should)
    "q38_subquery_battery" -> ((s, dir) => {
      T(s, dir, "customer").createOrReplaceTempView("customer_v")
      T(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT tag, key FROM (
          |  SELECT 'exists_big' AS tag, c_custkey AS key FROM customer_v c
          |  WHERE EXISTS (SELECT 1 FROM orders_v o
          |                WHERE o.o_custkey = c.c_custkey
          |                  AND o.o_totalprice > 400000.0)
          |  UNION ALL
          |  SELECT 'in_f', c_custkey FROM customer_v
          |  WHERE c_custkey IN (SELECT o_custkey FROM orders_v
          |                      WHERE o_orderstatus = 'F')
          |    AND c_mktsegment = 'BUILDING'
          |  UNION ALL
          |  SELECT 'not_exists_any', c_custkey FROM customer_v c
          |  WHERE NOT EXISTS (SELECT 1 FROM orders_v o
          |                    WHERE o.o_custkey = c.c_custkey)
          |  UNION ALL
          |  SELECT 'not_in_f', c_custkey FROM customer_v
          |  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders_v
          |                          WHERE o_orderstatus = 'F')
          |    AND c_mktsegment = 'MACHINERY')
          |ORDER BY tag, key""".stripMargin)
    }),

    // ordered-set / boolean / conditional aggregate battery (median,
    // mode, listagg WITHIN GROUP, count_if, bool_and/bool_or).
    // mode(expr, true) pins tie-breaking to the LOWEST value — a
    // frequency tie surfaced at sf0.001 where the engines picked
    // different representatives; the oracle rebuilds the same
    // min-among-max-frequency rule explicitly.
    "q39_agg_battery" -> ((s, dir) => {
      T(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT l_returnflag,
          |  round(median(l_quantity), 4) AS med_qty,
          |  mode(l_quantity, true) AS mode_qty,
          |  listagg(DISTINCT l_linestatus, ',')
          |    WITHIN GROUP (ORDER BY l_linestatus) AS statuses,
          |  count_if(l_discount > 0.05) AS n_disc,
          |  bool_and(l_quantity > 0) AS all_pos,
          |  bool_or(l_tax > 0.07) AS any_high_tax
          |FROM lineitem_v GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
    }),

    "q36_scalar_subquery" -> ((s, dir) => {
      T(s, dir, "customer").createOrReplaceTempView("customer_v")
      // CAST AS DOUBLE in BOTH texts: SQL decimal literals type the
      // arithmetic as DECIMAL in each engine (unlike the DataFrame API's
      // lit(10000.0), which is double)
      s.sql(
        """SELECT c_custkey, c_acctbal,
          |  CAST((SELECT floor(avg(c2.c_acctbal) * 10000.0 + 0.5) / 10000.0
          |        FROM customer_v c2
          |        WHERE c2.c_mktsegment = c.c_mktsegment) AS DOUBLE) AS seg_avg
          |FROM customer_v c WHERE c_custkey < 500
          |ORDER BY c_custkey""".stripMargin)
    }),

    // generator functions: posexplode (LATERAL VIEW surface) — one row per
    // token with its 1-based position
    "q35_posexplode" -> ((s, dir) =>
      T(s, dir, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos0", "tok")))
        .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
          col("tok"))
        .orderBy(col("doc_id"), col("pos"))),

    // pivot: long -> wide reshaping with an explicit value list (explicit
    // so the output schema is deterministic — an inferred pivot would scan
    // for distinct values and could reorder columns between runs)
    "q33_pivot" -> ((s, dir) =>
      T(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(round(sum(col("value")), 2))
        .orderBy(col("user_id"))),

    // unpivot (melt): wide -> long reshaping, the inverse surface
    "q34_unpivot" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .filter(col("l_orderkey") < 1000)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "val")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))),

    // window frames: lag/lead + rolling average over a bounded row frame
    // RANGE window frames (value-based: all ties enter the frame
    // together, making running sums deterministic under duplicate
    // timestamps — the reason RANGE, not ROWS, is the correct frame for
    // event-time rollups)
    "q40_range_frames" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_secs"))
      T(s, dir, "events")
        .withColumn("ts_secs", expr("ts div 1000000000"))
        .select(col("event_id"), col("user_id"), col("ts_secs"), col("value"))
        .withColumn("cnt_10m",
          count(lit(1)).over(w.rangeBetween(-600, 0)).cast("long"))
        .withColumn("sum_10m",
          round(sum(col("value")).over(w.rangeBetween(-600, 0)), 2))
        .withColumn("sum_running",
          round(sum(col("value")).over(
            w.rangeBetween(Window.unboundedPreceding, 0)), 2))
        .orderBy(col("event_id"))
    }),

    "q18_rolling_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_secs"), col("event_id"))
      val frame = w.rowsBetween(-2, Window.currentRow)
      T(s, dir, "events")
        .withColumn("ts_secs", expr("ts div 1000000000"))
        .select(col("event_id"), col("user_id"), col("ts_secs"), col("value"))
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("next_value", lead(col("value"), 1).over(w))
        .withColumn("rolling_avg", TextFunctions.roundHalfUp(avg(col("value")).over(frame), 4))
        .orderBy(col("event_id"))
    }),

    // as-of join: enrich each event with the customer's latest order at or
    // before the event time (sort-based, no range-join explosion)
    "e2_asof_enrich" -> ((s, dir) => {
      val ev = T(s, dir, "events")
        .withColumn("ts_secs", expr("ts div 1000000000"))
        .select(col("event_id"), col("user_id"), col("ts_secs"))
      val ord = Dedup.exactDedup(
        T(s, dir, "orders")
          .withColumn("o_ts", unix_timestamp(col("o_orderdate").cast("timestamp"))),
        Seq("o_custkey", "o_ts"), "o_orderkey")
        .select(col("o_custkey"), col("o_ts"), col("o_orderkey"), col("o_totalprice"))
      AsOf.joinAsOf(ev, ord, "user_id", "o_custkey", "ts_secs", "o_ts",
        Seq("o_orderkey", "o_totalprice"))
        .select(col("event_id"), col("user_id"), col("ts_secs"),
          col("o_orderkey").as("last_orderkey"),
          col("o_totalprice").as("last_total"))
        .orderBy(col("event_id"))
    }),

    // forward as-of join: each event enriched with the user's NEXT order
    // at-or-after the event (time-to-next-conversion shape) — the
    // forward-frame twin of e2, same union + one-window plan
    "e5_asof_forward" -> ((s, dir) => {
      val ev = T(s, dir, "events")
        .withColumn("ts_secs", expr("ts div 1000000000"))
        .select(col("event_id"), col("user_id"), col("ts_secs"))
      val ord = Dedup.exactDedup(
        T(s, dir, "orders")
          .withColumn("o_ts", unix_timestamp(col("o_orderdate").cast("timestamp"))),
        Seq("o_custkey", "o_ts"), "o_orderkey")
        .select(col("o_custkey"), col("o_ts"), col("o_orderkey"), col("o_totalprice"))
      AsOf.joinAsOfForward(ev, ord, "user_id", "o_custkey", "ts_secs", "o_ts",
        Seq("o_orderkey", "o_totalprice"))
        .select(col("event_id"), col("user_id"), col("ts_secs"),
          col("o_orderkey").as("next_orderkey"),
          col("o_totalprice").as("next_total"))
        .orderBy(col("event_id"))
    }),

    // interval (range) join: each click vs same-user events in the
    // following hour — equi-key + range predicate, sort-merge shape
    "e3_interval_join" -> ((s, dir) => {
      val ev = T(s, dir, "events")
        .withColumn("ts_secs", expr("ts div 1000000000"))
      val anchors = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
          col("ts_secs").as("click_ts"))
      val probes = ev.select(col("user_id"), col("event_id"), col("ts_secs"),
        col("value"))
      operators.RangeJoin.intervalJoin(anchors, probes,
        "click_user", "user_id", "click_ts", "ts_secs", 0L, 3600L)
        .filter(col("event_id") =!= col("click_id"))
        .groupBy(col("click_id"))
        .agg(count(lit(1)).as("n_follow"),
          round(sum(col("value")), 2).as("sum_value"),
          min(col("event_id")).as("min_event_id"))
        .orderBy(col("click_id"))
    }),

    // approximate distinct (HLL++). The sketch ESTIMATE is
    // engine-specific and can never hash-match a DuckDB recomputation,
    // so the query emits a SELF-VERIFYING error-bound verdict instead
    // (r18, closing the last non-green registry rows): the exact
    // distinct count AND the HLL++ estimate are computed in the same
    // query, and the output row is (group, exact_parts, cnt,
    // within_bound) where within_bound := |approx − exact| ≤
    // exact · 0.2 — 4·rsd at approx_count_distinct's default
    // rsd 0.05, the SAME bound SketchAccuracySpec gates (measured
    // relErr 0.4–2.7%). The oracle reproduces exact_parts/cnt and
    // asserts the bound held (TRUE literal), so a sketch drifting out
    // of its accuracy contract hash-FAILS the round — a checked
    // accuracy contract, not a rows-only shrug, with no estimate bytes
    // in the hashed output. At 100 TB the exact column drops and the
    // sketch alone answers at a fraction of the cost (count_distinct
    // is the verification harness here, not the production plan).
    "a1_approx_distinct" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          count_distinct(col("l_partkey")).as("exact_parts"),
          count(lit(1)).as("cnt"))
        .select(col("l_returnflag"), col("exact_parts"), col("cnt"),
          (abs(col("approx_parts") - col("exact_parts")) <=
            col("exact_parts") * lit(0.2)).as("within_bound"))
        .orderBy(col("l_returnflag"))),

    // MERGEABLE distinct sketches (Apache DataSketches HLL): the sketch is
    // built once per group, then group sketches UNION-merge into the
    // global estimate WITHOUT rescanning raw data — the pre-aggregated
    // rollup pattern that lets a 100 TB pipeline answer distinct-count
    // questions at any grouping from a tiny sketch table. Sketch bytes
    // are engine-specific, so like a1 the output carries a
    // SELF-VERIFYING bound verdict instead of the estimate: per group
    // AND for the union-merged `_all` row, within_bound :=
    // |estimate − exact| ≤ exact · 0.065 — 4·rsd at hll_sketch_agg's
    // default lgConfigK 12 (rsd = 1.04/√4096 ≈ 1.63%). The oracle
    // reproduces the exact counts and asserts both bounds held, which
    // checks the per-group sketches AND the merge path (a broken
    // hll_union_agg would blow the `_all` bound). The exact global
    // distinct needs one extra scan — verification-harness cost; the
    // production rollup answers from the sketch table alone.
    "a3_hll_union" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val perType = ev
        .groupBy(col("event_type"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"),
          count_distinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("cnt"))
      def verdict(est: Column, exact: Column): Column =
        (abs(est - exact) <= exact * lit(0.065)).as("within_bound")
      val allEst = perType
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")
          .cast("long").as("est_all"), sum(col("cnt")).as("cnt"))
      val allExact = ev
        .agg(count_distinct(col("user_id")).as("exact_users"))
      perType
        .select(col("event_type"), col("exact_users"), col("cnt"),
          verdict(expr("hll_sketch_estimate(sk)").cast("long"),
            col("exact_users")))
        .unionByName(allEst.crossJoin(allExact)
          .select(lit("_all").as("event_type"), col("exact_users"),
            col("cnt"), verdict(col("est_all"), col("exact_users"))))
        .orderBy(col("event_type"))
    }),

    // approximate frequent items (approx_top_k / DataSketches
    // frequent-items), SELF-VERIFYING bound row — r19 finishes the
    // a1/a3 pattern here: the fixture columns are all near-uniform (no
    // natural heavy hitter), so the query PLANTS two SF-independent
    // heavy keys by bucketing user_id (hot_a ~30%, hot_b ~20% of
    // events; the ~90–900 residual per-user keys each < 1%). With
    // maxItemsTracked = 64 << distinct keys the sketch genuinely
    // purges at every driver SF, and the frequent-items DETERMINISTIC
    // worst-case contract (|est − exact| ≤ 3.5·n/64 ≈ 0.055·n, no
    // false negative above it) guarantees: both hot keys are present,
    // inside any top-k ≥ 3 (hot_b's floor 0.145·n clears every cold
    // key's 0.062·n ceiling), and within the 0.06·n error band — so
    // within_bound := present ∧ |est − exact| ≤ 0.06·n is TRUE by
    // contract, not by luck, robust to nondeterministic merge orders.
    // The oracle reproduces the exact hot-key counts and asserts the
    // verdict; sketch drift hash-FAILS with no estimate bytes hashed.
    // At 100 TB the exact side drops and the O(64)-state sketch
    // answers heavy-hitters alone.
    "a4_approx_topk" -> ((s, dir) => {
      val keyed = T(s, dir, "events").select(
        when(col("user_id") % 10 < 3, lit("hot_a"))
          .when(col("user_id") % 10 < 5, lit("hot_b"))
          .otherwise(concat(lit("u"), col("user_id"))).as("key"))
      val sk = keyed
        .agg(expr("approx_top_k(key, 8, 64)").as("tk"),
          count(lit(1)).as("n"))
        .select(explode(col("tk")).as("e"), col("n"))
        .select(col("e.item").as("key"), col("e.count").as("est"),
          col("n"))
      val exact = keyed.filter(col("key").isin("hot_a", "hot_b"))
        .groupBy(col("key")).agg(count(lit(1)).as("exact_cnt"))
      exact.join(sk, Seq("key"), "left")
        .select(col("key"), col("exact_cnt"),
          (col("est").isNotNull &&
            abs(col("est") - col("exact_cnt")) <= col("n") * lit(0.06))
            .as("within_bound"))
        .orderBy(col("key"))
    }),

    // count-min sketch per-user event counts: the portable-hash sketch is
    // reproduced cell-for-cell by the oracle, so estimates AND overcounts
    // are verified (128 cells vs 150 users forces collisions)
    "a5_countmin_counts" -> ((s, dir) => {
      val ev = T(s, dir, "events")
        .select(col("user_id").cast("string").as("key"))
      val keys = ev.groupBy(col("key")).agg(count(lit(1)).as("true_cnt"))
      Sketches.countMinEstimates(keys,
        Sketches.countMinSketch(ev, col("key")), col("key"))
        .select(col("key"), col("true_cnt"), col("cm_est"))
        .orderBy(col("key"))
    }),

    // KMV (k-minimum-values) distinct-count set algebra — the sketch
    // tier's fourth leg (count-min: frequencies; Bloom: membership;
    // HLL: distinct counts; KMV: distinct-count UNION/INTERSECTION).
    // a6 sizes the pairwise overlap of the source shingle vocabularies
    // from two 256-long synopses per pair — the "how many distinct
    // n-grams do corpus A and benchmark B share" number that decides
    // whether a decontamination pass is worth scheduling, answered at
    // 100 TB from a broadcastable O(sources·k) sketch table built in
    // ONE corpus scan (t18's exact matrix re-joins the vocabularies;
    // t18b's MinHash twin estimates Jaccard RATIOS — this estimates
    // CARDINALITIES, which Jaccard alone cannot give without the exact
    // sizes). Self-verifying oracle row (the a1/a3 pattern): the exact
    // overlap is computed beside the estimate (verification harness —
    // at scale the sketch answer stands alone) and the hashed output is
    // (pair, exact, within_bound), the bound being the Beyer et al.
    // 2007 4σ envelope: |est − exact| ≤ 4·(union/(2√k) + rsd·exact),
    // rsd = 1/√(k−2). Measured worst err/union 0.042 (sf0.001) / 0.086
    // (sf0.1) vs the 0.125 σ-term alone — gated in SketchAccuracySpec.
    "a6_kmv_source_overlap" -> ((s, dir) => {
      GraftFunctions.register(s)
      val k = 256
      val toks = T(s, dir, "documents").select(col("source"),
        explode(TextFunctions.hashedShingleSet(col("text"), 3)).as("tok"))
      val sk = Sketches.kmvSketches(toks, col("source"), col("tok"), k)
      val est = Sketches.kmvOverlapMatrix(sk, k)
        .select(col("grp_a").as("src_a"), col("grp_b").as("src_b"),
          col("common_est"))
      val vocab = toks.distinct()
      val sizes = vocab.groupBy(col("source")).agg(count(lit(1)).as("sz"))
      val exact = vocab.select(col("source").as("src_a"), col("tok"))
        .join(vocab.select(col("source").as("src_b"), col("tok")),
          Seq("tok"))
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("common_exact"))
      est.join(exact, Seq("src_a", "src_b"))
        .join(broadcast(sizes.select(col("source").as("src_a"),
          col("sz").as("sz_a"))), Seq("src_a"))
        .join(broadcast(sizes.select(col("source").as("src_b"),
          col("sz").as("sz_b"))), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("common_exact"),
          (abs(col("common_est") - col("common_exact")) <=
            lit(4.0) * ((col("sz_a") + col("sz_b") - col("common_exact"))
              / lit(2.0 * math.sqrt(k.toDouble)) +
              lit(1.0 / math.sqrt(k - 2.0)) * col("common_exact")))
            .as("within_bound"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // KMV mergeable rollup (a3's twin for the set-algebra sketch): per-
    // source distinct-shingle estimates, then the per-source sketches
    // UNION-merge into the global estimate WITHOUT rescanning the
    // corpus. Output = (src, exact, within_bound) per source plus the
    // merged `_all` row; bound 4·rsd (exact below k makes sparse
    // sources free). A broken merge blows the `_all` bound.
    "a7_kmv_rollup" -> ((s, dir) => {
      GraftFunctions.register(s)
      val k = 256
      val bound = lit(4.0 / math.sqrt(k - 2.0))
      val toks = T(s, dir, "documents").select(col("source"),
        explode(TextFunctions.hashedShingleSet(col("text"), 3)).as("tok"))
      val sk = Sketches.kmvSketches(toks, col("source"), col("tok"), k)
      val vocab = toks.distinct()
      val per = sk
        .select(col("grp").as("src"),
          GraftFunctions.kmvEstimate(col("sk"), k).as("est"))
        .join(vocab.groupBy(col("source").as("src"))
          .agg(count(lit(1)).as("exact_ngrams")), Seq("src"))
        .select(col("src"), col("exact_ngrams"),
          (abs(col("est") - col("exact_ngrams")) <=
            bound * col("exact_ngrams")).as("within_bound"))
      val merged = sk
        .agg(GraftFunctions.kmvUnionAgg(col("sk"), k).as("u"))
        .select(GraftFunctions.kmvEstimate(col("u"), k).as("est"))
      val globalExact = vocab.agg(count_distinct(col("tok"))
        .as("exact_ngrams"))
      per.unionByName(merged.crossJoin(globalExact)
        .select(lit("_all").as("src"), col("exact_ngrams"),
          (abs(col("est") - col("exact_ngrams")) <=
            bound * col("exact_ngrams")).as("within_bound")))
        .orderBy(col("src"))
    }),

    // KLL mergeable quantile ROLLUP (DataSketches KLL, Spark 4.1
    // built-ins) — completes the mergeable-rollup triptych beside a3
    // (HLL distinct) and a7 (KMV set algebra): per-group quantile
    // sketches fold into the global estimate with kll_sketch_merge
    // WITHOUT rescanning raw data, where a2's approx_percentile answers
    // one grouping only. Self-verifying RANK verdict (values are
    // data-dependent, ranks are the contract KLL actually bounds): the
    // verification pass computes the TRUE rank of each estimated
    // p50/p90 within its population; within_bound := rank ∈
    // [p − ε, p + ε + j] where ε = 0.033 (2× the published k=200
    // normalized rank error ~1.65%) and j = 0.025 absorbs the discrete
    // CDF jump of the 1..50 quantity domain (even an EXACT quantile's
    // value has rank up to p + jump). Exact p50/p90 ride along for the
    // hash (percentile() ≡ DuckDB quantile_cont, the q15-proven
    // parity). At 100 TB the sketch table answers any regrouping's
    // quantiles from O(groups·k) bytes; the rank pass here is the
    // verification harness.
    "a8_kll_quantile_rollup" -> ((s, dir) => {
      val epsLo = 0.033
      val epsHi = 0.033 + 0.025
      val li = T(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"))
      val perSk = li.groupBy(col("l_returnflag"))
        .agg(expr("kll_sketch_agg_double(l_quantity)").as("sk"),
          count(lit(1)).as("cnt"))
      val allSk = perSk
        .agg(collect_list(col("sk")).as("sks"), sum(col("cnt")).as("cnt"))
        .select(expr("aggregate(slice(sks, 2, size(sks) - 1), sks[0], " +
          "(acc, x) -> kll_sketch_merge_double(acc, x))").as("sk"),
          col("cnt"))
      val est = perSk.select(col("l_returnflag"), col("sk"), col("cnt"))
        .unionByName(allSk.select(lit("_all").as("l_returnflag"),
          col("sk"), col("cnt")))
        .select(col("l_returnflag"), col("cnt"),
          expr("kll_sketch_get_quantile_double(sk, 0.5)").as("est_p50"),
          expr("kll_sketch_get_quantile_double(sk, 0.9)").as("est_p90"))
      val tagged = li.unionByName(
        li.select(lit("_all").as("l_returnflag"), col("l_quantity")))
      def inBand(rank: Column, p: Double): Column =
        rank >= lit(p - epsLo) && rank <= lit(p + epsHi)
      tagged.join(broadcast(est), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(first(col("cnt")).as("cnt"),
          avg((col("l_quantity") <= col("est_p50")).cast("double"))
            .as("rank50"),
          avg((col("l_quantity") <= col("est_p90")).cast("double"))
            .as("rank90"),
          TextFunctions.roundHalfUp(
            expr("percentile(l_quantity, 0.5)"), 4).as("exact_p50"),
          TextFunctions.roundHalfUp(
            expr("percentile(l_quantity, 0.9)"), 4).as("exact_p90"))
        .select(col("l_returnflag"), col("cnt"), col("exact_p50"),
          col("exact_p90"),
          (inBand(col("rank50"), 0.5) && inBand(col("rank90"), 0.9))
            .as("within_bound"))
        .orderBy(col("l_returnflag"))
    }),

    // approximate percentile sketch (GK summary), SELF-VERIFYING rank
    // verdict — r19 finishes the a1/a3 pattern here: accuracy = 100 is
    // far BELOW the rows per group at every driver SF (sf0.01 has ~15k
    // rows/group), so the oracle row exercises the genuinely
    // approximate sketch path a 100 TB run relies on, not an
    // exact-mode degenerate. The GK contract is a HARD rank bound
    // (rank error ≤ 1/accuracy = 1%, deterministic — not
    // probabilistic), so the verification pass computes the TRUE rank
    // of each estimate within its group; within_bound := rank ∈
    // [p − ε, p + ε + j] with ε = 0.02 (2× the hard guarantee) and
    // j = 0.025 absorbing the discrete CDF jump of the 1..50 quantity
    // domain (a8's band). Exact p50/p90 ride along for the hash
    // (percentile() ≡ DuckDB quantile_cont, the q15-proven parity); a
    // drifting sketch hash-FAILS the round while no estimate bytes are
    // hashed. At 100 TB the exact column drops and the O(accuracy)
    // summary answers alone.
    "a2_approx_quantile" -> ((s, dir) => {
      val epsLo = 0.02
      val epsHi = 0.02 + 0.025
      val li = T(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"))
      val est = li.groupBy(col("l_returnflag"))
        .agg(expr("approx_percentile(l_quantity, array(0.5, 0.9), 100)")
          .as("qa"), count(lit(1)).as("cnt"))
        .select(col("l_returnflag"), col("cnt"),
          element_at(col("qa"), 1).as("est_p50"),
          element_at(col("qa"), 2).as("est_p90"))
      def inBand(rank: Column, p: Double): Column =
        rank >= lit(p - epsLo) && rank <= lit(p + epsHi)
      li.join(broadcast(est), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(first(col("cnt")).as("cnt"),
          avg((col("l_quantity") <= col("est_p50")).cast("double"))
            .as("rank50"),
          avg((col("l_quantity") <= col("est_p90")).cast("double"))
            .as("rank90"),
          TextFunctions.roundHalfUp(
            expr("percentile(l_quantity, 0.5)"), 4).as("exact_p50"),
          TextFunctions.roundHalfUp(
            expr("percentile(l_quantity, 0.9)"), 4).as("exact_p90"))
        .select(col("l_returnflag"), col("cnt"), col("exact_p50"),
          col("exact_p90"),
          (inBand(col("rank50"), 0.5) && inBand(col("rank90"), 0.9))
            .as("within_bound"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- text analysis tier ----

    "t1_token_stats" -> ((s, dir) =>
      TextOps.tokenStats(T(s, dir, "documents"))
        .select(col("doc_id"),
          col("n_ws_tokens").cast("long").as("n_ws_tokens"),
          col("n_re_tokens").cast("long").as("n_re_tokens"))),

    "t2_quality_score" -> ((s, dir) =>
      TextOps.qualityScore(T(s, dir, "documents"))
        .withColumn("n_chars_calc", col("n_chars_calc").cast("long"))),

    "t3_lang_id" -> ((s, dir) => {
      val out = TextOps.langId(T(s, dir, "documents"))
      val hitCols = Seq("hits_en", "hits_fr", "hits_es", "hits_de", "hits_zh")
      hitCols.foldLeft(out)((d, c) => d.withColumn(c, col(c).cast("long")))
    }),

    "t4_fingerprint" -> ((s, dir) =>
      TextOps.fingerprints(T(s, dir, "documents"))),

    "t5_top_trigrams" -> ((s, dir) =>
      TextOps.topNgrams(T(s, dir, "documents"), 3, 20)),

    // sequence packing: concat-and-chunk per language stream at a
    // 512-token budget (pretraining data prep)
    "t7_pack_chunks" -> ((s, dir) =>
      TextOps.packChunks(T(s, dir, "documents"), "lang", budget = 512)),

    // within-document repetition profile (duplicate-n-gram fraction — the
    // Gopher-style boilerplate/spam signal)
    "t8_repetition" -> ((s, dir) =>
      TextOps.repetitionStats(T(s, dir, "documents"), n = 3)),

    // benchmark decontamination: distinct trigram overlap of training
    // docs (doc_id >= 10) against a benchmark set (doc_id < 10)
    "t6_decontaminate" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      TextOps.contaminationPairs(
        docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
        "doc_id", "text", n = 3, minShared = 2)
    }),

    // top-3 TF-IDF terms per benchmark doc (keyword extraction; bounded
    // to the doc_id < 25 slice so the oracle row count stays reviewable)
    "t9_tfidf_topterms" -> ((s, dir) =>
      TextOps.tfIdfTopTerms(T(s, dir, "documents"), k = 3)
        .filter(col("doc_id") < 25)),

    // PII redaction: deterministic synthetic emails/phones appended to
    // each doc (the corpus itself is PII-free), then the two-stage
    // count-and-mask pipeline
    "t10_pii_redact" -> ((s, dir) =>
      TextOps.redactPii(
        T(s, dir, "documents").withColumn("text",
          concat(col("text"), lit(" contact u"),
            col("doc_id").cast("string"), lit("@mail.example.com or 202-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"))),
        "text")
        .select(col("doc_id"), col("n_emails"), col("n_phones"), col("redacted"))
        .orderBy(col("doc_id"))),

    // bigram LM quality score (CCNet-style perplexity filter): counts,
    // contexts, vocabulary, and per-doc mean smoothed log-prob all from
    // the corpus itself — fully oracle-expressible
    "t11_bigram_lm_score" -> ((s, dir) =>
      TextOps.bigramLmScore(T(s, dir, "documents"))),

    // document-preserving overlapping chunker (retrieval / long-doc
    // training examples): 64-token chunks at stride 48
    "t12_sliding_chunks" -> ((s, dir) =>
      TextOps.slidingChunks(T(s, dir, "documents"), chunkSize = 64, stride = 48)),

    // hashed-feature linear quality classifier (fastText-style gate;
    // deterministic weight table — integer feature sums make the keep
    // decision engine-exact)
    "t13_quality_classifier" -> ((s, dir) =>
      TextOps.hashedLinearScore(T(s, dir, "documents"), "text")),

    // Gopher-style structural quality rules: word-count / mean-word-length
    // bands, alpha-word fraction, stopword floor, top-word-share ceiling,
    // conjunction keep flag
    "t14_gopher_rules" -> ((s, dir) =>
      TextOps.gopherRules(T(s, dir, "documents"))),

    // token-distribution entropy (information-density quality signal) —
    // shuffle-free sorted-run scan, like t14
    "t16_token_entropy" -> ((s, dir) =>
      TextOps.tokenEntropy(T(s, dir, "documents"))),

    // distribution drift between two ingest snapshots (doc_id parity
    // simulates day-1 vs day-2): per-source shares, smoothed KL and TV
    // contributions — the corpus-monitoring operator
    "q56_distribution_drift" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Diff.distributionDrift(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        docs.filter(pmod(col("doc_id"), lit(2)) === 1),
        "source")
    }),

    // q56's LIVE streaming twin (StreamOps.driftMonitorStream): the
    // frozen reference is the even-doc half's source counts, the odd
    // half arrives as two micro-batches, and each batch's exactly-once
    // outputs (per-key smoothed KL/TV terms + the one-row batch
    // summary) are read back joined — one row per (batch, source)
    // carrying its term columns and the batch-level kl/tv/alert. The
    // oracle recomputes both batches' terms and summaries from the
    // same doc_id split (the p5/p8 replay pattern), so drift math,
    // batch framing, and the no-ledger idempotence layout are all
    // hash-checked. Two sequential AvailableNow runs on one checkpoint
    // pin the batch boundary deterministically (run 2 resumes at
    // batch 1); per batch the work is one O(batch) count aggregate
    // merged against O(categories) reference rows — nothing rescans
    // the corpus behind the reference at any scale.
    "q56b_drift_monitor_stream" -> ((s, dir) => {
      val work = s"${System.getProperty("java.io.tmpdir")}/graft_driftmon_" +
        java.lang.Integer.toHexString(dir.hashCode)
      val fs = new org.apache.hadoop.fs.Path(work)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(work), true)
      val docs = T(s, dir, "documents")
      docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .groupBy(col("source")).agg(count(lit(1)).as("cnt"))
        .coalesce(1).write.parquet(s"$work/ref")
      val odd = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        .select(col("doc_id"), col("source"))
      val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      odd.filter(col("doc_id") <= mid).coalesce(1)
        .write.parquet(s"$work/b0")
      odd.filter(col("doc_id") > mid).coalesce(1)
        .write.parquet(s"$work/b1")
      val in = s"$work/in"; val out = s"$work/out"; val cp = s"$work/cp"
      val schema = s.read.parquet(s"$work/b0").schema
      val ref = s.read.parquet(s"$work/ref")
      def feed(stage: String): Unit = {
        fs.mkdirs(new org.apache.hadoop.fs.Path(in))
        fs.listStatus(new org.apache.hadoop.fs.Path(s"$work/$stage"))
          .filter(_.getPath.getName.endsWith(".parquet"))
          .foreach { st =>
            require(fs.rename(st.getPath, new org.apache.hadoop.fs.Path(
              in, s"$stage-${st.getPath.getName}")))
          }
        val q = graft.streaming.StreamOps.driftMonitorStream(s, in,
          schema, "source", ref, out, cp, tvAlert = 0.05)
        q.processAllAvailable(); q.awaitTermination(120000)
      }
      feed("b0"); feed("b1")
      val terms = (0 to 1).map(b => s.read.parquet(s"$out/terms/batch=$b"))
        .reduce(_.unionByName(_))
      val summaries = (0 to 1)
        .map(b => s.read.parquet(s"$out/summary/batch=$b"))
        .reduce(_.unionByName(_))
      terms.join(
          summaries.select(col("batch_id"), col("kl"), col("tv"),
            col("alert")), Seq("batch_id"))
        .select(col("batch_id"), col("source"), col("cnt_a"),
          col("cnt_b"), col("p_a"), col("p_b"), col("kl_term"),
          col("tv_term"), col("kl"), col("tv"), col("alert"))
        .orderBy(col("batch_id"), col("source"))
    }),

    // quality-decile mixing: ntile bins over the engine-exact quality
    // score, per-bin hash-stable keep rates (top decile kept, tail
    // thinned) — the curation twin of the domain-temperature mix
    "q59_quality_mix" -> ((s, dir) => {
      val scored = T(s, dir, "documents")
        .select(col("doc_id"), TextOps.qualityCol(col("text")).as("quality"))
      Sampling.qualityBinMix(scored, "doc_id", "quality", QualityMixRates)
        .orderBy(col("doc_id"))
    }),

    // the corpus-scale twin: decile boundaries extracted by distributed
    // order statistics (one range exchange, no global window sort),
    // broadcast as literals into a stateless bin projection — results
    // bit-identical to q59 (pair-valued boundaries preserve ntile's tie
    // split), so the oracle is q59's SQL verbatim
    "q59b_quality_mix_bounds" -> ((s, dir) => {
      val scored = T(s, dir, "documents")
        .select(col("doc_id"), TextOps.qualityCol(col("text")).as("quality"))
      Sampling.qualityBinMixBoundaries(scored, "doc_id", "quality",
        QualityMixRates)
        .orderBy(col("doc_id"))
    }),

    // ordered funnel (view -> click -> purchase): conditional-min chain,
    // one decomposable aggregation per step, all keyed on the user
    "q57_funnel_steps" -> ((s, dir) =>
      Analytics.funnelSteps(
        T(s, dir, "events").withColumn("ts_secs", expr("ts div 1000000000")),
        "user_id", "ts_secs", "event_type",
        Seq("view", "click", "purchase"))),

    // weekly cohort retention triangle over first-event cohorts
    "q58_retention_cohorts" -> ((s, dir) =>
      Analytics.retentionCohorts(
        T(s, dir, "events").withColumn("ts_secs", expr("ts div 1000000000")),
        "user_id", "ts_secs")),

    // curation pipeline: Gopher keep -> entropy floor -> semantic
    // decontamination -> hash split, as one composed statement
    "p3_curation_corpus" -> ((s, dir) =>
      Pipelines.curationCorpus(
        T(s, dir, "documents"), T(s, dir, "embeddings"),
        benchIdBelow = 25, minNormEntropy = 0.73, tau = 0.35,
        testFraction = 0.1)),

    // semantic decontamination: embedding twin of t6's n-gram overlap —
    // max cosine vs the (broadcast) benchmark set, flag at tau
    "t17_semantic_decontaminate" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.semanticContamination(
        emb.filter(col("vec_id") >= 25),
        emb.filter(col("vec_id") < 25)
          .select(col("embedding").as("bench_vec")),
        "vec_id", "embedding", "bench_vec", tau = 0.35)
    }),

    // cross-source overlap matrix: exact pairwise Jaccard of per-source
    // distinct shingle vocabularies — the contamination diagnostic a
    // curation run reports BEFORE mixing sources
    "t18_source_overlap" -> ((s, dir) =>
      TextOps.sourceOverlapMatrix(T(s, dir, "documents"), "source", "text",
        n = 3)),

    // the 100 TB twin: per-source k=64 MinHash signatures (union = element-
    // wise min of the codegen'd per-doc signatures), est. Jaccard = match
    // fraction; shuffle is O(sources·k), independent of corpus size
    "t18b_source_overlap_minhash" -> ((s, dir) =>
      TextOps.sourceOverlapMinHash(T(s, dir, "documents"), "source", "text",
        n = 3, numHashes = 64)),

    // Unicode normalization ahead of the dedup family: NFC canonical
    // composition (codegen'd JDK kernel, same ICU-derived tables as
    // DuckDB's nfc_normalize) + case-fold + whitespace collapse. The
    // fixture is ASCII-clean, so the oracle pins the PLUMBING (the
    // kernel runs on every row and is the identity exactly where it
    // should be); the NFD-collision semantics are spec-proven on
    // synthetic decomposed strings (NormalizeSpec).
    "t19_normalize_text" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      T(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.normalizeText(col("text"), caseFold = true,
            collapseWhitespace = true).as("norm"),
          length(TextOps.normalizeText(col("text"))).cast("long")
            .as("nfc_len"))
        .orderBy(col("doc_id"))
    }),

    // corpus summary statistics: the profile every ingest run reports
    "q22_corpus_stats" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(size(TextFunctions.tokens(col("text"))).cast("long").as("n_tok"),
          col("n_chars"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_tok")).as("total_tokens"),
          sum(col("n_chars")).as("total_chars"),
          round(expr("percentile(n_tok, 0.5)"), 4).as("tok_p50"),
          round(expr("percentile(n_tok, 0.9)"), 4).as("tok_p90"))),

    // ---- dedup tier ----

    // exact dedup: deterministic first row per key
    "d1_exact_dedup_events" -> ((s, dir) =>
      Dedup.exactDedup(T(s, dir, "events"), Seq("user_id", "event_type"), "event_id")
        .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
        .orderBy(col("user_id"), col("event_type"))),

    // curation-aware dedup: keep the BEST duplicate (max value, tie ->
    // min event_id) through one decomposable min_by aggregate
    "d10_dedup_best" -> ((s, dir) =>
      Dedup.exactDedupBest(
        T(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("event_id"), col("value")),
        Seq("user_id", "event_type"), "value", "event_id")
        .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
        .orderBy(col("user_id"), col("event_type"))),

    // MinHash+LSH near-dup (portable seeded affine family — full
    // signature/banding pipeline reproduced in the DuckDB oracle)
    "d2_minhash_neardup" -> ((s, dir) =>
      Dedup.minHashNearDupPairs(T(s, dir, "documents"), "doc_id", "text",
        Dedup.MinHashParams(numHashes = 32, bands = 8, shingle = 3,
          threshold = 0.2))),

    // blocked exact n-gram Jaccard near-dup
    "d3_ngram_jaccard_neardup" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(T(s, dir, "documents"), "doc_id", "text",
        Seq(col("lang")), n = 3, threshold = 0.2)),

    // the df-ascending prefix-order variant (classic AllPairs refinement
    // for Zipfian corpora): the completeness lemma holds for ANY global
    // prefix order, so the result set — and the oracle, the naive
    // quadratic join — is IDENTICAL to d3; only candidate volume differs.
    // Both paths measured at sf1 in BENCH_SF1.json (dfOrdered crossover).
    "d3b_ngram_jaccard_df" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(T(s, dir, "documents"), "doc_id", "text",
        Seq(col("lang")), n = 3, threshold = 0.2, dfOrdered = true)),

    // SimHash signatures (portable mixed polynomial hash — oracle-checked)
    "d4_simhash" -> ((s, dir) =>
      Dedup.withSimHash(T(s, dir, "documents"), "text")
        .select(col("doc_id"), col("simhash"))
        .orderBy(col("doc_id"))),

    // SimHash near-dup pairs: band-bucket candidates + Hamming verify
    // (complete for bands > maxHamming — see Dedup.simHashNearDupPairs)
    "d4b_simhash_pairs" -> ((s, dir) =>
      Dedup.simHashNearDupPairs(T(s, dir, "documents"), "doc_id", "text")),

    // embedding-cosine near-dup, blocked by label
    "d5_embedding_neardup" -> ((s, dir) =>
      Dedup.embeddingNearDup(T(s, dir, "embeddings"), "vec_id", "embedding",
        "label", threshold = 0.4)),

    // embedding near-dup at scale: SRP-LSH candidates + exact cosine
    // verify, no label blocks needed. Oracle-checked: the seeded
    // hyperplanes embed as SQL literals, so DuckDB reproduces the full
    // bucket->candidate->verify pipeline; recall vs the exact baseline
    // additionally gated in EmbeddingLshSpec
    "d5b_embedding_lsh" -> ((s, dir) =>
      Dedup.embeddingNearDupLsh(T(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, dim = 64)),

    // the corpus-density variant: 8 planes = 256 buckets/table. SRP bucket
    // space is FIXED by the planes dial, so occupancy (and the bucket
    // self-join) grows quadratically with corpus size until planes tracks
    // log2(corpus/target-bucket) — measured at sf1: d5b (5 planes) went
    // 43x on 10x data, this variant stays ~linear (BENCH_SF1.json).
    // Hamming-1 multi-probe pays the recall cost of the density: each
    // vector probes 1+8 buckets/table, lifting recall at cos 0.4 from
    // the single-probe 0.29 to ~0.9 (gated >= 0.6 in EmbeddingLshSpec)
    // at the same bucket occupancy. The oracle reproduces THIS pipeline
    // exactly, probes included.
    "d5c_embedding_lsh_scaled" -> ((s, dir) =>
      Dedup.embeddingNearDupLsh(T(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, dim = 64, planes = 8, multiProbe = true)),

    // the AUTO-DENSITY variant — the production entry point: planes come
    // from the corpus size (ceil(log2(n/32)), srpPlanesFor), multi-probe
    // on. At the verify SF (500 vectors) the probe picks 4 planes — the
    // oracle below freezes THAT family (same recipe as the frozen ANN
    // models: the choice is a pure function of the fixture, so the SQL
    // literal is reproducible); at sf0.1 it picks 6, at the synthetic sf1
    // 10 — occupancy, and therefore per-bucket join work, stays ~constant
    // as the corpus grows (the dial BENCH_SF1 proved manual is now data-
    // driven).
    "d5d_embedding_lsh_auto" -> ((s, dir) =>
      Dedup.embeddingNearDupLshAuto(T(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.4, dim = 64)),

    // SemDeDup: frozen-quantizer clustering (the s3 IVF centroid artifact)
    // + within-cell greedy-star cosine dedup — the cluster boundary is the
    // candidate blocker, so pair work is sum(cell^2), never corpus^2
    "d11_semdedup" -> ((s, dir) =>
      Dedup.semDeDup(T(s, dir, "embeddings"), "vec_id", "embedding",
        AnnModels.ivfCentroids, threshold = 0.4)
        .select(col("vec_id"), col("cell").cast("long").as("cell"))
        .orderBy(col("vec_id"))),

    // near-dup clusters: connected components over the MinHash pair graph
    // (min-label propagation to convergence; oracle = recursive
    // transitive-closure CTE)
    "d6_neardup_clusters" -> ((s, dir) =>
      Clustering.nearDupClusters(
        Dedup.minHashNearDupPairs(T(s, dir, "documents"), "doc_id", "text",
          Dedup.MinHashParams(numHashes = 32, bands = 8, shingle = 3,
            threshold = 0.2)))),

    // same pair graph through the O(log n)-round large-star/small-star
    // alternation (the deep-component scale path) — identical output
    // contract, so it shares d6's recursive-closure oracle
    "d6b_neardup_clusters_star" -> ((s, dir) =>
      Clustering.nearDupClustersStar(
        Dedup.minHashNearDupPairs(T(s, dir, "documents"), "doc_id", "text",
          Dedup.MinHashParams(numHashes = 32, bands = 8, shingle = 3,
            threshold = 0.2)))),

    // salted two-phase aggregation (hot-key bound): result is
    // salt-invariant, so the plain GROUP BY is an exact oracle
    "q23_skew_salted_agg" -> ((s, dir) =>
      Skew.saltedSumCountAvg(T(s, dir, "events"), Seq("event_type"), "value",
        salts = 8)
        .select(col("event_type"),
          round(col("sum_val"), 2).as("sum_value"), col("cnt"),
          TextFunctions.roundHalfUp(col("avg_val"), 4).as("avg_value"))
        .orderBy(col("event_type"))),

    // incremental dedup: screen the "new batch" (doc_id % 5 = 4) against
    // a Bloom filter built over the rest of the corpus. The coarse key
    // (lang + first token) makes both outcomes occur; the portable hash
    // family lets the oracle reproduce every bit position, so even the
    // false positives are verified, not just trusted
    "b1_bloom_incremental" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      def key = concat(col("lang"), lit(":"),
        element_at(split(col("text"), " "), 1))
      val bloom = Dedup.bloomFilter(docs.filter(col("doc_id") % 5 =!= 4), key)
      Dedup.bloomScreen(docs.filter(col("doc_id") % 5 === 4), bloom, key)
        .select(col("doc_id"), key.as("key"), col("maybe_dup"))
        .orderBy(col("doc_id"))
    }),

    // fuzzy short-key dedup: levenshtein <= 2 over 3-token titles with
    // lossless length-band blocking; oracle = the naive quadratic join
    "d7_edit_distance_pairs" -> ((s, dir) =>
      Dedup.editDistancePairs(
        T(s, dir, "documents").withColumn("title",
          array_join(slice(TextFunctions.tokens(col("text")), 1, 3), " ")),
        "doc_id", "title", maxDist = 2)),

    // cross-document duplicated-span profile (Lee et al. exact-substring
    // dedup signal): 8-token rolling windows, spans merged per doc via
    // gaps-and-islands — O(total tokens), never quadratic
    "d8_span_dedup" -> ((s, dir) =>
      Dedup.duplicatedSpans(T(s, dir, "documents"), "doc_id", "text",
        window = 8)),

    // the transform twin: excise every duplicated span from the text (the
    // Lee-et-al dedup step itself); only marked positions shuffle, the
    // excision is a linear codegen'd projection
    "d8b_span_scrub" -> ((s, dir) =>
      Dedup.scrubDuplicatedSpans(T(s, dir, "documents"), "doc_id", "text",
        window = 8)),

    // containment near-dup (overlap / min-size): the quote / partial-copy
    // detector — high where Jaccard collapses under length mismatch;
    // small-side prefix filter against full postings, exact verify
    "d9_containment_pairs" -> ((s, dir) =>
      Dedup.containmentPairs(T(s, dir, "documents"), "doc_id", "text",
        Seq(col("lang")), n = 3, threshold = 0.6)),

    // incremental NEAR-dup: a new batch's MinHash bands join the corpus's
    // bands — candidates track the batch, the corpus never self-joins
    "b3_minhash_incremental" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Dedup.minHashNearDupPairsIncremental(
        docs.filter(col("doc_id") % 5 === 4),
        docs.filter(col("doc_id") % 5 =!= 4), "doc_id", "text",
        Dedup.MinHashParams(numHashes = 32, bands = 8, shingle = 3,
          threshold = 0.2))
    }),

    // the persisted-index flow: corpus signatures built + written ONCE
    // (one corpus text scan), then the batch probes the parquet index —
    // zero corpus scans per batch. Same result as b3 (the oracle is b3's
    // SQL verbatim); the index dir is keyed by the data dir so SFs don't
    // collide.
    "b3b_minhash_index" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val p = Dedup.MinHashParams(numHashes = 32, bands = 8, shingle = 3,
        threshold = 0.2)
      val ixPath = s"${System.getProperty("java.io.tmpdir")}/graft_mh_index_" +
        java.lang.Integer.toHexString(dir.hashCode)
      Dedup.writeSignatureIndex(
        docs.filter(col("doc_id") % 5 =!= 4), "doc_id", "text", ixPath, p)
      Dedup.minHashNearDupPairsIncremental(
        docs.filter(col("doc_id") % 5 === 4),
        Dedup.readSignatureIndex(s, ixPath), "doc_id", "text", p)
    }),

    // deletion/retraction on the persisted index (the takedown/GDPR path
    // of a living corpus): ids with doc_id % 7 = 3 are tombstoned after
    // the build — the probe stops matching them IMMEDIATELY (pending-
    // tombstone anti-join; no compaction in this query, so the hot
    // pending path is what the oracle checks). Oracle = b3's SQL on the
    // RETAINED corpus.
    "b3c_minhash_index_delete" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val p = Dedup.MinHashParams(numHashes = 32, bands = 8, shingle = 3,
        threshold = 0.2)
      val ixPath = s"${System.getProperty("java.io.tmpdir")}/graft_mh_ixdel_" +
        java.lang.Integer.toHexString(dir.hashCode)
      Dedup.writeSignatureIndex(
        docs.filter(col("doc_id") % 5 =!= 4), "doc_id", "text", ixPath, p)
      Dedup.deleteFromIndex(s, ixPath,
        docs.filter(col("doc_id") % 5 =!= 4 && col("doc_id") % 7 === 3),
        "doc_id")
      Dedup.minHashNearDupPairsIncremental(
        docs.filter(col("doc_id") % 5 === 4),
        Dedup.readSignatureIndex(s, ixPath), "doc_id", "text", p)
    }),

    // the persisted-index flow for EMBEDDINGS — b3b's twin: the corpus is
    // bucketed + written once (auto plane density from the corpus count:
    // 4 planes at the verify SF, 6 at sf0.1), then each batch probes the
    // parquet index with Hamming-1 multi-probe under the index's own
    // stored geometry; corpus vectors are read only for verified
    // candidates. Oracle reproduces the whole pipeline (the 4-plane
    // family frozen as literals, like d5d).
    "b4_embedding_index" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val ixPath = s"${System.getProperty("java.io.tmpdir")}/graft_srp_index_" +
        java.lang.Integer.toHexString(dir.hashCode)
      Dedup.writeSrpIndex(emb.filter(col("vec_id") % 5 =!= 4), "vec_id",
        "embedding", ixPath, dim = 64)
      Dedup.embeddingNearDupLshIncremental(emb.filter(col("vec_id") % 5 === 4),
        Dedup.readSrpIndex(s, ixPath), "vec_id", "embedding", threshold = 0.4)
    }),

    // deletion + PHYSICAL purge on the SRP index: tombstone vec_id % 7 = 3,
    // then compact — the rewrite drops the rows, folds the tombstones and
    // appends negative occupancy deltas; the probe runs against the purged
    // index (b3c checks the pending path, this one the post-compaction
    // path). Oracle = b4's SQL on the retained corpus.
    "b4c_embedding_index_delete" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val ixPath = s"${System.getProperty("java.io.tmpdir")}/graft_srp_ixdel_" +
        java.lang.Integer.toHexString(dir.hashCode)
      Dedup.writeSrpIndex(emb.filter(col("vec_id") % 5 =!= 4), "vec_id",
        "embedding", ixPath, dim = 64)
      Dedup.deleteFromIndex(s, ixPath,
        emb.filter(col("vec_id") % 5 =!= 4 && col("vec_id") % 7 === 3),
        "vec_id")
      Dedup.compactIndex(s, ixPath)
      Dedup.embeddingNearDupLshIncremental(emb.filter(col("vec_id") % 5 === 4),
        Dedup.readSrpIndex(s, ixPath), "vec_id", "embedding", threshold = 0.4)
    }),

    // the complete incremental-dedup pattern: bloom screen, then exact
    // anti-join verification of ONLY the maybe-set — result is exact
    // (oracle = plain NOT IN), the bloom just shrinks the join
    "b2_bloom_exact_new" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      def key = concat(col("lang"), lit(":"),
        element_at(split(col("text"), " "), 1))
      Dedup.bloomIncrementalDedup(
        docs.filter(col("doc_id") % 5 === 4),
        docs.filter(col("doc_id") % 5 =!= 4), key)
        .select(col("doc_id"), key.as("key"))
        .orderBy(col("doc_id"))
    }),

    // sharded-filter screen (the 10^10-key scale path: 4 hash-range
    // filters, probe = shuffle hash join on the shard id — no monolithic
    // broadcast). maybe_dup is bit-exact oracled: the oracle reproduces
    // the shard routing AND each shard's distinct-position set in SQL.
    "b1b_bloom_sharded" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      def key = concat(col("lang"), lit(":"),
        element_at(split(col("text"), " "), 1))
      val blooms = Dedup.bloomFilterSharded(
        docs.filter(col("doc_id") % 5 =!= 4), key, shards = 4)
      Dedup.bloomScreenSharded(docs.filter(col("doc_id") % 5 === 4),
        blooms, key, shards = 4)
        .select(col("doc_id"), key.as("key"), col("maybe_dup"))
        .orderBy(col("doc_id"))
    }),

    // sharded full incremental dedup — exact key-absence contract is
    // unchanged (oracle = b2's NOT IN verbatim); sharding is execution
    // geometry only
    "b2b_bloom_sharded_new" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      def key = concat(col("lang"), lit(":"),
        element_at(split(col("text"), " "), 1))
      Dedup.bloomIncrementalDedupSharded(
        docs.filter(col("doc_id") % 5 === 4),
        docs.filter(col("doc_id") % 5 =!= 4), key, shards = 4)
        .select(col("doc_id"), key.as("key"))
        .orderBy(col("doc_id"))
    }),

    // bloom runtime-filter join: fact side screened by the dim-key bloom
    // BEFORE the shuffle; false positives die in the join, so the result
    // is bit-identical to the plain join the oracle runs
    "q42_bloom_runtime_filter" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
      val dim = T(s, dir, "part").filter(col("p_size") === 15)
      Sketches.bloomPrefilteredJoin(li, dim, "l_partkey", "p_partkey")
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
    }),

    // ---- end-to-end pipeline ----

    // flagship composition: quality filter -> near-dup removal (MinHash
    // pairs -> components -> representatives) -> benchmark
    // decontamination -> hash-stable train/test split, all in one lazy+
    // iterative pipeline whose DuckDB twin checks the FINAL corpus
    "p1_training_corpus" -> ((s, dir) => {
      val all = T(s, dir, "documents")
      Pipelines.trainingCorpus(
        all.filter(col("doc_id") >= 10), all.filter(col("doc_id") < 10),
        qualityMin = 0.3,
        minhash = Dedup.MinHashParams(numHashes = 32, bands = 8, shingle = 3,
          threshold = 0.2),
        contamN = 3, contamMin = 5, testFraction = 0.1)
    }),

    // leakage-safe split: near-dup clusters (banded LSH pairs -> connected
    // components) share one hash key, so no pair ever straddles the
    // train/test boundary; singletons reduce to the plain hash split
    "p4_leakage_safe_split" -> ((s, dir) =>
      Pipelines.leakageSafeSplit(T(s, dir, "documents"),
        minhash = Dedup.MinHashParams(numHashes = 32, bands = 8, shingle = 3,
          threshold = 0.2),
        testFraction = 0.25)),

    // incremental counterpart of p1: ingest a new batch against the
    // corpus — bloom exact screen, cross-corpus near-dup screen, quality
    // floor, hash split; every screen is per-doc independent, so the
    // twin is three WHERE predicates
    "p2_incremental_ingest" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Pipelines.incrementalIngest(
        docs.filter(col("doc_id") % 5 === 4),
        docs.filter(col("doc_id") % 5 =!= 4),
        qualityMin = 0.3,
        minhash = Dedup.MinHashParams(numHashes = 32, bands = 8, shingle = 3,
          threshold = 0.2),
        testFraction = 0.1)
    }),

    // the GOVERNED ingest loop (the streaming foreachBatch body of
    // StreamOps.governedDedupStream) as a batch query: fresh signature
    // index from the id-low corpus, then two monotone batches through
    // ingestBatch — greedy-star within-batch screen +
    // committed-index screen, novel docs to the per-batch output dirs,
    // signatures appended between batches (batch B IS screened against
    // batch A's survivors, which only works if the append landed). The
    // ledger/exactly-once mechanics are spec-tested
    // (IndexedDedupStreamSpec); this row proves the loop's RESULT —
    // both generations — against one DuckDB replay.
    "p5_indexed_ingest_loop" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val p = Dedup.MinHashParams(numHashes = 32, bands = 8, shingle = 3,
        threshold = 0.2)
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val (c1, c2) = (maxId * 3 / 5, maxId * 4 / 5)
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_ingest_loop_" +
        java.lang.Integer.toHexString(dir.hashCode)
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val ix = s"$base/ix"; val out = s"$base/out"
      Dedup.writeSignatureIndex(docs.filter(col("doc_id") <= c1),
        "doc_id", "text", ix, p)
      Dedup.initIngestLedger(s, ix)
      Dedup.ingestBatch(
        docs.filter(col("doc_id") > c1 && col("doc_id") <= c2),
        "doc_id", Dedup.MinHashText("text"), ix, out, batchId = 0L)
      Dedup.ingestBatch(docs.filter(col("doc_id") > c2),
        "doc_id", Dedup.MinHashText("text"), ix, out, batchId = 1L)
      s.read.parquet(s"$out/batch_id=0").withColumn("batch_id", lit(0L))
        .union(s.read.parquet(s"$out/batch_id=1")
          .withColumn("batch_id", lit(1L)))
        .select(col("doc_id"), col("batch_id"))
        .orderBy(col("doc_id"))
    }),

    // p5's embedding twin: the governed loop over the persisted SRP
    // index (auto 4-plane geometry at the verify SF, multi-probe on),
    // same ledger mechanics, embedding-family dedup semantics —
    // greedy-star within-batch SRP-LSH screen + committed-index
    // probe, exact-cosine verification everywhere.
    "p6_embedding_ingest_loop" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
      val (c1, c2) = (maxId * 3 / 5, maxId * 4 / 5)
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_srp_loop_" +
        java.lang.Integer.toHexString(dir.hashCode)
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val ix = s"$base/ix"; val out = s"$base/out"
      Dedup.writeSrpIndex(emb.filter(col("vec_id") <= c1), "vec_id",
        "embedding", ix, dim = 64)
      Dedup.initIngestLedger(s, ix)
      Dedup.ingestBatch(
        emb.filter(col("vec_id") > c1 && col("vec_id") <= c2),
        "vec_id", Dedup.SrpVectors("embedding", 0.4), ix, out, batchId = 0L)
      Dedup.ingestBatch(emb.filter(col("vec_id") > c2),
        "vec_id", Dedup.SrpVectors("embedding", 0.4), ix, out, batchId = 1L)
      s.read.parquet(s"$out/batch_id=0").withColumn("batch_id", lit(0L))
        .union(s.read.parquet(s"$out/batch_id=1")
          .withColumn("batch_id", lit(1L)))
        .select(col("vec_id"), col("batch_id"))
        .orderBy(col("vec_id"))
    }),

    // p5 + takedown propagation: after both governed generations commit,
    // every doc_id ≡ 0 (mod 7) is deleted and scrubOutputs rewrites the
    // SERVED per-batch output dirs (not just the index) — the privacy-
    // delete path end to end. Half-corpus slice keeps the entry cheap;
    // the oracle is the retained-corpus replay.
    "p7_scrubbed_ingest_outputs" -> ((s, dir) => {
      val all = T(s, dir, "documents")
      val p = Dedup.MinHashParams(numHashes = 32, bands = 8, shingle = 3,
        threshold = 0.2)
      val c0 = all.agg(max(col("doc_id"))).head().getLong(0) / 2
      val docs = all.filter(col("doc_id") <= c0)
      val (c1, c2) = (c0 * 3 / 5, c0 * 4 / 5)
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_scrub_loop_" +
        java.lang.Integer.toHexString(dir.hashCode)
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val ix = s"$base/ix"; val out = s"$base/out"
      Dedup.writeSignatureIndex(docs.filter(col("doc_id") <= c1),
        "doc_id", "text", ix, p)
      Dedup.initIngestLedger(s, ix)
      Dedup.ingestBatch(
        docs.filter(col("doc_id") > c1 && col("doc_id") <= c2),
        "doc_id", Dedup.MinHashText("text"), ix, out, batchId = 0L)
      Dedup.ingestBatch(docs.filter(col("doc_id") > c2),
        "doc_id", Dedup.MinHashText("text"), ix, out, batchId = 1L)
      Dedup.deleteFromIndex(s, ix,
        docs.filter(col("doc_id") % 7 === 0).select(col("doc_id")),
        "doc_id")
      Dedup.scrubOutputs(s, ix, out, "doc_id")
      s.read.parquet(s"$out/batch_id=0").withColumn("batch_id", lit(0L))
        .union(s.read.parquet(s"$out/batch_id=1")
          .withColumn("batch_id", lit(1L)))
        .select(col("doc_id"), col("batch_id"))
        .orderBy(col("doc_id"))
    }),

    // persisted digest index (the EXACT-dedup third index family —
    // media digests / URLs / checksums): corpus digests indexed once,
    // the batch probe is a shard-pruned (id, dig) anti-join — corpus
    // payloads never read. Novel = within-batch min-id representative
    // per digest, not already in the index.
    "b5_digest_index" -> ((s, dir) => {
      val docs = T(s, dir, "documents").withColumn("dig",
        sha2(substring(col("text"), 1, 30).cast("binary"), 256))
      val c = docs.agg(max(col("doc_id"))).head().getLong(0) * 3 / 5
      val ix = s"${System.getProperty("java.io.tmpdir")}/graft_digix_" +
        java.lang.Integer.toHexString(dir.hashCode)
      Dedup.writeDigestIndex(docs.filter(col("doc_id") <= c),
        "doc_id", "dig", ix)
      Dedup.digestNovel(docs.filter(col("doc_id") > c), "doc_id", "dig",
        Dedup.readDigestIndex(s, ix))
        .select(col("doc_id"), col("dig"))
        .orderBy(col("doc_id"))
    }),

    // the governed EXACT-dedup loop over the persisted digest index —
    // p5's third-family twin (exactly-once ledger mechanics shared
    // verbatim; screen = min-id representative per digest + committed-
    // index digest anti-join). Oracle replays both generations: batch B
    // screens against corpus ∪ batch-A survivors.
    "p8_digest_ingest_loop" -> ((s, dir) => {
      val docs = T(s, dir, "documents").withColumn("dig",
        sha2(substring(col("text"), 1, 30).cast("binary"), 256))
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val (c1, c2) = (maxId * 3 / 5, maxId * 4 / 5)
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_dig_loop_" +
        java.lang.Integer.toHexString(dir.hashCode)
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val ix = s"$base/ix"; val out = s"$base/out"
      Dedup.writeDigestIndex(docs.filter(col("doc_id") <= c1),
        "doc_id", "dig", ix)
      Dedup.initIngestLedger(s, ix)
      Dedup.ingestBatch(
        docs.filter(col("doc_id") > c1 && col("doc_id") <= c2),
        "doc_id", Dedup.Digests("dig"), ix, out, batchId = 0L)
      Dedup.ingestBatch(docs.filter(col("doc_id") > c2),
        "doc_id", Dedup.Digests("dig"), ix, out, batchId = 1L)
      s.read.parquet(s"$out/batch_id=0").withColumn("batch_id", lit(0L))
        .union(s.read.parquet(s"$out/batch_id=1")
          .withColumn("batch_id", lit(1L)))
        .select(col("doc_id"), col("batch_id"))
        .orderBy(col("doc_id"))
    }),

    // Cross-shard reconciliation over the multi-stream deployment: the
    // corpus half is routed into TWO independent governed shard
    // deployments (even/odd doc_id — an id-preserving router), each
    // shard bootstraps its index and governs one batch (within-shard
    // screening only, by construction), then reconcileShardOutputs runs
    // ONE union-wide LSH pass, tombstones every cross-shard duplicate's
    // larger id in its owning shard's index and scrubs it out of that
    // shard's SERVED outputs. Result = the union of both serving
    // corpora after convergence; the oracle replays the whole
    // deployment's retained set in SQL (per-shard screens + the
    // cross-shard greedy star).
    "p9_cross_shard_reconcile" -> ((s, dir) => {
      val work = s"${System.getProperty("java.io.tmpdir")}/graft_reconcile_mh_" +
        java.lang.Integer.toHexString(dir.hashCode)
      new org.apache.hadoop.fs.Path(work)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(work), true)
      val all = T(s, dir, "documents")
      val c0 = all.agg(max(col("doc_id"))).head().getLong(0) / 2
      val docs = all.filter(col("doc_id") <= c0).select("doc_id", "text")
      val p = Dedup.MinHashParams(numHashes = 32, bands = 8,
        shingle = 3, threshold = 0.2)
      Dedup.buildTwoShardDeployment(docs, "doc_id",
          Dedup.MinHashText("text"), c0 * 3 / 5, work)((d, ix) =>
        Dedup.writeSignatureIndex(d, "doc_id", "text", ix, p))
      GraftFunctions.register(s)
      val shards = (0 to 1).map(i =>
        Dedup.GovernedShardPaths(s"$work/ix$i", s"$work/out$i"))
      Dedup.reconcileShardOutputs(s, shards, "doc_id",
        Dedup.MinHashText("text"))
      shards.zipWithIndex.map { case (sh, i) =>
          s.read.parquet(sh.outPath).select(col("doc_id"))
            .withColumn("shard", lit(i.toLong))
        }.reduce(_.unionByName(_))
        .orderBy(col("doc_id"))
    }),

    // p9's digest-family twin: the same even/odd two-shard deployment
    // under the governed EXACT-dedup loop (p8's family), reconciled by
    // reconcileShardOutputs — one digest equi-join star over the
    // union of the served corpora, drops fed back through each owning
    // shard's tombstone + scrub machinery. Full corpus (the exact
    // screen is cheap — no signature computation); oracle replays the
    // per-shard screens and the cross-shard min-id star in SQL.
    "p10_cross_shard_reconcile_digest" -> ((s, dir) => {
      val work = s"${System.getProperty("java.io.tmpdir")}/graft_reconcile_dig_" +
        java.lang.Integer.toHexString(dir.hashCode)
      new org.apache.hadoop.fs.Path(work)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(work), true)
      val docs = T(s, dir, "documents").withColumn("dig",
          sha2(substring(col("text"), 1, 30).cast("binary"), 256))
        .select("doc_id", "dig")
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      Dedup.buildTwoShardDeployment(docs, "doc_id", Dedup.Digests("dig"),
          maxId * 3 / 5, work)((d, ix) =>
        Dedup.writeDigestIndex(d, "doc_id", "dig", ix))
      GraftFunctions.register(s)
      val shards = (0 to 1).map(i =>
        Dedup.GovernedShardPaths(s"$work/ix$i", s"$work/out$i"))
      Dedup.reconcileShardOutputs(s, shards, "doc_id", Dedup.Digests("dig"))
      shards.zipWithIndex.map { case (sh, i) =>
          s.read.parquet(sh.outPath).select(col("doc_id"))
            .withColumn("shard", lit(i.toLong))
        }.reduce(_.unionByName(_))
        .orderBy(col("doc_id"))
    }),

    // KMV-gated decontamination (Pipelines.gatedContamination): the a6
    // overlap-sizing sketch wired into the scheduling decision it
    // exists for — two O(k) vocabulary synopses decide whether the
    // full contamination join is worth running before any corpus-scale
    // join starts. This fixture shares vocabulary (t6's exact split),
    // so the gate fires and the kept path is BIT-IDENTICAL to t6 (the
    // oracle is t6's SQL + the asserted gate verdict); the skip path —
    // a vocabulary-disjoint benchmark costing O(k) driver work and no
    // join — is spec-gated both ways in PipelinesSpec. At 100 TB the
    // corpus synopsis is built once beside the corpus and each new
    // benchmark is sized without touching corpus bytes.
    "p11_gated_decontaminate" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val (fired, pairs) = Pipelines.gatedContamination(
        docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
        "doc_id", "text", n = 3, minShared = 2, k = 256,
        minOverlapEst = 50.0)
      pairs.withColumn("gate_fired", lit(fired))
        .orderBy(col("train_id"), col("bench_id"))
    }),

    // ---- sampling / splitting tier ----

    // deterministic hash-bucket sampling (key-stable, RNG-free)
    "q20_hash_sample" -> ((s, dir) =>
      Sampling.sampleByHash(T(s, dir, "documents"), "doc_id", 0.25)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // stratified hash sampling: per-language keep fractions (downsample
    // dominant strata), still key-stable and RNG-free
    "q32_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedSampleByHash(T(s, dir, "documents"), "doc_id", "lang",
        StratifiedFractions, StratifiedDefault)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // temperature-weighted domain mixing (alpha = 0.5 up-weights tail
    // languages): rates derived from the per-stratum counts at runtime,
    // recomputed identically by the oracle
    "q41_temperature_mix" -> ((s, dir) =>
      Sampling.temperatureMix(T(s, dir, "documents"), "doc_id", "lang",
        alpha = 0.5, targetFrac = 0.3)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // temperature mixing with repetition: rare strata get epochs > 1
    // (deterministic copy counts from the hash bucket), common strata
    // downsample — expected counts hit the alpha-temperature target
    "q48_temperature_epochs" -> ((s, dir) =>
      Sampling.temperatureMixEpochs(T(s, dir, "documents"), "doc_id", "lang",
        alpha = 0.3, targetFrac = 0.5)
        .select(col("doc_id"), col("lang"), col("rep"))
        .orderBy(col("doc_id"), col("rep"))),

    // DSIR importance resampling (Xie et al. 2023): hashed unigram+bigram
    // bucket distributions fit in one scan (target = English docs), the
    // 9-dp-rounded log-ratio vector scores every doc in one shuffle-free
    // codegen pass, selection = deterministic hash-Gumbel top-k
    "q60_dsir_sample" -> ((s, dir) =>
      Sampling.dsirResample(T(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en", k = 200, buckets = 512)
        .select(col("doc_id"), col("dsir_score"), col("dsir_key"))
        .orderBy(col("dsir_key").desc, col("doc_id"))),

    // SLIDING event-time windows (1 h width, 15 min slide) — the
    // overlapping-window surface q12's tumbling hour lacks: each event
    // lands in exactly width/slide = 4 windows (Spark's window() emits
    // every overlap), aggregated per (window, type). Second-truncated
    // timestamps keep the boundary arithmetic engine-exact.
    "q62_sliding_window" -> ((s, dir) =>
      T(s, dir, "events")
        .withColumn("ts_sec", expr("timestamp_seconds(ts div 1000000000)"))
        .groupBy(window(col("ts_sec"), "1 hour", "15 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("value")), 2).as("sum_value"))
        .select(col("w.start").cast("long").as("win_start"),
          col("event_type"), col("cnt"), col("sum_value"))
        .orderBy(col("win_start"), col("event_type"))),

    // deterministic GLOBAL SHUFFLE into fixed training shards (the
    // corpus build's last stage): shard = hashMixed(key:salt) % 8,
    // within-shard order = hashMixed(key;salt) stored as `ord` — both
    // pure key functions (RNG-free, the q20 discipline), so the DuckDB
    // oracle checks the WHOLE permutation, not just membership. One
    // shuffle + per-task sort; one file per shard, rows in ord order
    // (file-order spec in ShardWriterSpec).
    "q63_training_shards" -> ((s, dir) => {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_shards_" +
        java.lang.Integer.toHexString(dir.hashCode)
      Sampling.writeTrainingShards(
        T(s, dir, "documents").select(col("doc_id"), col("lang")),
        out, "doc_id", shards = 8, salt = "r14")
      s.read.parquet(out)
        .select(col("shard").cast("long").as("shard"), col("doc_id"),
          col("lang"), col("ord"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("ord"), col("doc_id")))
          .cast("long"))
        .orderBy(col("shard"), col("rank"))
    }),

    // Z-ORDER clustered layout (multi-dimensional data skipping — the
    // lakehouse OPTIMIZE ZORDER BY capability over plain parquet): the
    // fact table is rewritten along the Morton curve of
    // (l_orderkey, l_partkey), so row-group min/max boxes are tight in
    // BOTH dimensions and a conjunctive 2-D range predicate prunes on
    // box AREA where a 1-D sort prunes on one column only (measured in
    // ZOrderSpec: 23 vs 121 of 602 files read for the same predicate).
    // The layout is an execution artifact — oracle = the same filter on
    // the original table.
    "q64_zorder_layout_read" -> ((s, dir) => {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_zorder_" +
        java.lang.Integer.toHexString(dir.hashCode)
      Layouts.writeZOrdered(
        T(s, dir, "lineitem")
          .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity"),
        out, "l_orderkey", "l_partkey", maxRecordsPerFile = 2000L)
      s.read.parquet(out)
        .filter(col("l_orderkey").between(100, 1500) &&
          col("l_partkey").between(20, 120))
        .orderBy(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_quantity"))
    }),

    // 3-D Z-order: same machinery, three interleaved columns (48 of 62
    // usable bits at 16 bits/col) — the layout's row-group boxes are
    // tight in all THREE dimensions, so the conjunctive 3-D predicate
    // prunes on box VOLUME (plan proof in PLANS.md q64b: all three
    // range predicates appear as PushedFilters and bite)
    "q64b_zorder3_layout_read" -> ((s, dir) => {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_zorder3_" +
        java.lang.Integer.toHexString(dir.hashCode)
      Layouts.writeZOrdered(
        T(s, dir, "lineitem")
          .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity"),
        out, Seq("l_orderkey", "l_partkey", "l_suppkey"),
        bits = 16, files = 0, maxRecordsPerFile = 2000L)
      s.read.parquet(out)
        .filter(col("l_orderkey").between(100, 1500) &&
          col("l_partkey").between(20, 120) &&
          col("l_suppkey").between(5, 60))
        .orderBy(col("l_orderkey"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"))
    }),

    // z-order LIFECYCLE (the lakehouse OPTIMIZE operating loop): the
    // first corpus slice is written clustered, the rest arrives via
    // the CHEAP append path (no range exchange — curve-unsorted files,
    // correct to read), and the fragmentation-measured trigger
    // reclusters the whole layout before serving. The read is the q64
    // predicate over the post-recluster layout; oracle = the same
    // filter on the original table (every lifecycle state is an
    // execution artifact).
    "q64c_zorder_lifecycle_read" -> ((s, dir) => {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_zorderlc_" +
        java.lang.Integer.toHexString(dir.hashCode)
      new org.apache.hadoop.fs.Path(out)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(out), true)
      val li = T(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
      val cut = li.agg(max(col("l_orderkey"))).head().getLong(0) * 3 / 5
      Layouts.writeZOrderedMaintained(li.filter(col("l_orderkey") <= cut),
        out, Seq("l_orderkey", "l_partkey"), maxRecordsPerFile = 2000L)
      Layouts.appendZOrdered(li.filter(col("l_orderkey") > cut), out)
      // bounded maintenance (r16): the measured trigger now drives the
      // INCREMENTAL pass — this tail is beyond the clustered domain, so
      // the rewrite is exactly the tail; the read plan is unchanged
      Layouts.autoReclusterZOrderedIncremental(s, out, threshold = 0.05)
      // the layout family's production read entry (snapshot contract;
      // quiescent here, so it is the identical pruned scan)
      Layouts.readMaintained(s, out)
        .filter(col("l_orderkey").between(100, 1500) &&
          col("l_partkey").between(20, 120))
        .orderBy(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_quantity"))
    }),

    // the same lifecycle driven as a STREAM: the layout bootstraps
    // clustered, the tail arrives as two micro-batches through
    // zOrderedIngestStream (exactly-once per-batch appends recorded in
    // the layout's own ledger, in-stream measured-trigger incremental
    // recluster), and the read is the identical pruned scan — every
    // lifecycle state, batch or streaming, is an execution artifact
    // invisible to the result (oracle = q64c's, the same filter on the
    // original table)
    "q64d_zorder_stream_ingest_read" -> ((s, dir) => {
      val work = s"${System.getProperty("java.io.tmpdir")}/graft_zstream_" +
        java.lang.Integer.toHexString(dir.hashCode)
      new org.apache.hadoop.fs.Path(work)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(work), true)
      val li = T(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
      val maxK = li.agg(max(col("l_orderkey"))).head().getLong(0)
      val (cut, cut2) = (maxK * 3 / 5, maxK * 4 / 5)
      Layouts.writeZOrderedMaintained(
        li.filter(col("l_orderkey") <= cut), s"$work/lay",
        Seq("l_orderkey", "l_partkey"), maxRecordsPerFile = 2000L)
      li.filter(col("l_orderkey") > cut && col("l_orderkey") <= cut2)
        .coalesce(1).write.parquet(s"$work/in")
      li.filter(col("l_orderkey") > cut2)
        .coalesce(1).write.mode("append").parquet(s"$work/in")
      GraftFunctions.register(s)
      val in = s"$work/in"; val lay = s"$work/lay"; val cp = s"$work/cp"
      val schema = s.read.parquet(in).schema
      val q = graft.streaming.StreamOps.zOrderedIngestStream(s, in,
        schema, lay, cp, reclusterThreshold = 0.05,
        maxFilesPerTrigger = 1)
      q.processAllAvailable(); q.awaitTermination(120000)
      // the post-lifecycle read on the snapshot contract (readMaintained
      // is the layout family's production read entry; quiescent here,
      // so it is the identical pruned scan over an explicit file list)
      Layouts.readMaintained(s, lay)
        .filter(col("l_orderkey").between(100, 1500) &&
          col("l_partkey").between(20, 120))
        .orderBy(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_quantity"))
    }),

    // hive-partitioned corpus layout: the corpus is WRITTEN partitioned
    // by lang (the layout a served training corpus ships in — one
    // directory per partition value, no lang bytes in the data files)
    // and read back with a partition filter: the scan's
    // PartitionFilters prunes every lang=*/ directory but the requested
    // one at the STORAGE layer — at 100 TB the read costs one
    // partition's bytes, not a full-scan-then-filter
    "q61_partitioned_pruned_read" -> ((s, dir) => {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_part_" +
        java.lang.Integer.toHexString(dir.hashCode)
      T(s, dir, "documents")
        .write.mode("overwrite").partitionBy("lang").parquet(out)
      s.read.parquet(out)
        .filter(col("lang") === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"))
    }),

    // deterministic train/test split: disjoint, exhaustive, reproducible
    "q21_train_test_split" -> ((s, dir) =>
      Sampling.trainTestSplit(T(s, dir, "documents"), "doc_id", 0.1)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("cnt"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("split"))),

    // ---- similarity search tier ----

    // exact brute-force cosine top-k (codegen'd native kernel)
    "s1_cosine_topk" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
        "qid", "qvec", k = 5)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // int8-quantized exact top-k: the memory/IO-compressed ANN path
    // (integer dot products — deterministic and engine-portable by
    // construction)
    "s4_quantized_topk" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.quantizedTopK(emb, queries, "vec_id", "embedding",
        "qid", "qvec", k = 5)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // LSH-bucketed approximate top-k (scale path). Oracle-checked via
    // embedded hyperplane literals, including the Hamming-1 multi-probe
    "s2_lsh_topk" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.lshTopK(emb, queries, "vec_id", "embedding",
        "qid", "qvec", k = 5, dim = 64)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // IVF ANN: frozen offline-trained coarse quantizer (AnnModels — the
    // production IVF shape: a fixed model artifact, not per-query
    // retraining) + nprobe probing. Oracle-checked end to end via the
    // centroid literals embedded in the oracle SQL; recall additionally
    // gated in LshRecallSpec against the exact baseline.
    "s3_ivf_topk" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
        "qid", "qvec", k = 5, AnnModels.ivfCentroids, nprobe = 8)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // persisted IVF cell-partitioned layout (the ANN SERVING artifact):
    // corpus written partitionBy(cell) under the frozen quantizer + a
    // params table carrying the centroid matrix, probe runs under the
    // layout's OWN stored geometry and reads only the probed cell
    // directories (PartitionFilters prune — PLANS.md s8). Result is
    // bit-identical to the live s3 path, so the oracle is s3's verbatim.
    "s8_ivf_indexed_topk" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_" +
        java.lang.Integer.toHexString(dir.hashCode)
      Similarity.writeIvfLayout(emb, out, "vec_id", "embedding",
        AnnModels.ivfCentroids)
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfTopKIndexed(s, out, queries, "qid", "qvec",
        k = 5, nprobe = 8)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // product-quantization ADC top-k with exact re-rank (scan-compression
    // ANN path): 16 subspaces x 16 centroids -> 16 codes/vector, ADC
    // shortlist of 50 re-ranked exactly (recall 0.98 vs s1, gated in
    // PqSpec). Frozen codebooks (AnnModels) make encode -> ADC -> re-rank
    // fully oracle-checked: the same literals ride in the oracle SQL.
    "s6_pq_topk" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.pqTopK(emb, queries, "vec_id", "embedding",
        "qid", "qvec", topK = 5, AnnModels.pqCodebooks,
        m = AnnModels.pqM, k = AnnModels.pqK, rerank = 50)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // IVF-PQ composition (cells prune WHICH rows, codes compress HOW
    // they're read) + exact re-rank; both frozen models embed in the
    // oracle SQL, so the composed pipeline is oracle-checked; recall
    // gated in PqSpec
    "s7_ivfpq_topk" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
        "qid", "qvec", topK = 5, AnnModels.ivfCentroids, nprobe = 8,
        AnnModels.pqCodebooks, m = AnnModels.pqM, k = AnnModels.pqK,
        rerank = 50)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // s8's PQ-coded sibling: the layout stores write-time PQ codes, so
    // the ADC stage scans (id, codes) of the probed cells ONLY —
    // PartitionFilters prunes the directories, parquet column pruning
    // keeps the float vectors unread — and just the rerank-50 shortlist
    // rejoins full precision (PLANS.md s9). Bit-identical to the live
    // s7 pipeline, so the oracle is s7's verbatim.
    "s9_ivfpq_indexed_topk" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_ivfpq_" +
        java.lang.Integer.toHexString(dir.hashCode)
      Similarity.writeIvfLayout(emb, out, "vec_id", "embedding",
        AnnModels.ivfCentroids, AnnModels.pqCodebooks,
        pqM = AnnModels.pqM, pqK = AnnModels.pqK)
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfPqTopKIndexed(s, out, queries, "qid", "qvec",
        topK = 5, nprobe = 8, rerank = 50)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // takedown lifecycle on the SERVING layout (s8's deletion path —
    // the ANN twin of b4c): vec_id % 7 = 3 is tombstoned after the
    // build, then compactIvfLayout physically purges the rows by
    // rewriting ONLY the hit cell=K/ directories (O(hit cells), never a
    // corpus rewrite) and folds the tombstones. The probe runs against
    // the purged layout; oracle = s3's SQL on the RETAINED corpus.
    "s10_ivf_layout_delete" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_ivfdel_" +
        java.lang.Integer.toHexString(dir.hashCode)
      Similarity.writeIvfLayout(emb, out, "vec_id", "embedding",
        AnnModels.ivfCentroids)
      Similarity.deleteFromIvfLayout(s, out,
        emb.filter(col("vec_id") % 7 === 3), "vec_id")
      Similarity.compactIvfLayout(s, out)
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfTopKIndexed(s, out, queries, "qid", "qvec",
        k = 5, nprobe = 8)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // approximate k-NN GRAPH: every corpus vector's top-3 neighbors via
    // the cell-blocked shuffle self-join (query side = the corpus, so no
    // broadcast — the s-family's small-query contract doesn't apply).
    // Work = n²·nprobe/cells, n^1.5 under the 4·sqrt(n) law; a pair can
    // meet in at most one cell (argmax base side), so no dedup precedes
    // the bounded top-k. Oracle = the same pipeline with q = everything.
    "s11_knn_graph" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.knnGraph(emb, "vec_id", "embedding", k = 3,
        AnnModels.ivfCentroids, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // incremental k-NN graph maintenance: the graph over the first 4/5
    // of the corpus is folded forward with the remaining 1/5 as a batch
    // — two corpus scans + batch-proportional pairs instead of the
    // rebuild's n²·nprobe/cells, and the result is PROVABLY the rebuild
    // (top-k is monotone; the cap decomposes under the monotone-id
    // contract), so the oracle is s11's verbatim.
    "s12_knn_graph_increment" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val cut = (emb.count() * 4L) / 5L
      val corpus = emb.filter(col("vec_id") < cut)
      val batch = emb.filter(col("vec_id") >= cut)
      val old = Similarity.knnGraph(corpus, "vec_id", "embedding", k = 3,
        AnnModels.ivfCentroids, nprobe = 2)
      Similarity.knnGraphIncrement(old, corpus, batch,
        "vec_id", "embedding", k = 3, AnnModels.ivfCentroids, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // distributed mean pooling: exact per-label centroids in ONE pass
    // (decomposable vector-sum aggregate, no explode fan-out); output
    // flattened to scalars for the oracle compare
    "s5_label_centroids" -> ((s, dir) => {
      GraftFunctions.register(s)
      T(s, dir, "embeddings")
        .groupBy(col("label"))
        .agg(GraftFunctions.vectorAvg(col("embedding"), 64).as("c"),
          count(lit(1)).as("n"))
        .select(col("label").cast("long").as("label"), col("n"),
          posexplode(col("c")).as(Seq("dim", "v")))
        .select(col("label"), col("n"), col("dim").cast("long").as("dim"),
          TextFunctions.roundHalfUp(col("v"), 6).as("c"))
        .orderBy(col("label"), col("dim"))
    }),

    // ---- multimodal tier ----

    "m1_media_meta" -> ((s, dir) => {
      val m = Multimodal.mediaMeta(T(s, dir, "documents"))
      Seq("n_bytes", "width", "height")
        .foldLeft(m)((d, c) => d.withColumn(c, col(c).cast("long")))
    }),

    "m2_frame_sample" -> ((s, dir) =>
      Multimodal.frameSample(T(s, dir, "documents"), frameLen = 100)),

    "m3_resize_meta" -> ((s, dir) =>
      Multimodal.resizeMeta(T(s, dir, "documents"), maxDim = 256)),

    // content-addressed media dedup: byte-identical payloads grouped by
    // SHA-256 (30-char text prefixes stand in for thumbnail bytes and
    // contain real duplicate mass in the fixture)
    "m5_media_dedup" -> ((s, dir) =>
      Multimodal.contentDedup(
        T(s, dir, "documents")
          .withColumn("payload", substring(col("text"), 1, 30).cast("binary")),
        "doc_id", "payload")),

    // REAL image decode via mapPartitions (javax.imageio): deterministic
    // tiny PNGs are encoded AND decoded by the actual codec; PNG is
    // lossless, so the decoded integer pixel statistics equal the pattern
    // arithmetic the oracle SQL evaluates — dimension swaps, row-order or
    // channel-order bugs all break the parity.
    "m4_decode_features" -> ((s, dir) =>
      Multimodal.decodeImageFeatures(
        Multimodal.imagePayloads(T(s, dir, "documents"), "doc_id"),
        "doc_id", "payload").toDF()
        .orderBy(col("doc_id"))),
  )

  // ---- shared fragments for the hash-based dedup oracles ----
  // The portable polynomial hashes, the SimHash avalanche mixer, and the
  // MinHash affine family are all pure 64-bit integer arithmetic, so the
  // oracle embeds the SAME constants/coefficients as SQL literals and
  // DuckDB reproduces every signature bit-for-bit.

  private val ShP = graft.functions.TextFunctions.ShPrime

  /** CTE: per-doc token-hash list (mirrors TextFunctions.tokenHashes). */
  private def duckTokenHashes(src: String = "documents",
                              name: String = "th"): String =
    s"""$name AS (
       |  SELECT doc_id,
       |    [list_reduce(list_prepend(CAST(0 AS BIGINT),
       |       [CAST(unicode(ch) AS BIGINT) for ch in string_split(t, '')]),
       |       (acc, x) -> (acc * 131 + x) % $ShP)
       |     for t in string_split(text, ' ')] AS th
       |  FROM $src)""".stripMargin

  /** Avalanche mixer applied to SQL expression `e` (mirrors SimHashBits /
    * Sampling.hashBucket: mixRounds rounds of x*1021+12345 mod `prime`). */
  private def duckMix(e: String, prime: Long = ShP): String = {
    import graft.functions.SimHashBits._
    (0 until MixRounds).foldLeft(e)((acc, _) =>
      s"(($acc) * $MixMul + $MixAdd) % $prime")
  }

  /** SQL expression: width-bit SimHash of token-hash list column `th`. */
  private def duckSimHash(width: Int): String =
    s"""CAST(list_sum([CASE
       |      WHEN list_sum([CASE WHEN ((${duckMix("h")}) >> b) & 1 = 1
       |                          THEN 1 ELSE -1 END for h in th]) > 0
       |      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END
       |      for b in range(0, $width)]) AS BIGINT)""".stripMargin

  /** CTE chain: distinct hashed 3-gram shingle sets `s(doc_id, sh)`
    * (mirrors TextFunctions.hashedShingleSet with n = 3). */
  private def duckShingleSets(thName: String = "th",
                              name: String = "s"): String =
    s"""$name AS (
       |  SELECT doc_id,
       |    list_distinct([((((th[i]) * 131 + th[i+1]) % $ShP) * 131 + th[i+2]) % $ShP
       |                   for i in range(1, len(th) - 1)]) AS sh
       |  FROM $thName WHERE len(th) >= 3)""".stripMargin

  /** CTE list (ending in `pairs(id_a, id_b, jaccard)`) for the full
    * MinHash LSH near-dup oracle (mirrors Dedup.minHashNearDupPairs with
    * the given params): signatures from the seeded affine family, band
    * keys from the polynomial fold, candidates = pairs sharing any
    * (band, key), verification = exact Jaccard.
    */
  private def duckMinHashCtes(numHashes: Int, bands: Int,
                              threshold: Double,
                              src: String = "documents",
                              pairCond: String = "a.doc_id < c.doc_id"): String = {
    val (as, bs) = graft.functions.MinHashCoeffs(numHashes)
    val m = graft.functions.MinHashCoeffs.Prime
    val rpb = numHashes / bands
    val sigItems = as.zip(bs).map { case (a, b) =>
      s"list_min([($a * x + $b) % $m for x in shm])"
    }.mkString(",\n      ")
    val bandFolds = (0 until bands).map { b =>
      (0 until rpb).foldLeft("CAST(0 AS BIGINT)")((acc, r) =>
        s"(($acc) * 131 + sig[${b * rpb + r + 1}]) % $ShP")
    }.mkString(",\n      ")
    val orCond = (1 to bands).map(i => s"a.bk[$i] = c.bk[$i]").mkString(" OR ")
    s"""${duckTokenHashes(src)},
       |${duckShingleSets()},
       |m AS (
       |  SELECT doc_id, sh, [x % $m for x in sh] AS shm FROM s WHERE len(sh) > 0),
       |sg AS (
       |  SELECT doc_id, sh, [
       |      $sigItems] AS sig
       |  FROM m),
       |b AS (
       |  SELECT doc_id, sh, [
       |      $bandFolds] AS bk
       |  FROM sg),
       |pairs AS (
       |  SELECT id_a, id_b, jaccard FROM (
       |    SELECT a.doc_id AS id_a, c.doc_id AS id_b,
       |      floor(CAST(len(list_intersect(a.sh, c.sh)) AS DOUBLE)
       |            / (len(a.sh) + len(c.sh)
       |               - CAST(len(list_intersect(a.sh, c.sh)) AS DOUBLE))
       |            * 1000000.0 + 0.5) / 1000000.0 AS jaccard
       |    FROM b a JOIN b c ON ($pairCond) AND ($orCond))
       |  WHERE jaccard >= $threshold)""".stripMargin
  }

  /** SQL expression mirroring TextOps.qualityCol over a token-list column
    * `tk` (rounded half-up at 1e-6, like the Spark side).
    */
  private def duckQualityExpr: String =
    """floor((0.3 * least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0)
      |  + 0.4 * (CASE WHEN len(tk) > 0
      |           THEN CAST(len(list_filter(tk, t -> t IN
      |             ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / len(tk)
      |           ELSE 0.0 END)
      |  + 0.3 * least((CASE WHEN len(tk) > 0
      |           THEN CAST(list_aggregate([length(t) for t in tk], 'sum') AS DOUBLE) / len(tk)
      |           ELSE 0.0 END) / 8.0, 1.0)
      |) * 1000000.0 + 0.5) / 1000000.0""".stripMargin

  /** Nested-subquery table expression mirroring Sampling.hashBucket:
    * carries `cols` through, adds `bkt`. Nested selects keep the xor-shift
    * rounds linear in SQL size (inlining would double the expression per
    * round).
    */
  private def duckWithBucket(cols: String, keyCol: String,
                             src: String = "documents"): String = {
    val fp = graft.functions.TextFunctions.FpPrime
    val fold =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      [CAST(unicode(ch) AS BIGINT) for ch in string_split(CAST($keyCol AS VARCHAR), '')]),
         |      (acc, x) -> (acc * 131 + x) % $fp)""".stripMargin
    var q = s"SELECT $cols, $fold AS mx FROM $src"
    (0 until graft.operators.Sampling.MixRounds).foreach { _ =>
      q = s"SELECT $cols, (xor(mx, mx >> 13) * 1021 + 12345) % $fp AS mx FROM ($q)"
    }
    s"SELECT $cols, mx % ${graft.operators.Sampling.Buckets} AS bkt FROM ($q)"
  }

  /** [[duckWithBucket]]'s generalized core: mix an arbitrary key
    * EXPRESSION into a named full-resolution hash column (no bucket
    * mod), carrying `cols` through — q63 derives both its shard id and
    * its shuffle order from two salted keys this way.
    */
  private def duckMixedKey(cols: String, keyExpr: String, as: String,
                           src: String): String = {
    val fp = graft.functions.TextFunctions.FpPrime
    val fold =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      [CAST(unicode(ch) AS BIGINT) for ch in string_split($keyExpr, '')]),
         |      (acc, x) -> (acc * 131 + x) % $fp)""".stripMargin
    var q = s"SELECT $cols, $fold AS $as FROM $src"
    (0 until graft.operators.Sampling.MixRounds).foreach { _ =>
      q = s"SELECT $cols, (xor($as, $as >> 13) * 1021 + 12345) % $fp AS $as FROM ($q)"
    }
    q
  }

  /** q63's oracle: the whole shard PERMUTATION reproduced — shard id
    * and within-shard rank both derive from the portable mixed hash
    * over the salted keys, exactly like the Spark writer. */
  private lazy val q63ShardsOracleSql: String = {
    val s1 = duckMixedKey("doc_id, lang",
      "CAST(doc_id AS VARCHAR) || ':r14'", "mxs", "documents")
    val s2 = duckMixedKey("doc_id, lang, mxs",
      "CAST(doc_id AS VARCHAR) || ';r14'", "ord", s"($s1)")
    s"""SELECT mxs % 8 AS shard, doc_id, lang, ord,
       |  row_number() OVER (PARTITION BY mxs % 8 ORDER BY ord, doc_id) AS rank
       |FROM ($s2)
       |ORDER BY shard, rank""".stripMargin
  }

  /** CTE body `bk(vec_id, tbl, bkt)`: per-table SRP bucket ids over
    * `emb(vec_id, v DOUBLE[])` — one UNION ALL branch per table, with the
    * seed-deterministic hyperplane constants of
    * [[graft.functions.SrpHash.hyperplanes]] embedded as double literals
    * (the exact double value of each float plane coefficient). DuckDB's
    * `list_dot_product` over DOUBLE[] accumulates in index order, so every
    * sign bit — and therefore every bucket id — reproduces the codegen'd
    * [[graft.functions.SrpBuckets]] kernel bit for bit (verified: zero
    * pair/rank mismatches vs the Spark dump at sf0.01).
    */
  private def duckSrpBk(tables: Int, planes: Int, dim: Int): String =
    (0 until tables).map { t =>
      val cases = graft.functions.SrpHash.hyperplanes(t, planes, dim)
        .zipWithIndex.map { case (p, j) =>
          val lits = p.map(_.toDouble.toString).mkString(", ")
          s"CASE WHEN list_dot_product(v, [$lits]) >= 0 THEN ${1L << j} ELSE 0 END"
        }.mkString("\n     + ")
      s"SELECT vec_id, $t AS tbl, ($cases) AS bkt FROM emb"
    }.mkString("\nUNION ALL\n")

  private val duckCos =
    """round(list_dot_product(a.v, b.v)
      |          / sqrt(list_dot_product(a.v, a.v)
      |                 * list_dot_product(b.v, b.v)), 6)""".stripMargin

  /** UNNEST list body for Hamming-1 multi-probe over a `bkt` column:
    * the bucket itself plus each single-bit flip — the probe rule of
    * [[graft.operators.Dedup.embeddingNearDupLsh]] (multiProbe) and
    * [[graft.operators.Similarity.lshTopK]].
    */
  private def duckHamming1Probes(planes: Int): String =
    ("bkt" +: (0 until planes).map(j => s"xor(bkt, ${1L << j})"))
      .mkString(", ")

  /** Double literal that parses back to EXACTLY the widened float: Java's
    * `Double.toString` emits the shortest decimal that round-trips the
    * double, and float→double widening is exact, so DuckDB sees the same
    * 64-bit value the codegen'd kernels compute with.
    */
  private def dLit(f: Float): String = f.toDouble.toString

  /** `cent(cid, cv)` VALUES rows — the frozen IVF coarse quantizer
    * (AnnModels) as DOUBLE[] literals.
    */
  private def duckIvfCentVals: String =
    AnnModels.ivfCentroids.zipWithIndex.map { case (cv, i) =>
      s"($i, [${cv.map(dLit).mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n")

  /** Top-`nprobe` centroid cells per vector by (inner product DESC, cid
    * ASC) — the exact selection rule of [[graft.functions.IvfProbe]]
    * (strict-< insertion keeps the lower id on ties). `filter` restricts
    * the vector set (e.g. the query side); `cols` picks the projection.
    */
  private def duckIvfCells(nprobe: Int, cols: String,
                           filter: String = "",
                           from: String = "emb"): String =
    s"""SELECT $cols FROM (
       |  SELECT e.vec_id, e.v, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_dot_product(e.v, c.cv) DESC, c.cid) AS rn
       |  FROM $from e, cent c$filter) WHERE rn <= $nprobe""".stripMargin

  /** IVF ANN pipeline fully reproduced in SQL, parameterized: the
    * frozen coarse quantizer (AnnModels) embeds as DOUBLE[] literals;
    * cell assignment = argmax inner product (ties → lower cid, the
    * kernel's strict-< rule), queries probe their `nprobe` nearest
    * cells, candidates meet on the cell id, rank ≤ `topK` per query.
    * `extraCte`/`cellsFrom` restrict the corpus side (s10's retained
    * corpus); `qFilter` restricts the query side.
    */
  private def ivfOracleSqlFor(nprobe: Int, topK: Int, qFilter: String,
                              extraCte: String = "",
                              cellsFrom: String = "emb"): String =
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |            FROM embeddings),$extraCte
       |cent(cid, cv) AS (VALUES $duckIvfCentVals),
       |cells AS (${duckIvfCells(1, "vec_id, v, cid AS cell",
      from = cellsFrom)}),
       |q AS (${duckIvfCells(nprobe, "vec_id AS qid, v AS qv, cid AS cell",
      qFilter)}),
       |sc AS (SELECT q.qid, c.vec_id,
       |    round(list_dot_product(c.v, q.qv)
       |          / sqrt(list_dot_product(c.v, c.v)
       |                 * list_dot_product(q.qv, q.qv)), 6) AS sim
       |  FROM cells c JOIN q ON c.cell = q.cell WHERE c.vec_id <> q.qid)
       |SELECT qid, vec_id, sim, rank FROM (
       |  SELECT qid, vec_id, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
       |  FROM sc) WHERE rank <= $topK
       |ORDER BY qid, rank""".stripMargin

  /** Shared verbatim by s3 (live path) and s8 (persisted layout) —
    * the layout is invisible to the result contract. */
  private lazy val s3IvfOracleSql: String =
    ivfOracleSqlFor(8, 5, " WHERE e.vec_id < 10")

  /** s10's oracle: s3's IVF pipeline with the layout's takedown set
    * removed from the CORPUS side — queries still come from the full
    * table (a deleted id may still ask; it can no longer be served).
    * The pending-tombstone anti-join, the physical purge and the
    * hit-cell-only rewrite are all invisible to the result contract:
    * the probe must equal a layout built from the retained corpus.
    */
  private lazy val s10IvfDeleteOracleSql: String =
    ivfOracleSqlFor(8, 5, " WHERE e.vec_id < 10",
      extraCte = "\nret AS (SELECT * FROM emb WHERE vec_id % 7 <> 3),",
      cellsFrom = "ret")

  /** s11's oracle: the SAME cell-blocked pipeline with the query side =
    * the whole corpus — the k-NN graph is s3's semantics at
    * queries = everything; the Spark side's shuffle join vs broadcast
    * is an execution choice the result contract cannot see. (The
    * maxCell hot-cell cap is inactive at the verify SF — occupancy sits
    * far below it — exactly like the band caps in the dedup oracles.)
    */
  private lazy val s11KnnGraphOracleSql: String =
    ivfOracleSqlFor(2, 3, "")

  /** IVF-PQ composed pipeline in SQL: both frozen models embed as
    * literals — cells prune WHICH corpus rows are ADC-scored, codes
    * compress HOW, shortlist re-ranks exactly. The re-rank joins the
    * one-row-per-query qv CTE, never the per-cell probe rows. Shared
    * verbatim by s7 (live path) and s9 (persisted PQ-coded layout).
    */
  private lazy val s7IvfPqOracleSql: String =
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |            FROM embeddings),
       |cent(cid, cv) AS (VALUES $duckIvfCentVals),
       |cb(s, c, sub, nrm) AS (VALUES $duckPqCbVals),
       |qv AS (SELECT vec_id AS qid, v AS qv FROM emb WHERE vec_id < 10),
       |cells AS (${duckIvfCells(1, "vec_id, cid AS cell")}),
       |qp AS (${duckIvfCells(8, "vec_id AS qid, v AS q, cid AS cell",
      " WHERE e.vec_id < 10")}),
       |$duckPqRecCtes,
       |adc AS (SELECT qp.qid, r.vec_id,
       |    round(CASE WHEN r.nx = 0 OR list_dot_product(qp.q, qp.q) = 0 THEN 0.0
       |          ELSE list_dot_product(qp.q, r.recon)
       |               / sqrt(r.nx * list_dot_product(qp.q, qp.q)) END, 6) AS sim
       |  FROM cells cl JOIN qp ON cl.cell = qp.cell
       |  JOIN rec r ON r.vec_id = cl.vec_id
       |  WHERE cl.vec_id <> qp.qid),
       |${duckAdcRerankTail(rerank = 50, topK = 5)}""".stripMargin

  /** `cb(s, c, sub, nrm)` VALUES rows — the frozen PQ codebook (AnnModels)
    * as DOUBLE[] literals plus each centroid's squared L2 norm, summed in
    * index order exactly like [[graft.functions.PqKernel.centroidNormsSq]]
    * (the ADC kernel's `nx` accumulates these per-subspace partials, NOT a
    * flat sum over the reconstruction — the oracle must preserve that
    * grouping for bit-parity).
    */
  private def duckPqCbVals: String =
    AnnModels.pqCodebooks.zipWithIndex.map { case (sub, r) =>
      val s = r / AnnModels.pqK
      val c = r % AnnModels.pqK
      var nrm = 0.0
      sub.foreach { f => val d = f.toDouble; nrm += d * d }
      s"($s, $c, [${sub.map(dLit).mkString(", ")}]::DOUBLE[], $nrm)"
    }.mkString(",\n")

  /** PQ encode + reconstruction CTE pair (`enc`, `rec`): per (vector,
    * subspace) the L2-nearest codebook centroid (ties → lower id, the
    * kernel's strict-< rule), then the concatenated reconstruction and
    * the subspace-grouped squared norm. The distance is an explicit
    * left-associated 4-term chain — the same accumulation order as
    * [[graft.functions.PqKernel.encode]]'s inner loop.
    */
  private def duckPqRecCtes: String = {
    val sub = AnnModels.pqSubDim
    val dist = (0 until sub).map { i =>
      s"(e.v[cb.s*$sub + ${i + 1}] - cb.sub[${i + 1}]) * " +
        s"(e.v[cb.s*$sub + ${i + 1}] - cb.sub[${i + 1}])"
    }.mkString(" + ")
    s"""enc AS (SELECT vec_id, s, sub, nrm FROM (
       |  SELECT e.vec_id, cb.s, cb.sub, cb.nrm,
       |    row_number() OVER (PARTITION BY e.vec_id, cb.s
       |      ORDER BY $dist, cb.c) AS rn
       |  FROM emb e, cb) WHERE rn = 1),
       |rec AS (SELECT vec_id, flatten(list(sub ORDER BY s)) AS recon,
       |    list_reduce(list(nrm ORDER BY s), (a, b) -> a + b) AS nx
       |  FROM enc GROUP BY vec_id)""".stripMargin
  }

  /** ADC-shortlist → exact-re-rank tail shared by s6/s7: rank the ADC
    * scores (sim DESC, id ASC — TopKByScore's tie-break), keep `rerank`,
    * re-score ONLY those pairs with exact cosine, keep `topK`. `qv` must
    * be a (qid, qv) CTE with ONE row per query (the re-rank side must not
    * join the per-cell probe rows — that duplicates shortlist pairs).
    */
  private def duckAdcRerankTail(rerank: Int, topK: Int): String =
    s"""sl AS (SELECT qid, vec_id FROM (
       |  SELECT qid, vec_id,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
       |  FROM adc) WHERE rn <= $rerank),
       |ex AS (SELECT sl.qid, sl.vec_id,
       |    round(list_dot_product(c.v, q.qv)
       |          / sqrt(list_dot_product(c.v, c.v)
       |                 * list_dot_product(q.qv, q.qv)), 6) AS sim
       |  FROM sl JOIN emb c ON c.vec_id = sl.vec_id JOIN qv q ON q.qid = sl.qid)
       |SELECT qid, vec_id, sim, rank FROM (
       |  SELECT qid, vec_id, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
       |  FROM ex) WHERE rank <= $topK
       |ORDER BY qid, rank""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops — the
    * driver records a weaker rows-only check for those.
    */
  def oracleSql: Map[String, String] = ListMap(

    "r1_uppercase" ->
      "SELECT doc_id, upper(text) AS text_upper FROM documents ORDER BY doc_id",

    "r2_filter_city" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer WHERE c_mktsegment <> 'BUILDING' ORDER BY c_custkey""".stripMargin,

    "r3_avg_by_segment" ->
      """SELECT c_mktsegment, round(sum(c_acctbal), 2) AS sum_bal,
        |count(*) AS cnt, floor(avg(c_acctbal) * 10000.0 + 0.5) / 10000.0 AS avg_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "r4_csv_roundtrip" ->
      """SELECT concat_ws(',', c_custkey, c_name, c_nationkey, c_mktsegment) AS value
        |FROM customer WHERE c_mktsegment <> 'BUILDING' ORDER BY value""".stripMargin,

    "r5_typed_avg" ->
      """SELECT c_mktsegment,
        |floor(avg(c_acctbal) * 10000.0 + 0.5) / 10000.0 AS avg_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // the compressed-text cycle is invisible to the result contract
    "r8_gzip_text_roundtrip" ->
      """SELECT upper(text) AS text_upper FROM documents
        |ORDER BY text_upper""".stripMargin,

    // the JSONL write→parse cycle is invisible to the result contract:
    // reading back equals the original projection
    "r6_jsonl_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // same for ORC: the format is an execution artifact; the filter and
    // aggregate see the original rows
    "r7_orc_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS cnt,
        |round(sum(c_acctbal), 2) AS sum_bal
        |FROM customer WHERE c_mktsegment <> 'BUILDING'
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |round(sum(l_quantity), 2) AS sum_qty,
        |round(sum(l_extendedprice), 2) AS sum_base_price,
        |round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
        |floor(avg(l_quantity) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
        |floor(avg(l_extendedprice) * 10000.0 + 0.5) / 10000.0 AS avg_price,
        |floor(avg(l_discount) * 1000000.0 + 0.5) / 1000000.0 AS avg_disc,
        |count(*) AS cnt
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_top_orders" ->
      """SELECT l_orderkey, CAST(epoch(o_orderdate) AS BIGINT) AS o_date_epoch,
        |o_orderpriority, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND o_orderkey = l_orderkey
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      """SELECT n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM region, nation, customer, orders, lineitem, supplier
        |WHERE r_name = 'EUROPE' AND r_regionkey = n_regionkey
        |  AND n_nationkey = c_nationkey AND c_custkey = o_custkey
        |  AND o_orderkey = l_orderkey AND l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q7_flagship_nation_avg" ->
      """SELECT n_name, round(sum(o_totalprice), 2) AS sum_price,
        |count(*) AS cnt, floor(avg(o_totalprice) * 10000.0 + 0.5) / 10000.0 AS avg_price
        |FROM orders, customer, nation
        |WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
        |  AND n_name <> 'NATION_13'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q8_window_topk" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer) WHERE rn <= 3
        |ORDER BY c_mktsegment, rn""".stripMargin,

    "q9_customers_without_orders" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,

    "q10_customers_with_big_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,

    "q11_rollup_flag_status" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q12_events_hourly" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
        |event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_epoch, event_type""".stripMargin,

    // null battery: IS NOT DISTINCT FROM == Spark's <=>
    "q49_null_battery" ->
      """WITH c AS (
        |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
        |    CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_acctbal END AS bal_n,
        |    CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_mktsegment END AS seg_n
        |  FROM customer WHERE c_custkey < 300)
        |SELECT c_custkey,
        |  COALESCE(bal_n, -1.0) AS bal_or_default,
        |  NULLIF(seg_n, 'BUILDING') AS seg_nullif,
        |  CAST(bal_n IS NOT DISTINCT FROM c_acctbal AS INTEGER) AS bal_nse,
        |  CASE WHEN seg_n IS NOT NULL THEN 'has' ELSE 'none' END AS seg_nvl2,
        |  CAST(bal_n IS NULL AS INTEGER) AS bal_is_null,
        |  COALESCE(seg_n, c_name) AS seg_or_name
        |FROM c ORDER BY c_custkey""".stripMargin,

    // the bounded aggregate's (score DESC, id ASC) total order == the
    // row_number formulation's ORDER BY
    "q47_grouped_topk" ->
      """SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority,
        |    CAST(row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rank,
        |    o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |  FROM orders)
        |WHERE rank <= 3 ORDER BY o_orderpriority, rank""".stripMargin,

    "q44_join_types" ->
      """WITH c AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 3 = 0),
        |o AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_custkey % 2 = 0)
        |SELECT * FROM (
        |  SELECT 'inner' AS join_type, count(*) AS cnt FROM c JOIN o USING (k)
        |  UNION ALL SELECT 'left', count(*) FROM c LEFT JOIN o USING (k)
        |  UNION ALL SELECT 'right', count(*) FROM c RIGHT JOIN o USING (k)
        |  UNION ALL SELECT 'full', count(*) FROM c FULL JOIN o USING (k)
        |  UNION ALL SELECT 'semi', count(*) FROM c SEMI JOIN o USING (k)
        |  UNION ALL SELECT 'anti', count(*) FROM c ANTI JOIN o USING (k))
        |ORDER BY join_type""".stripMargin,

    // full-outer diff with null-safe payload comparison
    "q45_snapshot_diff" ->
      """WITH oldc AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 7 <> 0),
        |newc AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 5 <> 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.lang IS NOT DISTINCT FROM n.lang
        |        AND o.text IS NOT DISTINCT FROM n.text THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM oldc o FULL JOIN newc n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,

    // grid = per-key span unnested at 600 s; empty buckets fill with
    // explicit zeros (range end is exclusive, Spark sequence inclusive —
    // hi + 600 aligns them)
    "q46_gap_fill" ->
      """WITH a AS (
        |  SELECT event_type,
        |    (CAST(floor(epoch(ts)) AS BIGINT) // 600) * 600 AS bucket,
        |    count(*) AS cnt, round(sum(value), 2) AS sum_value
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
        |      FROM a GROUP BY 1),
        |g AS (SELECT event_type, unnest(range(lo, hi + 600, 600)) AS bucket
        |      FROM s)
        |SELECT g.event_type, g.bucket,
        |  CAST(COALESCE(a.cnt, 0) AS BIGINT) AS cnt,
        |  COALESCE(a.sum_value, 0.0) AS sum_value
        |FROM g LEFT JOIN a ON g.event_type = a.event_type AND g.bucket = a.bucket
        |ORDER BY g.event_type, g.bucket""".stripMargin,

    "q13_distinct_parts_per_flag" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |count(DISTINCT l_suppkey) AS n_supps, count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q14_set_ops" ->
      """SELECT 'with_orders' AS tag, key FROM (
        |  SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'without_orders' AS tag, key FROM (
        |  SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
        |  EXCEPT SELECT o_custkey FROM orders)
        |ORDER BY tag, key""".stripMargin,

    "q15_percentiles" ->
      """SELECT l_returnflag,
        |round(quantile_cont(l_quantity, 0.5), 4) AS qty_p50,
        |round(quantile_cont(l_quantity, 0.9), 4) AS qty_p90,
        |round(quantile_cont(l_extendedprice, 0.5), 4) AS price_p50
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // Self-verifying sketch rows (r18): the HLL estimate itself never
    // leaves the query — the hashed output is (group, exact count(s),
    // within_bound), and the oracle asserts the bound HELD (TRUE
    // literal). A sketch drifting past its 4·rsd accuracy contract
    // flips within_bound to false and hash-fails the round.
    "a1_approx_distinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  count(*) AS cnt, TRUE AS within_bound
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "a3_hll_union" ->
      """SELECT * FROM (
        |  SELECT event_type,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |    count(*) AS cnt, TRUE AS within_bound
        |  FROM events GROUP BY 1
        |  UNION ALL
        |  SELECT '_all', CAST(count(DISTINCT user_id) AS BIGINT),
        |    count(*), TRUE
        |  FROM events)
        |ORDER BY event_type""".stripMargin,

    // KMV self-verifying rows (a6/a7): same contract as a1/a3 — the
    // oracle reproduces the EXACT overlap/distinct counts (the same
    // portable shingle CTEs t18 hash-verifies) and asserts the bound
    // held; the KMV estimate itself never reaches the hash.
    "a6_kmv_source_overlap" ->
      s"""WITH ${duckTokenHashes()},
         |${duckShingleSets()},
         |v AS (
         |  SELECT DISTINCT d.source AS src, unnest(s.sh) AS tok
         |  FROM s JOIN documents d USING (doc_id)),
         |c AS (SELECT a.src AS src_a, b.src AS src_b,
         |        count(*) AS common_exact
         |      FROM v a JOIN v b ON a.tok = b.tok AND a.src < b.src
         |      GROUP BY 1, 2)
         |SELECT src_a, src_b, common_exact, TRUE AS within_bound
         |FROM c ORDER BY src_a, src_b""".stripMargin,

    "a7_kmv_rollup" ->
      s"""WITH ${duckTokenHashes()},
         |${duckShingleSets()},
         |v AS (
         |  SELECT DISTINCT d.source AS src, unnest(s.sh) AS tok
         |  FROM s JOIN documents d USING (doc_id))
         |SELECT * FROM (
         |  SELECT src, count(*) AS exact_ngrams, TRUE AS within_bound
         |  FROM v GROUP BY 1
         |  UNION ALL
         |  SELECT '_all', CAST(count(DISTINCT tok) AS BIGINT), TRUE
         |  FROM v)
         |ORDER BY src""".stripMargin,

    "a8_kll_quantile_rollup" ->
      """SELECT * FROM (
        |  SELECT l_returnflag, count(*) AS cnt,
        |    round(quantile_cont(l_quantity, 0.5), 4) AS exact_p50,
        |    round(quantile_cont(l_quantity, 0.9), 4) AS exact_p90,
        |    TRUE AS within_bound
        |  FROM lineitem GROUP BY 1
        |  UNION ALL
        |  SELECT '_all', count(*),
        |    round(quantile_cont(l_quantity, 0.5), 4),
        |    round(quantile_cont(l_quantity, 0.9), 4), TRUE
        |  FROM lineitem)
        |ORDER BY l_returnflag""".stripMargin,

    // Self-verifying rank-bound row (r19): the oracle reproduces the
    // exact percentiles and asserts the GK hard rank bound held — a
    // drifting sketch hash-fails (see the query's comment).
    "a2_approx_quantile" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS exact_p50,
        |  round(quantile_cont(l_quantity, 0.9), 4) AS exact_p90,
        |  TRUE AS within_bound
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q16_props_extract" ->
      """SELECT event_type,
        |  CAST(sum(k_val) AS BIGINT) AS sum_k, count(k_val) AS cnt_k,
        |  floor(avg(k_val) * 10000.0 + 0.5) / 10000.0 AS avg_k
        |FROM (SELECT event_type,
        |        CAST(NULLIF(regexp_extract(props, '"k": (\d+)', 1), '') AS BIGINT) AS k_val
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q17_monthly_revenue" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |round(sum(o_totalprice), 2) AS revenue, count(*) AS cnt
        |FROM orders GROUP BY month ORDER BY month""".stripMargin,

    // floor(epoch(ts)) = integer seconds (CAST alone would round-half-even);
    // window sums cast to BIGINT (DuckDB widens sum(int) to HUGEINT)
    "e1_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_secs FROM events),
        |f AS (
        |  SELECT user_id, event_id, ts_secs,
        |    CASE WHEN lag(ts_secs) OVER w IS NULL
        |           OR ts_secs - lag(ts_secs) OVER w > 1800
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_secs, event_id)),
        |g AS (
        |  SELECT user_id, ts_secs,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_secs, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
        |  FROM f)
        |SELECT user_id, session_no, count(*) AS n_events,
        |  min(ts_secs) AS start_secs, max(ts_secs) AS end_secs,
        |  max(ts_secs) - min(ts_secs) AS duration_secs
        |FROM g GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin,

    // >= 1800 starts a session (session_window semantics — e1's custom
    // operator uses > 1800; both are correct for their definitions)
    "e4_session_window" ->
      """WITH e AS (
        |  SELECT user_id, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_secs FROM events),
        |f AS (
        |  SELECT user_id, value, ts_secs,
        |    CASE WHEN lag(ts_secs) OVER w IS NULL
        |           OR ts_secs - lag(ts_secs) OVER w >= 1800
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_secs)),
        |g AS (
        |  SELECT user_id, value, ts_secs,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_secs
        |                     ROWS UNBOUNDED PRECEDING) AS session_no
        |  FROM f)
        |SELECT user_id, min(ts_secs) AS start_secs,
        |  max(ts_secs) + 1800 AS end_secs,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM g GROUP BY user_id, session_no
        |ORDER BY user_id, start_secs""".stripMargin,

    "q19_math_battery" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(sqrt(l_quantity), 6) AS sqrt_qty,
        |  round(ln(l_extendedprice), 6) AS ln_price,
        |  round(exp(l_discount), 6) AS exp_disc,
        |  round(pow(1.0 + l_tax, 2), 6) AS pow_tax,
        |  abs(l_quantity - 25.0) AS abs_qty,
        |  CAST(sign(l_discount - 0.05) AS DOUBLE) AS sign_disc,
        |  l_partkey % 7 AS mod_part,
        |  round(sin(l_discount), 6) AS sin_disc,
        |  round(cos(l_discount), 6) AS cos_disc,
        |  round(atan2(l_quantity, l_extendedprice), 6) AS atan2_qp,
        |  round(degrees(l_discount), 6) AS deg_disc,
        |  CAST(ceil(l_quantity / 7.0) AS BIGINT) AS ceil_q7,
        |  CAST(floor(l_quantity / 7.0) AS BIGINT) AS floor_q7
        |FROM lineitem WHERE l_orderkey < 500
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q24_string_battery" ->
      """SELECT c_custkey,
        |  lower(c_name) AS lower_name,
        |  CAST(length(c_name) AS BIGINT) AS name_len,
        |  substr(c_name, 3, 5) AS name_mid,
        |  lpad(c_mktsegment, 12, '*') AS seg_lpad,
        |  rpad(c_mktsegment, 12, '.') AS seg_rpad,
        |  regexp_replace(c_name, '0', '#', 'g') AS name_subst,
        |  CAST(strpos(c_name, '1') AS BIGINT) AS pos_one,
        |  reverse(c_name) AS name_rev,
        |  translate(c_name, '0123', 'abcd') AS name_trans,
        |  concat_ws('-', c_mktsegment, c_name) AS seg_name,
        |  trim(lpad(c_name, 25, ' ')) AS name_trim
        |FROM customer WHERE c_custkey < 500 ORDER BY c_custkey""".stripMargin,

    "q25_datetime_battery" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(month(o_orderdate) AS BIGINT) AS m,
        |  CAST(day(o_orderdate) AS BIGINT) AS d,
        |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
        |  CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |  strftime(o_orderdate, '%Y-%m-%d') AS iso_day,
        |  CAST(epoch(CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS TIMESTAMP)) AS BIGINT) AS plus30_epoch,
        |  CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS BIGINT) AS days_to_98,
        |  CAST(epoch(CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP)) AS BIGINT) AS month_end_epoch,
        |  CAST(epoch(date_trunc('month', o_orderdate)) AS BIGINT) AS month_start_epoch
        |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin,

    // HOF battery: Spark lambdas == DuckDB list comprehensions /
    // list_filter / list_reduce; zip_first pairs position 1 with the
    // reversed list's position 1 (= last token)
    "q43_hof_battery" ->
      """SELECT doc_id,
        |  array_to_string([CAST(length(t) AS VARCHAR)
        |                   for t in list_slice(tk, 1, 6)], ',') AS tok_lens,
        |  CAST(len(list_filter(tk, t -> length(t) > 4)) AS BIGINT) AS n_long,
        |  CASE WHEN len(list_filter(tk, t -> t = 'the')) > 0
        |       THEN 1 ELSE 0 END AS has_the,
        |  CASE WHEN len(list_filter(tk, t -> NOT (length(t) < 20))) = 0
        |       THEN 1 ELSE 0 END AS all_short,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    [CAST(length(t) AS BIGINT) for t in tk]), (a, x) -> a + x)
        |    AS sum_chars,
        |  tk[1] || '~' || tk[len(tk)] AS zip_first,
        |  array_to_string([CAST(i - 1 AS VARCHAR) || ':' || tk[i]
        |                   for i in range(1, least(len(tk), 3) + 1)], '|')
        |    AS idx3
        |FROM (SELECT doc_id, string_split(text, ' ') AS tk
        |      FROM documents WHERE doc_id < 200)
        |ORDER BY doc_id""".stripMargin,

    "q26_array_battery" ->
      """SELECT doc_id,
        |  CAST(len(tk) AS BIGINT) AS n_tok,
        |  array_to_string(tk[1:3], '_') AS first3,
        |  CAST(list_contains(tk, 'the') AS INTEGER) AS has_the,
        |  CAST(COALESCE(list_position(tk, 'the'), 0) AS BIGINT) AS pos_the,
        |  tk[-1] AS last_tok,
        |  array_to_string(list_sort(list_distinct(tk[1:5])), '|') AS first5_sorted,
        |  CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct
        |FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
        |WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,

    "q27_conditional_battery" ->
      """SELECT c_custkey,
        |  CASE WHEN c_mktsegment = 'BUILDING' THEN 'b'
        |       WHEN c_mktsegment = 'MACHINERY' THEN 'm'
        |       ELSE 'other' END AS seg_class,
        |  CASE WHEN c_acctbal < 0 THEN 'neg'
        |       WHEN c_acctbal > 5000 THEN 'high'
        |       ELSE 'mid' END AS bal_band,
        |  CAST(NULLIF(c_nationkey, 13) AS BIGINT) AS nk_nullif,
        |  CAST(COALESCE(NULLIF(c_nationkey, 13), -1) AS BIGINT) AS nk_coalesce,
        |  greatest(c_acctbal, 0.0) AS bal_floor0,
        |  least(c_acctbal, 1000.0) AS bal_cap1000,
        |  CAST(c_nationkey = 13 AS INTEGER) AS is_13
        |FROM customer WHERE c_custkey < 1000 ORDER BY c_custkey""".stripMargin,

    "q28_bitwise_battery" ->
      """SELECT l_orderkey, l_linenumber,
        |  pk & sk AS pk_and_sk,
        |  pk | sk AS pk_or_sk,
        |  xor(pk, sk) AS pk_xor_sk,
        |  pk << 3 AS pk_shl3,
        |  pk >> 2 AS pk_shr2,
        |  CAST(bit_count(pk) AS BIGINT) AS pk_bits,
        |  ~pk AS pk_not
        |FROM (SELECT l_orderkey, l_linenumber,
        |        CAST(l_partkey AS BIGINT) AS pk, CAST(l_suppkey AS BIGINT) AS sk
        |      FROM lineitem WHERE l_orderkey < 1000)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q29_window_battery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(rank() OVER wt AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER wt AS BIGINT) AS drnk,
        |  floor(percent_rank() OVER wt * 1000000.0 + 0.5) / 1000000.0 AS pr,
        |  floor(cume_dist() OVER wt * 1000000.0 + 0.5) / 1000000.0 AS cd,
        |  CAST(ntile(4) OVER wu AS BIGINT) AS nt,
        |  first_value(o_orderkey) OVER wd AS first_key,
        |  last_value(o_orderkey) OVER wd AS last_key,
        |  nth_value(o_orderkey, 2) OVER wd AS second_key
        |FROM orders
        |WINDOW
        |  wt AS (PARTITION BY o_custkey ORDER BY floor(o_totalprice / 50000.0) DESC),
        |  wu AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
        |  wd AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin,

    "q30_cube_grouping" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q31_json_extract" ->
      """SELECT event_id,
        |  json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
        |  json_extract_string(props, '$.missing') AS k_missing,
        |  CAST(json_extract_string(props, '$.k') IS NOT NULL AS INTEGER) AS has_k
        |FROM events WHERE event_id < 2000 ORDER BY event_id""".stripMargin,

    // DuckDB map extraction yields a single-element LIST — [1] unwraps it
    "q37_nested_types" ->
      """SELECT c_custkey,
        |  round((map(['lo','hi'], [c_acctbal * 0.5, c_acctbal * 1.5])['hi'])[1], 4) AS m_hi,
        |  CAST(cardinality(map(['lo','hi'], [c_acctbal * 0.5, c_acctbal * 1.5])) AS BIGINT) AS m_size,
        |  array_to_string(map_keys(map(['lo','hi'], [c_acctbal * 0.5, c_acctbal * 1.5])), ',') AS m_keys,
        |  struct_pack(k := c_custkey, seg := c_mktsegment).seg AS s_seg,
        |  struct_pack(k := c_custkey, seg := c_mktsegment).k * 2 AS s_k2
        |FROM customer WHERE c_custkey < 300 ORDER BY c_custkey""".stripMargin,

    // CAST: inside a scalar subquery DuckDB types the arithmetic DECIMAL
    // (python decimal.Decimal), while the top-level form yields DOUBLE
    "q38_subquery_battery" ->
      """SELECT tag, key FROM (
        |  SELECT 'exists_big' AS tag, c_custkey AS key FROM customer c
        |  WHERE EXISTS (SELECT 1 FROM orders o
        |                WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_totalprice > 400000.0)
        |  UNION ALL
        |  SELECT 'in_f', c_custkey FROM customer
        |  WHERE c_custkey IN (SELECT o_custkey FROM orders
        |                      WHERE o_orderstatus = 'F')
        |    AND c_mktsegment = 'BUILDING'
        |  UNION ALL
        |  SELECT 'not_exists_any', c_custkey FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                    WHERE o.o_custkey = c.c_custkey)
        |  UNION ALL
        |  SELECT 'not_in_f', c_custkey FROM customer
        |  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
        |                          WHERE o_orderstatus = 'F')
        |    AND c_mktsegment = 'MACHINERY')
        |ORDER BY tag, key""".stripMargin,

    // mode twin: lowest value among the max-frequency values — the
    // explicit form of Spark's mode(expr, deterministic = true).
    "q39_agg_battery" ->
      """WITH f AS (
        |  SELECT l_returnflag, l_quantity AS q, count(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (
        |  SELECT l_returnflag, min(CASE WHEN c = mc THEN q END) AS mode_qty
        |  FROM (SELECT f.*, max(c) OVER (PARTITION BY l_returnflag) AS mc
        |        FROM f)
        |  GROUP BY 1)
        |SELECT l.l_returnflag,
        |  round(median(l_quantity), 4) AS med_qty,
        |  any_value(m.mode_qty) AS mode_qty,
        |  string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
        |  CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_disc,
        |  bool_and(l_quantity > 0) AS all_pos,
        |  bool_or(l_tax > 0.07) AS any_high_tax
        |FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
        |GROUP BY l.l_returnflag
        |ORDER BY l.l_returnflag""".stripMargin,

    // Self-verifying bound row (r19): exact planted-heavy-key counts +
    // the frequent-items worst-case contract asserted TRUE — sketch
    // drift hash-fails (see the query's comment).
    "a4_approx_topk" ->
      """SELECT key, count(*) AS exact_cnt, TRUE AS within_bound
        |FROM (SELECT CASE WHEN user_id % 10 < 3 THEN 'hot_a'
        |                  WHEN user_id % 10 < 5 THEN 'hot_b'
        |                  ELSE 'u' || user_id END AS key
        |      FROM events)
        |WHERE key IN ('hot_a', 'hot_b')
        |GROUP BY key ORDER BY key""".stripMargin,

    // centroids: parallel unnest zips value with 0-based dim; DOUBLE[]
    // cast for bit-parity with the float->double accumulation
    "s5_label_centroids" ->
      """WITH x AS (
        |  SELECT label,
        |    unnest(CAST(embedding AS DOUBLE[])) AS v,
        |    unnest(range(0, len(embedding))) AS dim
        |  FROM embeddings)
        |SELECT CAST(label AS BIGINT) AS label,
        |  CAST(count(*) AS BIGINT) AS n, dim,
        |  floor(avg(v) * 1000000.0 + 0.5) / 1000000.0 AS c
        |FROM x GROUP BY label, dim ORDER BY label, dim""".stripMargin,

    // count-min: rebuild every cell (sum of colliding keys' counts per
    // (row, position)), estimate = min over rows — sketch verified
    // cell-for-cell including overcounts
    "a5_countmin_counts" ->
      s"""WITH keys AS (
         |  SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS true_cnt
         |  FROM events GROUP BY 1),
         |h AS (
         |  SELECT key, true_cnt,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      [CAST(unicode(ch) AS BIGINT) for ch in string_split(key, '')]),
         |      (acc, x) -> (acc * 131 + x) % $ShP) AS h1
         |  FROM keys),
         |hh AS (SELECT key, true_cnt, h1, ${duckMix("h1")} AS h2 FROM h),
         |pos AS (
         |  SELECT key, true_cnt, r, (h1 + r * h2) % 128 AS p
         |  FROM hh CROSS JOIN range(0, 4) AS t(r)),
         |cells AS (SELECT r, p, sum(true_cnt) AS cell FROM pos GROUP BY r, p),
         |est AS (
         |  SELECT key, true_cnt, min(cell) AS cm_est
         |  FROM pos JOIN cells USING (r, p) GROUP BY key, true_cnt)
         |SELECT key, true_cnt, CAST(cm_est AS BIGINT) AS cm_est
         |FROM est ORDER BY key""".stripMargin,

    "q36_scalar_subquery" ->
      """SELECT c_custkey, c_acctbal,
        |  CAST((SELECT floor(avg(c2.c_acctbal) * 10000.0 + 0.5) / 10000.0
        |        FROM customer c2
        |        WHERE c2.c_mktsegment = c.c_mktsegment) AS DOUBLE) AS seg_avg
        |FROM customer c WHERE c_custkey < 500
        |ORDER BY c_custkey""".stripMargin,

    // DuckDB lacks WITH ORDINALITY — a struct comprehension carries the
    // 1-based position through unnest instead
    "q35_posexplode" ->
      """SELECT doc_id, CAST(e.pos AS BIGINT) AS pos, e.tok
        |FROM (SELECT doc_id,
        |        unnest([{'pos': i, 'tok': tk[i]} for i in range(1, len(tk)+1)]) AS e
        |      FROM (SELECT doc_id, string_split(text, ' ') AS tk
        |            FROM documents WHERE doc_id < 50))
        |ORDER BY doc_id, pos""".stripMargin,

    "q33_pivot" ->
      """SELECT user_id,
        |  round(sum(CASE WHEN event_type = 'click' THEN value END), 2) AS click,
        |  round(sum(CASE WHEN event_type = 'error' THEN value END), 2) AS error,
        |  round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
        |  round(sum(CASE WHEN event_type = 'signup' THEN value END), 2) AS signup,
        |  round(sum(CASE WHEN event_type = 'view' THEN value END), 2) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q34_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, val FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
        |         l_quantity AS val FROM lineitem WHERE l_orderkey < 1000
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        |  FROM lineitem WHERE l_orderkey < 1000
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |  FROM lineitem WHERE l_orderkey < 1000)
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,

    "q40_range_frames" ->
      """SELECT event_id, user_id, ts_secs, value,
        |  CAST(count(*) OVER w10 AS BIGINT) AS cnt_10m,
        |  round(sum(value) OVER w10, 2) AS sum_10m,
        |  round(sum(value) OVER wu, 2) AS sum_running
        |FROM (SELECT event_id, user_id,
        |        CAST(floor(epoch(ts)) AS BIGINT) AS ts_secs, value
        |      FROM events)
        |WINDOW
        |  w10 AS (PARTITION BY user_id ORDER BY ts_secs
        |          RANGE BETWEEN 600 PRECEDING AND CURRENT ROW),
        |  wu AS (PARTITION BY user_id ORDER BY ts_secs
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q18_rolling_window" ->
      """SELECT event_id, user_id, ts_secs, value,
        |  lag(value) OVER w AS prev_value,
        |  lead(value) OVER w AS next_value,
        |  floor(avg(value) OVER (PARTITION BY user_id ORDER BY ts_secs, event_id
        |                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |        * 10000.0 + 0.5) / 10000.0
        |    AS rolling_avg
        |FROM (SELECT event_id, user_id,
        |        CAST(floor(epoch(ts)) AS BIGINT) AS ts_secs, value FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_secs, event_id)
        |ORDER BY event_id""".stripMargin,

    // DuckDB's native ASOF JOIN is the oracle; the right side is deduped
    // per (key, ts) in both engines so the as-of match is unambiguous
    "e2_asof_enrich" ->
      """WITH e AS (
        |  SELECT event_id, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_secs FROM events),
        |o1 AS (
        |  SELECT o_custkey, CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_ts,
        |    o_orderkey, o_totalprice FROM orders),
        |o2 AS (
        |  SELECT o_custkey, o_ts, o_orderkey, o_totalprice FROM (
        |    SELECT *, row_number() OVER (PARTITION BY o_custkey, o_ts
        |                                 ORDER BY o_orderkey) AS rn
        |    FROM o1) WHERE rn = 1)
        |SELECT e.event_id, e.user_id, e.ts_secs,
        |  o2.o_orderkey AS last_orderkey, o2.o_totalprice AS last_total
        |FROM e ASOF LEFT JOIN o2
        |  ON e.user_id = o2.o_custkey AND e.ts_secs >= o2.o_ts
        |ORDER BY event_id""".stripMargin,

    // forward twin: DuckDB ASOF with <= picks the EARLIEST right row
    // at-or-after the probe timestamp (verified: equality matches)
    "e5_asof_forward" ->
      """WITH e AS (
        |  SELECT event_id, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_secs FROM events),
        |o1 AS (
        |  SELECT o_custkey, CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_ts,
        |    o_orderkey, o_totalprice FROM orders),
        |o2 AS (
        |  SELECT o_custkey, o_ts, o_orderkey, o_totalprice FROM (
        |    SELECT *, row_number() OVER (PARTITION BY o_custkey, o_ts
        |                                 ORDER BY o_orderkey) AS rn
        |    FROM o1) WHERE rn = 1)
        |SELECT e.event_id, e.user_id, e.ts_secs,
        |  o2.o_orderkey AS next_orderkey, o2.o_totalprice AS next_total
        |FROM e ASOF LEFT JOIN o2
        |  ON e.user_id = o2.o_custkey AND e.ts_secs <= o2.o_ts
        |ORDER BY event_id""".stripMargin,

    "t1_token_stats" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_ws_tokens,
        |len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t2_quality_score" ->
      """WITH q AS (
        |  SELECT doc_id, length(text) AS n_chars_calc, string_split(text, ' ') AS tk
        |  FROM documents),
        |q2 AS (
        |  SELECT doc_id, n_chars_calc,
        |    CAST(len(tk) AS DOUBLE) AS n_tok,
        |    CAST(list_aggregate([length(t) for t in tk], 'sum') AS DOUBLE) AS sum_len,
        |    CAST(len(list_filter(tk, t -> t IN
        |      ('the','a','of','and','to','in','is','it'))) AS DOUBLE) AS hits
        |  FROM q)
        |SELECT doc_id, n_chars_calc,
        |  CAST(n_tok AS BIGINT) AS n_tokens,
        |  floor((CASE WHEN n_tok > 0 THEN sum_len / n_tok ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS avg_word_len,
        |  floor((CASE WHEN n_tok > 0 THEN hits / n_tok ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS stopword_ratio,
        |  floor((0.3 * least(n_tok / 100.0, 1.0)
        |      + 0.4 * (CASE WHEN n_tok > 0 THEN hits / n_tok ELSE 0.0 END)
        |      + 0.3 * least((CASE WHEN n_tok > 0 THEN sum_len / n_tok ELSE 0.0 END) / 8.0, 1.0))
        |    * 1000000.0 + 0.5) / 1000000.0 AS quality
        |FROM q2 ORDER BY doc_id""".stripMargin,

    "t3_lang_id" ->
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(tk, t -> t IN ('the','a','of','and','to','in','is','it'))) AS hits_en,
        |    len(list_filter(tk, t -> t IN ('le','la','les','de','et','un','une','est'))) AS hits_fr,
        |    len(list_filter(tk, t -> t IN ('el','la','los','de','y','un','una','es'))) AS hits_es,
        |    len(list_filter(tk, t -> t IN ('der','die','das','und','ein','eine','ist'))) AS hits_de,
        |    len(list_filter(tk, t -> t IN ('的','是','了','在','我'))) AS hits_zh
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents))
        |SELECT doc_id, lang, hits_en, hits_fr, hits_es, hits_de, hits_zh,
        |  CASE
        |    WHEN hits_en = 0 AND hits_fr = 0 AND hits_es = 0 AND hits_de = 0 AND hits_zh = 0 THEN 'und'
        |    WHEN hits_en >= greatest(hits_fr, hits_es, hits_de, hits_zh) THEN 'en'
        |    WHEN hits_fr >= greatest(hits_es, hits_de, hits_zh) THEN 'fr'
        |    WHEN hits_es >= greatest(hits_de, hits_zh) THEN 'es'
        |    WHEN hits_de >= hits_zh THEN 'de'
        |    ELSE 'zh' END AS lang_guess,
        |  CAST(CASE
        |    WHEN hits_en = 0 AND hits_fr = 0 AND hits_es = 0 AND hits_de = 0 AND hits_zh = 0 THEN 'und'
        |    WHEN hits_en >= greatest(hits_fr, hits_es, hits_de, hits_zh) THEN 'en'
        |    WHEN hits_fr >= greatest(hits_es, hits_de, hits_zh) THEN 'fr'
        |    WHEN hits_es >= greatest(hits_de, hits_zh) THEN 'es'
        |    WHEN hits_de >= hits_zh THEN 'de'
        |    ELSE 'zh' END = lang AS INTEGER) AS guess_matches
        |FROM h ORDER BY doc_id""".stripMargin,

    "t4_fingerprint" ->
      """SELECT doc_id, list_reduce(
        |  list_prepend(CAST(0 AS BIGINT),
        |    [CAST(unicode(c) AS BIGINT) for c in string_split(text, '')]),
        |  (acc, x) -> (acc * 131 + x) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t5_top_trigrams" ->
      """SELECT ngram, count(*) AS cnt FROM (
        |  SELECT unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |                 for i in range(1, len(tk) - 1)]) AS ngram
        |  FROM (SELECT string_split(text, ' ') AS tk FROM documents)
        |  WHERE len(tk) >= 3)
        |GROUP BY ngram ORDER BY cnt DESC, ngram LIMIT 20""".stripMargin,

    "t7_pack_chunks" ->
      """SELECT lang, doc_id, n_tok,
        |  tok_end - n_tok AS tok_start,
        |  CAST(floor((tok_end - n_tok) / 512.0) AS BIGINT) AS chunk_first,
        |  CAST(floor((tok_end - 1) / 512.0) AS BIGINT) AS chunk_last
        |FROM (
        |  SELECT lang, doc_id, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tok_end
        |  FROM (SELECT lang, doc_id,
        |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |        FROM documents))
        |ORDER BY lang, doc_id""".stripMargin,

    "t6_decontaminate" ->
      s"""WITH ${duckTokenHashes()},
         |${duckShingleSets()}
         |SELECT train_id, bench_id, shared_ngrams FROM (
         |  SELECT t.doc_id AS train_id, b.doc_id AS bench_id,
         |    CAST(len(list_intersect(t.sh, b.sh)) AS BIGINT) AS shared_ngrams
         |  FROM s t JOIN s b ON t.doc_id >= 10 AND b.doc_id < 10)
         |WHERE shared_ngrams >= 2 ORDER BY train_id, bench_id""".stripMargin,

    // t6's SQL with the gate verdict asserted TRUE: the shared-vocab
    // fixture must fire the KMV gate, and the kept path must be
    // bit-identical to the ungated join.
    "p11_gated_decontaminate" ->
      s"""WITH ${duckTokenHashes()},
         |${duckShingleSets()}
         |SELECT train_id, bench_id, shared_ngrams,
         |  TRUE AS gate_fired FROM (
         |  SELECT t.doc_id AS train_id, b.doc_id AS bench_id,
         |    CAST(len(list_intersect(t.sh, b.sh)) AS BIGINT) AS shared_ngrams
         |  FROM s t JOIN s b ON t.doc_id >= 10 AND b.doc_id < 10)
         |WHERE shared_ngrams >= 2 ORDER BY train_id, bench_id""".stripMargin,

    // Repetition profile over the SAME hashed trigram sets as the dedup
    // oracles; docs with < 3 tokens fall out of `s` and re-enter via the
    // LEFT JOIN with zero distinct n-grams.
    "t8_repetition" ->
      s"""WITH ${duckTokenHashes()},
         |${duckShingleSets()}
         |SELECT th.doc_id,
         |  CAST(greatest(len(th.th) - 2, 0) AS BIGINT) AS total_ngrams,
         |  CAST(COALESCE(len(s.sh), 0) AS BIGINT) AS distinct_ngrams,
         |  floor((CASE WHEN len(th.th) > 2
         |         THEN 1.0 - CAST(COALESCE(len(s.sh), 0) AS DOUBLE)
         |                    / (len(th.th) - 2)
         |         ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS dup_frac
         |FROM th LEFT JOIN s USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Chunk grid via step-range unnest; chunk_id = (start-1)/stride
    // exactly reproduces the Spark side's posexplode index.
    "t12_sliding_chunks" ->
      """SELECT doc_id, (s - 1) // 48 AS chunk_id, s AS tok_start,
        |  least(s + 63, n) AS tok_end,
        |  least(s + 63, n) - s + 1 AS n_chunk_tokens,
        |  array_to_string(list_slice(tk, s, least(s + 63, n)), ' ') AS chunk_text
        |FROM (
        |  SELECT doc_id, tk, n, CAST(unnest(range(1, n + 1, 48)) AS BIGINT) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk,
        |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |        FROM documents))
        |ORDER BY doc_id, chunk_id""".stripMargin,

    // Hashed-feature linear scorer: integer bucket weights (avalanche mix
    // of hash mod dims, mapped into [-1000, 1000]), summed exactly as
    // BIGINT — logit and keep cannot drift between engines; prob's exp()
    // is guarded by the 1e-6 rounding like every other libm call here.
    "t13_quality_classifier" ->
      s"""WITH ${duckTokenHashes()},
         |f AS (
         |  SELECT doc_id, CAST(len(th) AS BIGINT) AS n_tokens,
         |    CAST(list_sum([(${duckMix("h % 1024")}) % 2001 - 1000 for h in th])
         |      AS BIGINT) AS s
         |  FROM th)
         |SELECT doc_id, n_tokens,
         |  floor((-0.1 + CAST(s AS DOUBLE) / (1000.0 * n_tokens))
         |        * 1000000.0 + 0.5) / 1000000.0 AS logit,
         |  floor((1.0 / (1.0 + exp(-(-0.1 + CAST(s AS DOUBLE)
         |                            / (1000.0 * n_tokens)))))
         |        * 1000000.0 + 0.5) / 1000000.0 AS prob,
         |  CAST(CASE WHEN -0.1 + CAST(s AS DOUBLE) / (1000.0 * n_tokens) >= 0
         |       THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM f ORDER BY doc_id""".stripMargin,

    // Gopher rules: keep decision evaluated on UNROUNDED ratios in both
    // engines (plain IEEE divisions of the same integers — bit-identical);
    // displayed ratios rounded half-up at 6 dp as everywhere else.
    "t14_gopher_rules" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(tk) AS BIGINT) AS n_tokens,
        |    CAST(list_aggregate([length(t) for t in tk], 'sum') AS DOUBLE)
        |      AS sum_len,
        |    CAST(len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]')))
        |      AS BIGINT) AS n_alpha,
        |    CAST(len(list_filter(tk, t -> t IN
        |      ('the','a','of','and','to','in','is','it'))) AS BIGINT)
        |      AS stop_hits
        |  FROM tk),
        |tw AS (SELECT doc_id, max(c) AS top_cnt FROM (
        |    SELECT doc_id, w, count(*) AS c
        |    FROM (SELECT doc_id, unnest(tk) AS w FROM tk) GROUP BY 1, 2)
        |  GROUP BY 1),
        |r AS (SELECT m.doc_id, n_tokens, stop_hits,
        |    CASE WHEN n_tokens > 0 THEN sum_len / n_tokens ELSE 0.0 END
        |      AS mean_len,
        |    CASE WHEN n_tokens > 0 THEN CAST(n_alpha AS DOUBLE) / n_tokens
        |      ELSE 0.0 END AS alpha_frac,
        |    CASE WHEN n_tokens > 0 THEN CAST(top_cnt AS DOUBLE) / n_tokens
        |      ELSE 0.0 END AS top_frac
        |  FROM m JOIN tw ON m.doc_id = tw.doc_id)
        |SELECT doc_id, n_tokens,
        |  floor(mean_len * 1000000.0 + 0.5) / 1000000.0 AS mean_word_len,
        |  floor(alpha_frac * 1000000.0 + 0.5) / 1000000.0 AS alpha_frac,
        |  stop_hits,
        |  floor(top_frac * 1000000.0 + 0.5) / 1000000.0 AS top_word_frac,
        |  CAST(CASE WHEN n_tokens BETWEEN 30 AND 100000
        |        AND mean_len BETWEEN 3.0 AND 10.0
        |        AND alpha_frac >= 0.8
        |        AND stop_hits >= 1
        |        AND top_frac <= 0.12
        |       THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM r ORDER BY doc_id""".stripMargin,

    // p3: the whole curation pipeline as ONE statement — Gopher keep on
    // unrounded ratios (as t14), entropy floor on the ROUNDED
    // norm_entropy (the operator filters its rounded output column),
    // semantic keep on the rounded max cosine, hash-bucket split
    "p3_curation_corpus" -> {
      val thr = graft.operators.Sampling.bucketThreshold(0.1)
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |gm AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |    CAST(list_aggregate([length(t) for t in tk], 'sum') AS DOUBLE)
         |      AS sum_len,
         |    CAST(len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]')))
         |      AS BIGINT) AS n_alpha,
         |    CAST(len(list_filter(tk, t -> t IN
         |      ('the','a','of','and','to','in','is','it'))) AS BIGINT)
         |      AS stop_hits
         |  FROM tk),
         |gtw AS (SELECT doc_id, max(c) AS top_cnt FROM (
         |    SELECT doc_id, w, count(*) AS c
         |    FROM (SELECT doc_id, unnest(tk) AS w FROM tk) GROUP BY 1, 2)
         |  GROUP BY 1),
         |g AS (SELECT gm.doc_id FROM gm JOIN gtw ON gm.doc_id = gtw.doc_id
         |      WHERE n_tokens BETWEEN 30 AND 100000
         |        AND (CASE WHEN n_tokens > 0 THEN sum_len / n_tokens
         |             ELSE 0.0 END) BETWEEN 3.0 AND 10.0
         |        AND (CASE WHEN n_tokens > 0
         |             THEN CAST(n_alpha AS DOUBLE) / n_tokens
         |             ELSE 0.0 END) >= 0.8
         |        AND stop_hits >= 1
         |        AND (CASE WHEN n_tokens > 0
         |             THEN CAST(top_cnt AS DOUBLE) / n_tokens
         |             ELSE 0.0 END) <= 0.12),
         |ec AS (SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS c
         |       FROM (SELECT doc_id, unnest(tk) AS w FROM tk) GROUP BY 1, 2),
         |ee AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
         |         sum(c * ln(c)) AS s FROM ec GROUP BY 1),
         |enk AS (SELECT doc_id, norm_entropy FROM (
         |    SELECT doc_id,
         |      floor((CASE WHEN n > 1 THEN (ln(n) - s / n) / ln(n)
         |             ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0
         |        AS norm_entropy
         |    FROM ee) WHERE norm_entropy >= 0.73),
         |cv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |       FROM embeddings WHERE vec_id >= 25),
         |bv AS (SELECT CAST(embedding AS DOUBLE[]) AS w
         |       FROM embeddings WHERE vec_id < 25),
         |sck AS (SELECT vec_id AS doc_id, max_sim FROM (
         |    SELECT cv.vec_id,
         |      max(round(list_dot_product(v, w)
         |            / sqrt(list_dot_product(v, v)
         |                   * list_dot_product(w, w)), 6)) AS max_sim
         |    FROM cv, bv GROUP BY 1) WHERE max_sim < 0.35),
         |kept AS (SELECT g.doc_id, enk.norm_entropy, sck.max_sim
         |         FROM g JOIN enk USING (doc_id) JOIN sck USING (doc_id))
         |SELECT doc_id, norm_entropy, max_sim,
         |  CASE WHEN bkt < $thr THEN 'test' ELSE 'train' END AS split
         |FROM (${duckWithBucket("doc_id, norm_entropy, max_sim", "doc_id", "kept")})
         |ORDER BY doc_id""".stripMargin
    },

    // semantic decontamination: DOUBLE[] cosine is bit-parity with the
    // codegen'd kernel (d5 proved the recipe); max over pre-rounded sims
    "t17_semantic_decontaminate" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id >= 25),
        |b AS (SELECT CAST(embedding AS DOUBLE[]) AS w
        |      FROM embeddings WHERE vec_id < 25),
        |s AS (SELECT c.vec_id,
        |        max(round(list_dot_product(v, w)
        |              / sqrt(list_dot_product(v, v)
        |                     * list_dot_product(w, w)), 6)) AS max_sim
        |      FROM c, b GROUP BY 1)
        |SELECT vec_id, max_sim,
        |  CAST(CASE WHEN max_sim >= 0.35 THEN 1 ELSE 0 END AS BIGINT)
        |    AS contaminated
        |FROM s ORDER BY vec_id""".stripMargin,

    // source overlap: the same portable polynomial shingle hash as d3,
    // vocabularies deduped per source, pairwise intersection counts via
    // the shingle self-join
    "t18_source_overlap" ->
      """WITH th AS (
        |  SELECT source, doc_id,
        |    [list_reduce(list_prepend(CAST(0 AS BIGINT),
        |       [CAST(unicode(c) AS BIGINT) for c in string_split(t, '')]),
        |       (acc, x) -> (acc * 131 + x) % 9007199254740881)
        |     for t in string_split(text, ' ')] AS th
        |  FROM documents),
        |v AS (
        |  SELECT DISTINCT source AS src, unnest(list_distinct(
        |    [((((th[i]) * 131 + th[i+1]) % 9007199254740881) * 131 + th[i+2]) % 9007199254740881
        |     for i in range(1, len(th) - 1)])) AS tok
        |  FROM th WHERE len(th) >= 3),
        |sz AS (SELECT src, count(*) AS sz FROM v GROUP BY 1),
        |c AS (SELECT a.src AS src_a, b.src AS src_b, count(*) AS common
        |      FROM v a JOIN v b ON a.tok = b.tok AND a.src < b.src
        |      GROUP BY 1, 2)
        |SELECT c.src_a, c.src_b, sa.sz AS sz_a, sb.sz AS sz_b, c.common,
        |  floor(CAST(c.common AS DOUBLE) / (sa.sz + sb.sz - c.common)
        |        * 1000000.0 + 0.5) / 1000000.0 AS jaccard
        |FROM c JOIN sz sa ON sa.src = c.src_a JOIN sz sb ON sb.src = c.src_b
        |ORDER BY src_a, src_b""".stripMargin,

    // MinHash source overlap: per-source signature = per-coefficient min
    // over the source's (mod-p) vocabulary — the same affine family the
    // Spark kernel uses, embedded as literals; estimate = fraction of
    // matching positions
    "t18b_source_overlap_minhash" -> {
      val k = 64
      val (as, bs) = graft.functions.MinHashCoeffs(k)
      val m = graft.functions.MinHashCoeffs.Prime
      val sigItems = as.zip(bs).map { case (a, b) =>
        s"list_min([($a * x + $b) % $m for x in xs])"
      }.mkString(",\n      ")
      s"""WITH ${duckTokenHashes()},
         |${duckShingleSets()},
         |v AS (
         |  SELECT DISTINCT d.source AS src, unnest(s.sh) % $m AS x
         |  FROM s JOIN documents d USING (doc_id)),
         |xs AS (SELECT src, list(x) AS xs FROM v GROUP BY src),
         |sig AS (
         |  SELECT src, [
         |      $sigItems] AS sig
         |  FROM xs),
         |p AS (
         |  SELECT a.src AS src_a, b.src AS src_b,
         |    CAST(len(list_filter(range(1, ${k + 1}),
         |      i -> a.sig[i] = b.sig[i])) AS BIGINT) AS matches
         |  FROM sig a JOIN sig b ON a.src < b.src)
         |SELECT src_a, src_b, matches,
         |  floor(CAST(matches AS DOUBLE) / $k * 1000000.0 + 0.5)
         |    / 1000000.0 AS est_jaccard
         |FROM p WHERE matches >= 1 ORDER BY src_a, src_b""".stripMargin
    },

    // NFC + case-fold + whitespace collapse; DuckDB's nfc_normalize uses
    // the same ICU-derived composition tables as the JDK kernel
    "t19_normalize_text" ->
      """SELECT doc_id,
        |  trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g'))
        |    AS norm,
        |  CAST(length(nfc_normalize(text)) AS BIGINT) AS nfc_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    // quality-decile mix: same quality expression, same ntile total
    // order, same hash-bucket keep rule per bin
    "q59_quality_mix" -> {
      val cases = QualityMixRates.zipWithIndex.map { case (r, i) =>
        s"WHEN ${i + 1} THEN ${graft.operators.Sampling.bucketThreshold(r)}"
      }.mkString(" ")
      s"""SELECT doc_id, quality, bin FROM (
         |${duckWithBucket("doc_id, quality, bin", "doc_id",
             s"""(SELECT doc_id, quality,
                |   CAST(ntile(${QualityMixRates.length})
                |        OVER (ORDER BY quality, doc_id) AS BIGINT) AS bin
                | FROM (SELECT doc_id, $duckQualityExpr AS quality
                |       FROM (SELECT doc_id, string_split(text, ' ') AS tk
                |             FROM documents))) q59src""".stripMargin)})
         |WHERE bkt < CASE bin $cases END
         |ORDER BY doc_id""".stripMargin
    },

    // boundary-broadcast twin — bit-identical contract, same oracle
    "q59b_quality_mix_bounds" -> {
      val cases = QualityMixRates.zipWithIndex.map { case (r, i) =>
        s"WHEN ${i + 1} THEN ${graft.operators.Sampling.bucketThreshold(r)}"
      }.mkString(" ")
      s"""SELECT doc_id, quality, bin FROM (
         |${duckWithBucket("doc_id, quality, bin", "doc_id",
             s"""(SELECT doc_id, quality,
                |   CAST(ntile(${QualityMixRates.length})
                |        OVER (ORDER BY quality, doc_id) AS BIGINT) AS bin
                | FROM (SELECT doc_id, $duckQualityExpr AS quality
                |       FROM (SELECT doc_id, string_split(text, ' ') AS tk
                |             FROM documents))) q59bsrc""".stripMargin)})
         |WHERE bkt < CASE bin $cases END
         |ORDER BY doc_id""".stripMargin
    },

    // funnel: the conditional-min chain reproduced step by step; a null
    // previous step nulls the comparison, so later steps stay null
    "q57_funnel_steps" ->
      """WITH e AS (SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts FROM events),
        |s1 AS (SELECT user_id,
        |         min(CASE WHEN event_type = 'view' THEN ts END) AS t1
        |       FROM e GROUP BY 1),
        |s2 AS (SELECT e.user_id, t1,
        |         min(CASE WHEN event_type = 'click' AND e.ts >= t1
        |             THEN e.ts END) AS t2
        |       FROM e JOIN s1 USING (user_id) GROUP BY e.user_id, t1),
        |s3 AS (SELECT e.user_id, t1, t2,
        |         min(CASE WHEN event_type = 'purchase' AND e.ts >= t2
        |             THEN e.ts END) AS t3
        |       FROM e JOIN s2 USING (user_id) GROUP BY e.user_id, t1, t2)
        |SELECT user_id, t1, t2, t3,
        |  CAST((CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) +
        |       (CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) +
        |       (CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS steps_reached
        |FROM s3 ORDER BY user_id""".stripMargin,

    // retention triangle: weeks are integer buckets of epoch seconds
    "q58_retention_cohorts" ->
      """WITH e AS (SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, wk FROM e)
        |SELECT cohort_week, wk - cohort_week AS week_offset,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM a JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // token entropy: H = ln(n) - sum(c*ln c)/n over token multiplicities.
    // Both engines sum c*ln(c) in different orders (sorted-run scan vs
    // unordered group-by) — double addition reorder noise is ~1e-13,
    // absorbed by the 6 dp rounding like every libm call here.
    "t16_token_entropy" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |c AS (SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS c
        |      FROM (SELECT doc_id, unnest(tk) AS w FROM tk) GROUP BY 1, 2),
        |e AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
        |        CAST(count(*) AS BIGINT) AS nd,
        |        sum(c * ln(c)) AS s
        |      FROM c GROUP BY 1)
        |SELECT doc_id, n AS n_tokens, nd AS n_distinct,
        |  floor((CASE WHEN n > 0 THEN ln(n) - s / n ELSE 0.0 END)
        |        * 1000000.0 + 0.5) / 1000000.0 AS entropy,
        |  floor((CASE WHEN n > 1 THEN (ln(n) - s / n) / ln(n) ELSE 0.0 END)
        |        * 1000000.0 + 0.5) / 1000000.0 AS norm_entropy
        |FROM e ORDER BY doc_id""".stripMargin,

    // drift monitor: shares and smoothed KL/TV contributions — the ln()
    // term is rounded at 6 dp in both engines like every libm call here
    "q56_distribution_drift" ->
      """WITH a AS (SELECT source, count(*) AS cnt_a FROM documents
        |           WHERE doc_id % 2 = 0 GROUP BY 1),
        |b AS (SELECT source, count(*) AS cnt_b FROM documents
        |      WHERE doc_id % 2 = 1 GROUP BY 1),
        |m AS (SELECT coalesce(a.source, b.source) AS source,
        |        CAST(coalesce(cnt_a, 0) AS BIGINT) AS cnt_a,
        |        CAST(coalesce(cnt_b, 0) AS BIGINT) AS cnt_b
        |      FROM a FULL OUTER JOIN b ON a.source = b.source),
        |t AS (SELECT CAST(sum(cnt_a) AS BIGINT) AS tot_a,
        |        CAST(sum(cnt_b) AS BIGINT) AS tot_b,
        |        CAST(count(*) AS BIGINT) AS k FROM m),
        |p AS (SELECT source, cnt_a, cnt_b,
        |        CAST(cnt_a + 1 AS DOUBLE) / CAST(tot_a + k AS DOUBLE) AS p_a,
        |        CAST(cnt_b + 1 AS DOUBLE) / CAST(tot_b + k AS DOUBLE) AS p_b
        |      FROM m, t)
        |SELECT source, cnt_a, cnt_b,
        |  floor(p_a * 1000000.0 + 0.5) / 1000000.0 AS p_a,
        |  floor(p_b * 1000000.0 + 0.5) / 1000000.0 AS p_b,
        |  floor(p_a * ln(p_a / p_b) * 1000000.0 + 0.5) / 1000000.0 AS kl_term,
        |  floor(abs(p_a - p_b) / 2.0 * 1000000.0 + 0.5) / 1000000.0 AS tv_term
        |FROM p ORDER BY source""".stripMargin,

    // Replays both micro-batches of the drift-monitor stream from the
    // same doc_id framing (reference = even half; batch 0/1 = odd half
    // below/above mid), mirroring q56's smoothed-term math per batch
    // plus the batch-level summary join.
    "q56b_drift_monitor_stream" ->
      """WITH mx AS (SELECT CAST(max(doc_id) / 2 AS BIGINT) AS mid
        |            FROM documents),
        |ref AS (SELECT source, count(*) AS cnt_a FROM documents
        |        WHERE doc_id % 2 = 0 GROUP BY 1),
        |b AS (SELECT CASE WHEN doc_id <= mid THEN 0 ELSE 1 END
        |        AS batch_id, source, count(*) AS cnt_b
        |      FROM documents, mx WHERE doc_id % 2 = 1 GROUP BY 1, 2),
        |keys AS (SELECT DISTINCT batch_id, source FROM (
        |  SELECT bt.batch_id, r.source
        |  FROM (SELECT 0 AS batch_id UNION ALL SELECT 1) bt, ref r
        |  UNION SELECT batch_id, source FROM b)),
        |m AS (SELECT k.batch_id, k.source,
        |        CAST(coalesce(r.cnt_a, 0) AS BIGINT) AS cnt_a,
        |        CAST(coalesce(b.cnt_b, 0) AS BIGINT) AS cnt_b
        |      FROM keys k LEFT JOIN ref r ON r.source = k.source
        |      LEFT JOIN b ON b.batch_id = k.batch_id
        |        AND b.source = k.source),
        |t AS (SELECT batch_id, CAST(sum(cnt_a) AS BIGINT) AS tot_a,
        |        CAST(sum(cnt_b) AS BIGINT) AS tot_b,
        |        CAST(count(*) AS BIGINT) AS k
        |      FROM m GROUP BY 1),
        |p AS (SELECT m.batch_id, source, cnt_a, cnt_b,
        |        CAST(cnt_a + 1 AS DOUBLE) / CAST(tot_a + k AS DOUBLE)
        |          AS p_a,
        |        CAST(cnt_b + 1 AS DOUBLE) / CAST(tot_b + k AS DOUBLE)
        |          AS p_b
        |      FROM m JOIN t ON m.batch_id = t.batch_id),
        |terms AS (SELECT batch_id, source, cnt_a, cnt_b,
        |    floor(p_a * 1000000.0 + 0.5) / 1000000.0 AS p_a,
        |    floor(p_b * 1000000.0 + 0.5) / 1000000.0 AS p_b,
        |    floor(p_a * ln(p_a / p_b) * 1000000.0 + 0.5) / 1000000.0
        |      AS kl_term,
        |    floor(abs(p_a - p_b) / 2.0 * 1000000.0 + 0.5) / 1000000.0
        |      AS tv_term
        |  FROM p),
        |sums AS (SELECT batch_id,
        |    floor(sum(kl_term) * 1000000.0 + 0.5) / 1000000.0 AS kl,
        |    floor(sum(tv_term) * 1000000.0 + 0.5) / 1000000.0 AS tv
        |  FROM terms GROUP BY 1)
        |SELECT CAST(tm.batch_id AS BIGINT) AS batch_id, tm.source,
        |  tm.cnt_a, tm.cnt_b, tm.p_a, tm.p_b, tm.kl_term, tm.tv_term,
        |  s.kl, s.tv, s.tv >= 0.05 AS alert
        |FROM terms tm JOIN sums s ON tm.batch_id = s.batch_id
        |ORDER BY tm.batch_id, tm.source""".stripMargin,

    // Scores are rounded half-up at 6 dp BEFORE ranking in both engines,
    // so libm-vs-Java ln() ULP differences cannot flip a rank.
    "t9_tfidf_topterms" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM documents),
        |scored AS (SELECT tf.doc_id, tf.term, tf.tf,
        |    floor(tf.tf * ln(nn / df) * 1000000.0 + 0.5) / 1000000.0 AS score
        |  FROM tf JOIN dfreq USING (term), n)
        |SELECT doc_id, term, tf, score, rank FROM (
        |  SELECT doc_id, term, tf, score,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY score DESC, term) AS rank
        |  FROM scored) WHERE rank <= 3 AND doc_id < 25
        |ORDER BY doc_id, rank""".stripMargin,

    "t10_pii_redact" ->
      s"""WITH p AS (SELECT doc_id,
         |    text || ' contact u' || CAST(doc_id AS VARCHAR)
         |         || '@mail.example.com or 202-555-'
         |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
         |  FROM documents),
         |e AS (SELECT doc_id, t,
         |    CAST(len(regexp_extract_all(t, '${TextOps.EmailRegex}')) AS BIGINT)
         |      AS n_emails,
         |    regexp_replace(t, '${TextOps.EmailRegex}', '<EMAIL>', 'g') AS t2
         |  FROM p)
         |SELECT doc_id, n_emails,
         |  CAST(len(regexp_extract_all(t2, '${TextOps.PhoneRegex}')) AS BIGINT)
         |    AS n_phones,
         |  regexp_replace(t2, '${TextOps.PhoneRegex}', '<PHONE>', 'g') AS redacted
         |FROM e ORDER BY doc_id""".stripMargin,

    // bigram LM: same two aggregations, context counts derived from the
    // bigram table, Laplace-smoothed mean log-prob; parallel unnest zips
    // the shifted token slices into bigrams
    "t11_bigram_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_slice(tk, 1, len(tk) - 1)) AS w1,
        |    unnest(list_slice(tk, 2, len(tk))) AS w2
        |  FROM toks WHERE len(tk) >= 2),
        |counts AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
        |ctx AS (SELECT w1, sum(c12) AS c1 FROM counts GROUP BY w1),
        |vocab AS (
        |  SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v
        |  FROM (SELECT unnest(tk) AS w FROM toks)),
        |sc AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    floor(avg(ln((c12 + 1.0) / (c1 + v))) * 1000000.0 + 0.5)
        |      / 1000000.0 AS lm_score
        |  FROM bg JOIN counts USING (w1, w2) JOIN ctx USING (w1)
        |  CROSS JOIN vocab
        |  GROUP BY doc_id)
        |SELECT d.doc_id, CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  sc.lm_score
        |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "e3_interval_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_secs FROM events)
        |SELECT a.event_id AS click_id, count(*) AS n_follow,
        |  round(sum(b.value), 2) AS sum_value,
        |  min(b.event_id) AS min_event_id
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id
        |  AND b.ts_secs >= a.ts_secs AND b.ts_secs < a.ts_secs + 3600
        |  AND b.event_id <> a.event_id
        |WHERE a.event_type = 'click'
        |GROUP BY a.event_id ORDER BY click_id""".stripMargin,

    "q23_skew_salted_agg" ->
      """SELECT event_type, round(sum(value), 2) AS sum_value,
        |count(*) AS cnt,
        |floor(avg(value) * 10000.0 + 0.5) / 10000.0 AS avg_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q22_corpus_stats" ->
      """SELECT count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  round(quantile_cont(n_tok, 0.5), 4) AS tok_p50,
        |  round(quantile_cont(n_tok, 0.9), 4) AS tok_p90
        |FROM (SELECT len(string_split(text, ' ')) AS n_tok, n_chars, lang
        |      FROM documents)""".stripMargin,

    "d1_exact_dedup_events" ->
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT user_id, event_type, event_id, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY event_id) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,

    // best-copy dedup: the window twin of the (-score, tie) min_by
    "d10_dedup_best" ->
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT user_id, event_type, event_id, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY value DESC, event_id) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,

    // Full MinHash+LSH twin: same signatures (seeded affine family embedded
    // as literals), same band keys (polynomial fold), same candidates
    // (pairs sharing any band key), same exact-Jaccard verification.
    // (The Spark side's maxBucket skew cap cannot trigger at the verify
    // scale — default 1000 > the whole sf0.01 corpus — so the twin is
    // exact; at production scale the cap is a documented recall trade.)
    "d2_minhash_neardup" ->
      s"""WITH ${duckMinHashCtes(numHashes = 32, bands = 8, threshold = 0.2)}
         |SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b""".stripMargin,

    // Duplicated-span twin: same rolling 8-token window hashes (positions
    // kept), same >1-distinct-doc rule, same gaps-and-islands merge — the
    // parallel unnest zips positions with window hashes.
    "d8_span_dedup" ->
      s"""WITH ${duckTokenHashes()},
         |wl AS (
         |  SELECT doc_id, CAST(len(th) AS BIGINT) AS n_tokens,
         |    CASE WHEN len(th) >= 8 THEN
         |      [${(0 until 8).foldLeft("CAST(0 AS BIGINT)")((acc, j) =>
                   s"(($acc) * 131 + th[i+$j]) % $ShP")}
         |       for i in range(1, len(th) - 6)]
         |    ELSE CAST([] AS BIGINT[]) END AS ws
         |  FROM th),
         |w AS (
         |  SELECT doc_id, CAST(unnest(range(1, len(ws) + 1)) AS BIGINT) AS pos,
         |    unnest(ws) AS wh
         |  FROM wl),
         |dup AS (SELECT wh FROM w GROUP BY wh HAVING count(DISTINCT doc_id) > 1),
         |mk AS (SELECT w.doc_id, w.pos FROM w JOIN dup USING (wh)),
         |br AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN lag(pos) OVER win IS NULL
         |           OR pos > lag(pos) OVER win + 8
         |         THEN 1 ELSE 0 END AS brk
         |  FROM mk WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
         |sp AS (
         |  SELECT doc_id, pos,
         |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
         |                   ROWS UNBOUNDED PRECEDING) AS span
         |  FROM br),
         |pi AS (SELECT doc_id, span, max(pos) - min(pos) + 8 AS covered
         |       FROM sp GROUP BY 1, 2),
         |pd AS (SELECT doc_id, CAST(sum(covered) AS BIGINT) AS dup_tokens,
         |         CAST(count(*) AS BIGINT) AS n_spans
         |       FROM pi GROUP BY 1)
         |SELECT wl.doc_id, wl.n_tokens,
         |  COALESCE(pd.dup_tokens, CAST(0 AS BIGINT)) AS dup_tokens,
         |  COALESCE(pd.n_spans, CAST(0 AS BIGINT)) AS n_spans,
         |  floor((CASE WHEN wl.n_tokens > 0
         |         THEN CAST(COALESCE(pd.dup_tokens, 0) AS DOUBLE) / wl.n_tokens
         |         ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS dup_frac
         |FROM wl LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Span scrub: same marked positions as d8, covered set = union of
    // marked windows, kept = positions not covered, text rejoined
    "d8b_span_scrub" ->
      s"""WITH ${duckTokenHashes()},
         |wl AS (
         |  SELECT doc_id,
         |    CASE WHEN len(th) >= 8 THEN
         |      [${(0 until 8).foldLeft("CAST(0 AS BIGINT)")((acc, j) =>
                   s"(($acc) * 131 + th[i+$j]) % $ShP")}
         |       for i in range(1, len(th) - 6)]
         |    ELSE CAST([] AS BIGINT[]) END AS ws
         |  FROM th),
         |w AS (
         |  SELECT doc_id, CAST(unnest(range(1, len(ws) + 1)) AS BIGINT) AS pos,
         |    unnest(ws) AS wh
         |  FROM wl),
         |dup AS (SELECT wh FROM w GROUP BY wh HAVING count(DISTINCT doc_id) > 1),
         |mk AS (SELECT w.doc_id, w.pos FROM w JOIN dup USING (wh)),
         |mp AS (SELECT doc_id, list(pos ORDER BY pos) AS mpos
         |       FROM mk GROUP BY doc_id),
         |base AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |c AS (
         |  SELECT b.doc_id, b.tk,
         |    list_distinct(flatten([range(p, p + 8)
         |      for p in COALESCE(mp.mpos, CAST([] AS BIGINT[]))])) AS cov
         |  FROM base b LEFT JOIN mp USING (doc_id)),
         |k AS (
         |  SELECT doc_id, tk, cov,
         |    list_filter(range(1, len(tk) + 1),
         |      i -> NOT list_contains(cov, i)) AS kept
         |  FROM c)
         |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CAST(len(cov) AS BIGINT) AS dup_tokens,
         |  -- array_to_string([], ...) is NULL in DuckDB; Spark's
         |  -- array_join yields '' for a fully-scrubbed doc
         |  COALESCE(array_to_string([tk[i] for i in kept], ' '), '')
         |    AS clean_text
         |FROM k ORDER BY doc_id""".stripMargin,

    // Connected components over the same pair graph: recursive
    // transitive closure, cluster = min reachable id.
    "d6_neardup_clusters" ->
      s"""WITH RECURSIVE ${duckMinHashCtes(numHashes = 32, bands = 8, threshold = 0.2)},
         |e AS (SELECT id_a AS a, id_b AS b FROM pairs
         |      UNION SELECT id_b, id_a FROM pairs),
         |r AS (
         |  SELECT a AS id, a AS reach FROM e
         |  UNION
         |  SELECT e.a, r.reach FROM e JOIN r ON e.b = r.id)
         |SELECT id, CAST(min(reach) AS BIGINT) AS cluster
         |FROM r GROUP BY id ORDER BY id""".stripMargin,

    // Bloom screen: reproduce h1 (char fold), h2 (mixer), the 7 double-
    // hashed bit positions, and the corpus's distinct position set;
    // maybe_dup = all of the batch doc's positions hit. Bit-for-bit with
    // the Spark kernel, false positives included.
    "b1_bloom_incremental" ->
      s"""WITH keyed AS (
         |  SELECT doc_id, lang || ':' || string_split(text, ' ')[1] AS key
         |  FROM documents),
         |h AS (
         |  SELECT doc_id, key,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      [CAST(unicode(ch) AS BIGINT) for ch in string_split(key, '')]),
         |      (acc, x) -> (acc * 131 + x) % $ShP) AS h1
         |  FROM keyed),
         |hh AS (SELECT doc_id, key, h1, ${duckMix("h1")} AS h2 FROM h),
         |pos AS (
         |  SELECT doc_id, key,
         |    [(h1 + i * h2) % 262144 for i in range(0, 7)] AS ps
         |  FROM hh),
         |cp AS (
         |  SELECT list(DISTINCT p) AS cpl
         |  FROM (SELECT unnest(ps) AS p FROM pos WHERE doc_id % 5 <> 4))
         |SELECT doc_id, key, list_has_all(cpl, ps) AS maybe_dup
         |FROM pos, cp WHERE doc_id % 5 = 4 ORDER BY doc_id""".stripMargin,

    // leakage-safe split: same pair graph + recursive closure as p1/d6,
    // cluster = min reachable id (self for singletons), then the standard
    // bucket rule applied to the CLUSTER key
    "p4_leakage_safe_split" ->
      s"""WITH RECURSIVE
         |${duckMinHashCtes(numHashes = 32, bands = 8, threshold = 0.2)},
         |ce AS (SELECT id_a AS a, id_b AS b FROM pairs
         |       UNION SELECT id_b, id_a FROM pairs),
         |r AS (
         |  SELECT a AS id, a AS reach FROM ce
         |  UNION
         |  SELECT ce.a, r.reach FROM ce JOIN r ON ce.b = r.id),
         |cl AS (SELECT id, min(reach) AS c FROM r GROUP BY id),
         |k AS (
         |  SELECT d.doc_id, COALESCE(cl.c, d.doc_id) AS cluster
         |  FROM documents d LEFT JOIN cl ON cl.id = d.doc_id)
         |SELECT doc_id, cluster,
         |  CASE WHEN bkt < ${graft.operators.Sampling.bucketThreshold(0.25)}
         |       THEN 'test' ELSE 'train' END AS split
         |FROM (${duckWithBucket("doc_id, cluster", "cluster", "k")})
         |ORDER BY doc_id""".stripMargin,

    // incremental ingest: exact screen, cross near-dup screen, quality
    // floor, bucket split — all per-doc predicates over the batch
    "p2_incremental_ingest" ->
      s"""WITH ${duckMinHashCtes(numHashes = 32, bands = 8, threshold = 0.2,
             pairCond = "a.doc_id % 5 = 4 AND c.doc_id % 5 <> 4")},
         |q AS (
         |  SELECT doc_id, lang, text, $duckQualityExpr AS quality FROM (
         |    SELECT doc_id, lang, text, string_split(text, ' ') AS tk
         |    FROM documents WHERE doc_id % 5 = 4)),
         |kept AS (
         |  SELECT doc_id, lang, quality FROM q
         |  WHERE text NOT IN (SELECT text FROM documents WHERE doc_id % 5 <> 4)
         |    AND doc_id NOT IN (SELECT id_a FROM pairs)
         |    AND quality >= 0.3)
         |SELECT doc_id, lang, quality,
         |  CASE WHEN bkt < ${graft.operators.Sampling.bucketThreshold(0.1)}
         |       THEN 'test' ELSE 'train' END AS split
         |FROM (${duckWithBucket("doc_id, lang, quality", "doc_id", "kept")})
         |ORDER BY doc_id""".stripMargin,

    // governed ingest loop: one global banded pair set, then the two
    // generations replayed — batch A's within-closure + corpus screen,
    // batch B's within-closure + (corpus ∪ novel-A) screen; the
    // committed-index semantics mean a dropped A doc never screens B
    "p5_indexed_ingest_loop" ->
      s"""WITH RECURSIVE
         |${duckMinHashCtes(numHashes = 32, bands = 8, threshold = 0.2)},
         |cut AS (SELECT (max(doc_id)*3)//5 AS c1, (max(doc_id)*4)//5 AS c2
         |        FROM documents),
         |dupa AS (SELECT DISTINCT id_b AS id FROM pairs, cut
         |         WHERE id_a > c1 AND id_a <= c2
         |           AND id_b > c1 AND id_b <= c2),
         |crossa AS (SELECT DISTINCT p.id_b AS id FROM pairs p, cut
         |           WHERE p.id_a <= cut.c1 AND p.id_b > cut.c1
         |             AND p.id_b <= cut.c2),
         |novela AS (SELECT doc_id FROM documents, cut
         |           WHERE doc_id > c1 AND doc_id <= c2
         |             AND doc_id NOT IN (SELECT id FROM dupa)
         |             AND doc_id NOT IN (SELECT id FROM crossa)),
         |dupb AS (SELECT DISTINCT id_b AS id FROM pairs, cut
         |         WHERE id_a > c2 AND id_b > c2),
         |crossb AS (SELECT DISTINCT p.id_b AS id FROM pairs p, cut
         |           WHERE p.id_b > cut.c2
         |             AND (p.id_a <= cut.c1
         |                  OR p.id_a IN (SELECT doc_id FROM novela))),
         |novelb AS (SELECT doc_id FROM documents, cut WHERE doc_id > c2
         |             AND doc_id NOT IN (SELECT id FROM dupb)
         |             AND doc_id NOT IN (SELECT id FROM crossb))
         |SELECT doc_id, CAST(0 AS BIGINT) AS batch_id FROM novela
         |UNION ALL SELECT doc_id, CAST(1 AS BIGINT) AS batch_id FROM novelb
         |ORDER BY doc_id""".stripMargin,

    // p5's embedding twin: same two-generation replay over the SRP
    // machinery — 4-plane frozen family (the auto choice at the verify
    // SF), Hamming-1 probes, exact-cosine verification at 0.4; batch B's
    // committed set = corpus ∪ batch-A survivors
    "p6_embedding_ingest_loop" ->
      s"""WITH RECURSIVE
         |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |        FROM embeddings),
         |cut AS (SELECT (max(vec_id)*3)//5 AS c1, (max(vec_id)*4)//5 AS c2
         |        FROM embeddings),
         |bk AS (${duckSrpBk(tables = 16, planes = 4, dim = 64)}),
         |pr AS (SELECT vec_id, tbl, u.p AS bkt
         |       FROM bk, UNNEST([${duckHamming1Probes(4)}]) AS u(p)),
         |paira AS (SELECT DISTINCT x.vec_id AS ida, y.vec_id AS idb
         |          FROM bk x JOIN pr y ON x.tbl = y.tbl AND x.bkt = y.bkt, cut
         |          WHERE x.vec_id > cut.c1 AND x.vec_id <= cut.c2
         |            AND y.vec_id > cut.c1 AND y.vec_id <= cut.c2
         |            AND x.vec_id < y.vec_id),
         |pva AS (SELECT p.ida, p.idb FROM paira p
         |        JOIN emb a ON a.vec_id = p.ida
         |        JOIN emb b ON b.vec_id = p.idb
         |        WHERE $duckCos >= 0.4),
         |dupa AS (SELECT DISTINCT idb AS id FROM pva),
         |canxa AS (SELECT DISTINCT x.vec_id AS cid, y.vec_id AS bid
         |          FROM bk x JOIN pr y ON x.tbl = y.tbl AND x.bkt = y.bkt, cut
         |          WHERE x.vec_id <= cut.c1 AND y.vec_id > cut.c1
         |            AND y.vec_id <= cut.c2),
         |crossa AS (SELECT DISTINCT p.bid AS id FROM canxa p
         |           JOIN emb a ON a.vec_id = p.cid
         |           JOIN emb b ON b.vec_id = p.bid
         |           WHERE $duckCos >= 0.4),
         |novela AS (SELECT vec_id FROM embeddings, cut
         |           WHERE vec_id > c1 AND vec_id <= c2
         |             AND vec_id NOT IN (SELECT id FROM dupa)
         |             AND vec_id NOT IN (SELECT id FROM crossa)),
         |pairb AS (SELECT DISTINCT x.vec_id AS ida, y.vec_id AS idb
         |          FROM bk x JOIN pr y ON x.tbl = y.tbl AND x.bkt = y.bkt, cut
         |          WHERE x.vec_id > cut.c2 AND y.vec_id > cut.c2
         |            AND x.vec_id < y.vec_id),
         |pvb AS (SELECT p.ida, p.idb FROM pairb p
         |        JOIN emb a ON a.vec_id = p.ida
         |        JOIN emb b ON b.vec_id = p.idb
         |        WHERE $duckCos >= 0.4),
         |dupb AS (SELECT DISTINCT idb AS id FROM pvb),
         |canxb AS (SELECT DISTINCT x.vec_id AS cid, y.vec_id AS bid
         |          FROM bk x JOIN pr y ON x.tbl = y.tbl AND x.bkt = y.bkt, cut
         |          WHERE y.vec_id > cut.c2
         |            AND (x.vec_id <= cut.c1
         |                 OR x.vec_id IN (SELECT vec_id FROM novela))),
         |crossb AS (SELECT DISTINCT p.bid AS id FROM canxb p
         |           JOIN emb a ON a.vec_id = p.cid
         |           JOIN emb b ON b.vec_id = p.bid
         |           WHERE $duckCos >= 0.4),
         |novelb AS (SELECT vec_id FROM embeddings, cut WHERE vec_id > c2
         |             AND vec_id NOT IN (SELECT id FROM dupb)
         |             AND vec_id NOT IN (SELECT id FROM crossb))
         |SELECT vec_id, CAST(0 AS BIGINT) AS batch_id FROM novela
         |UNION ALL SELECT vec_id, CAST(1 AS BIGINT) AS batch_id FROM novelb
         |ORDER BY vec_id""".stripMargin,

    // digest-index probe: sha256 parity across engines (the m5 rule);
    // novel = min-id representative per batch digest, digest not in the
    // corpus slice
    "b5_digest_index" ->
      """WITH d AS (SELECT doc_id, sha256(substring(text, 1, 30)) AS dig
        |           FROM documents),
        |cut AS (SELECT (max(doc_id)*3)//5 AS c FROM documents),
        |corpus AS (SELECT dig FROM d, cut WHERE doc_id <= c),
        |b AS (SELECT doc_id, dig FROM d, cut WHERE doc_id > c),
        |mins AS (SELECT dig, min(doc_id) AS m FROM b GROUP BY dig)
        |SELECT b.doc_id, b.dig FROM b
        |JOIN mins ON b.dig = mins.dig AND b.doc_id = mins.m
        |WHERE b.dig NOT IN (SELECT dig FROM corpus)
        |ORDER BY doc_id""".stripMargin,

    // governed digest loop: both generations replayed — batch B's
    // committed set = corpus digests ∪ batch-A survivors' digests
    "p8_digest_ingest_loop" ->
      """WITH d AS (SELECT doc_id, sha256(substring(text, 1, 30)) AS dig
        |           FROM documents),
        |cut AS (SELECT (max(doc_id)*3)//5 AS c1, (max(doc_id)*4)//5 AS c2
        |        FROM documents),
        |corpusa AS (SELECT dig FROM d, cut WHERE doc_id <= c1),
        |ba AS (SELECT doc_id, dig FROM d, cut
        |       WHERE doc_id > c1 AND doc_id <= c2),
        |minsa AS (SELECT dig, min(doc_id) AS m FROM ba GROUP BY dig),
        |novela AS (SELECT ba.doc_id, ba.dig FROM ba
        |           JOIN minsa ON ba.dig = minsa.dig AND ba.doc_id = minsa.m
        |           WHERE ba.dig NOT IN (SELECT dig FROM corpusa)),
        |bb AS (SELECT doc_id, dig FROM d, cut WHERE doc_id > c2),
        |minsb AS (SELECT dig, min(doc_id) AS m FROM bb GROUP BY dig),
        |committedb AS (SELECT dig FROM corpusa
        |               UNION SELECT dig FROM novela),
        |novelb AS (SELECT bb.doc_id FROM bb
        |           JOIN minsb ON bb.dig = minsb.dig AND bb.doc_id = minsb.m
        |           WHERE bb.dig NOT IN (SELECT dig FROM committedb))
        |SELECT doc_id, CAST(0 AS BIGINT) AS batch_id FROM novela
        |UNION ALL SELECT doc_id, CAST(1 AS BIGINT) AS batch_id FROM novelb
        |ORDER BY doc_id""".stripMargin,

    // p5's replay on the half-corpus slice, minus the takedown set: the
    // scrub happens AFTER both generations committed, so the screens ran
    // with the deleted docs present — the served outputs are exactly the
    // two generations' novel sets with the mod-7 ids removed
    "p7_scrubbed_ingest_outputs" ->
      s"""WITH RECURSIVE
         |half AS (SELECT doc_id, text FROM documents
         |         WHERE doc_id <= (SELECT max(doc_id)//2 FROM documents)),
         |${duckMinHashCtes(numHashes = 32, bands = 8, threshold = 0.2,
             src = "half")},
         |cut AS (SELECT (max(doc_id)*3)//5 AS c1, (max(doc_id)*4)//5 AS c2
         |        FROM half),
         |dupa AS (SELECT DISTINCT id_b AS id FROM pairs, cut
         |         WHERE id_a > c1 AND id_a <= c2
         |           AND id_b > c1 AND id_b <= c2),
         |crossa AS (SELECT DISTINCT p.id_b AS id FROM pairs p, cut
         |           WHERE p.id_a <= cut.c1 AND p.id_b > cut.c1
         |             AND p.id_b <= cut.c2),
         |novela AS (SELECT doc_id FROM half, cut
         |           WHERE doc_id > c1 AND doc_id <= c2
         |             AND doc_id NOT IN (SELECT id FROM dupa)
         |             AND doc_id NOT IN (SELECT id FROM crossa)),
         |dupb AS (SELECT DISTINCT id_b AS id FROM pairs, cut
         |         WHERE id_a > c2 AND id_b > c2),
         |crossb AS (SELECT DISTINCT p.id_b AS id FROM pairs p, cut
         |           WHERE p.id_b > cut.c2
         |             AND (p.id_a <= cut.c1
         |                  OR p.id_a IN (SELECT doc_id FROM novela))),
         |novelb AS (SELECT doc_id FROM half, cut WHERE doc_id > c2
         |             AND doc_id NOT IN (SELECT id FROM dupb)
         |             AND doc_id NOT IN (SELECT id FROM crossb))
         |SELECT doc_id, batch_id FROM (
         |  SELECT doc_id, CAST(0 AS BIGINT) AS batch_id FROM novela
         |  UNION ALL
         |  SELECT doc_id, CAST(1 AS BIGINT) AS batch_id FROM novelb)
         |WHERE doc_id % 7 <> 0
         |ORDER BY doc_id""".stripMargin,

    // the two-shard deployment's retained set in SQL: per-shard screens
    // (within-batch star + committed-index probe, both parity-local)
    // followed by the cross-shard greedy star over the union of the
    // shards' novel outputs — exactly what reconcileShardOutputs leaves
    // in the serving corpora
    "p9_cross_shard_reconcile" ->
      s"""WITH RECURSIVE
         |half AS (SELECT doc_id, text FROM documents
         |         WHERE doc_id <= (SELECT max(doc_id)//2 FROM documents)),
         |${duckMinHashCtes(numHashes = 32, bands = 8, threshold = 0.2,
             src = "half")},
         |cut AS (SELECT (max(doc_id)*3)//5 AS c1 FROM half),
         |dup AS (SELECT DISTINCT id_b AS id FROM pairs, cut
         |        WHERE id_a > c1 AND id_b > c1 AND id_a % 2 = id_b % 2),
         |crossix AS (SELECT DISTINCT p.id_b AS id FROM pairs p, cut
         |            WHERE p.id_a <= cut.c1 AND p.id_b > cut.c1
         |              AND p.id_a % 2 = p.id_b % 2),
         |novel AS (SELECT doc_id FROM half, cut WHERE doc_id > c1
         |            AND doc_id NOT IN (SELECT id FROM dup)
         |            AND doc_id NOT IN (SELECT id FROM crossix)),
         |xdrop AS (SELECT DISTINCT p.id_b AS id FROM pairs p
         |          WHERE p.id_a IN (SELECT doc_id FROM novel)
         |            AND p.id_b IN (SELECT doc_id FROM novel)
         |            AND p.id_a % 2 <> p.id_b % 2)
         |SELECT doc_id, doc_id % 2 AS shard FROM novel
         |WHERE doc_id NOT IN (SELECT id FROM xdrop)
         |ORDER BY doc_id""".stripMargin,

    // the digest deployment's retained set: per-shard exact screens
    // (within-batch min-id representative per digest + bootstrap-corpus
    // digest anti-join, both parity-local) followed by the cross-shard
    // min-id star over the union of the shards' novel outputs — exactly
    // what reconcileShardOutputs (Digests) leaves in the serving corpora.
    // Each (digest, shard) admits at most one novel row, so a union
    // group has at most two members and the star is the pairwise join.
    "p10_cross_shard_reconcile_digest" ->
      """WITH d AS (SELECT doc_id, sha256(substring(text, 1, 30)) AS dig
        |           FROM documents),
        |cut AS (SELECT (max(doc_id)*3)//5 AS c1 FROM documents),
        |corpus AS (SELECT dig, doc_id % 2 AS sh FROM d, cut
        |           WHERE doc_id <= c1),
        |b AS (SELECT doc_id, dig, doc_id % 2 AS sh FROM d, cut
        |      WHERE doc_id > c1),
        |mins AS (SELECT dig, sh, min(doc_id) AS m FROM b GROUP BY dig, sh),
        |novel AS (SELECT b.doc_id, b.dig FROM b
        |          JOIN mins ON b.dig = mins.dig AND b.sh = mins.sh
        |                   AND b.doc_id = mins.m
        |          WHERE NOT EXISTS (SELECT 1 FROM corpus c
        |                            WHERE c.dig = b.dig AND c.sh = b.sh)),
        |xdrop AS (SELECT greatest(a.doc_id, z.doc_id) AS id
        |          FROM novel a JOIN novel z
        |            ON a.dig = z.dig AND a.doc_id < z.doc_id
        |           AND a.doc_id % 2 <> z.doc_id % 2)
        |SELECT doc_id, doc_id % 2 AS shard FROM novel
        |WHERE doc_id NOT IN (SELECT id FROM xdrop)
        |ORDER BY doc_id""".stripMargin,

    // fuzzy dedup: the band blocking is lossless, so the naive quadratic
    // join with the same distance bound is an exact twin
    "d7_edit_distance_pairs" ->
      """WITH t AS (
        |  SELECT doc_id AS id,
        |    array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ')
        |      AS key
        |  FROM documents)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.key, b.key) AS BIGINT) AS dist
        |FROM t a JOIN t b
        |  ON a.id < b.id AND abs(length(a.key) - length(b.key)) <= 2
        |WHERE levenshtein(a.key, b.key) <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    // incremental near-dup: same signature/band CTEs, pair condition
    // crosses batch x corpus instead of the a < c self-join
    "b3_minhash_incremental" ->
      s"""WITH ${duckMinHashCtes(numHashes = 32, bands = 8, threshold = 0.2,
             pairCond = "a.doc_id % 5 = 4 AND c.doc_id % 5 <> 4")}
         |SELECT id_a AS batch_id, id_b AS corpus_id, jaccard
         |FROM pairs ORDER BY batch_id, corpus_id""".stripMargin,

    // the persisted-index probe computes the SAME pair set — the index is
    // an execution artifact (who computes the corpus signatures, when),
    // invisible to the result; oracle is b3's SQL verbatim
    "b3b_minhash_index" ->
      s"""WITH ${duckMinHashCtes(numHashes = 32, bands = 8, threshold = 0.2,
             pairCond = "a.doc_id % 5 = 4 AND c.doc_id % 5 <> 4")}
         |SELECT id_a AS batch_id, id_b AS corpus_id, jaccard
         |FROM pairs ORDER BY batch_id, corpus_id""".stripMargin,

    // deletion is invisible to the result contract: the probe behaves as
    // if the index were built on the RETAINED corpus (% 7 <> 3 removed)
    "b3c_minhash_index_delete" ->
      s"""WITH ${duckMinHashCtes(numHashes = 32, bands = 8, threshold = 0.2,
             pairCond = "a.doc_id % 5 = 4 AND c.doc_id % 5 <> 4" +
               " AND c.doc_id % 7 <> 3")}
         |SELECT id_a AS batch_id, id_b AS corpus_id, jaccard
         |FROM pairs ORDER BY batch_id, corpus_id""".stripMargin,

    // exact incremental dedup: the bloom is an internal accelerator, the
    // contract is plain key-absence
    "b2_bloom_exact_new" ->
      """WITH keyed AS (
        |  SELECT doc_id, lang || ':' || string_split(text, ' ')[1] AS key
        |  FROM documents)
        |SELECT doc_id, key FROM keyed
        |WHERE doc_id % 5 = 4
        |  AND key NOT IN (SELECT key FROM keyed WHERE doc_id % 5 <> 4)
        |ORDER BY doc_id""".stripMargin,

    // sharded screen, bit-exact: shard = h1 % 4 (the same portable
    // fingerprint), each shard's filter is its distinct-position set, and
    // a batch row probes ONLY its own shard — an empty shard (no corpus
    // row routed there) is definite absence, the left join's coalesce
    "b1b_bloom_sharded" ->
      s"""WITH keyed AS (
         |  SELECT doc_id, lang || ':' || string_split(text, ' ')[1] AS key
         |  FROM documents),
         |h AS (
         |  SELECT doc_id, key,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      [CAST(unicode(ch) AS BIGINT) for ch in string_split(key, '')]),
         |      (acc, x) -> (acc * 131 + x) % $ShP) AS h1
         |  FROM keyed),
         |hh AS (SELECT doc_id, key, h1, ${duckMix("h1")} AS h2 FROM h),
         |pos AS (
         |  SELECT doc_id, key, h1 % 4 AS shard,
         |    [(h1 + i * h2) % 262144 for i in range(0, 7)] AS ps
         |  FROM hh),
         |cp AS (
         |  SELECT shard, list(DISTINCT p) AS cpl
         |  FROM (SELECT shard, unnest(ps) AS p FROM pos WHERE doc_id % 5 <> 4)
         |  GROUP BY shard)
         |SELECT doc_id, key,
         |  coalesce(list_has_all(cpl, ps), false) AS maybe_dup
         |FROM pos LEFT JOIN cp ON pos.shard = cp.shard
         |WHERE doc_id % 5 = 4 ORDER BY doc_id""".stripMargin,

    // sharded full dedup: same exact key-absence contract as b2
    "b2b_bloom_sharded_new" ->
      """WITH keyed AS (
        |  SELECT doc_id, lang || ':' || string_split(text, ' ')[1] AS key
        |  FROM documents)
        |SELECT doc_id, key FROM keyed
        |WHERE doc_id % 5 = 4
        |  AND key NOT IN (SELECT key FROM keyed WHERE doc_id % 5 <> 4)
        |ORDER BY doc_id""".stripMargin,

    // bloom runtime filter is result-transparent: oracle = plain join
    "q42_bloom_runtime_filter" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size = 15""".stripMargin,

    // star-contraction variant: same input graph, same closure oracle
    "d6b_neardup_clusters_star" ->
      s"""WITH RECURSIVE ${duckMinHashCtes(numHashes = 32, bands = 8, threshold = 0.2)},
         |e AS (SELECT id_a AS a, id_b AS b FROM pairs
         |      UNION SELECT id_b, id_a FROM pairs),
         |r AS (
         |  SELECT a AS id, a AS reach FROM e
         |  UNION
         |  SELECT e.a, r.reach FROM e JOIN r ON e.b = r.id)
         |SELECT id, CAST(min(reach) AS BIGINT) AS cluster
         |FROM r GROUP BY id ORDER BY id""".stripMargin,

    // The whole pipeline as ONE SQL statement: quality CTE, MinHash+LSH
    // pairs over the filtered candidates, recursive connected components,
    // contamination overlap vs the benchmark shingles, hash-bucket split.
    "p1_training_corpus" -> {
      val qual = duckQualityExpr
      s"""WITH RECURSIVE
         |cq AS (
         |  SELECT doc_id, lang, text, $qual AS quality FROM (
         |    SELECT doc_id, lang, text, string_split(text, ' ') AS tk
         |    FROM documents WHERE doc_id >= 10)),
         |cand AS (SELECT * FROM cq WHERE quality >= 0.3),
         |${duckMinHashCtes(numHashes = 32, bands = 8, threshold = 0.2, src = "cand")},
         |ce AS (SELECT id_a AS a, id_b AS b FROM pairs
         |       UNION SELECT id_b, id_a FROM pairs),
         |r AS (
         |  SELECT a AS id, a AS reach FROM ce
         |  UNION
         |  SELECT ce.a, r.reach FROM ce JOIN r ON ce.b = r.id),
         |dd AS (SELECT id FROM (SELECT id, min(reach) AS c FROM r GROUP BY id)
         |       WHERE c < id),
         |${duckTokenHashes(src = "(SELECT * FROM documents WHERE doc_id < 10)", name = "bth")},
         |${duckShingleSets(thName = "bth", name = "bs")},
         |contam AS (
         |  SELECT DISTINCT t.doc_id FROM s t JOIN bs b
         |  ON len(list_intersect(t.sh, b.sh)) >= 5),
         |kept AS (
         |  SELECT doc_id, lang, quality FROM cand
         |  WHERE doc_id NOT IN (SELECT id FROM dd)
         |    AND doc_id NOT IN (SELECT doc_id FROM contam))
         |SELECT doc_id, lang, quality,
         |  CASE WHEN bkt < 1000 THEN 'test' ELSE 'train' END AS split
         |FROM (${duckWithBucket("doc_id, lang, quality", "doc_id", "kept")})
         |ORDER BY doc_id""".stripMargin
    },

    "q20_hash_sample" ->
      s"""SELECT doc_id, lang FROM (${duckWithBucket("doc_id, lang", "doc_id")})
         |WHERE bkt < ${graft.operators.Sampling.bucketThreshold(0.25)}
         |ORDER BY doc_id""".stripMargin,

    "q32_stratified_sample" -> {
      val cases = StratifiedFractions.map { case (l, f) =>
        s"WHEN '$l' THEN ${graft.operators.Sampling.bucketThreshold(f)}"
      }.mkString(" ")
      s"""SELECT doc_id, lang FROM (${duckWithBucket("doc_id, lang", "doc_id")})
         |WHERE bkt < CASE lang $cases
         |            ELSE ${graft.operators.Sampling.bucketThreshold(StratifiedDefault)} END
         |ORDER BY doc_id""".stripMargin
    },

    // temperature mix: per-stratum counts -> alpha-weighted rates ->
    // half-up-rounded bucket thresholds -> the same portable bucket filter
    "q41_temperature_mix" ->
      s"""WITH cnt AS (
         |  SELECT lang, CAST(count(*) AS DOUBLE) AS c
         |  FROM documents GROUP BY lang),
         |tot AS (SELECT sum(pow(c, 0.5)) AS sw, sum(c) AS n FROM cnt),
         |rates AS (
         |  SELECT lang,
         |    CAST(floor(least(1.0, 0.3 * n * pow(c, 0.5) / sw / c)
         |               * 10000.0 + 0.5) AS BIGINT) AS thr
         |  FROM cnt, tot)
         |SELECT doc_id, lang
         |FROM (${duckWithBucket("doc_id, lang", "doc_id")}) JOIN rates USING (lang)
         |WHERE bkt < thr ORDER BY doc_id""".stripMargin,

    // epochs mix: same rate derivation, copies = floor(rate) + bucket
    // fraction; unnest(range) fans each row out to its copy count
    "q48_temperature_epochs" ->
      s"""WITH cnt AS (
         |  SELECT lang, CAST(count(*) AS DOUBLE) AS c
         |  FROM documents GROUP BY lang),
         |tot AS (SELECT sum(pow(c, 0.3)) AS sw, sum(c) AS n FROM cnt),
         |rates AS (
         |  SELECT lang, CAST(floor(r) AS BIGINT) AS base,
         |    CAST(floor((r - floor(r)) * 10000.0 + 0.5) AS BIGINT) AS fthr
         |  FROM (SELECT lang, 0.5 * n * pow(c, 0.3) / sw / c AS r
         |        FROM cnt, tot)),
         |w AS (SELECT doc_id, lang, bkt
         |      FROM (${duckWithBucket("doc_id, lang", "doc_id")})),
         |cp AS (
         |  SELECT doc_id, w.lang AS lang,
         |    base + (CASE WHEN bkt < fthr THEN 1 ELSE 0 END) AS copies
         |  FROM w JOIN rates USING (lang))
         |SELECT doc_id, lang, CAST(unnest(range(1, copies + 1)) AS BIGINT) AS rep
         |FROM cp WHERE copies > 0
         |ORDER BY doc_id, rep""".stripMargin,

    // A-Res weighted sampling: same hash-uniform, same 1e-9-rounded rank
    // key, ranked with a window (the Spark side uses the bounded top-k
    // aggregate — identical output contract).
    "q50_weighted_sample" ->
      s"""WITH w AS (
         |  SELECT doc_id, lang,
         |    floor(ln((bkt + 0.5) / 10000.0) / n_chars * 1000000000.0 + 0.5)
         |      / 1000000000.0 AS skey
         |  FROM (${duckWithBucket("doc_id, lang, n_chars", "doc_id")})
         |  WHERE n_chars > 0)
         |SELECT lang, rk, doc_id, skey FROM (
         |  SELECT lang, doc_id, skey,
         |    CAST(row_number() OVER (PARTITION BY lang
         |                            ORDER BY skey DESC, doc_id) AS BIGINT) AS rk
         |  FROM w)
         |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin,

    // DSIR importance resampling: the full pipeline — hashed unigram +
    // bigram features, Laplace-smoothed bucket log-ratios (9-dp rounded),
    // ordered list_reduce score (bit-identical to the codegen kernel's
    // in-order sum), hash-Gumbel keys, top-k
    "q60_dsir_sample" -> {
      val B = 512
      s"""WITH ${duckTokenHashes("documents")},
         |f AS (
         |  SELECT d.doc_id AS doc_id, d.lang AS lang,
         |    th || [((th[i]) * 131 + th[i+1]) % $ShP
         |           for i in range(1, len(th))] AS fh
         |  FROM documents d JOIN th ON th.doc_id = d.doc_id),
         |bc AS (
         |  SELECT b, count(*) AS raw,
         |    count(CASE WHEN lang = 'en' THEN 1 END) AS tgt
         |  FROM (SELECT lang, unnest(fh) % $B AS b FROM f)
         |  GROUP BY b),
         |tot AS (SELECT sum(raw) AS rawtot, sum(tgt) AS tgttot FROM bc),
         |lrv AS (
         |  SELECT gs.b AS b,
         |    floor((ln((coalesce(bc.tgt, 0) + 1.0) / (tot.tgttot + $B))
         |         - ln((coalesce(bc.raw, 0) + 1.0) / (tot.rawtot + $B)))
         |          * 1000000000.0 + 0.5) / 1000000000.0 AS lr
         |  FROM generate_series(0, ${B - 1}) gs(b)
         |  LEFT JOIN bc ON bc.b = gs.b CROSS JOIN tot),
         |lrl AS (SELECT list(lr ORDER BY b) AS l FROM lrv),
         |sc AS (
         |  SELECT doc_id,
         |    floor(list_reduce(list_prepend(0.0, [l[1 + (h % $B)] for h in fh]),
         |          (a, x) -> a + x) * 1000000.0 + 0.5) / 1000000.0 AS dsir_score
         |  FROM f CROSS JOIN lrl),
         |gk AS (
         |  SELECT doc_id, dsir_score,
         |    floor((dsir_score - ln(-ln((bkt + 0.5) / 10000.0)))
         |          * 1000000.0 + 0.5) / 1000000.0 AS dsir_key
         |  FROM (${duckWithBucket("doc_id, dsir_score", "doc_id", "sc")}))
         |SELECT doc_id, dsir_score, dsir_key FROM (
         |  SELECT doc_id, dsir_score, dsir_key,
         |    row_number() OVER (ORDER BY dsir_key DESC, doc_id) AS rn FROM gk)
         |WHERE rn <= 200
         |ORDER BY dsir_key DESC, doc_id""".stripMargin
    },

    // Moment battery. corr/covar/stddev/var/regr_* are definitionally
    // identical across engines; skewness and kurtosis are NOT (DuckDB
    // applies sample-bias corrections, Spark reports population g1/g2),
    // so those two rebuild Spark's formulas from raw central-moment sums:
    // skew = sqrt(n)·Σd³/(Σd²)^1.5, kurt = n·Σd⁴/(Σd²)² − 3.
    "q51_stats_battery" ->
      """WITH g AS (
        |  SELECT l_returnflag AS f, avg(l_quantity) AS m
        |  FROM lineitem GROUP BY 1),
        |d AS (
        |  SELECT l.l_returnflag AS f, l.l_quantity AS q,
        |    l.l_extendedprice AS p, l.l_quantity - g.m AS dq
        |  FROM lineitem l JOIN g ON l.l_returnflag = g.f)
        |SELECT f AS l_returnflag,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  floor(corr(q, p) * 1000000.0 + 0.5) / 1000000.0 AS corr_qp,
        |  floor(covar_pop(q, p) * 10000.0 + 0.5) / 10000.0 AS covar_pop_qp,
        |  floor(covar_samp(q, p) * 10000.0 + 0.5) / 10000.0 AS covar_samp_qp,
        |  floor(stddev_pop(q) * 1000000.0 + 0.5) / 1000000.0 AS sd_pop_q,
        |  floor(stddev_samp(q) * 1000000.0 + 0.5) / 1000000.0 AS sd_samp_q,
        |  floor(var_pop(q) * 1000000.0 + 0.5) / 1000000.0 AS var_pop_q,
        |  floor(var_samp(q) * 1000000.0 + 0.5) / 1000000.0 AS var_samp_q,
        |  floor((sqrt(count(*)) * sum(dq * dq * dq)
        |         / pow(sum(dq * dq), 1.5)) * 1000000.0 + 0.5)
        |    / 1000000.0 AS skew_q,
        |  floor((count(*) * sum(dq * dq * dq * dq)
        |         / (sum(dq * dq) * sum(dq * dq)) - 3.0) * 1000000.0 + 0.5)
        |    / 1000000.0 AS kurt_q,
        |  floor(regr_slope(p, q) * 10000.0 + 0.5) / 10000.0 AS slope_pq,
        |  floor(regr_intercept(p, q) * 10000.0 + 0.5) / 10000.0 AS icept_pq,
        |  floor(regr_r2(p, q) * 1000000.0 + 0.5) / 1000000.0 AS r2_pq
        |FROM d GROUP BY f ORDER BY l_returnflag""".stripMargin,

    // Same LATERAL text, same decorrelation requirement.
    "q52_lateral_topn" ->
      """SELECT n.n_name, t.c_custkey, t.c_acctbal
        |FROM nation n, LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer c
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        |ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""".stripMargin,

    "q53_grouping_sets" ->
      """SELECT lang, source, count(*) AS cnt,
        |  CAST(GROUPING(lang) AS BIGINT) AS g_lang,
        |  CAST(GROUPING(source) AS BIGINT) AS g_source
        |FROM documents
        |GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
        |ORDER BY g_lang, g_source, lang ASC NULLS FIRST,
        |  source ASC NULLS FIRST""".stripMargin,

    "q54_histogram" ->
      """WITH st AS (
        |  SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx
        |  FROM orders)
        |SELECT
        |  CAST(least(floor((o_totalprice - mn) / ((mx - mn) / 20.0)), 19)
        |    AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  round(min(o_totalprice), 2) AS lo_seen,
        |  round(max(o_totalprice), 2) AS hi_seen
        |FROM orders, st GROUP BY 1 ORDER BY bucket""".stripMargin,

    // Domain cap: same hash-bucket order, ranked with a window (the
    // Spark side uses the bounded top-k aggregate).
    "q55_source_cap" ->
      s"""SELECT source, rk, doc_id, bkt AS bucket FROM (
         |  SELECT source, doc_id, bkt,
         |    CAST(row_number() OVER (PARTITION BY source
         |                            ORDER BY bkt, doc_id) AS BIGINT) AS rk
         |  FROM (${duckWithBucket("doc_id, source", "doc_id")}))
         |WHERE rk <= 10 ORDER BY source, rk""".stripMargin,

    // sliding windows by arithmetic: every event belongs to exactly
    // width/slide = 4 window starts ((t div 900)*900 - k*900, k = 0..3 —
    // all four satisfy ws <= t < ws + 3600 for integer seconds)
    "q63_training_shards" -> q63ShardsOracleSql,

    // the z-ordered layout is an execution artifact: same rows, same
    // filter, any storage order
    "q64_zorder_layout_read" ->
      """SELECT l_orderkey, l_partkey, l_linenumber, l_quantity
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 100 AND 1500
        |  AND l_partkey BETWEEN 20 AND 120
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity""".stripMargin,

    "q64b_zorder3_layout_read" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_quantity
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 100 AND 1500
        |  AND l_partkey BETWEEN 20 AND 120
        |  AND l_suppkey BETWEEN 5 AND 60
        |ORDER BY l_orderkey, l_partkey, l_suppkey, l_quantity""".stripMargin,

    // every lifecycle state (clustered write, cheap append, recluster)
    // is an execution artifact — same rows, same filter
    "q64c_zorder_lifecycle_read" ->
      """SELECT l_orderkey, l_partkey, l_linenumber, l_quantity
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 100 AND 1500
        |  AND l_partkey BETWEEN 20 AND 120
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity""".stripMargin,

    // streaming twin: the lifecycle (batch or streamed) is an execution
    // artifact — the oracle is the same filter on the original table
    "q64d_zorder_stream_ingest_read" ->
      """SELECT l_orderkey, l_partkey, l_linenumber, l_quantity
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 100 AND 1500
        |  AND l_partkey BETWEEN 20 AND 120
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity""".stripMargin,

    "q62_sliding_window" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
        |w AS (
        |  SELECT event_type, value,
        |    ((t // 900) * 900 - k.k * 900) AS win_start
        |  FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k)
        |SELECT win_start, event_type, count(*) AS cnt,
        |  round(sum(value), 2) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,

    // the partitioned layout is an execution artifact: the pruned read
    // equals filtering the original table
    "q61_partitioned_pruned_read" ->
      """SELECT source, count(*) AS cnt,
        |CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin,

    "q21_train_test_split" ->
      s"""SELECT split, count(*) AS cnt,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM (
         |  SELECT doc_id,
         |    CASE WHEN bkt < ${graft.operators.Sampling.bucketThreshold(0.1)}
         |         THEN 'test' ELSE 'train' END AS split
         |  FROM (${duckWithBucket("doc_id", "doc_id")}))
         |GROUP BY split ORDER BY split""".stripMargin,

    // Portable SimHash signatures (mixed polynomial token hashes).
    "d4_simhash" ->
      s"""WITH ${duckTokenHashes()}
         |SELECT doc_id, ${duckSimHash(48)} AS simhash
         |FROM th ORDER BY doc_id""".stripMargin,

    // SimHash near-dup pairs. The Spark operator generates candidates by
    // band buckets, but with bands > maxHamming that is provably complete,
    // so the quadratic join over signatures is an exact twin.
    "d4b_simhash_pairs" ->
      s"""WITH ${duckTokenHashes()},
         |sg AS (
         |  SELECT doc_id, ${duckSimHash(48)} AS simhash FROM th)
         |SELECT a.doc_id AS id_a, c.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash, c.simhash)) AS BIGINT) AS hamming
         |FROM sg a JOIN sg c ON a.doc_id < c.doc_id
         |WHERE bit_count(xor(a.simhash, c.simhash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    // Shingles hashed with the portable polynomial hash (token hashes
    // folded with base 131 mod 2^53-111) — mirrors
    // TextFunctions.hashedShingleSet exactly.
    "d3_ngram_jaccard_neardup" ->
      """WITH th AS (
        |  SELECT lang, doc_id,
        |    [list_reduce(list_prepend(CAST(0 AS BIGINT),
        |       [CAST(unicode(c) AS BIGINT) for c in string_split(t, '')]),
        |       (acc, x) -> (acc * 131 + x) % 9007199254740881)
        |     for t in string_split(text, ' ')] AS th
        |  FROM documents),
        |s AS (
        |  SELECT lang, doc_id,
        |    list_distinct([((((th[i]) * 131 + th[i+1]) % 9007199254740881) * 131 + th[i+2]) % 9007199254740881
        |                   for i in range(1, len(th) - 1)]) AS sh
        |  FROM th WHERE len(th) >= 3)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    floor(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |          / (len(a.sh) + len(b.sh)
        |             - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE))
        |          * 1000000.0 + 0.5) / 1000000.0 AS jaccard
        |  FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE len(a.sh) * 0.2 <= len(b.sh) AND len(b.sh) * 0.2 <= len(a.sh))
        |WHERE jaccard >= 0.2 ORDER BY id_a, id_b""".stripMargin,

    // df-ordered path: same result set by the completeness lemma — the
    // oracle is d3's naive quadratic join verbatim
    "d3b_ngram_jaccard_df" ->
      """WITH th AS (
        |  SELECT lang, doc_id,
        |    [list_reduce(list_prepend(CAST(0 AS BIGINT),
        |       [CAST(unicode(c) AS BIGINT) for c in string_split(t, '')]),
        |       (acc, x) -> (acc * 131 + x) % 9007199254740881)
        |     for t in string_split(text, ' ')] AS th
        |  FROM documents),
        |s AS (
        |  SELECT lang, doc_id,
        |    list_distinct([((((th[i]) * 131 + th[i+1]) % 9007199254740881) * 131 + th[i+2]) % 9007199254740881
        |                   for i in range(1, len(th) - 1)]) AS sh
        |  FROM th WHERE len(th) >= 3)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    floor(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |          / (len(a.sh) + len(b.sh)
        |             - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE))
        |          * 1000000.0 + 0.5) / 1000000.0 AS jaccard
        |  FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE len(a.sh) * 0.2 <= len(b.sh) AND len(b.sh) * 0.2 <= len(a.sh))
        |WHERE jaccard >= 0.2 ORDER BY id_a, id_b""".stripMargin,

    // Containment twin: same shingle sets, naive within-language join
    // (complete by construction — the Spark side's small-side prefix
    // filter is the lossless scale path).
    "d9_containment_pairs" ->
      """WITH th AS (
        |  SELECT lang, doc_id,
        |    [list_reduce(list_prepend(CAST(0 AS BIGINT),
        |       [CAST(unicode(c) AS BIGINT) for c in string_split(t, '')]),
        |       (acc, x) -> (acc * 131 + x) % 9007199254740881)
        |     for t in string_split(text, ' ')] AS th
        |  FROM documents),
        |s AS (
        |  SELECT lang, doc_id,
        |    list_distinct([((((th[i]) * 131 + th[i+1]) % 9007199254740881) * 131 + th[i+2]) % 9007199254740881
        |                   for i in range(1, len(th) - 1)]) AS sh
        |  FROM th WHERE len(th) >= 3)
        |SELECT id_a, id_b, containment FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    floor(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |          / least(len(a.sh), len(b.sh))
        |          * 1000000.0 + 0.5) / 1000000.0 AS containment
        |  FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0)
        |WHERE containment >= 0.6 ORDER BY id_a, id_b""".stripMargin,

    // CAST(... AS DOUBLE[]) makes DuckDB accumulate in double in index
    // order — bit-identical to the codegen'd CosineSimilarity kernel
    // (verified: 0 ULP mismatches across all pairs at sf0.001).
    "d5_embedding_neardup" ->
      """SELECT blk, id_a, id_b, cos FROM (
        |  SELECT a.label AS blk, a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        |          / sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))
        |                 * list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))), 6) AS cos
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id)
        |WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    // Full SRP-LSH pipeline in SQL: the hyperplane constants are seeded,
    // so they embed as literals (same recipe as the MinHash coefficients)
    // and DuckDB reproduces buckets -> candidates -> verified pairs
    // exactly.
    "d5b_embedding_lsh" ->
      s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |            FROM embeddings),
         |bk AS (${duckSrpBk(tables = 16, planes = 5, dim = 64)}),
         |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |         FROM bk x JOIN bk y
         |           ON x.tbl = y.tbl AND x.bkt = y.bkt AND x.vec_id < y.vec_id),
         |sc AS (SELECT c.id_a, c.id_b, $duckCos AS cos
         |       FROM cand c JOIN emb a ON a.vec_id = c.id_a
         |                   JOIN emb b ON b.vec_id = c.id_b)
         |SELECT id_a, id_b, cos FROM sc WHERE cos >= 0.4
         |ORDER BY id_a, id_b""".stripMargin,

    // same pipeline at the 8-plane bucket density (the plane constants of
    // tables 0..15 at planes=8 — a different seeded family than d5b's),
    // WITH Hamming-1 multi-probe: the probe side unnests its own bucket
    // plus every single-bit flip, exactly the operator's candidate rule
    "d5c_embedding_lsh_scaled" ->
      s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |            FROM embeddings),
         |bk AS (${duckSrpBk(tables = 16, planes = 8, dim = 64)}),
         |pr AS (SELECT vec_id, tbl, u.p AS bkt
         |       FROM bk, UNNEST([${duckHamming1Probes(8)}]) AS u(p)),
         |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |         FROM bk x JOIN pr y
         |           ON x.tbl = y.tbl AND x.bkt = y.bkt AND x.vec_id < y.vec_id),
         |sc AS (SELECT c.id_a, c.id_b, $duckCos AS cos
         |       FROM cand c JOIN emb a ON a.vec_id = c.id_a
         |                   JOIN emb b ON b.vec_id = c.id_b)
         |SELECT id_a, id_b, cos FROM sc WHERE cos >= 0.4
         |ORDER BY id_a, id_b""".stripMargin,

    // the persisted-SRP-index probe: corpus = vec_id % 5 <> 4 (400
    // vectors at the verify SF -> srpPlanesFor picks 4 planes, the same
    // frozen family as d5d), batch = % 5 = 4 probing with Hamming-1
    // multi-probe; cross pairs only, exact-cosine verified.
    "b4_embedding_index" ->
      s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |            FROM embeddings),
         |bk AS (${duckSrpBk(tables = 16, planes = 4, dim = 64)}),
         |pr AS (SELECT vec_id, tbl, u.p AS bkt
         |       FROM bk, UNNEST([${duckHamming1Probes(4)}]) AS u(p)
         |       WHERE vec_id % 5 = 4),
         |cand AS (SELECT DISTINCT x.vec_id AS batch_id, y.vec_id AS corpus_id
         |         FROM pr x JOIN bk y
         |           ON x.tbl = y.tbl AND x.bkt = y.bkt AND y.vec_id % 5 <> 4),
         |sc AS (SELECT c.batch_id, c.corpus_id, $duckCos AS cos
         |       FROM cand c JOIN emb a ON a.vec_id = c.batch_id
         |                   JOIN emb b ON b.vec_id = c.corpus_id)
         |SELECT batch_id, corpus_id, cos FROM sc WHERE cos >= 0.4
         |ORDER BY batch_id, corpus_id""".stripMargin,

    // post-compaction deleted-index probe ≡ the retained corpus
    // (vec_id % 7 <> 3 dropped from the index side)
    "b4c_embedding_index_delete" ->
      s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |            FROM embeddings),
         |bk AS (${duckSrpBk(tables = 16, planes = 4, dim = 64)}),
         |pr AS (SELECT vec_id, tbl, u.p AS bkt
         |       FROM bk, UNNEST([${duckHamming1Probes(4)}]) AS u(p)
         |       WHERE vec_id % 5 = 4),
         |cand AS (SELECT DISTINCT x.vec_id AS batch_id, y.vec_id AS corpus_id
         |         FROM pr x JOIN bk y
         |           ON x.tbl = y.tbl AND x.bkt = y.bkt
         |          AND y.vec_id % 5 <> 4 AND y.vec_id % 7 <> 3),
         |sc AS (SELECT c.batch_id, c.corpus_id, $duckCos AS cos
         |       FROM cand c JOIN emb a ON a.vec_id = c.batch_id
         |                   JOIN emb b ON b.vec_id = c.corpus_id)
         |SELECT batch_id, corpus_id, cos FROM sc WHERE cos >= 0.4
         |ORDER BY batch_id, corpus_id""".stripMargin,

    // the auto-density pipeline. planes = srpPlanesFor(count(embeddings))
    // is a PURE function of the fixture: 500 vectors at the verify SF ->
    // ceil(log2(500/32)) = 4 planes — frozen here as literals exactly
    // like the ANN centroids/codebooks (the operator recomputes the same
    // choice from the same data, so the SQL stays in lockstep); probes =
    // own bucket + 4 single-bit flips (multi-probe is always on in the
    // auto path).
    "d5d_embedding_lsh_auto" ->
      s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |            FROM embeddings),
         |bk AS (${duckSrpBk(tables = 16, planes = 4, dim = 64)}),
         |pr AS (SELECT vec_id, tbl, u.p AS bkt
         |       FROM bk, UNNEST([${duckHamming1Probes(4)}]) AS u(p)),
         |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |         FROM bk x JOIN pr y
         |           ON x.tbl = y.tbl AND x.bkt = y.bkt AND x.vec_id < y.vec_id),
         |sc AS (SELECT c.id_a, c.id_b, $duckCos AS cos
         |       FROM cand c JOIN emb a ON a.vec_id = c.id_a
         |                   JOIN emb b ON b.vec_id = c.id_b)
         |SELECT id_a, id_b, cos FROM sc WHERE cos >= 0.4
         |ORDER BY id_a, id_b""".stripMargin,

    // SemDeDup: frozen-centroid assignment (the s3 cell rule), within-cell
    // pairs at rounded cosine >= threshold, greedy star (NOT IN id_b)
    "d11_semdedup" ->
      s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |            FROM embeddings),
         |cent(cid, cv) AS (VALUES $duckIvfCentVals),
         |cells AS (${duckIvfCells(1, "vec_id, v, cid AS cell")}),
         |pairs AS (
         |  SELECT b.vec_id AS id_b FROM cells a JOIN cells b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE round(list_dot_product(a.v, b.v)
         |        / sqrt(list_dot_product(a.v, a.v)
         |               * list_dot_product(b.v, b.v)), 6) >= 0.4)
         |SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM cells
         |WHERE vec_id NOT IN (SELECT id_b FROM pairs)
         |ORDER BY vec_id""".stripMargin,

    // SRP-LSH ANN with Hamming-1 multi-probe, fully reproduced in SQL:
    // query probes = own bucket plus each single-bit flip, candidates
    // OR across 16 tables, ranked (sim DESC, id ASC) like s1.
    "s2_lsh_topk" -> {
      s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |            FROM embeddings),
         |bk AS (${duckSrpBk(tables = 16, planes = 8, dim = 64)}),
         |qp AS (SELECT vec_id AS qid, tbl, u.p AS bkt
         |       FROM bk, UNNEST([${duckHamming1Probes(8)}]) AS u(p) WHERE vec_id < 10),
         |cand AS (SELECT DISTINCT q.qid, c.vec_id
         |         FROM bk c JOIN qp q ON c.tbl = q.tbl AND c.bkt = q.bkt
         |         WHERE c.vec_id <> q.qid),
         |sc AS (SELECT cand.qid, cand.vec_id, $duckCos AS sim
         |       FROM cand JOIN emb a ON a.vec_id = cand.qid
         |                 JOIN emb b ON b.vec_id = cand.vec_id)
         |SELECT qid, vec_id, sim, rank FROM (
         |  SELECT qid, vec_id, sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
         |  FROM sc) WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin
    },

    // IVF ANN fully reproduced in SQL: the frozen coarse quantizer
    // (AnnModels, trained offline by the deterministic RNG-free trainer)
    // embeds as DOUBLE[] literals; cell assignment = argmax inner product
    // (ties -> lower cid, the kernel's strict-< rule), queries probe
    // their 8 nearest cells, candidates meet on the cell id.
    "s3_ivf_topk" -> s3IvfOracleSql,

    // the persisted-layout twin computes the SAME result (the layout is
    // an execution artifact) — the oracle is s3's verbatim, like b3b's
    // oracle is b3's
    "s8_ivf_indexed_topk" -> s3IvfOracleSql,

    "s10_ivf_layout_delete" -> s10IvfDeleteOracleSql,

    "s11_knn_graph" -> s11KnnGraphOracleSql,

    // increment ≡ rebuild (spec-proven), so the oracle is the rebuild's
    "s12_knn_graph_increment" -> s11KnnGraphOracleSql,

    // PQ ADC + exact re-rank fully reproduced in SQL: frozen codebooks as
    // literals, encode = per-subspace argmin L2 (left-assoc 4-term dist
    // chain, ties -> lower code), ADC = dot(q, reconstruction) over the
    // subspace-grouped norm (the kernel's exact accumulation), shortlist
    // 50 re-ranked by exact cosine to top 5.
    "s6_pq_topk" ->
      s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |            FROM embeddings),
         |cb(s, c, sub, nrm) AS (VALUES $duckPqCbVals),
         |qv AS (SELECT vec_id AS qid, v AS qv FROM emb WHERE vec_id < 10),
         |$duckPqRecCtes,
         |adc AS (SELECT q.qid, r.vec_id,
         |    round(CASE WHEN r.nx = 0 OR list_dot_product(q.qv, q.qv) = 0 THEN 0.0
         |          ELSE list_dot_product(q.qv, r.recon)
         |               / sqrt(r.nx * list_dot_product(q.qv, q.qv)) END, 6) AS sim
         |  FROM rec r, qv q WHERE r.vec_id <> q.qid),
         |${duckAdcRerankTail(rerank = 50, topK = 5)}""".stripMargin,

    // IVF-PQ composed pipeline in SQL: both frozen models embed as
    // literals — cells prune WHICH corpus rows are ADC-scored, codes
    // compress HOW, shortlist re-ranks exactly. The re-rank joins the
    // one-row-per-query qv CTE, never the per-cell probe rows.
    "s7_ivfpq_topk" -> s7IvfPqOracleSql,

    // the persisted PQ-coded layout computes the SAME result (write-time
    // codes under the same frozen models) — the oracle is s7's verbatim
    "s9_ivfpq_indexed_topk" -> s7IvfPqOracleSql,

    // Quantization twin: identical floor(x·scale + 0.5) arithmetic on
    // double-widened floats, then integer dot products — exact in both
    // engines.
    "s4_quantized_topk" ->
      """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    list_max([abs(x) for x in CAST(embedding AS DOUBLE[])]) AS amax
        |  FROM embeddings),
        |qz AS (SELECT vec_id,
        |    CASE WHEN amax > 0
        |         THEN [floor(x * (127.0 / amax) + 0.5) for x in v]
        |         ELSE [CAST(0 AS DOUBLE) for x in v] END AS qv
        |  FROM emb),
        |q AS (SELECT vec_id AS qid, qv AS qvec FROM qz WHERE vec_id < 10),
        |s AS (SELECT q.qid, c.vec_id,
        |    round(list_dot_product(c.qv, q.qvec)
        |          / sqrt(list_dot_product(c.qv, c.qv)
        |                 * list_dot_product(q.qvec, q.qvec)), 6) AS sim
        |  FROM qz c, q WHERE c.vec_id <> q.qid)
        |SELECT qid, vec_id, sim, rank FROM (
        |  SELECT qid, vec_id, sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
        |  FROM s) WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,

    "s1_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec
        |           FROM embeddings WHERE vec_id < 10),
        |c2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |s AS (
        |  SELECT q.qid, c.vec_id,
        |    round(list_dot_product(c.emb, q.qvec)
        |          / sqrt(list_dot_product(c.emb, c.emb)
        |                 * list_dot_product(q.qvec, q.qvec)), 6) AS sim
        |  FROM c2 c, q WHERE c.vec_id <> q.qid)
        |SELECT qid, vec_id, sim, rank FROM (
        |  SELECT qid, vec_id, sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
        |  FROM s) WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,

    "m1_media_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  octet_length(encode(text)) AS n_bytes,
        |  64 + (octet_length(encode(text)) * 31) % 512 AS width,
        |  64 + (octet_length(encode(text)) * 17) % 512 AS height
        |FROM documents ORDER BY doc_id""".stripMargin,

    "m2_frame_sample" ->
      """SELECT doc_id, CAST(off // 100 AS BIGINT) AS frame_no, off,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      [CAST(unicode(c) AS BIGINT)
        |       for c in string_split(substr(text, CAST(off + 1 AS INTEGER), 100), '')]),
        |    (acc, x) -> (acc * 131 + x) % 1000000007) AS frame_fp
        |FROM (SELECT doc_id, text,
        |        unnest(range(0, n_chars, 100)) AS off FROM documents)
        |ORDER BY doc_id, frame_no""".stripMargin,

    "m3_resize_meta" ->
      """SELECT doc_id, width, height,
        |  width * 256 // greatest(width, height) AS out_w,
        |  height * 256 // greatest(width, height) AS out_h
        |FROM (
        |  SELECT doc_id,
        |    64 + (octet_length(encode(text)) * 31) % 512 AS width,
        |    64 + (octet_length(encode(text)) * 17) % 512 AS height
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // content digest dedup: sha256 hex is identical across engines on the
    // same bytes. n_bytes counts BYTES on both sides (octet_length of the
    // UTF-8 encoding, the m3 pattern) — length() counts CHARACTERS and
    // diverges the moment a fixture prefix carries a non-ASCII codepoint.
    "m5_media_dedup" ->
      """SELECT sha256(substring(text, 1, 30)) AS digest,
        |  CAST(count(*) AS BIGINT) AS n_copies,
        |  min(doc_id) AS keep_id,
        |  CAST(min(octet_length(encode(substring(text, 1, 30)))) AS BIGINT) AS n_bytes
        |FROM documents GROUP BY 1
        |ORDER BY keep_id""".stripMargin,

    // Real-codec round-trip check: the Spark side PNG-encodes the
    // deterministic test card with javax.imageio and DECODES it back;
    // PNG is lossless, so the decoded pixel statistics must equal this
    // direct evaluation of the pattern (exact integer arithmetic). The
    // position weight (y·w + x + 1) and distinct channel multipliers
    // catch row-order and channel-order decoder bugs, not just totals.
    "m4_decode_features" ->
      """WITH g AS (SELECT doc_id, 4 + (doc_id % 5) AS w,
        |                  4 + ((doc_id // 5) % 5) AS h FROM documents),
        |xs AS (SELECT unnest(range(8)) AS x),
        |ys AS (SELECT unnest(range(8)) AS y),
        |px AS (SELECT g.doc_id, g.w, g.h, xs.x, ys.y,
        |    (g.doc_id*31 + xs.x*7 + ys.y*13) % 256 AS r,
        |    (g.doc_id*17 + xs.x*3 + ys.y*29) % 256 AS gg,
        |    (g.doc_id*53 + xs.x*11 + ys.y*5) % 256 AS b
        |  FROM g, xs, ys WHERE xs.x < g.w AND ys.y < g.h)
        |SELECT doc_id, CAST(min(w) AS BIGINT) AS width,
        |  CAST(min(h) AS BIGINT) AS height,
        |  CAST(min(w) * min(h) AS BIGINT) AS n_pixels,
        |  CAST(sum(r + gg + b) AS BIGINT) AS pix_sum,
        |  CAST(sum((r + 2*gg + 3*b) * (y*w + x + 1)) AS BIGINT) AS pix_wsum
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
  )

}
