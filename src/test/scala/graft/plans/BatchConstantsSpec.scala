package graft.plans

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpec

/** Batch constants compute, prune and push down like the literals they
  * stand for, and their generated code does not depend on their values. */
class BatchConstantsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** 200 ids, partitioned by `shard = id % 8`; `k` is the same value as a
    * data column, so a filter on it stays in the generated code. */
  private lazy val table = {
    val dir = Files.createTempDirectory("graft-batch-constants") + "/t"
    spark.range(0, 200).withColumn("k", (col("id") % 8).cast("int"))
      .withColumn("shard", col("k")).write.partitionBy("shard").parquet(dir)
    dir
  }

  private def query(w: Column, shard: Column, k: Column): DataFrame =
    spark.read.parquet(table).filter(col("id") <= w).filter(shard).filter(k)
      .agg(count(lit(1)).as("n"), sum(col("id")).as("s"))

  private def batch(w: Long, set: Seq[Int]) = query(BatchConstants.long(w),
    BatchConstants.isIn(col("shard"), set), BatchConstants.isIn(col("k"), set))

  private def literal(w: Long, set: Seq[Int]) = {
    def in(c: String) = if (set.isEmpty) lit(false) else col(c).isin(set: _*)
    query(lit(w), in("shard"), in("k"))
  }

  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("batch constants compute like literals, prune partitions and push " +
      "down to parquet") {
    for ((w, set) <- Seq(50L -> Seq(1, 2), 120L -> Seq(3, 5, 7),
                         199L -> Seq.empty[Int])) {
      val got = batch(w, set)
      assert(got.collect().toSeq == literal(w, set).collect().toSeq)
      if (set.nonEmpty) {
        val scan = collect(got.queryExecution.executedPlan) {
          case s: FileSourceScanExec => s }.head
        assert(scan.toString.contains(s"LessThanOrEqual(id,$w)"),
          s"the watermark is not pushed down: $scan")
        assert(scan.metrics("numPartitions").value == set.size,
          s"read ${scan.metrics("numPartitions").value} partitions: $scan")
      }
    }
  }

  test("a touched-shard set matches a partition column read as a string") {
    val typed = batch(120L, Seq(3, 5, 7)).collect().toSeq
    assert(typed.head.getLong(0) > 0)
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    spark.conf.set(key, "false")
    try {
      assert(spark.read.parquet(table).schema("shard").dataType.typeName ==
        "string")
      val got = batch(120L, Seq(3, 5, 7))
      assert(got.collect().toSeq == typed)
      val scan = collect(got.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s }.head
      assert(scan.metrics("numPartitions").value == 3, scan.toString)
    } finally spark.conf.unset(key)
  }

  test("a batch constant's generated code does not depend on its value") {
    batch(10L, Seq(1)).collect()
    val before = compiles
    batch(77L, Seq(0, 4, 6)).collect()
    assert(compiles == before, "new values compiled new code")
    // the same query with plain literals inlines them: new code per value
    literal(78L, Seq(0, 4, 6)).collect()
    assert(compiles > before)
  }

  test("copies of a batch constant stay batch constants") {
    val l = new BatchLiteral(5L, LongType)
    assert(l.clone().isInstanceOf[BatchLiteral])
    val s = new BatchInSet(UnresolvedAttribute("k"), Set[Any](1, 2))
    assert(s.clone().isInstanceOf[BatchInSet])
    assert(s.withNewChildren(Seq(UnresolvedAttribute("j")))
      .isInstanceOf[BatchInSet])
  }
}
