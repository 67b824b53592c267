package graft

import java.nio.file.Files

import graft.functions.GraftFunctions

/** The four lifecycle entries that stand up a deployment (index,
  * ledger, checkpoint or layout files) under `${java.io.tmpdir}`
  * delete that directory and rebuild it on every call, so each result
  * comes from files the current code wrote. A rerun over the previous
  * call's deployment, with a torn part file planted in the directory
  * the entry reads back, must return the same rows and leave no trace
  * of the planted file.
  */
class EntryRebuildSpec extends SparkSpec {

  /** Rows as comparable values; doubles to 12 significant digits, so a
    * reordered floating-point sum cannot tell two runs apart. */
  private def rows(entry: String): Seq[String] =
    SparkEntry.queries(entry)(spark, sf001).collect().toSeq.map(
      _.toSeq.map {
        case d: Double =>
          BigDecimal(d).round(new java.math.MathContext(12)).toString
        case v => String.valueOf(v)
      }.mkString("|")).sorted

  private def rerunOverDebris(entry: String, kind: String,
      sub: String): Unit = {
    GraftFunctions.register(spark)
    val first = rows(entry)
    assert(first.nonEmpty, s"$entry returned no rows")
    val work = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_${kind}_" + Integer.toHexString(sf001.hashCode))
    assert(work.isDirectory, s"$entry built no deployment at $work")
    val debris = new java.io.File(work, s"$sub/part-torn.parquet")
    debris.getParentFile.mkdirs()
    Files.write(debris.toPath, "not parquet".getBytes("UTF-8"))
    assert(rows(entry) == first,
      s"$entry rerun over its previous deployment returned other rows")
    assert(!debris.exists(), s"$entry left the planted $debris in place")
  }

  test("q56b_drift_monitor_stream rebuilds its deployment every call") {
    rerunOverDebris("q56b_drift_monitor_stream", "driftmon", "in")
  }

  test("p9_cross_shard_reconcile rebuilds its deployment every call") {
    rerunOverDebris("p9_cross_shard_reconcile", "reconcile_mh", "out0")
  }

  test("p10_cross_shard_reconcile_digest rebuilds its deployment every " +
      "call") {
    rerunOverDebris("p10_cross_shard_reconcile_digest", "reconcile_dig",
      "out0")
  }

  test("q64d_zorder_stream_ingest_read rebuilds its deployment every call") {
    rerunOverDebris("q64d_zorder_stream_ingest_read", "zstream", "in")
  }
}
