package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Dedup

/** Governed streaming EXACT-dedup over the persisted digest index
  * (`StreamOps.governedDedupStream` with `Digests`): exactly-once across
  * restarts, the committed index equals a rebuild from corpus ∪
  * accepted docs, and a replayed stream changes nothing.
  */
class IndexedDigestDedupStreamSpec extends SparkSpec {
  import spark.implicits._

  private def objs(rows: (Long, String)*) =
    rows.toDF("id", "dig").withColumn("payload", concat(lit("o-"), col("dig")))

  test("streaming digest loop: two files, exactly-once output, index equals rebuild; restart is a no-op") {
    val base = Files.createTempDirectory("graft-digstream").toString
    val in = s"$base/in"; val ix = s"$base/ix"; val out = s"$base/out"
    val cp = s"$base/cp"
    val corpus = (0L until 30L).map(i => (i, s"d$i"))
    Dedup.writeDigestIndex(objs(corpus: _*), "id", "dig", ix)
    // file 1: two novel digests + one corpus dup + one within-batch dup
    objs((100L, "e1"), (101L, "e2"), (102L, "d5"), (103L, "e1"))
      .coalesce(1).write.parquet(in)
    val q = StreamOps.governedDedupStream(spark, in,
      objs((0L, "x")).schema, "id", Dedup.Digests("dig"), ix, out, cp)
    q.processAllAvailable(); q.awaitTermination(120000)
    def served() = spark.read.parquet(out).drop("batch_id")
      .select("id").as[Long].collect().toSet
    assert(served() == Set(100L, 101L))

    // file 2 arrives: dups vs the GROWN committed index drop
    objs((200L, "e2"), (201L, "f1")).coalesce(1)
      .write.mode("append").parquet(in)
    val q2 = StreamOps.governedDedupStream(spark, in,
      objs((0L, "x")).schema, "id", Dedup.Digests("dig"), ix, out, cp)
    q2.processAllAvailable(); q2.awaitTermination(120000)
    assert(served() == Set(100L, 101L, 201L))

    // index ≡ rebuild from corpus ∪ accepted
    val accepted = Seq((100L, "e1"), (101L, "e2"), (201L, "f1"))
    val reb = s"$base/reb"
    Dedup.writeDigestIndex(objs((corpus ++ accepted): _*), "id", "dig", reb)
    def rows(p: String) = Dedup.readDigestIndex(spark, p).digests
      .select("id", "dig").collect().map(_.toSeq).toSet
    assert(rows(ix) == rows(reb))

    // restart with no new files: nothing recomputes, nothing changes
    val q3 = StreamOps.governedDedupStream(spark, in,
      objs((0L, "x")).schema, "id", Dedup.Digests("dig"), ix, out, cp)
    q3.processAllAvailable(); q3.awaitTermination(120000)
    assert(served() == Set(100L, 101L, 201L))
    assert(rows(ix) == rows(reb))
  }

  test("a takedown reaches the served corpus on the next committed batch") {
    val base = Files.createTempDirectory("graft-digstream-td").toString
    val in = s"$base/in"; val ix = s"$base/ix"; val out = s"$base/out"
    val cp = s"$base/cp"
    Dedup.writeDigestIndex(objs((0L, "d0"), (1L, "d1")), "id", "dig", ix)
    objs((100L, "e1"), (101L, "e2")).coalesce(1).write.parquet(in)
    val q = StreamOps.governedDedupStream(spark, in,
      objs((0L, "x")).schema, "id", Dedup.Digests("dig"), ix, out, cp)
    q.processAllAvailable(); q.awaitTermination(120000)
    // takedown 100, then commit one more batch — the scrub gate fires
    Dedup.deleteFromIndex(spark, ix, Seq(100L))
    objs((200L, "e3")).coalesce(1).write.mode("append").parquet(in)
    val q2 = StreamOps.governedDedupStream(spark, in,
      objs((0L, "x")).schema, "id", Dedup.Digests("dig"), ix, out, cp)
    q2.processAllAvailable(); q2.awaitTermination(120000)
    val served = spark.read.parquet(out).drop("batch_id")
      .select("id").as[Long].collect().toSet
    assert(served == Set(101L, 200L))
    // and a re-offer of the retracted digest is novel again
    val got = Dedup.digestNovel(objs((300L, "e1")), "id", "dig",
      Dedup.readDigestIndex(spark, ix))
      .select("id").as[Long].collect().toSet
    assert(got == Set(300L))
  }
}
