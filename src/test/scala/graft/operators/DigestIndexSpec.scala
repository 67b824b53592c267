package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Persisted digest index — the EXACT-dedup third index family
  * (`Dedup.writeDigestIndex` / `digestNovel` / `appendDigestIndex` /
  * `ingestBatch` with `Digests` + deletion/compaction/quarantine under
  * the shared lifecycle core).
  */
class DigestIndexSpec extends SparkSpec {
  import spark.implicits._

  /** (id, dig, payload) corpus with planted exact duplicates: ids
    * sharing `dig` are byte-identical objects. */
  private def corpusOf(rows: (Long, String)*): DataFrame =
    rows.toDF("id", "dig").withColumn("payload", concat(lit("obj-"), col("dig")))

  private def naiveNovel(batch: Seq[(Long, String)],
                         corpus: Seq[(Long, String)]): Set[Long] = {
    val corpusDigs = corpus.map(_._2).toSet
    val minPer = batch.groupBy(_._2).map { case (d, rs) => d -> rs.map(_._1).min }
    batch.collect {
      case (id, d) if minPer(d) == id && !corpusDigs(d) => id
    }.toSet
  }

  test("digestNovel equals the naive NOT-IN + min-id screen; index scan is shard-pruned") {
    val corpus = (0L until 40L).map(i => (i, s"d${i % 25}"))
    val batch = (100L until 140L).map(i => (i, s"d${i % 30}"))
    val base = Files.createTempDirectory("graft-digix").toString
    Dedup.writeDigestIndex(corpusOf(corpus: _*), "id", "dig", base)
    val got = Dedup.digestNovel(corpusOf(batch: _*), "id", "dig",
      Dedup.readDigestIndex(spark, base))
    assert(got.select("id").as[Long].collect().toSet ==
      naiveNovel(batch, corpus))
    // the index side of the probe is pruned to the batch's digest shards
    val scan = got.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [shard"))
  }

  test("appendDigestIndex equals a rebuild; out-of-order append refuses") {
    val corpus = (0L until 30L).map(i => (i, s"d${i % 20}"))
    val batch = (30L until 50L).map(i => (i, s"e$i"))
    val a = Files.createTempDirectory("graft-digix-app").toString
    val r = Files.createTempDirectory("graft-digix-reb").toString
    Dedup.writeDigestIndex(corpusOf(corpus: _*), "id", "dig", a)
    Dedup.appendDigestIndex(corpusOf(batch: _*), "id", "dig", a)
    Dedup.writeDigestIndex(corpusOf((corpus ++ batch): _*), "id", "dig", r)
    def rows(p: String) = Dedup.readDigestIndex(spark, p).digests
      .select("id", "dig").collect().map(_.toSeq).toSet
    assert(rows(a) == rows(r))
    val e = intercept[IllegalArgumentException] {
      Dedup.appendDigestIndex(corpusOf((10L, "x")), "id", "dig", a)
    }
    assert(e.getMessage.contains("monotone") ||
      e.getMessage.contains("ids <= the index max"))
  }

  test("governed digest loop: two batches exactly-once, replay is bit-identical, stats mirror the ledger") {
    val corpus = (0L until 40L).map(i => (i, s"d${i % 25}"))
    val bA = (100L until 120L).map(i => (i, s"d${i % 28}"))
    val bB = (200L until 220L).map(i => (i, s"d${i % 34}"))
    val base = Files.createTempDirectory("graft-digix-gov").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    Dedup.writeDigestIndex(corpusOf(corpus: _*), "id", "dig", ix)
    Dedup.initIngestLedger(spark, ix)
    val sA = Dedup.ingestBatch(corpusOf(bA: _*), "id",
      Dedup.Digests("dig"), ix, out, batchId = 0L)
    val sB = Dedup.ingestBatch(corpusOf(bB: _*), "id",
      Dedup.Digests("dig"), ix, out, batchId = 1L)
    assert(!sA.replayed && !sB.replayed)
    // oracle by hand: A screens vs corpus; B screens vs corpus ∪ novelA
    val novelA = naiveNovel(bA, corpus)
    val committedAfterA = corpus ++ bA.filter(r => novelA(r._1))
    val novelB = naiveNovel(bB, committedAfterA)
    def served(b: Long) = spark.read.parquet(s"$out/batch_id=$b")
      .select("id").as[Long].collect().toSet
    assert(served(0L) == novelA)
    assert(served(1L) == novelB)
    assert(sA.novelRows == novelA.size && sB.novelRows == novelB.size)

    // replay of batch 1 (same id, same data): recognized, no changes
    val before = Dedup.readDigestIndex(spark, ix).digests
      .collect().map(_.toSeq).toSet
    val sB2 = Dedup.ingestBatch(corpusOf(bB: _*), "id",
      Dedup.Digests("dig"), ix, out, batchId = 1L)
    assert(sB2.replayed && sB2.novelRows == sB.novelRows)
    assert(served(1L) == novelB)
    assert(Dedup.readDigestIndex(spark, ix).digests
      .collect().map(_.toSeq).toSet == before)
  }

  test("torn append heals: crashed attempt's partial rows are not duplicated") {
    val corpus = (0L until 30L).map(i => (i, s"d$i"))
    // half the batch digests are novel (e*), half dup the corpus (d*)
    val bA = (100L until 120L).map(i =>
      (i, if (i % 2 == 0) s"e$i" else s"d${i % 15}"))
    val base = Files.createTempDirectory("graft-digix-torn").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    val ix2 = s"$base/ix2"; val out2 = s"$base/out2"
    Dedup.writeDigestIndex(corpusOf(corpus: _*), "id", "dig", ix)
    Dedup.initIngestLedger(spark, ix)
    // simulate the torn crash: digest rows appended past the watermark,
    // NO ledger row (the append layout the governed path uses)
    val novelA = naiveNovel(bA, corpus)
    val tornRows = corpusOf(bA.filter(r => novelA(r._1)).take(5): _*)
      .select(col("id"), col("dig"))
      .withColumn("shard", pmod(hash(col("dig")), lit(16)))
      .repartition(col("shard"))
    tornRows.write.partitionBy("shard").mode("append").parquet(s"$ix/digests")
    // replay the batch through the governed path
    Dedup.ingestBatch(corpusOf(bA: _*), "id", Dedup.Digests("dig"),
      ix, out, batchId = 0L)
    // never-crashed twin
    Dedup.writeDigestIndex(corpusOf(corpus: _*), "id", "dig", ix2)
    Dedup.initIngestLedger(spark, ix2)
    Dedup.ingestBatch(corpusOf(bA: _*), "id", Dedup.Digests("dig"),
      ix2, out2, batchId = 0L)
    def rows(p: String) = spark.read.parquet(s"$p/digests")
      .select("id", "dig").collect().map(_.toSeq).toSeq
    val (got, want) = (rows(ix), rows(ix2))
    // the heal exercised a real torn tail: some novel rows pre-landed
    assert(want.exists(_.head.asInstanceOf[Long] >= 100L))
    assert(got.sortBy(_.toString) == want.sortBy(_.toString))
    assert(got.distinct.length == got.length)
  }

  test("takedown: pending tombstones hide rows, compaction purges, slots gone for good") {
    val corpus = (0L until 40L).map(i => (i, s"d$i"))
    val base = Files.createTempDirectory("graft-digix-del").toString
    Dedup.writeDigestIndex(corpusOf(corpus: _*), "id", "dig", base)
    Dedup.deleteFromIndex(spark, base, Seq(3L, 7L, 11L))
    // pending path: probe sees the retained corpus — re-offering a
    // deleted digest is NOVEL again
    val probe = corpusOf((100L, "d3"), (101L, "d20"))
    val got = Dedup.digestNovel(probe, "id", "dig",
      Dedup.readDigestIndex(spark, base))
      .select("id").as[Long].collect().toSet
    assert(got == Set(100L)) // d20 still indexed; d3 retracted
    // physical purge
    Dedup.compactIndex(spark, base)
    val phys = spark.read.parquet(s"$base/digests")
      .select("id").as[Long].collect().toSet
    assert(phys == corpus.map(_._1).toSet -- Set(3L, 7L, 11L))
    assert(!new java.io.File(s"$base/tombstones").exists())
  }

  test("quarantine: violating batch diverts, stream semantics continue, redrive flips it") {
    val corpus = (0L until 30L).map(i => (i, s"d$i"))
    val base = Files.createTempDirectory("graft-digix-quar").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    Dedup.writeDigestIndex(corpusOf(corpus: _*), "id", "dig", ix)
    Dedup.initIngestLedger(spark, ix)
    // ids below the watermark → contract violation → divert
    val bad = corpusOf((5L, "x1"), (6L, "x2"))
    val sQ = Dedup.ingestBatch(bad, "id", Dedup.Digests("dig"), ix, out,
      batchId = 0L, quarantine = true)
    assert(sQ.novelRows == -1)
    assert(new java.io.File(s"$ix/quarantine/batch_id=0").exists())
    // stream continues: a good batch commits normally
    val good = corpusOf((100L, "y1"), (101L, "y2"))
    val sG = Dedup.ingestBatch(good, "id", Dedup.Digests("dig"), ix, out,
      batchId = 1L)
    assert(sG.novelRows == 2)
    // redrive with an id repair past the watermark
    val sR = Dedup.redriveQuarantined(spark, ix, out, 0L, "id",
      Dedup.Digests("dig"), repair = df => df.withColumn("id",
        col("id") + lit(200L)))
    assert(sR.novelRows == 2)
    assert(!new java.io.File(s"$ix/quarantine/batch_id=0").exists())
    assert(spark.read.parquet(s"$out/batch_id=0")
      .select("id").as[Long].collect().toSet == Set(205L, 206L))
  }

  test("default mode stays fail-loud on a non-monotone batch") {
    val corpus = (0L until 10L).map(i => (i, s"d$i"))
    val base = Files.createTempDirectory("graft-digix-loud").toString
    val ix = s"$base/ix"; val out = s"$base/out"
    Dedup.writeDigestIndex(corpusOf(corpus: _*), "id", "dig", ix)
    Dedup.initIngestLedger(spark, ix)
    val e = intercept[IllegalArgumentException] {
      Dedup.ingestBatch(corpusOf((5L, "x")), "id", Dedup.Digests("dig"),
        ix, out, batchId = 0L)
    }
    assert(e.getMessage.contains("monotone"))
  }

  test("null digests pass the screens and are never indexed") {
    val corpus = (0L until 10L).map(i => (i, s"d$i"))
    val base = Files.createTempDirectory("graft-digix-null").toString
    Dedup.writeDigestIndex(corpusOf(corpus: _*), "id", "dig", base)
    val batch = Seq((100L, "d3"), (101L, null), (102L, null))
      .toDF("id", "dig")
    val got = Dedup.digestNovel(batch, "id", "dig",
      Dedup.readDigestIndex(spark, base))
      .select("id").as[Long].collect().toSet
    // d3 is a dup; both null-digest rows pass (no identity, no collision)
    assert(got == Set(101L, 102L))
  }

  test("writeDigestIndex excludes NULL digests physically — rebuild " +
      "matches the append path's table and watermark") {
    // the NULL-digest row carries the MAX id: if the rebuild indexed it
    // (the r15 regression this pins), the physical table and the ledger
    // bootstrap watermark would both diverge from an append-built index
    val rows = Seq((0L, "a"), (1L, "b"), (2L, null)).toDF("id", "dig")
      .withColumn("payload", concat(lit("obj-"), coalesce(col("dig"), lit("?"))))
    val base = Files.createTempDirectory("graft-digix-nullparity").toString
    val re = s"$base/rebuild"; val ap = s"$base/append"
    Dedup.writeDigestIndex(rows, "id", "dig", re)
    Dedup.writeDigestIndex(rows.filter(col("id") < 1), "id", "dig", ap)
    Dedup.appendDigestIndex(rows.filter(col("id") >= 1), "id", "dig", ap)
    def phys(p: String) = spark.read.parquet(s"$p/digests")
      .select("id", "dig").collect().map(_.toSeq).toSet
    assert(phys(re) == phys(ap))
    assert(!phys(re).exists(_(1) == null))
    assert(spark.read.parquet(s"$re/digests").agg(max(col("id")))
      .head().getLong(0) == 1L)
  }
}
