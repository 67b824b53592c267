package graft.operators

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.StreamOps

/** The governed-index lifecycle is one API over the three index
  * families: the payload-free operations (delete, compaction,
  * auto-compaction, ledger init) take only the index path and read the
  * family from the index's params row; the payload operations take an
  * [[Dedup.IndexFamily]] value. A family that does not match the index,
  * and a path that holds no governed index, are refused before any
  * write, with the path in the message.
  */
class GovernedLifecycleSpec extends SparkSpec {
  import GovernedLifecycleSpec.Family
  import spark.implicits._

  private val Dim = 64

  /** One frame every family can index: unique text, orthogonal vectors
    * and unique digests, so no row is a duplicate of another. */
  private def rows(ids: Seq[Long]): DataFrame =
    ids.map { i =>
      (i, s"doc$i alpha$i beta$i gamma$i delta$i epsilon$i",
        Array.tabulate(Dim)(j => if (j == i % Dim) 1f else 0f), s"d$i")
    }.toDF("id", "text", "v", "dig")

  private val families = Seq(
    Family("MinHash", Dedup.MinHashText("text"), "signatures",
      (df, ix) => Dedup.writeSignatureIndex(df, "id", "text", ix,
        Dedup.MinHashParams(numHashes = 32, bands = 8, shingle = 3,
          threshold = 0.2)),
      ix => ids(Dedup.readSignatureIndex(spark, ix).signatures)),
    Family("SRP", Dedup.SrpVectors("v", 0.9), "vectors",
      (df, ix) => Dedup.writeSrpIndex(df, "id", "v", ix, dim = Dim,
        tables = 2),
      ix => ids(Dedup.readSrpIndex(spark, ix).vectors)),
    Family("digest", Dedup.Digests("dig"), "digests",
      (df, ix) => Dedup.writeDigestIndex(df, "id", "dig", ix),
      ix => ids(Dedup.readDigestIndex(spark, ix).digests)))

  private def ids(df: DataFrame): Set[Long] =
    df.select(col("id").cast("long")).as[Long].collect().toSet

  private def physicalIds(ix: String, primary: String): Set[Long] =
    ids(spark.read.parquet(s"$ix/$primary"))

  private def ledgerMax(ix: String): Long =
    spark.read.parquet(s"$ix/ingest_ledger")
      .agg(max(col("watermark_after"))).head().getLong(0)

  /** Every file and directory under `dir` with its bytes. */
  private def snapshot(dir: String): Map[String, Seq[Byte]] = {
    val root = Paths.get(dir)
    val it = Files.walk(root).iterator()
    val b = Map.newBuilder[String, Seq[Byte]]
    while (it.hasNext) {
      val p: Path = it.next()
      b += root.relativize(p).toString ->
        (if (Files.isDirectory(p)) Seq.empty[Byte]
         else Files.readAllBytes(p).toSeq)
    }
    b.result()
  }

  private def rmrf(dir: String): Unit = {
    import scala.reflect.io.Directory
    new Directory(new java.io.File(dir)).deleteRecursively()
  }

  families.foreach { f =>
    test(s"${f.name}: delete, compaction, auto-compaction and ledger " +
        "init take only the index path") {
      val base = Files.createTempDirectory("graft-lifecycle").toString
      val ix = s"$base/ix"; val out = s"$base/out"
      try {
        f.build(rows(0L until 20L), ix)
        Dedup.initIngestLedger(spark, ix)
        assert(ledgerMax(ix) == 19L)
        val s0 = Dedup.ingestBatch(rows(20L until 30L), "id", f.family, ix,
          out, batchId = 0L)
        assert(!s0.replayed && s0.novelRows == 10L && s0.watermarkAfter == 29L)
        Dedup.initIngestLedger(spark, ix) // idempotent
        assert(ledgerMax(ix) == 29L)
        val all = (0L until 30L).toSet
        assert(physicalIds(ix, f.primary) == all)

        // delete: hidden at the next open, physically still present
        Dedup.deleteFromIndex(spark, ix, Seq(3L, 25L))
        assert(f.liveIds(ix) == all -- Set(3L, 25L))
        assert(physicalIds(ix, f.primary) == all)

        // pending tombstones fire the trigger; the compaction purges them
        var preCalls = 0
        val fired = Dedup.autoCompactIndex(spark, ix,
          preCompact = () => preCalls += 1)
        assert(fired.exists(_.contains(f.primary)) && preCalls == 1)
        assert(physicalIds(ix, f.primary) == all -- Set(3L, 25L))
        assert(!new java.io.File(s"$ix/tombstones").exists())

        // an explicit compaction preserves content; the compacted index
        // no longer triggers
        val res = Dedup.compactIndex(spark, ix, targetFileBytes = 1L << 40)
        assert(res.contains(f.primary) && res.contains("ingest_ledger"))
        assert(physicalIds(ix, f.primary) == all -- Set(3L, 25L))
        assert(f.liveIds(ix) == all -- Set(3L, 25L))
        assert(Dedup.autoCompactIndex(spark, ix).isEmpty)

        // a format stamp that crashed mid-swap parked the params table,
        // which the family is read from: ledger init heals it first
        assert(new java.io.File(s"$ix/params")
          .renameTo(new java.io.File(s"$ix/__old_params")))
        Dedup.initIngestLedger(spark, ix)
        assert(new java.io.File(s"$ix/params").exists() &&
          !new java.io.File(s"$ix/__old_params").exists())

        // the loop continues on the compacted index
        val s1 = Dedup.ingestBatch(rows(30L until 35L), "id", f.family, ix,
          out, batchId = 1L)
        assert(!s1.replayed && s1.novelRows == 5L && s1.watermarkBefore == 29L)
      } finally rmrf(base)
    }
  }

  test("a family that does not match the index is refused before any " +
      "write; the index directory is byte-identical") {
    val base = Files.createTempDirectory("graft-lifecycle-wrong").toString
    try {
      families.foreach { f =>
        val ix = s"$base/${f.name}"
        f.build(rows(0L until 10L), ix)
        Dedup.initIngestLedger(spark, ix)
      }
      for (f <- families; other <- families if other ne f) {
        val ix = s"$base/${f.name}"
        val out = s"$base/out-${f.name}-${other.name}"
        val before = snapshot(ix)
        def refused(op: => Any): Unit = {
          val e = intercept[IllegalArgumentException](op)
          assert(e.getMessage.contains(ix), e.getMessage)
        }
        refused(Dedup.ingestBatch(rows(10L until 12L), "id", other.family,
          ix, out, batchId = 0L))
        refused(Dedup.redriveQuarantined(spark, ix, out, 0L, "id",
          other.family))
        refused(Dedup.reconcileShardOutputs(spark,
          Seq(Dedup.GovernedShardPaths(ix, out),
            Dedup.GovernedShardPaths(ix, out)), "id", other.family))
        refused(StreamOps.governedDedupStream(spark, s"$base/in",
          rows(Nil).schema, "id", other.family, ix, out, s"$base/cp"))
        assert(snapshot(ix) == before,
          s"${f.name} index changed by a refused ${other.name} operation")
        assert(!new java.io.File(out).exists())
      }
    } finally rmrf(base)
  }

  test("a path without a governed index (an IVF layout, an empty " +
      "directory) is refused before any write; it is byte-identical") {
    val base = Files.createTempDirectory("graft-lifecycle-none").toString
    try {
      val ivf = s"$base/ivf"
      Similarity.writeIvfLayout(rows(0L until 10L), ivf, "id", "v",
        Seq(Seq.tabulate(Dim)(j => if (j == 0) 1f else 0f),
          Seq.tabulate(Dim)(j => if (j == 1) 1f else 0f)))
      val empty = s"$base/empty"
      Files.createDirectory(Paths.get(empty))
      for (p <- Seq(ivf, empty)) {
        val before = snapshot(p)
        val out = s"$base/out"
        def refused(op: => Any): Unit = {
          val e = intercept[IllegalArgumentException](op)
          assert(e.getMessage.contains(p), e.getMessage)
        }
        refused(Dedup.deleteFromIndex(spark, p, Seq(1L)))
        refused(Dedup.compactIndex(spark, p))
        refused(Dedup.autoCompactIndex(spark, p))
        refused(Dedup.initIngestLedger(spark, p))
        families.foreach(f => refused(Dedup.ingestBatch(rows(10L until 12L),
          "id", f.family, p, out, batchId = 0L)))
        assert(snapshot(p) == before, s"$p changed by a refused operation")
        assert(!new java.io.File(out).exists())
      }
    } finally rmrf(base)
  }
}

object GovernedLifecycleSpec {
  private final case class Family(name: String, family: Dedup.IndexFamily,
                                  primary: String,
                                  build: (DataFrame, String) => Unit,
                                  liveIds: String => Set[Long])
}
