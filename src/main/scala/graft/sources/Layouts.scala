package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataTypes

/** Multi-dimensional clustered storage layouts — the data-skipping
  * story for predicates on MORE than one column.
  *
  * A single-column sort gives parquet row-group min/max stats that
  * prune range predicates on that one column; a filter on any other
  * column still scans everything. Z-ORDER clustering interleaves the
  * bits of several (range-scaled) columns into one Morton code and
  * lays the corpus out along that space-filling curve, so row groups
  * are tight little boxes in EVERY participating dimension — a
  * conjunctive n-D range predicate prunes row groups on any (or all)
  * of them. This is the `OPTIMIZE ZORDER BY` capability of lakehouse
  * table formats, expressed over plain parquet: the scan-side
  * machinery (row-group stats pruning under pushed filters) is
  * already in Spark; only the write-side ordering is missing, and
  * ordering is all a layout is.
  *
  * This file is the ONE home of the Morton machinery (the former
  * `graft.operators.Layout` twin is consolidated here — same bit
  * layout as its `zValue`, spec-pinned in `LayoutSpec`).
  *
  * Scale shape (100 TB): one min/max aggregate (one scan), then ONE
  * range exchange on the Morton code + per-task sort — the same cost
  * as any clustered rewrite, paid once per corpus generation. The
  * skipping it buys is at the STORAGE layer: row groups whose
  * min/max box misses the predicate box are never decompressed.
  * Measured in `ZOrderSpec`: the same 2-D range filter reads ~5×
  * fewer files off a z-ordered layout than off a single-column-sorted
  * one, and the 3-D layout prunes on all three predicates (q64b).
  */
object Layouts {

  /** Morton code of n columns already scaled to `[0, 2^bitsPerCol)`:
    * bit b of column i lands at position `b*n + i` (column 0 least
    * significant at each bit level). Values outside the range are
    * masked (high bits ignored), keeping the expression total. A pure
    * codegen'd bit expression — no UDF. With the default 16 bits the
    * result fits a long for up to 3 columns; 4 columns need
    * `bitsPerCol <= 15`.
    */
  def zValue(cols: Seq[Column], bitsPerCol: Int = 16): Column = {
    val n = cols.length
    require(n >= 2, "z-order needs at least 2 columns")
    require(bitsPerCol > 0 && n * bitsPerCol <= 62,
      s"$n cols x $bitsPerCol bits exceeds a long")
    val terms = for {
      (c, i) <- cols.zipWithIndex
      b <- 0 until bitsPerCol
    } yield shiftleft(
      shiftright(c.cast("long"), b).bitwiseAND(lit(1L)), b * n + i)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Two-column Morton code with the historic argument convention
    * (bit i of `a` at position 2i+1, of `b` at 2i) — a thin alias of
    * [[zValue]] with the columns swapped. */
  def mortonCode(a: Column, b: Column, bits: Int): Column = {
    require(bits > 0 && bits <= 31, s"bits must be in [1, 31]: $bits")
    zValue(Seq(b, a), bits)
  }

  /** Rows clustered along the Z-curve: a range exchange on the Z-value
    * (so files/partitions own contiguous curve segments) plus a
    * within-partition sort (so row groups inside a file stay tight).
    * Columns must already be non-negative integers in
    * `[0, 2^bitsPerCol)` (rank, bucket, truncated id, epoch-minute…);
    * for raw numeric domains use [[writeZOrdered]], which scales for
    * you. `numPartitions` sizes the output files — at 100 TB pick
    * corpus_bytes / target_file_bytes, not the shuffle default.
    */
  def zOrderBy(df: DataFrame, cols: Seq[Column], numPartitions: Int,
               bitsPerCol: Int = 16): DataFrame = {
    val withZ = df.withColumn("__z", zValue(cols, bitsPerCol))
    withZ
      .repartitionByRange(numPartitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** Scale a numeric column to `[0, 2^bits)` given its (min, max).
    * Exact integer math on the fast path; when the domain is so wide
    * that `span * (2^bits - 1)` would overflow a long (hash-derived
    * ids, microsecond timestamps — spans above ~2^47 at 16 bits), the
    * arithmetic silently wraps and the curve degrades to random order
    * with nothing downstream to catch it (the code is not stored), so
    * wide domains switch to exact Decimal(38,0) arithmetic instead.
    * Both paths are monotone in `c`, which is the entire contract. A
    * constant column scales to 0.
    */
  private[graft] def scaled(c: Column, lo: Long, hi: Long,
                            bits: Int): Column = {
    val maxV = (1L << bits) - 1
    val span = BigInt(hi) - BigInt(lo)
    if (span <= 0) lit(0L)
    else if (span * maxV <= BigInt(Long.MaxValue))
      ((c.cast("long") - lit(lo)) * lit(maxV) / lit(span.toLong))
        .cast("long")
    else {
      val d = DataTypes.createDecimalType(38, 0)
      ((c.cast(d) - lit(java.math.BigDecimal.valueOf(lo))) * lit(maxV) /
        lit(new java.math.BigDecimal(span.bigInteger)))
        .cast("long")
    }
  }

  /** Write `df` as a Z-ORDERED parquet layout clustered on 2..4
    * numeric columns: one min/max aggregate, Morton-interleave the
    * scaled values, range-partition + locally sort on the code, write.
    * The code itself is NOT stored — it is an ordering, not data; the
    * layout is an execution artifact invisible to the result contract
    * (the q64/q64b oracles are the same filter on the original table).
    *
    * `files` bounds the output file count (range exchange width);
    * `maxRecordsPerFile` additionally splits files so row groups stay
    * small enough to make skipping fine-grained at small SFs (at
    * production scale the default 128 MB row groups already are).
    */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String],
                    bits: Int, files: Int,
                    maxRecordsPerFile: Long): Unit = {
    require(cols.size >= 2, "writeZOrdered needs at least 2 columns")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c).cast("long")), max(col(c).cast("long"))))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    cols.indices.foreach { i =>
      require(!r.isNullAt(2 * i),
        s"writeZOrdered: ${cols(i)} must be a non-null numeric column")
    }
    val code = zValue(
      cols.zipWithIndex.map { case (c, i) =>
        scaled(col(c), r.getLong(2 * i), r.getLong(2 * i + 1), bits)
      }, bits)
    val n = if (files > 0) files
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = df
      .repartitionByRange(n, code)
      .sortWithinPartitions(code)
    val w = sorted.write.mode("overwrite")
    (if (maxRecordsPerFile > 0)
       w.option("maxRecordsPerFile", maxRecordsPerFile)
     else w)
      .parquet(path)
  }

  /** Two-column convenience overload (the original q64 signature). */
  def writeZOrdered(df: DataFrame, path: String,
                    colA: String, colB: String,
                    bits: Int = 16, files: Int = 0,
                    maxRecordsPerFile: Long = 0L): Unit =
    writeZOrdered(df, path, Seq(colA, colB), bits, files,
      maxRecordsPerFile)

  // ---- layout lifecycle: append + measured recluster (OPTIMIZE) ----
  //
  // A living corpus keeps arriving after the clustered rewrite. Forcing
  // every ingest through the global range exchange would make the
  // layout the ingest bottleneck, so the lifecycle splits the two
  // rates: [[appendZOrdered]] lands new files cheap and curve-UNSORTED
  // (readers stay correct — only the appended fraction loses skipping,
  // its file stat boxes being wide), and [[reclusterZOrdered]] restores
  // the clustered order with one global rewrite when the measured
  // unclustered fraction warrants it ([[autoReclusterZOrdered]] — the
  // same fragmentation-measured trigger discipline as the index
  // family's autoCompact, byte-fraction instead of file-count).
  // This is the `OPTIMIZE ZORDER BY` operating loop of lakehouse
  // formats over plain parquet.
  //
  // Bookkeeping lives under `path/_zorder/` — an underscore-prefixed
  // directory, invisible to every parquet reader (Spark's hidden-file
  // filter), holding the layout geometry (clustering columns, bits,
  // file split) and the CLUSTERED GENERATION's file names, so the
  // unclustered fraction is one directory listing, never a data scan.
  //
  // Swap discipline (recluster): stage the rewrite into a sibling
  // directory, STAMP THE METADATA INTO THE STAGE (data and geometry
  // swap together — no window where the root lacks its `_zorder/`),
  // rename-aside the old root, rename the stage in, rescue any data
  // files that landed in the root after the rewrite's snapshot (moved
  // from the aside back into the new root as ordinary unclustered
  // appends — a late append is never lost), drop the aside. READERS
  // racing the two renames retry via [[retryingRead]] (a fresh open
  // after the swap reads the new generation, content-equivalent —
  // the same discipline as the IVF serving path's per-batch retry);
  // lifecycle MUTATIONS (append/recluster)
  // are caller-serialized — one maintenance owner per layout, the
  // plain-parquet stand-in for the index family's epoch fence. Every
  // crash window self-heals on the next lifecycle call
  // ([[healZOrderSwap]]): mid-swap → the aside generation is renamed
  // back; post-swap → late appends are rescued and the aside dropped;
  // a torn metadata stamp → the completed staging dir is renamed in.

  private def zmetaDir(path: String) = s"$path/_zorder"
  private def zmetaTmpDir(path: String) = s"$path/_zorder__tmp"
  // incremental recluster: bounded-rewrite stage + roll-forward manifest
  // (all underscore-prefixed — invisible to every parquet reader)
  private def zincStageDir(path: String) = s"$path/_zinc_stage"
  private def zincManifestDir(path: String) = s"$path/_zorder__inc"
  private def zincManifestTmpDir(path: String) = s"$path/_zorder__inc_tmp"

  /** The `_zorder/params` geometry record. Read DRIVER-SIDE via
    * [[MetaIO]] (r19): the previous `spark.read.schema(...).head()` was
    * a full Spark action (~100-150 ms on a quiet local[32] driver) per
    * lifecycle open; the table is one row of four scalars. */
  private final case class ZParams(cols: Seq[String], bits: Int,
                                   files: Int, maxRecordsPerFile: Long)

  private def readZParams(spark: org.apache.spark.sql.SparkSession,
                          path: String): ZParams = {
    val r = MetaIO.readTable(
      spark.sparkContext.hadoopConfiguration,
      s"${zmetaDir(path)}/params").head
    ZParams(r("cols").asInstanceOf[Seq[String]],
      r("bits").asInstanceOf[Int], r("files").asInstanceOf[Int],
      r("max_records_per_file").asInstanceOf[Long])
  }

  private def fsOf(spark: org.apache.spark.sql.SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The lifecycle's ONE definition of a visible data file: a plain
    * file whose name is not underscore/dot-prefixed (metadata, markers
    * and staging dirs are all hidden by that convention — the same rule
    * Spark's own file index applies). */
  private def isDataFile(st: org.apache.hadoop.fs.FileStatus): Boolean = {
    val n = st.getPath.getName
    st.isFile && !n.startsWith("_") && !n.startsWith(".")
  }

  private def dataFiles(spark: org.apache.spark.sql.SparkSession,
                        path: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val fs = fsOf(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).filter(isDataFile).toSeq
  }

  /** Stamp `dir`'s current data files as THE clustered generation,
    * with the geometry and (for a recluster) the names of the root
    * files the rewrite consumed. ATOMIC against crashes: everything is
    * written into `_zorder__tmp` first and renamed over in one move —
    * a torn stamp leaves either the old metadata or a completed tmp
    * that [[healZOrderSwap]] renames in; never a half-written
    * generation record. `namesOverride` replaces the directory listing
    * with an explicit clustered set (the incremental commit path,
    * where a racing cheap append must NOT be absorbed into the
    * generation record). */
  private def stampClustered(spark: org.apache.spark.sql.SparkSession,
                             dir: String, cols: Seq[String], bits: Int,
                             files: Int, maxRecordsPerFile: Long,
                             consumed: Seq[String],
                             namesOverride: Option[Seq[String]] = None,
                             carryLedgerFrom: Option[String] = None)
      : Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val names = namesOverride.getOrElse(
      dataFiles(spark, dir).map(_.getPath.getName))
    val fs = fsOf(spark, dir)
    val tmp = new org.apache.hadoop.fs.Path(zmetaTmpDir(dir))
    fs.delete(tmp, true)
    // all four member tables are KB-scale scalars/name lists — written
    // driver-side (MetaIO, r19): the previous four coalesce(1) Spark
    // writes were ~150 ms of action overhead each, per stamp
    MetaIO.writeTable(conf, s"${zmetaTmpDir(dir)}/params",
      Seq("cols" -> MetaIO.MStringList, "bits" -> MetaIO.MInt,
        "files" -> MetaIO.MInt, "max_records_per_file" -> MetaIO.MLong),
      Seq(Seq(cols, bits, files, maxRecordsPerFile)))
    MetaIO.writeTable(conf, s"${zmetaTmpDir(dir)}/consumed_files",
      Seq("name" -> MetaIO.MString), consumed.map(Seq(_)))
    // the streaming batch ledger survives every restamp: it is carried
    // INTO the tmp, so it swaps atomically with the generation record
    // it belongs to (a replayed batch must stay skippable after any
    // recluster — otherwise maintenance would resurrect duplicates).
    // The carry COMPACTS (read + distinct + one-file rewrite) instead
    // of raw-copying the directory: each append adds one ledger file,
    // and a long-lived stream would otherwise accumulate unbounded
    // tiny files that every restamp re-copies and every batch re-lists.
    carryLedgerFrom.foreach { src =>
      val led = new org.apache.hadoop.fs.Path(
        s"${zmetaDir(src)}/$ZIngestLedgerTable")
      if (fs.exists(led))
        MetaIO.writeTable(conf,
          new org.apache.hadoop.fs.Path(tmp, ZIngestLedgerTable).toString,
          Seq("batch_id" -> MetaIO.MLong),
          MetaIO.readLongs(conf, led.toString).distinct.map(Seq(_)))
    }
    // clustered_files LAST: its presence is the tmp's completion marker
    MetaIO.writeTable(conf, s"${zmetaTmpDir(dir)}/clustered_files",
      Seq("name" -> MetaIO.MString), names.map(Seq(_)))
    fs.delete(new org.apache.hadoop.fs.Path(zmetaDir(dir)), true)
    require(fs.rename(tmp, new org.apache.hadoop.fs.Path(zmetaDir(dir))),
      s"z-order metadata stamp at $dir failed")
  }

  private val ZIngestLedgerTable = "ingested_batches"

  /** [[writeZOrdered]] + lifecycle bookkeeping: the maintained entry
    * point when the layout will see [[appendZOrdered]] /
    * [[autoReclusterZOrdered]] afterwards. (A crash between the data
    * write and the stamp leaves a plain un-maintained layout — re-run
    * the create; the lifecycle's crash-healing covers MAINTAINED
    * layouts, not a torn create.) */
  def writeZOrderedMaintained(df: DataFrame, path: String,
                              cols: Seq[String], bits: Int = 16,
                              files: Int = 0,
                              maxRecordsPerFile: Long = 0L): Unit = {
    writeZOrdered(df, path, cols, bits, files, maxRecordsPerFile)
    stampClustered(df.sparkSession, path, cols, bits, files,
      maxRecordsPerFile, consumed = Nil)
  }

  /** Cheap ingest into a maintained layout: plain parquet append, no
    * range exchange, no sort — new files are curve-unsorted (wide stat
    * boxes: correct to read, skipped poorly) until the next recluster.
    * Fails fast on a batch that would poison the layout: the stamped
    * clustering columns must be present and non-null (a mixed-schema
    * append would read back as nulls and brick the eventual rewrite
    * long after the bad files interleaved). */
  def appendZOrdered(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    healZOrderSwap(spark, path)
    writeGuardedAppend(appendGuard(spark, df, path), path, "append")
  }

  /** Validate the batch against the stamped geometry and fuse the NULL
    * guard INTO the write (one Spark job per append, not a validation
    * scan plus a write): each clustering column is written through a
    * raise_error trap that fires on the first NULL row and aborts the
    * job before it commits — the task files die with the abort, so
    * nothing lands in the target. */
  private def appendGuard(spark: org.apache.spark.sql.SparkSession,
                          df: DataFrame, path: String): DataFrame = {
    val pr =
      try readZParams(spark, path)
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"appendZOrdered: $path is not a maintained z-ordered layout " +
            "— write it with writeZOrderedMaintained first", e)
      }
    val cols = pr.cols
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"appendZOrdered: batch is missing clustering column(s) " +
        s"${missing.mkString(", ")} — appending it would poison the " +
        "layout with a mixed schema")
    cols.foldLeft(df) { (acc, c) =>
      acc.withColumn(c, when(col(c).isNotNull, col(c))
        .otherwise(raise_error(lit(
          s"appendZOrdered: NULL '$c' value in the append batch — the " +
            "clustering columns are non-null by the layout's contract " +
            "(the rewrite's min/max scaling would fail long after this " +
            "append)"))))
    }
  }

  /** Run the guarded write, rethrowing the raise_error trap under the
    * same IllegalArgumentException contract the two-job guard had.
    *
    * The fused NULL guard relies on a job ABORT discarding every
    * task's output — true under FileOutputCommitter algorithm v1
    * (tasks commit into the job-attempt dir; only commitJob moves
    * them into the target) but NOT under v2, where each succeeding
    * task commits its files straight into the destination: a batch
    * whose NULLs sit in only some partitions would land the clean
    * partitions before the poisoned one aborts the job, and a caller
    * retry after fixing the batch would duplicate them. The write
    * pins v1 per-job (write options are merged into the job's Hadoop
    * conf), so the guard's nothing-lands contract holds regardless of
    * the cluster-wide committer default. */
  private def writeGuardedAppend(guarded: DataFrame, target: String,
                                 mode: String): Unit =
    try guarded.write.mode(mode)
      .option("mapreduce.fileoutputcommitter.algorithm.version", "1")
      .parquet(target)
    catch {
      case e: Throwable =>
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .map(t => Option(t.getMessage).getOrElse(""))
          .find(_.contains("appendZOrdered: NULL")) match {
          case Some(m) => throw new IllegalArgumentException(m, e)
          case None => throw e
        }
    }

  // ---- exactly-once streaming append (the governed-loop discipline
  // for a plain clustered layout) ----
  //
  // A streaming writer replays micro-batches under crash/restart; a
  // plain [[appendZOrdered]] replay would duplicate the batch's rows.
  // [[appendZOrderedExactlyOnce]] makes the append idempotent per
  // batch id: the batch stages into an underscore-invisible directory,
  // a roll-forward manifest (atomic rename) commits it, and a batch-id
  // LEDGER — stored inside `_zorder/` and carried forward by every
  // restamp, so a recluster can never resurrect a replayed batch —
  // records completion. The commit window (files moving into the root)
  // is append-only: readers see a prefix of the batch, never a
  // duplicate; every crash inside it rolls forward idempotently at the
  // next lifecycle call.

  private def zappStageDir(path: String) = s"$path/_zappend_stage"
  private def zappManifestDir(path: String) = s"$path/_zorder__app"
  private def zappManifestTmpDir(path: String) = s"$path/_zorder__app_tmp"

  private def ledgerDir(path: String) =
    s"${zmetaDir(path)}/$ZIngestLedgerTable"

  private def ledgerBatchIds(spark: org.apache.spark.sql.SparkSession,
                             path: String): Set[Long] = {
    val fs = fsOf(spark, path)
    if (!fs.exists(new org.apache.hadoop.fs.Path(ledgerDir(path))))
      Set.empty
    else MetaIO.readLongs(spark.sparkContext.hadoopConfiguration,
      ledgerDir(path)).toSet
  }

  /** Ledger files above which [[commitAppendBatch]] folds the table. */
  private val ZLedgerFoldThreshold = 64

  /** Fold a fragmented batch ledger (one tiny file per committed
    * append) back to a single file, MONOTONE against crashes: the
    * compacted file — holding every id of the listed snapshot — moves
    * INTO the live directory first, and only then are the snapshot's
    * old files deleted, so there is no instant at which an id is
    * absent (a lost id would re-land a replayed batch as duplicates).
    * A crash mid-fold leaves at worst duplicate ids, harmless under
    * the membership contract and swept by the next fold. No-op below
    * `maxFiles`. */
  private[sources] def foldLedger(spark: org.apache.spark.sql.SparkSession,
                                  path: String,
                                  maxFiles: Int = ZLedgerFoldThreshold)
      : Unit = {
    val fs = fsOf(spark, path)
    val dirP = new org.apache.hadoop.fs.Path(ledgerDir(path))
    if (!fs.exists(dirP)) return
    val parts = fs.listStatus(dirP).filter(isDataFile)
    if (parts.length <= maxFiles) return
    val conf = spark.sparkContext.hadoopConfiguration
    val ids = MetaIO.readLongs(conf, dirP.toString).distinct
    val tmp = new org.apache.hadoop.fs.Path(
      s"${zmetaDir(path)}/${ZIngestLedgerTable}__fold")
    fs.delete(tmp, true)
    MetaIO.writeTable(conf, tmp.toString, Seq("batch_id" -> MetaIO.MLong),
      ids.map(Seq(_)))
    val folded = fs.listStatus(tmp).filter(isDataFile)
    require(folded.nonEmpty, s"ledger fold at $path produced no file")
    folded.foreach { s =>
      require(fs.rename(s.getPath,
        new org.apache.hadoop.fs.Path(dirP, s.getPath.getName)),
        s"ledger fold: move ${s.getPath.getName} into $dirP failed")
    }
    parts.foreach(s => fs.delete(s.getPath, false))
    fs.delete(tmp, true)
  }

  /** Idempotent per-batch append into a maintained layout — see the
    * section note above. Returns true when the batch landed, false on
    * a replay (the ledger already holds `batchId`). Same geometry and
    * fused NULL-guard contract as [[appendZOrdered]]. NOTE: a
    * writeZOrderedMaintained RE-create starts a fresh generation and a
    * fresh (empty) ledger — a streaming writer must also reset its
    * checkpoint when it rebuilds the layout from scratch. */
  def appendZOrderedExactlyOnce(df: DataFrame, path: String,
                                batchId: Long): Boolean = {
    val spark = df.sparkSession
    healZOrderSwap(spark, path) // also rolls forward a pending commit
    val guarded = appendGuard(spark, df, path)
    if (ledgerBatchIds(spark, path).contains(batchId)) return false
    val fs = fsOf(spark, path)
    val stage = new org.apache.hadoop.fs.Path(zappStageDir(path))
    fs.delete(stage, true)
    // Row count observed INSIDE the staged write (no extra job): an
    // EMPTY batch — a streaming source's final tick, a fully-filtered
    // micro-batch — is still ledgered (exactly-once bookkeeping) but
    // lands no files; committing its empty part file would litter the
    // layout with unclustered footer-only bytes that sit forever under
    // any recluster threshold.
    val obs = new org.apache.spark.sql.Observation()
    writeGuardedAppend(guarded.observe(obs, count(lit(1)).as("n")),
      stage.toString, "overwrite")
    val rows = obs.get("n").asInstanceOf[Long]
    val newNames =
      if (rows == 0L) Nil
      else fs.listStatus(stage).toSeq.filter(isDataFile)
        .map(_.getPath.getName)
    val conf = spark.sparkContext.hadoopConfiguration
    val manTmp = new org.apache.hadoop.fs.Path(zappManifestTmpDir(path))
    fs.delete(manTmp, true)
    MetaIO.writeTable(conf, s"${zappManifestTmpDir(path)}/batch",
      Seq("batch_id" -> MetaIO.MLong), Seq(Seq(batchId)))
    MetaIO.writeTable(conf, s"${zappManifestTmpDir(path)}/new_files",
      Seq("name" -> MetaIO.MString), newNames.map(Seq(_)))
    fs.delete(new org.apache.hadoop.fs.Path(zappManifestDir(path)), true)
    require(fs.rename(manTmp,
      new org.apache.hadoop.fs.Path(zappManifestDir(path))),
      s"appendZOrderedExactlyOnce: manifest rename at $path failed")
    commitAppendBatch(spark, path)
    true
  }

  /** Roll the exactly-once append FORWARD from its manifest: move the
    * staged files in, record the batch id in the ledger, drop manifest
    * + stage. Idempotent — a crash anywhere inside re-heals at the
    * next lifecycle call. */
  private def commitAppendBatch(spark: org.apache.spark.sql.SparkSession,
                                path: String): Unit = {
    val fs = fsOf(spark, path)
    val man = new org.apache.hadoop.fs.Path(zappManifestDir(path))
    if (!fs.exists(man)) return
    val conf = spark.sparkContext.hadoopConfiguration
    val batchId =
      MetaIO.readLongs(conf, s"${zappManifestDir(path)}/batch").head
    val newNames =
      MetaIO.readStrings(conf, s"${zappManifestDir(path)}/new_files")
    val stage = new org.apache.hadoop.fs.Path(zappStageDir(path))
    val root = new org.apache.hadoop.fs.Path(path)
    newNames.foreach { n =>
      val s = new org.apache.hadoop.fs.Path(stage, n)
      val d = new org.apache.hadoop.fs.Path(root, n)
      if (fs.exists(s) && !fs.exists(d))
        require(fs.rename(s, d),
          s"exactly-once append commit: move $n into $path failed")
      else require(fs.exists(d),
        s"exactly-once append commit: staged file $n missing from " +
          s"both the stage and $path — manual triage required")
    }
    if (!ledgerBatchIds(spark, path).contains(batchId))
      MetaIO.appendTable(conf, ledgerDir(path),
        Seq("batch_id" -> MetaIO.MLong), Seq(Seq(batchId)))
    fs.delete(man, true)
    fs.delete(stage, true)
    // periodic fold: each commit appends one ledger file; without this
    // a long-running stream pays O(total batches) listing per batch
    // and accumulates unbounded tiny files inside the metadata dir
    foldLedger(spark, path)
  }

  /** The measured decay: bytes in data files NOT part of the clustered
    * generation, as a fraction of all data bytes. One directory
    * listing — never a data scan. 0.0 on a freshly clustered layout. */
  def zOrderFragmentation(spark: org.apache.spark.sql.SparkSession,
                          path: String): Double = {
    healZOrderSwap(spark, path)
    val clustered = MetaIO.readStrings(
      spark.sparkContext.hadoopConfiguration,
      s"${zmetaDir(path)}/clustered_files").toSet
    val all = dataFiles(spark, path)
    val total = all.map(_.getLen).sum
    if (total == 0L) 0.0
    else all.filterNot(s => clustered(s.getPath.getName))
      .map(_.getLen).sum.toDouble / total
  }

  /** Explicit-file-list open with the r19 schema fast path (see
    * [[readMaintained]]): one driver-side footer read of the first file
    * supplies the embedded StructType — every layout file is
    * Spark-written under the fixed-schema contract — skipping the
    * distributed schema-inference job the schema-less open runs per
    * call. Any failure falls back to inference. Used by the RECLUSTER
    * passes' own reads (r20): lifecycle mutations are caller-serialized,
    * so no commit-race retry mapping is needed here. */
  private def readLayoutFiles(spark: org.apache.spark.sql.SparkSession,
                              files: Seq[String]): DataFrame = {
    val schemaOpt = MetaIO.sparkFileSchema(
      spark.sparkContext.hadoopConfiguration, files.head)
    schemaOpt.fold(spark.read)(spark.read.schema).parquet(files: _*)
  }

  /** Restore the clustered order: ONE global rewrite of the layout's
    * CURRENT file set under its persisted geometry, staged beside the
    * root (metadata stamped INTO the stage, so data and geometry swap
    * together) and rename-swapped in; data files that landed after the
    * rewrite's snapshot are rescued from the aside as ordinary
    * unclustered appends. Readers racing the swap wrap their actions
    * in [[retryingRead]] (fresh open per attempt — the post-swap
    * attempt reads the new generation, content-equivalent); a crashed
    * swap self-heals on the next lifecycle call. */
  def reclusterZOrdered(spark: org.apache.spark.sql.SparkSession,
                        path: String): Unit = {
    healZOrderSwap(spark, path)
    val pr = readZParams(spark, path)
    val cols = pr.cols
    val bits = pr.bits
    val files = pr.files
    val mrpf = pr.maxRecordsPerFile
    val fs = fsOf(spark, path)
    val stage = new org.apache.hadoop.fs.Path(s"$path.__zstage")
    val aside = new org.apache.hadoop.fs.Path(s"$path.__zaside")
    fs.delete(stage, true)
    // snapshot the exact file set the rewrite consumes, and read THAT
    // set (not the directory): anything appended during the long stage
    // write is provably outside `consumed` and gets rescued after the
    // swap instead of dying with the aside
    val consumed = dataFiles(spark, path)
    writeZOrdered(
      readLayoutFiles(spark, consumed.map(_.getPath.toString)),
      stage.toString, cols.toSeq, bits, files, mrpf)
    stampClustered(spark, stage.toString, cols.toSeq, bits, files, mrpf,
      consumed.map(_.getPath.getName), carryLedgerFrom = Some(path))
    val root = new org.apache.hadoop.fs.Path(path)
    require(fs.rename(root, aside), s"recluster: rename-aside of $path failed")
    require(fs.rename(stage, root), s"recluster: stage swap-in at $path failed")
    rescueLateAppends(spark, path)
  }

  // ---- incremental recluster (LSM-style bounded maintenance) ----
  //
  // The global rewrite above is the one whole-corpus mutation left in
  // the lifecycle: at 100 TB it rewrites every byte to absorb a tail
  // that is by construction <= the trigger threshold of the bytes.
  // [[reclusterZOrderedIncremental]] bounds each maintenance job to the
  // FRAGMENTED fraction instead: the unclustered tail plus only the
  // clustered files whose key-space boxes the tail actually interleaves
  // with. Overlap is decided from parquet FOOTER statistics (a
  // metadata-only pass distributed over the executors — zero data IO
  // against the clustered generation) probed by the tail's distinct
  // coarse grid cells in scaled key space; both sides of the test are
  // supersets, so imprecision can only widen the rewrite, never corrupt
  // it. A tail that interleaves with most of the curve (scattered
  // appends) makes the bounded rewrite pointless — past
  // `maxRewriteFraction` the pass falls back to the global rewrite.
  //
  // Commit discipline: the bounded rewrite is staged into an
  // underscore-invisible directory inside the root, then committed by
  // a roll-FORWARD manifest (`_zorder__inc`, created by atomic rename):
  // move the staged files in, delete the consumed ones, restamp the
  // generation record with the EXPLICIT post-commit clustered set.
  // Readers racing the commit retry via [[retryingRead]] (files appear
  // before their consumed twins vanish — a reader that listed a
  // consumed file retries against the committed set, same window
  // contract as the global swap);
  // every crash inside it rolls forward idempotently on the next
  // lifecycle call, and a crash BEFORE the manifest rename leaves only
  // an invisible orphan stage that the heal drops.

  /** What one [[reclusterZOrderedIncremental]] pass did. When the pass
    * degenerated to the global rewrite (`usedGlobal`), `rewrittenBytes`
    * covers the whole layout. */
  final case class IncrementalReclusterStats(
      tailFiles: Long, overlappedFiles: Long, untouchedFiles: Long,
      rewrittenBytes: Long, totalBytes: Long, usedGlobal: Boolean)

  /** Recluster ONLY the unclustered tail merged with the clustered
    * files it interleaves with — see the section note above. Content-
    * invariant and oracle-invisible like the global pass; the global
    * rewrite remains the fallback for scattered tails
    * (`maxRewriteFraction`). Caller-serialized like every lifecycle
    * mutation; readers racing the commit window retry via
    * [[retryingRead]]. */
  def reclusterZOrderedIncremental(spark: org.apache.spark.sql.SparkSession,
                                   path: String,
                                   maxRewriteFraction: Double = 0.6)
      : IncrementalReclusterStats =
    reclusterZOrderedIncrementalImpl(spark, path, maxRewriteFraction,
      crashAfterManifest = false)

  /** Probe-grid resolutions (bits per column, finest first — coarsen
    * until the tail's distinct cells fit the cap) and the cell cap: a
    * tail still over the cap at the coarsest grid is scattered across
    * the whole key space and the global fallback is the right tool. */
  private val ZincGridSteps = Seq(12, 9, 6, 4)
  private val ZincMaxTailCells = 100000L

  private[sources] def reclusterZOrderedIncrementalImpl(
      spark: org.apache.spark.sql.SparkSession, path: String,
      maxRewriteFraction: Double, crashAfterManifest: Boolean)
      : IncrementalReclusterStats = {
    require(maxRewriteFraction > 0 && maxRewriteFraction <= 1,
      s"bad maxRewriteFraction $maxRewriteFraction")
    healZOrderSwap(spark, path)
    val pr = readZParams(spark, path)
    val cols = pr.cols
    val bits = pr.bits
    val files = pr.files
    val mrpf = pr.maxRecordsPerFile
    val fs = fsOf(spark, path)
    val clustered = MetaIO.readStrings(
      spark.sparkContext.hadoopConfiguration,
      s"${zmetaDir(path)}/clustered_files").toSet
    val all = dataFiles(spark, path)
    val tail = all.filterNot(s => clustered(s.getPath.getName))
    val clu = all.filter(s => clustered(s.getPath.getName))
    val totalBytes = all.map(_.getLen).sum
    if (tail.isEmpty)
      return IncrementalReclusterStats(0L, 0L, clu.size.toLong, 0L,
        totalBytes, usedGlobal = false)

    def global(tailN: Long, overN: Long): IncrementalReclusterStats = {
      reclusterZOrdered(spark, path)
      IncrementalReclusterStats(tailN, overN, 0L, totalBytes, totalBytes,
        usedGlobal = true)
    }
    if (clu.isEmpty) return global(tail.size.toLong, 0L)

    // The clustered generation's per-file key boxes, from footers only.
    val boxes = footerBoxes(spark, clu.map(_.getPath.toString), cols)
    // Probe grid: the clustered generation's global domain per column,
    // every box scaled into it (driver-side exact BigInt math), every
    // tail point scaled + clamped to the same grid and reduced to its
    // DISTINCT cells. Monotone scaling means raw containment implies
    // scaled containment — the grid test is a sound superset at ANY
    // resolution, so a tail that is dense in some dimension (a key band
    // crossing the full range of another column) is probed at a COARSER
    // grid instead of giving up: coarsening only widens the overlap.
    val dom = cols.indices.map { i =>
      (boxes.map(_._2(i)._1).min, boxes.map(_._2(i)._2).max)
    }
    val tailDf = readLayoutFiles(spark, tail.map(_.getPath.toString))
    // A tail point outside the clustered generation's domain in ANY
    // dimension cannot sit inside any clustered box (boxes are within
    // the domain by construction) — filter those out BEFORE scaling,
    // so pure beyond-the-curve appends (time-ordered ingest) probe
    // nothing and rewrite exactly themselves.
    val inDomain = cols.zipWithIndex.map { case (c, i) =>
      col(c).cast("long").between(dom(i)._1, dom(i)._2)
    }.reduce(_ && _)
    def cellsAt(gb: Int): Array[org.apache.spark.sql.Row] = {
      val maxCell = (1L << gb) - 1
      val cellCols = cols.zipWithIndex.map { case (c, i) =>
        greatest(lit(0L), least(lit(maxCell),
          scaled(col(c), dom(i)._1, dom(i)._2, gb))).as(s"__c$i")
      }
      tailDf.filter(inDomain).select(cellCols: _*).distinct()
        .limit((ZincMaxTailCells + 1).toInt).collect()
    }
    val gridBits = ZincGridSteps.map(g => math.min(bits, g)).distinct
    val probed = gridBits.iterator.map(g => g -> cellsAt(g))
      .find(_._2.length <= ZincMaxTailCells)
    if (probed.isEmpty)
      return global(tail.size.toLong, clu.size.toLong)
    val (gb, tailCells) = probed.get
    val scaledBoxes = boxes.map { case (name, bs) =>
      (name, bs.zipWithIndex.map { case ((lo, hi), i) =>
        (scaledLong(lo, dom(i)._1, dom(i)._2, gb),
          scaledLong(hi, dom(i)._1, dom(i)._2, gb))
      })
    }

    // Overlap join: broadcast the (small) distinct tail cells, stream
    // the boxes — a file is overlapped when its scaled box contains
    // any tail cell in EVERY dimension.
    import spark.implicits._
    val boxDf = scaledBoxes.map { case (n, bs) =>
      (n, bs.map(_._1), bs.map(_._2))
    }.toDF("name", "lo", "hi")
    val cellDf = spark.createDataFrame(
      spark.sparkContext.parallelize(tailCells.toSeq, 1),
      org.apache.spark.sql.types.StructType(cols.indices.map(i =>
        org.apache.spark.sql.types.StructField(s"__c$i",
          org.apache.spark.sql.types.LongType))))
    val cond = cols.indices.map { i =>
      col(s"__c$i") >= element_at(col("lo"), i + 1) &&
        col(s"__c$i") <= element_at(col("hi"), i + 1)
    }.reduce(_ && _)
    val overlapped = boxDf.join(broadcast(cellDf), cond, "left_semi")
      .select("name").as[String].collect().toSet

    val overClu = clu.filter(s => overlapped(s.getPath.getName))
    val untouched = clu.filterNot(s => overlapped(s.getPath.getName))
    val consumed = tail ++ overClu
    val rewriteBytes = consumed.map(_.getLen).sum
    if (rewriteBytes > totalBytes * maxRewriteFraction)
      return global(tail.size.toLong, overClu.size.toLong)

    // Stage the bounded rewrite (invisible to readers), output file
    // budget scaled to the rewritten fraction of the corpus.
    val stage = new org.apache.hadoop.fs.Path(zincStageDir(path))
    fs.delete(stage, true)
    val subFiles =
      if (files > 0)
        math.max(1, math.ceil(files.toDouble * rewriteBytes /
          math.max(1L, totalBytes)).toInt)
      else 0
    writeZOrdered(
      readLayoutFiles(spark, consumed.map(_.getPath.toString)),
      stage.toString, cols.toSeq, bits, subFiles, mrpf)
    val newNames = fs.listStatus(stage).toSeq.filter(isDataFile)
      .map(_.getPath.getName)

    // Roll-forward manifest, committed by one atomic directory rename.
    // The reader contract REQUIRES a non-empty consumed set:
    // snapshotFiles keys its pre-commit branch on
    // consumed.subsetOf(listedNames), and an EMPTY set is vacuously a
    // subset — a manifest without consumed files would make every
    // snapshot read pre-commit and hide the new files until manifest
    // deletion. Unreachable today (the pass always consumes at least
    // the appended tail), pinned here so a future refactor cannot
    // reach it silently.
    require(consumed.nonEmpty,
      s"incremental recluster at $path: roll-forward manifest must " +
        "consume at least one file (snapshotFiles' window resolution " +
        "depends on it)")
    val manTmp = new org.apache.hadoop.fs.Path(zincManifestTmpDir(path))
    fs.delete(manTmp, true)
    val mconf = spark.sparkContext.hadoopConfiguration
    MetaIO.writeTable(mconf, s"${zincManifestTmpDir(path)}/new_files",
      Seq("name" -> MetaIO.MString), newNames.map(Seq(_)))
    MetaIO.writeTable(mconf, s"${zincManifestTmpDir(path)}/consumed_files",
      Seq("name" -> MetaIO.MString),
      consumed.map(s => Seq[Any](s.getPath.getName)))
    MetaIO.writeTable(mconf, s"${zincManifestTmpDir(path)}/clustered_files",
      Seq("name" -> MetaIO.MString),
      (untouched.map(_.getPath.getName) ++ newNames).map(Seq(_)))
    fs.delete(new org.apache.hadoop.fs.Path(zincManifestDir(path)), true)
    require(fs.rename(manTmp,
      new org.apache.hadoop.fs.Path(zincManifestDir(path))),
      s"incremental recluster: manifest rename at $path failed")
    if (crashAfterManifest) // test hook: die inside the commit window
      return IncrementalReclusterStats(tail.size.toLong,
        overClu.size.toLong, untouched.size.toLong, rewriteBytes,
        totalBytes, usedGlobal = false)
    commitIncrementalRecluster(spark, path)
    IncrementalReclusterStats(tail.size.toLong, overClu.size.toLong,
      untouched.size.toLong, rewriteBytes, totalBytes, usedGlobal = false)
  }

  /** Roll the incremental commit FORWARD from its manifest: move the
    * staged files in, delete the consumed ones, restamp the generation
    * record with the manifest's explicit clustered set, drop the
    * manifest + stage. Idempotent — every step checks before acting —
    * so a crash anywhere inside re-heals on the next lifecycle call. */
  private def commitIncrementalRecluster(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    val man = new org.apache.hadoop.fs.Path(zincManifestDir(path))
    if (!fs.exists(man)) return
    def names(table: String): Seq[String] =
      MetaIO.readStrings(spark.sparkContext.hadoopConfiguration,
        s"${zincManifestDir(path)}/$table")
    val newNames = names("new_files")
    val consumed = names("consumed_files")
    val clusteredNew = names("clustered_files")
    val stage = new org.apache.hadoop.fs.Path(zincStageDir(path))
    val root = new org.apache.hadoop.fs.Path(path)
    newNames.foreach { n =>
      val s = new org.apache.hadoop.fs.Path(stage, n)
      val d = new org.apache.hadoop.fs.Path(root, n)
      if (fs.exists(s) && !fs.exists(d))
        require(fs.rename(s, d),
          s"incremental recluster commit: move $n into $path failed")
      else require(fs.exists(d),
        s"incremental recluster commit: staged file $n missing from " +
          s"both the stage and $path — manual triage required")
    }
    consumed.foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(root, n), false))
    val pr = readZParams(spark, path)
    stampClustered(spark, path,
      pr.cols, pr.bits, pr.files, pr.maxRecordsPerFile,
      consumed, namesOverride = Some(clusteredNew),
      carryLedgerFrom = Some(path))
    fs.delete(man, true)
    fs.delete(stage, true)
  }

  /** Hadoop `Configuration` is not `Serializable`; this is the
    * standard writable-backed wrapper so the footer pass can ship the
    * session's conf to executors. */
  private class SerializableHadoopConf(
      @transient var value: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** What `cast(col as long)` yields for a footer statistic `v` of a
    * column with parquet type `pt` — the overlap probe compares boxes
    * against `col.cast("long")` tail values, so the stats must pass
    * through the SAME cast semantics or the box lands in a different
    * unit (timestamp stats are epoch-micros while the cast yields
    * seconds; int-backed decimal stats are the unscaled value while
    * the cast truncates the scaled one) and the inDomain filter
    * silently excludes real overlap. `None` when the type's cast is
    * not derivable from the stat (date, time, unsigned, NTZ, binary,
    * NaN), which falls back to the all-overlapping full box.
    *   - plain ints / signed-int annotations: identity.
    *   - timestamps (UTC-adjusted): floorDiv to seconds by the
    *     annotation's unit — Spark's timestamp->long cast.
    *   - int32/int64-backed decimals: unscaled / 10^scale truncated
    *     toward zero — Spark's decimal->long cast; truncation is
    *     monotone, so converted (min, max) stay a valid box.
    *   - float/double: longValue (truncation toward zero, same as the
    *     cast); NaN stats are unusable. */
  private def statAsCastLong(pt: org.apache.parquet.schema.PrimitiveType,
                             v: Any): Option[Long] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    (pt.getLogicalTypeAnnotation, v) match {
      case (ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation,
            n: Number) if ts.isAdjustedToUTC =>
        val perSec = ts.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MILLIS => 1000L
          case LogicalTypeAnnotation.TimeUnit.MICROS => 1000000L
          case LogicalTypeAnnotation.TimeUnit.NANOS => 1000000000L
        }
        Some(Math.floorDiv(n.longValue, perSec))
      case (d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation,
            n: Number) =>
        Some(BigDecimal(BigInt(n.longValue), d.getScale).toBigInt.toLong)
      case (i: LogicalTypeAnnotation.IntLogicalTypeAnnotation, n: Number)
          if i.isSigned =>
        Some(n.longValue)
      case (null, n: Number) => n match {
        case d: java.lang.Double if d.isNaN => None
        case f: java.lang.Float if f.isNaN => None
        case _ => Some(n.longValue)
      }
      case _ => None
    }
  }

  /** Per-file (min, max) of each clustering column, read from parquet
    * FOOTER row-group statistics only — one metadata task per file
    * slice, distributed over the executors, zero data IO. Stats are
    * converted through [[statAsCastLong]] so the box lives in the same
    * units as the probe's `cast("long")` values; a column whose stats
    * are absent or not cast-convertible gets the
    * (Long.MinValue, Long.MaxValue) box: it overlaps everything, which
    * widens the rewrite but never breaks it. */
  private def footerBoxes(spark: org.apache.spark.sql.SparkSession,
                          files: Seq[String], cols: Seq[String])
      : Seq[(String, Seq[(Long, Long)])] = {
    val conf =
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val colNames = cols.toIndexedSeq
    val slices = math.max(1,
      math.min(files.size, spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(files, slices).map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          p, conf.value))
      try {
        val blocks = reader.getFooter.getBlocks
        val boxes = colNames.map { c =>
          var lo = Long.MaxValue
          var hi = Long.MinValue
          var ok = true
          blocks.forEach { b =>
            b.getColumns.forEach { cc =>
              if (cc.getPath.toDotString == c) {
                val st = cc.getStatistics
                if (st == null || !st.hasNonNullValue) ok = false
                else {
                  val pt = cc.getPrimitiveType
                  (statAsCastLong(pt, st.genericGetMin),
                    statAsCastLong(pt, st.genericGetMax)) match {
                    case (Some(mn), Some(mx)) =>
                      lo = math.min(lo, mn)
                      hi = math.max(hi, mx)
                    case _ => ok = false
                  }
                }
              }
            }
          }
          if (ok && lo <= hi) (lo, hi)
          else (Long.MinValue, Long.MaxValue)
        }
        (p.getName, boxes: Seq[(Long, Long)])
      } finally reader.close()
    }.collect().toSeq
  }

  /** Driver-side twin of [[scaled]] for plain longs — exact BigInt
    * math on any domain width, same monotone contract. */
  private def scaledLong(v: Long, lo: Long, hi: Long, bits: Int): Long = {
    val maxV = (1L << bits) - 1
    val span = BigInt(hi) - BigInt(lo)
    if (span <= 0) 0L
    else ((BigInt(v) - BigInt(lo)) * maxV / span).toLong
  }

  /** Post-swap epilogue (also a heal path): move aside data files the
    * rewrite provably did NOT consume into the new root — they are
    * appends that landed during the stage write, and as plain
    * unclustered files they are exactly what [[appendZOrdered]] would
    * have produced — then drop the aside. Best-effort renames: a
    * concurrent heal doing the same work wins harmlessly.
    *
    * The aside is dropped ONLY when `consumed_files` was successfully
    * read and is non-empty — every committed recluster stamps the
    * non-empty set it consumed, so an unreadable or empty record means
    * this aside does not belong to the CURRENT generation (e.g. a
    * post-swap crash followed by a writeZOrderedMaintained re-create,
    * which stamps consumed = Nil) and nothing can attribute its files.
    * Deleting it then would destroy any late appends parked inside; it
    * is left in place with a loud warning for manual triage instead. */
  private def rescueLateAppends(spark: org.apache.spark.sql.SparkSession,
                                path: String): Unit = {
    val fs = fsOf(spark, path)
    val aside = new org.apache.hadoop.fs.Path(s"$path.__zaside")
    if (!fs.exists(aside)) return
    val consumed =
      try MetaIO.readStrings(spark.sparkContext.hadoopConfiguration,
        s"${zmetaDir(path)}/consumed_files").toSet
      catch { case _: Exception => Set.empty[String] }
    if (consumed.isEmpty) {
      System.err.println(
        s"[graft] z-order heal: aside $aside exists but the current " +
          "generation records no consumed files — its data files cannot " +
          "be attributed, so the aside is LEFT IN PLACE for manual " +
          "triage (after confirming its data files are unowned — e.g. " +
          "the root was re-created — Layouts.rescueAside(spark, path) " +
          "is the one-call remedy)")
      return
    }
    val root = new org.apache.hadoop.fs.Path(path)
    fs.listStatus(aside).foreach { st =>
      val n = st.getPath.getName
      if (isDataFile(st) && !consumed(n) &&
          !fs.exists(new org.apache.hadoop.fs.Path(root, n)))
        fs.rename(st.getPath, new org.apache.hadoop.fs.Path(root, n))
    }
    fs.delete(aside, true)
  }

  /** Heal every recluster crash window — called by each lifecycle
    * entry point. Mid-swap (root gone, aside intact): the aside
    * generation is the data, rename it back. Post-swap (both present):
    * the new root carries its own metadata (stamped pre-swap), so
    * rescue late appends and drop the aside. A completed-but-unrenamed
    * metadata stamp (`_zorder__tmp` with its completion marker, no
    * `_zorder`) finishes its rename; torn tmps are dropped. Stale
    * stages are re-derivable — dropped (mutations are
    * caller-serialized, so no live recluster owns one when another
    * mutation entry runs). */
  private def healZOrderSwap(spark: org.apache.spark.sql.SparkSession,
                             path: String): Unit = {
    val fs = fsOf(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    val aside = new org.apache.hadoop.fs.Path(s"$path.__zaside")
    val stage = new org.apache.hadoop.fs.Path(s"$path.__zstage")
    if (fs.exists(aside)) {
      if (!fs.exists(root))
        require(fs.rename(aside, root), s"z-order swap heal of $path failed")
      else rescueLateAppends(spark, path)
    }
    fs.delete(stage, true)
    // finish a torn metadata stamp: tmp complete (clustered_files is
    // written last) but the final rename never ran
    val zf = new org.apache.hadoop.fs.Path(zmetaDir(path))
    val zt = new org.apache.hadoop.fs.Path(zmetaTmpDir(path))
    if (fs.exists(zt)) {
      if (!fs.exists(zf) && fs.exists(
          new org.apache.hadoop.fs.Path(zt, "clustered_files")))
        require(fs.rename(zt, zf), s"z-order stamp heal of $path failed")
      else fs.delete(zt, true)
    }
    // incremental recluster windows: a committed manifest rolls
    // FORWARD (idempotent); without one, a leftover stage or torn
    // manifest tmp is pre-commit debris — the pass never committed,
    // the tail is still unclustered, a re-run recomputes it
    if (fs.exists(new org.apache.hadoop.fs.Path(zincManifestDir(path))))
      commitIncrementalRecluster(spark, path)
    else {
      fs.delete(new org.apache.hadoop.fs.Path(zincStageDir(path)), true)
      fs.delete(new org.apache.hadoop.fs.Path(zincManifestTmpDir(path)),
        true)
    }
    // exactly-once append windows: same roll-forward/debris split
    if (fs.exists(new org.apache.hadoop.fs.Path(zappManifestDir(path))))
      commitAppendBatch(spark, path)
    else {
      fs.delete(new org.apache.hadoop.fs.Path(zappStageDir(path)), true)
      fs.delete(new org.apache.hadoop.fs.Path(zappManifestTmpDir(path)),
        true)
    }
  }

  /** One-call form of the documented manual remedy for an
    * UNATTRIBUTABLE aside (see [[rescueLateAppends]]'s warning path: an
    * aside exists but the current generation records no consumed files
    * — a post-swap crash followed by a re-create, or an unreadable
    * `consumed_files` record — so the heal cannot tell late appends
    * from consumed old-generation files and refuses to touch it).
    * Moves every DATA file in the aside that is not already in the
    * root (by name) into the root as ordinary unclustered appends,
    * then drops the aside. Idempotent: a re-run, or a crash mid-way
    * followed by a re-run, converges to the same state.
    *
    * THE CALLER OWNS THE ATTRIBUTION JUDGMENT: rescuing an aside that
    * in fact belongs to a COMPLETED recluster would re-land files the
    * rewrite consumed and duplicate their rows. Call this only after
    * confirming the root was re-created (or the consumed record lost)
    * and the aside's data files are genuinely unowned. */
  def rescueAside(spark: org.apache.spark.sql.SparkSession,
                  path: String): Unit =
    rescueAside(spark, path, s"$path.__zaside")

  /** [[rescueAside]] against an explicit aside directory (an operator
    * may have parked it elsewhere during triage). */
  def rescueAside(spark: org.apache.spark.sql.SparkSession,
                  path: String, asidePath: String): Unit = {
    val fs = fsOf(spark, path)
    val aside = new org.apache.hadoop.fs.Path(asidePath)
    if (!fs.exists(aside)) return
    val root = new org.apache.hadoop.fs.Path(path)
    require(fs.exists(root),
      s"rescueAside: root $path does not exist — a mid-swap crash " +
        "(root gone, aside intact) heals by renaming the aside back; " +
        "run any lifecycle entry instead of rescuing file-by-file")
    fs.listStatus(aside).foreach { st =>
      val n = st.getPath.getName
      if (isDataFile(st) &&
          !fs.exists(new org.apache.hadoop.fs.Path(root, n)))
        require(fs.rename(st.getPath,
          new org.apache.hadoop.fs.Path(root, n)),
          s"rescueAside: move $n into $path failed")
    }
    fs.delete(aside, true)
  }

  // ---- reader safety across maintenance commit windows ----
  //
  // Three windows can bite a reader racing the lifecycle, and a bare
  // `spark.read.parquet(path)` handles none of them:
  //  - GLOBAL swap (rename-aside -> rename-in): between the two
  //    renames the root is momentarily absent; before them, a listed
  //    file vanishes at read time (missing-file failure).
  //  - INCREMENTAL commit (move new files in, then delete consumed):
  //    a listing taken mid-move sees BOTH generations of the
  //    rewritten region and silently DOUBLE-READS it — no error is
  //    ever raised, so no retry can fix it.
  //  - append commit: staged batch files move into the root one by
  //    one; a racing listing sees a prefix of the batch (append-only
  //    visibility — consistent, just not batch-atomic).
  // [[readMaintained]] resolves all three: it builds an explicit
  // file-level snapshot, consulting the pending roll-forward manifest
  // (when one exists) to pick exactly ONE generation of a mid-commit
  // rewrite, and converts the mid-swap root-absent instant into a
  // retryable missing-file failure. [[withMaintainedRead]] wraps an
  // action with the retry loop (fresh snapshot per attempt) — the
  // complete no-quiesce reader contract for the layout family.

  /** One snapshot-consistent view of a maintained z-ordered layout, as
    * a DataFrame over an EXPLICIT file list. Mid-commit states resolve
    * to exactly one generation: while a recluster's roll-forward
    * manifest is pending, the commit's ordering (every new file moves
    * in before any consumed file is deleted) makes the directory
    * listing self-describing — if every consumed file is still listed
    * the move-in phase is underway and the view excludes the new
    * files (pre-commit snapshot); once any consumed file is gone the
    * move-in provably completed and the view excludes the remaining
    * consumed files (post-commit snapshot). Both snapshots carry the
    * same row bag (rewrites are content-invariant), so readers never
    * observe duplicates or holes. A layout mid-GLOBAL-swap (root
    * absent, aside present) throws a retryable
    * `FileNotFoundException`; an absent layout with no swap in flight
    * throws `IllegalArgumentException` immediately (permanent).
    *
    * The snapshot is taken at CALL time; a maintenance commit racing
    * the returned frame's ACTION can still delete a listed file first
    * (missing-file failure) — run actions through
    * [[withMaintainedRead]], which re-snapshots per attempt.
    *
    * Listing completeness is VERIFIED against the generation record
    * (r18): `fs.listStatus` is not atomic against a commit's rename
    * churn and can silently miss untouched entries — every clustered
    * file the record names must be visible (minus a pending manifest's
    * consumed set) and no already-consumed file may linger once the
    * manifest is gone, else the snapshot throws retryable and the next
    * attempt re-lists. */
  def readMaintained(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame = {
    val files = snapshotFiles(spark, path)
    require(files.nonEmpty, s"readMaintained: $path holds no data files")
    // Schema fast path (r19): every layout file is Spark-written and
    // carries the exact StructType in its footer metadata — one
    // driver-side footer read replaces the distributed schema-inference
    // job over the whole (hundreds-of-files) snapshot, measured ~0.7 s
    // per open at sf0.1. Any failure (race, foreign file) falls back to
    // inference, whose error mapping below already handles the races.
    val schemaOpt = MetaIO.sparkFileSchema(
      spark.sparkContext.hadoopConfiguration, files.head)
    val df =
      try schemaOpt.fold(spark.read)(spark.read.schema).parquet(files: _*)
      catch {
        // every path handed to the reader came from THIS call's listing,
        // so a PATH_NOT_FOUND here (a file vanished before the reader's
        // path check) or an UNABLE_TO_INFER_SCHEMA (every footer gone
        // before inference — the whole generation swapped) is always a
        // commit racing the snapshot — rethrow retryable
        case e: Throwable
            if (e match {
              case st: org.apache.spark.SparkThrowable =>
                Option(st.getCondition).exists(c =>
                  c == "PATH_NOT_FOUND" || c == "UNABLE_TO_INFER_SCHEMA")
              case _ => false
            }) =>
          throw new java.io.FileNotFoundException(
            s"$path: snapshot file vanished mid-open (maintenance " +
              s"commit race) — transient, retry re-snapshots: " +
              e.getMessage)
    }
    // PLANNED-SET completeness check. Spark's file index does NOT
    // throw for a path that vanishes between the reader's own existence
    // check and its listing pass: InMemoryFileIndex logs "was deleted
    // very recently" and plans WITHOUT the file — so a snapshot racing
    // a commit's deletes could return a silently-short frame that no
    // retry contract ever sees (observed: count()s of 1602-1686 rows
    // over a 3400-row layout with df.inputFiles showing 17-19 of 36
    // snapshot files planned). df.inputFiles is driver-side metadata
    // of the already-built index (zero jobs); any shortfall throws the
    // retryable class. Files vanishing AFTER planning fail the task
    // loudly (FAILED_READ_FILE), which retryingRead already heals.
    val plannedNames = df.inputFiles
      .map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
    val missingPlanned = files
      .map(f => new org.apache.hadoop.fs.Path(f).getName)
      .filterNot(plannedNames)
    if (missingPlanned.nonEmpty)
      throw new java.io.FileNotFoundException(
        s"$path: ${missingPlanned.size} snapshot files vanished between " +
          "the listing and the scan's planning (maintenance commit " +
          "race; the file index silently drops just-deleted paths) — " +
          "transient, retry re-snapshots")
    df
  }

  /** Run `f` over a fresh [[readMaintained]] snapshot, retrying the
    * WHOLE attempt (snapshot + action) on missing-file races with a
    * concurrent lifecycle commit — whichever attempt wins returns a
    * content-equivalent result (mutations are content-invariant;
    * appends are append-only). The layout family's serve-while-
    * maintain entry: no reader quiescing, ever. */
  def withMaintainedRead[T](spark: org.apache.spark.sql.SparkSession,
                            path: String, attempts: Int = 5)
                           (f: DataFrame => T): T =
    retryingRead(attempts)(f(readMaintained(spark, path)))

  /** The explicit file list behind [[readMaintained]] — see its doc
    * for the window-resolution contract. */
  private def snapshotFiles(spark: org.apache.spark.sql.SparkSession,
                            path: String): Seq[String] = {
    val fs = fsOf(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    // list FIRST, then classify an absent root — checking existence
    // before listing would race the swap's rename between the two calls
    val listed = dataFiles(spark, path)
    if (listed.isEmpty && !fs.exists(root)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$path.__zaside")))
        throw new java.io.FileNotFoundException(
          s"$path: root absent mid-recluster-swap (aside present) — " +
            "transient, retry reads the new generation")
      throw new IllegalArgumentException(
        s"readMaintained: $path does not exist and no recluster swap " +
          "is in flight — not a maintained layout")
    }
    val names = listed.map(_.getPath.getName).toSet
    val man = new org.apache.hadoop.fs.Path(zincManifestDir(path))
    val manExists = fs.exists(man)
    var consumedMan: Set[String] = Set.empty
    val view: Seq[org.apache.hadoop.fs.FileStatus] = if (!manExists) listed
    else {
      val (newF, consumed) =
        try {
          def mnames(t: String): Set[String] =
            MetaIO.readStrings(spark.sparkContext.hadoopConfiguration,
              s"${zincManifestDir(path)}/$t").toSet
          (mnames("new_files"), mnames("consumed_files"))
        } catch {
          // transient ONLY when the manifest actually went away (the
          // commit completed between the existence check and the read —
          // the listing may straddle it; force a clean re-snapshot). A
          // manifest that is still present but unreadable is PERMANENT
          // corruption needing triage, not a retry loop that mislabels it
          case e: Exception =>
            if (!fs.exists(man) || isMissingFileError(e))
              throw new java.io.FileNotFoundException(
                s"$path: recluster manifest vanished mid-snapshot — " +
                  "transient, retry re-lists the committed state")
            else throw e
        }
      consumedMan = consumed
      if (consumed.subsetOf(names))
        // move-in phase: the pre-commit generation is fully present —
        // exclude whatever new files already moved in
        listed.filterNot(s => newF(s.getPath.getName))
      else {
        // a consumed file is gone, so the move-in provably completed
        // BEFORE this listing's deletes — but the listing itself is
        // not an atomic snapshot (entries added mid-iteration may be
        // missed), so verify the post-commit generation is complete
        // and re-snapshot when the listing straddled the commit
        if (!newF.subsetOf(names))
          throw new java.io.FileNotFoundException(
            s"$path: listing straddled a recluster commit (consumed " +
              "files already deleted, new files not all visible) — " +
              "transient, retry re-lists")
        listed.filterNot(s => consumed(s.getPath.getName))
      }
    }
    // Listing-completeness authority check (r18). The manifest-set
    // guards above verify files the COMMIT touches, but fs.listStatus
    // is not an atomic snapshot against the commit's rename churn: a
    // racing readdir can miss UNTOUCHED entries entirely (observed
    // once in the live-reader spec as a 1687-row view of a 3400-row
    // layout — a silent hole, not a failure). The generation record is
    // the membership authority: every clustered file the current
    // record names — minus whatever a pending manifest consumes — must
    // be visible in the listing, and (manifest absent) no file the
    // record's last commit CONSUMED may still be listed (a straddle of
    // a commit that completed between the listing and the manifest
    // check). Either violation re-snapshots via the retry contract.
    // A missed un-clustered TAIL file needs no guard: appends are
    // prefix-visible by contract, so a shorter tail is a legal
    // snapshot. Cost: two O(files)-row metadata reads per snapshot.
    val metaDir = new org.apache.hadoop.fs.Path(zmetaDir(path))
    val metaDirExisted = fs.exists(metaDir)
    if (manExists || metaDirExisted) {
      def recNames(t: String): Set[String] =
        try MetaIO.readStrings(spark.sparkContext.hadoopConfiguration,
          s"${zmetaDir(path)}/$t").toSet
        catch {
          // the restamp swap (delete + rename) makes the record
          // momentarily absent — transient; present-but-corrupt is
          // permanent, same discipline as the manifest read above.
          // Transient requires metaDir to have EXISTED at the top of
          // this snapshot: a manifest with no record dir at all is a
          // record that was never written (or externally removed) — a
          // PERMANENT state a retry loop would mislabel forever
          case e: Exception =>
            val absentNow = !fs.exists(new org.apache.hadoop.fs.Path(
              s"${zmetaDir(path)}/$t"))
            if (absentNow && !metaDirExisted && !fs.exists(metaDir))
              throw new IllegalStateException(
                s"$path: recluster manifest present but generation " +
                  s"record dir ${zmetaDir(path)} absent — the record " +
                  "was never written or was externally removed; " +
                  "PERMANENT, needs triage (not a retryable race)", e)
            else if (absentNow || isMissingFileError(e))
              throw new java.io.FileNotFoundException(
                s"$path: generation record unreadable mid-snapshot " +
                  "(restamp in flight) — transient, retry re-lists")
            else throw e
        }
      val missing = (recNames("clustered_files") -- consumedMan)
        .filterNot(names)
      if (missing.nonEmpty)
        throw new java.io.FileNotFoundException(
          s"$path: listing raced a commit — ${missing.size} clustered " +
            "files invisible (readdir is not atomic against rename " +
            "churn) — transient, retry re-lists")
      if (!manExists && names.exists(recNames("consumed_files")))
        throw new java.io.FileNotFoundException(
          s"$path: listing straddled a completed commit (consumed " +
            "files still listed, manifest already dropped) — " +
            "transient, retry re-lists")
    }
    view.map(_.getPath.toString)
  }

  /** Run a read ACTION against a maintained layout, retrying when the
    * failure chain carries a missing-file error — the signature of a
    * read racing a recluster's rename-aside -> rename swap (global) or
    * a bounded commit's move-in/delete window (incremental), which
    * list a file the commit then removed. Each retry must re-run the
    * body FROM SCRATCH — put the `spark.read.parquet(path)` open
    * INSIDE the body, not outside, so the attempt after the swap
    * completes lists the new generation. Correct because every
    * lifecycle mutation is content-invariant to readers (spec-pinned:
    * recluster/incremental-recluster preserve the row bag; an append's
    * commit window is append-only), so whichever attempt wins returns
    * an equivalent result. Any non-missing-file failure propagates
    * immediately; exhausting the attempts rethrows the last error.
    *
    * This replaces the old "quiesce readers across the swap" caveat:
    * a consumer that wraps its actions in `retryingRead` needs no
    * coordination with the layout's maintenance owner. (Same
    * discipline as the IVF serving path's per-batch retry in
    * `graft.streaming.StreamOps`.) */
  def retryingRead[T](attempts: Int = 3)(body: => T): T = {
    require(attempts >= 1, s"attempts must be >= 1, got $attempts")
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try return body
      catch {
        case e: Throwable if isMissingFileError(e) =>
          last = e
          i += 1
          if (i < attempts) Thread.sleep(50L * i)
      }
    }
    throw last
  }

  /** A failure is a retryable missing-file RACE only when its chain
    * carries a genuine file-not-found TYPE: a `FileNotFoundException`
    * subclass (incl. shaded/remote variants by class name), a Hadoop
    * `RemoteException` wrapping one, or Spark's
    * `FAILED_READ_FILE.FILE_NOT_EXIST` error condition. Message
    * substrings are deliberately NOT matched: a permanent failure like
    * an absent layout root surfaces as `PATH_NOT_FOUND` ("Path does
    * not exist") and must propagate immediately, not burn backoff
    * sleeps mislabeled as a maintenance race. */
  private[graft] def isMissingFileError(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case _: java.io.FileNotFoundException => true
      case t: org.apache.hadoop.ipc.RemoteException =>
        Option(t.getClassName).exists(_.contains("FileNotFound"))
      case t: org.apache.spark.SparkThrowable
          if Option(t.getCondition).exists(
            _.startsWith("FAILED_READ_FILE.FILE_NOT_EXIST")) => true
      case t => t.getClass.getName.contains("FileNotFound")
    }

  /** Fragmentation-measured recluster trigger: recluster ONLY when at
    * least `threshold` of the layout's bytes arrived after the last
    * clustered rewrite — below it, the appended tail is a bounded
    * fraction of any scan and a rewrite is churn. Returns the measured
    * fragmentation when it fired. */
  def autoReclusterZOrdered(spark: org.apache.spark.sql.SparkSession,
                            path: String,
                            threshold: Double = 0.25): Option[Double] = {
    require(threshold > 0 && threshold <= 1, s"bad threshold $threshold")
    val frag = zOrderFragmentation(spark, path)
    if (frag >= threshold) { reclusterZOrdered(spark, path); Some(frag) }
    else None
  }

  /** [[autoReclusterZOrdered]] with the BOUNDED maintenance pass: the
    * same byte-fraction trigger, but the rewrite is
    * [[reclusterZOrderedIncremental]] (the global rewrite fires only
    * through its documented scattered-tail fallback). Returns the
    * pass's stats when the trigger fired. */
  def autoReclusterZOrderedIncremental(
      spark: org.apache.spark.sql.SparkSession, path: String,
      threshold: Double = 0.25, maxRewriteFraction: Double = 0.6)
      : Option[IncrementalReclusterStats] = {
    require(threshold > 0 && threshold <= 1, s"bad threshold $threshold")
    val frag = zOrderFragmentation(spark, path)
    if (frag >= threshold)
      Some(reclusterZOrderedIncremental(spark, path, maxRewriteFraction))
    else None
  }
}
