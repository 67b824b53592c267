package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured-Streaming re-expression of the reference's streaming surface.
  *
  * The reference's jobs are bounded `PROCESS_ONCE` reads on Flink's
  * streaming API (SURVEY.md §1.4); `Trigger.AvailableNow` is the exact
  * Spark-native equivalent — process everything available, checkpoint,
  * stop. The unwindowed keyed reduce (reference
  * `S3FlinkAverageSalaryByCity.java:34-35,75-80`) emits a *running*
  * aggregate per input record; [[runningAvgByKey]] with
  * `outputMode("update")` reproduces that per-trigger update stream, while
  * the batch `RefOps.avgByCity` reproduces the final row per key.
  */
object StreamOps {

  /** Streaming flavor of the uppercase job (reference
    * `S3ReadWriteExample.main`): text-file source → upper → text-file sink
    * with checkpointed exactly-once output.
    *
    * `trigger` picks the reference's two sink behaviors:
    *  - `Trigger.AvailableNow()` (default): process everything present,
    *    checkpoint, stop — the PROCESS_ONCE batch semantics.
    *  - `Trigger.ProcessingTime("15 minutes")`: stay up and emit one file
    *    set per trigger per partition — the Spark analog of the
    *    reference's time-based `DefaultRollingPolicy` (15 min rollover,
    *    `S3ReadWriteExample.java:32-37`); a trigger interval IS the roll
    *    interval, and the checkpoint gives the same in-progress →
    *    committed file lifecycle.
    */
  def upperCasePipeline(spark: SparkSession, inPath: String, outPath: String,
                        checkpoint: String,
                        trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    spark.readStream.text(inPath)
      .select(upper(col("value")).as("value"))
      .writeStream
      .format("text")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Streaming flavor of the CSV filter job (reference
    * `S3FlinkFilterJacksonville.main`): text source → naive split →
    * malformed-row guard + city exclusion → re-serialize → checkpointed
    * text sink. See [[upperCasePipeline]] for the trigger semantics.
    */
  def filterCityPipeline(spark: SparkSession, inPath: String, outPath: String,
                         checkpoint: String, city: String,
                         trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val lines = spark.readStream.text(inPath)
    graft.operators.RefOps.filterJob(lines, city)
      .writeStream
      .format("text")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** Running (sum, count, avg) per key over a *streaming* DataFrame —
    * the literal semantics of the reference's unwindowed `ReduceFunction`:
    * with update output mode, each micro-batch emits the refreshed
    * aggregate for every key it touched.
    */
  def runningAvgByKey(stream: DataFrame, keyCol: String,
                      valCol: String): DataFrame =
    stream.groupBy(col(keyCol))
      .agg(sum(col(valCol)).as("sum_val"),
        count(lit(1)).as("cnt"))
      .withColumn("avg_val", col("sum_val") / col("cnt"))

  /** Streaming exactly-once dedup by key with BOUNDED state:
    * `dropDuplicatesWithinWatermark` keeps a key's dedup state only until
    * the watermark passes it, so state size tracks the watermark horizon
    * instead of growing with the key space forever — the only shape that
    * survives an unbounded stream (plain `dropDuplicates` on a stream
    * retains every key seen).
    */
  def dedupStream(stream: DataFrame, keys: Seq[String], tsCol: String,
                  watermark: String): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming content-addressed media dedup: the streaming twin of
    * [[graft.operators.Multimodal.contentDedup]] — each arriving payload
    * reduces to its SHA-256 digest and [[dedupStream]]'s watermark-bounded
    * state passes only first sightings. State carries 32-byte digests,
    * never blobs, and expires with the watermark — the only shape that
    * survives an unbounded media firehose.
    */
  def mediaDedupStream(stream: DataFrame, payloadCol: String, tsCol: String,
                       watermark: String): DataFrame = {
    // Output schema = input + `digest` (the content id — useful
    // downstream); a pre-existing digest column would be silently
    // OVERWRITTEN by withColumn, so refuse it loudly instead.
    require(!stream.columns.contains("digest"),
      "mediaDedupStream adds a 'digest' column; the input already has one")
    dedupStream(
      stream.withColumn("digest", sha2(col(payloadCol), 256)),
      Seq("digest"), tsCol, watermark)
  }

  /** Stream-static enrichment join: each micro-batch of the stream joins
    * against the (broadcast) static dimension — no stream-side state, no
    * watermark needed; the dimension is re-resolvable per batch so slowly
    * changing dims pick up updates.
    */
  def enrichStream(stream: DataFrame, dim: DataFrame,
                   keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Streaming incremental dedup against a static history: drop stream
    * rows whose key is (maybe) already in the historical corpus — the
    * Bloom filter built batch-side by
    * [[graft.operators.Dedup.bloomFilter]] rides into every micro-batch
    * as a broadcast one-row frame, so each arriving row pays k bit probes
    * and the 100 TB history is never re-read. Combine with
    * [[dedupStream]] for within-stream duplicates; rows screened out here
    * are bloom-positive ("maybe seen") — with the false-positive rate
    * sized down, the loss is bounded and auditable.
    */
  def bloomScreenStream(stream: DataFrame, bloom: DataFrame, key: Column,
                        mBits: Int = 1 << 18, k: Int = 7): DataFrame =
    graft.operators.Dedup.bloomScreen(stream, bloom, key, mBits, k)
      .filter(!col("maybe_dup")).drop("maybe_dup")

  /** The streaming production incremental-dedup loop over a persisted
    * index of any family: new document files land in `inPath`, each
    * micro-batch is deduped within itself (representative kept) and
    * against the committed index, novel docs are written to
    * `outPath/batch_id=<n>/` and appended to the index — exactly once
    * under crash/restart, governed by the index's ingest ledger (the full
    * mechanics are on [[graft.operators.Dedup.ingestBatch]], which this
    * wraps in `foreachBatch`; the stream checkpoint replays an
    * unfinished batch with the same id and data, and the ledger makes
    * that replay bit-identical and append-idempotent). `family` names
    * the payload column and the dedup semantics — MinHash text near-dup,
    * SRP embedding near-dup at a cosine threshold, or exact digest dedup
    * — and must match the index at `indexPath`: the stream resolves it
    * once, at open, and refuses a mismatch before touching the index.
    *
    * This is the loop the index builders' docs promise: build the index
    * once, then every arriving batch pays its own size — zero corpus
    * payload reads — and the index grows with the accepted stream.
    *
    * `quarantine = true`: a contract-violating batch (non-monotone /
    * non-castable ids) diverts whole to `<indexPath>/quarantine/batch_id=N`
    * and the stream CONTINUES (its ledger row carries `novel_rows = -1`);
    * the default stays fail-loud.
    *
    * Takedowns: after each committed batch, a pending tombstone set that
    * changed since the last scrub is scrubbed out of the served outputs
    * and the quarantined batches (≤1-batch serving latency, no per-batch
    * corpus re-scan).
    *
    * FILE-COUNT HYGIENE: every committed batch appends one file set per
    * table plus a ledger row, an occupancy delta and epoch claims — an
    * unattended long-running stream decays into a small-files swamp.
    * `autoCompact = true` folds the index in-loop with the MEASURED
    * trigger ([[graft.operators.Dedup.autoCompactIndex]]): one
    * directory listing per committed batch, compaction only when
    * the index has actually decayed ≥ the fragmentation factor (or
    * pending deletes await physical reclamation) — a fragmented stream
    * self-compacts, an un-fragmented one never churns. Safe exactly
    * BECAUSE it runs between `foreachBatch` invocations of the serial
    * stream (no batch in flight) and under the index's epoch fence (the
    * compaction advances the epoch; a concurrent maintenance job would
    * abort, not corrupt). Replays skip it (a replayed batch must see the
    * index generation its first attempt saw). A crash inside the
    * compaction's directory swap self-heals: stream open runs
    * [[graft.operators.Dedup.recoverCompaction]], which restores a table
    * left stranded in `__compacting_<sub>` before the first batch reads
    * the index. Off = run compaction from a maintenance job instead.
    *
    * SCALE-OUT (multi-stream deployment pattern, PLANS.md
    * "multi-stream ingest scale-out"): one governed stream is serial by
    * design — the ledger watermark totally orders one index. For more
    * ingest throughput, route the corpus with a deterministic id router
    * into N independent indexes and run one of these streams per shard —
    * each on its OWN `spark.newSession()` (the per-batch plan tuning is
    * session-scoped; its save/restore is not atomic across threads):
    * every fence (epoch, ledger, tombstones, quarantine) is per index
    * path, so disjoint shards never collide (`ShardedGovernedIngestSpec`
    * proves concurrent commits, replays, conf isolation and the
    * within-shard screening contract). Near-dup screening is WITHIN a
    * shard; route by a content-stable key or run the periodic
    * cross-shard reconcile ([[graft.operators.Dedup.reconcileShardOutputs]])
    * when cross-shard duplicates are in contract.
    *
    * SESSION: every batch reuses the generated code the first batch
    * compiled only if the codegen cache holds it. Spark sizes that cache
    * ONCE per JVM, from `spark.sql.codegen.cache.maxEntries` as set in
    * whichever session conf is active when its `CodeGenerator` first
    * initialises — a static conf, so any codegen that runs before the
    * session is built (even reflection on `CodeGenerator`) pins the
    * cache at Spark's default for the JVM's life. `GraftSession.builder`
    * sets the conf; a session built any other way must set it to at
    * least `GraftSession.CodegenCacheEntries` when it is built, or each
    * batch recompiles its classes. The stream logs a WARN at open when
    * the SESSION conf is lower; it reads the conf, not the cache, so it
    * cannot see a cache pinned small before the session existed.
    */
  def governedDedupStream(spark: SparkSession, inPath: String,
                          schema: org.apache.spark.sql.types.StructType,
                          idCol: String,
                          family: graft.operators.Dedup.IndexFamily,
                          indexPath: String, outPath: String,
                          checkpoint: String,
                          trigger: Trigger = Trigger.AvailableNow(),
                          autoCompact: Boolean = false,
                          quarantine: Boolean = false): StreamingQuery = {
    import graft.operators.Dedup
    val compact = Dedup.openGovernedIndex(spark, indexPath, family)
    graft.GraftSession.codegenCacheWarning(
      spark.conf.get(graft.GraftSession.CodegenCacheConf).toInt)
      .foreach(org.slf4j.LoggerFactory.getLogger(getClass).warn(_))
    // The tombstone file set the last in-loop scrub propagated (stream
    // closure state; lost on restart = one redundant idempotent scrub).
    var scrubbedTombs = Set.empty[String]
    spark.readStream.schema(schema).parquet(inPath)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val stats = Dedup.ingestBatch(batch, idCol, family, indexPath,
          outPath, batchId, quarantine)
        // per-batch audit row (novel/dup rates) — idempotent on replay
        Dedup.appendIngestStats(spark, indexPath, stats)
        if (!stats.replayed) {
          // Takedown propagation to the SERVED output corpus and the
          // quarantined raw batches: scrub on the FIRST committed batch
          // after the pending tombstone set changes (bounded ≤1-batch
          // serving latency), then not again until it changes — never a
          // per-batch corpus re-scan that finds nothing. Compaction
          // purges only sets the scrubs have already propagated, so the
          // scrub-before-purge ordering holds by construction.
          val pending = Dedup.pendingTombstoneFiles(spark, indexPath)
          if (pending.nonEmpty && pending != scrubbedTombs) {
            Dedup.scrubOutputs(spark, indexPath, outPath, idCol)
            Dedup.scrubQuarantined(spark, indexPath, idCol)
            scrubbedTombs = pending
          }
          if (autoCompact && compact()) scrubbedTombs = Set.empty
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** [[governedDedupStream]] over a MinHash signature index, kept for
    * source compatibility with existing callers. */
  def indexedDedupStream(spark: SparkSession, inPath: String,
                         schema: org.apache.spark.sql.types.StructType,
                         idCol: String, textCol: String,
                         indexPath: String, outPath: String,
                         checkpoint: String,
                         trigger: Trigger = Trigger.AvailableNow(),
                         autoCompact: Boolean = false): StreamingQuery =
    governedDedupStream(spark, inPath, schema, idCol,
      graft.operators.Dedup.MinHashText(textCol), indexPath, outPath,
      checkpoint, trigger, autoCompact)

  /** Streaming ANN serving over a persisted IVF layout
    * ([[graft.operators.Similarity.writeIvfLayout]]): each micro-batch
    * of query vectors probes the STATIC cell-partitioned corpus and
    * writes its top-k results to `outPath/batch_id=<n>/`. The sink is
    * exactly-once under crash/restart WITHOUT a ledger: the layout is
    * read-only and the probe a pure function of (layout, batch), so a
    * replayed batch recomputes the identical result into its own
    * directory (per-batch overwrite — the same replay-idempotence
    * discipline as the governed ingest loops, minus the state they
    * govern).
    *
    * Per-batch work tracks the BATCH, never the corpus: the probe
    * collects the batch's nprobe-cell set and reads only those
    * `cell=K/` directories (PartitionFilters — PLANS.md s8), so a
    * serving stream touches ~nprobe/c of the corpus bytes per batch no
    * matter how large the corpus grows. `usePq = true` serves from the
    * layout's write-time PQ codes instead (ADC scan of (id, codes)
    * only + exact re-rank of the `rerank` shortlist — PLANS.md s9),
    * the compressed-scan variant for wide corpora.
    *
    * Mutation visibility (spec-pinned in `AnnServeStreamSpec`): every
    * micro-batch opens the layout FRESH — params, pending tombstones
    * and the cell file listing are re-read per batch — so a takedown
    * (`deleteFromIvfLayout`) or append (`appendIvfLayout`) landing
    * between batches reaches the very next batch of a LIVE stream, no
    * restart needed: ≤1-batch serving latency, the same contract as
    * the governed dedup loops. `compactIvfLayout`'s per-cell
    * rename-swap window (the swap is epoch-fenced against other
    * MUTATIONS, not against readers) is survived WITHOUT quiescing:
    * a probe that listed a file the swap then removed fails with a
    * missing-file error, and the batch retries against a fresh open
    * ([[retryOnMissingFiles]]) — correct because a compaction is
    * content-invariant to the probe (it folds files and physically
    * purges only rows the probe's tombstone anti-join already hides),
    * so whichever attempt wins serves bit-identical results; a
    * takedown needs no retry because it lands as a tombstone append
    * and the bytes move only at that later compaction. The
    * exactly-once claim above is per layout GENERATION: a batch
    * replayed across a mutation recomputes against the mutated layout
    * (for a takedown that is exactly what serving should do — the
    * replay stops returning the deleted vector).
    */
  /** Streaming ingest into a maintained z-ordered layout — the
    * lakehouse `OPTIMIZE ZORDER BY` loop as a streaming sink over
    * plain parquet. Each micro-batch lands through
    * [[graft.sources.Layouts.appendZOrderedExactlyOnce]] (idempotent
    * per batch id under crash/replay: the LAYOUT's own batch ledger —
    * carried across reclusters — is the commit record, so a replayed
    * batch is a no-op even if the checkpoint and the layout disagree
    * about progress), then the measured byte-fraction trigger drives
    * the INCREMENTAL recluster, so the layout self-optimizes as it
    * grows: steady-state maintenance cost tracks the fragmented
    * fraction, never the corpus. Readers stay correct at every point
    * (appends are visible immediately, curve-unsorted until the next
    * recluster); a reader racing a firing recluster's commit window
    * uses [[graft.sources.Layouts.withMaintainedRead]] (snapshot +
    * retry) — no quiescing needed, per the layout's documented reader
    * contract. CONSUMERS READ THE LAYOUT IN BATCH: do NOT point a
    * file-source `readStream` at the layout root — a recluster
    * rewrites committed rows under NEW file names, which a
    * filename-tracking streaming source would re-ingest as fresh data
    * (duplicates by design, not by bug). A streaming consumer
    * subscribes to the INGEST stream (`inPath`) instead; the layout is
    * the batch-serving artifact.
    */
  def zOrderedIngestStream(spark: SparkSession, inPath: String,
                           schema: org.apache.spark.sql.types.StructType,
                           layoutPath: String, checkpoint: String,
                           reclusterThreshold: Double = 0.25,
                           trigger: Trigger = Trigger.AvailableNow(),
                           maxFilesPerTrigger: Int = 0)
      : StreamingQuery = {
    val reader = spark.readStream.schema(schema)
    (if (maxFilesPerTrigger > 0)
       reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
     else reader)
      .parquet(inPath)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Layouts.appendZOrderedExactlyOnce(batch,
          layoutPath, batchId)
        graft.sources.Layouts.autoReclusterZOrderedIncremental(spark,
          layoutPath, reclusterThreshold)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** Retry `body` when its failure chain contains a missing-file
    * error — the signature of a probe racing `compactIvfLayout`'s
    * per-cell rename-swap (a file listed before the swap, gone at read
    * time). Each retry re-runs the body from scratch, which for the
    * serving path means a FRESH layout open: the attempt after the
    * swap completes reads the new generation, content-equivalent to
    * the old (a compaction folds files and physically purges only rows
    * the probe's tombstone anti-join already hides), so whichever
    * attempt wins produces bit-identical results. Any other failure
    * propagates immediately; exhausting the attempts rethrows the last
    * missing-file error.
    */
  private[streaming] def retryOnMissingFiles[T](attempts: Int)
                                               (body: => T): T =
    graft.operators.Similarity.withServedProbe(attempts)(body)

  def annServeStream(spark: SparkSession, inPath: String,
                     schema: org.apache.spark.sql.types.StructType,
                     qidCol: String, qvecCol: String,
                     layoutPath: String, outPath: String,
                     checkpoint: String, k: Int, nprobe: Int = 8,
                     usePq: Boolean = false, rerank: Int = 0,
                     trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    spark.readStream.schema(schema).parquet(inPath)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // The whole attempt (fresh layout open + probe + per-batch
        // overwrite) retries on a missing-file race with a concurrent
        // compaction swap; the overwrite makes a half-written first
        // attempt harmless.
        retryOnMissingFiles(3) {
          val topk =
            if (usePq)
              graft.operators.Similarity.ivfPqTopKIndexed(spark, layoutPath,
                batch, qidCol, qvecCol, topK = k, nprobe = nprobe,
                rerank = rerank, excludeSelf = false)
            else
              graft.operators.Similarity.ivfTopKIndexed(spark, layoutPath,
                batch, qidCol, qvecCol, k = k, nprobe = nprobe,
                excludeSelf = false)
          topk.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Event-time windowed aggregation with a watermark — tumbling 1 h
    * windows over the events stream (the windowed-agg surface the
    * reference lacks but any stream engine needs; late rows beyond the
    * watermark are dropped and state is evicted — bounded state at scale).
    */
  /** One user event for [[sessionizeStream]]. */
  final case class UserEvent(user_id: Long, ts_secs: Long)

  /** A closed session emitted by [[sessionizeStream]]. */
  final case class SessionOut(user_id: Long, start_secs: Long, end_secs: Long,
                              n_events: Long)

  /** Internal per-user state of [[sessionizeStream]] (public: the state
    * encoder instantiates it from generated code). */
  final case class SessionState(start: Long, last: Long, n: Long)

  /** Streaming gap-based sessionization with custom state
    * (`flatMapGroupsWithState`): per user, events extend the open session;
    * a gap > `gapSeconds` closes it and emits the summary. State is one
    * small record per active user — bounded, and evictable via `timeout`:
    * pass `ProcessingTimeTimeout` + `timeout` in production so idle users'
    * open sessions flush without waiting for their next event (the default
    * `NoTimeout` closes sessions only on gap evidence, which keeps tests
    * and replays deterministic). Batch counterpart:
    * [[graft.operators.Sessionize]].
    */
  def sessionizeStream(events: Dataset[UserEvent], gapSeconds: Long,
                       timeoutConf: GroupStateTimeout = GroupStateTimeout.NoTimeout,
                       timeout: String = "30 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val useTimeout = timeoutConf == GroupStateTimeout.ProcessingTimeTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, timeoutConf) {
        (user: Long, rows: Iterator[UserEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val closed = state.getOption.map(s =>
              SessionOut(user, s.start, s.last, s.n)).toSeq
            state.remove()
            closed.iterator
          } else {
            val sorted = rows.toSeq.sortBy(_.ts_secs)
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.ts_secs - s.last <= gapSeconds =>
                  cur = Some(SessionState(s.start, e.ts_secs, s.n + 1))
                case Some(s) =>
                  closed += SessionOut(user, s.start, s.last, s.n)
                  cur = Some(SessionState(e.ts_secs, e.ts_secs, 1))
                case None =>
                  cur = Some(SessionState(e.ts_secs, e.ts_secs, 1))
              }
            }
            cur.foreach(state.update)
            if (useTimeout) state.setTimeoutDuration(timeout)
            closed.result().iterator
          }
      }
  }

  /** Stream-stream interval join with watermark-bounded state — the
    * streaming analog of [[graft.operators.RangeJoin.intervalJoin]]:
    * match right-stream rows with the same key whose event time falls in
    * `[left.ts + lowerSec, left.ts + upperSec)`.
    *
    * Both sides carry a watermark and the range condition bounds the
    * event-time distance between matches, so Spark can evict buffered
    * rows once the watermark passes their join horizon — state size
    * tracks (watermark + window width) × arrival rate, never the whole
    * stream. Without the time-range condition a stream-stream join must
    * buffer one side forever; this is the ONLY shape that survives an
    * unbounded run.
    *
    * Column contract: `left`/`right` must not share column names; both
    * ts columns are TimestampType.
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
                         leftKey: String, rightKey: String,
                         leftTs: String, rightTs: String,
                         lowerSec: Long, upperSec: Long,
                         watermark: String = "1 hour"): DataFrame = {
    require(upperSec > lowerSec, s"empty window: [$lowerSec, $upperSec)")
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
      col(leftKey) === col(rightKey) &&
        col(rightTs) >= col(leftTs) + expr(s"INTERVAL $lowerSec SECONDS") &&
        col(rightTs) < col(leftTs) + expr(s"INTERVAL $upperSec SECONDS"))
  }

  def hourlyEventCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** LIVE distribution-drift monitor over an ingest stream — the
    * observability twin of the batch snapshot drift (q56 /
    * `Diff.distributionDrift`), the piece a months-running governed
    * ingest pairs with its dedup loops: each micro-batch's keyed
    * distribution (source domain, language, quality bucket, …) is
    * compared against a FROZEN reference — `referenceCounts` = the
    * blessed corpus's (key, cnt) category counts, O(categories) rows,
    * so the 100 TB corpus behind it is never re-read. Per batch it
    * writes, exactly-once WITHOUT a ledger (each output is a pure
    * function of (batch, frozen reference) into a batch-id-named
    * directory with overwrite — the `annServeStream` idempotence
    * pattern; a replayed batch rewrites identical bytes):
    *
    *  - `outPath/terms/batch=<id>` — the per-key Laplace-smoothed
    *    KL / total-variation contributions (which stratum moved: the
    *    actionable row of a drift alert);
    *  - `outPath/summary/batch=<id>` — one row (batch_id, rows, kl,
    *    tv, alert) with alert := tv ≥ tvAlert; kl/tv are the summed
    *    terms, kl directed KL(reference ‖ batch).
    *
    * Scale shape per batch: one O(batch) hash aggregation (map-side
    * partials carry (key, count)), a full-outer merge on O(categories)
    * keys, one broadcast totals row. Nothing grows with stream depth or
    * corpus size. Spec: `DriftMonitorStreamSpec`. */
  def driftMonitorStream(spark: SparkSession, inPath: String,
                         schema: org.apache.spark.sql.types.StructType,
                         keyCol: String, referenceCounts: DataFrame,
                         outPath: String, checkpoint: String,
                         tvAlert: Double = 0.05,
                         trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery = {
    require(tvAlert > 0 && tvAlert <= 1, s"bad tvAlert $tvAlert")
    val ref = referenceCounts
      .select(col(keyCol), col("cnt").cast("long").as("cnt_a"))
      .localCheckpoint()
    spark.readStream.schema(schema).parquet(inPath)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cb = batch.groupBy(col(keyCol))
          .agg(count(lit(1)).as("cnt_b"))
        val termsDf = graft.operators.Diff
          .distributionDriftCounts(ref, cb, keyCol)
          .withColumn("batch_id", lit(batchId))
        // one evaluation, two sinks: materialize the O(categories) rows
        // driver-side (bounded by the monitor-key contract — source/
        // lang/quality buckets, never document ids) instead of
        // localCheckpoint, whose blocks a months-running stream cannot
        // free in-operator
        val rows = termsDf.collect()
        val terms = spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), termsDf.schema)
        terms.coalesce(1).write.mode("overwrite")
          .parquet(s"$outPath/terms/batch=$batchId")
        terms
          .agg(sum(col("cnt_b")).as("rows"),
            round(sum(col("kl_term")), 6).as("kl"),
            round(sum(col("tv_term")), 6).as("tv"))
          .select(lit(batchId).as("batch_id"), col("rows"), col("kl"),
            col("tv"), (col("tv") >= lit(tvAlert)).as("alert"))
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$outPath/summary/batch=$batchId")
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }
}
