package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Regenerates PLANS.md — formatted physical plans of representative
  * queries with scale commentary. Dev tool: run after plan-affecting
  * changes (`sbt "runMain graft.tools.Plans"`).
  */
object Plans {
  val commentary: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """Scan + grouped aggregation. The date filter reaches the parquet scan
        |(PushedFilters: LessThanOrEqual(l_shipdate,...)), only the 7 needed
        |columns are read (ReadSchema), and the aggregation runs
        |partial -> exchange -> final, so the shuffle carries one partial row
        |per (flag, status, partition) — constant, not data-sized.""".stripMargin,
    "q5_region_revenue" ->
      """Star join. Every dimension side arrives broadcast
        |(BroadcastHashJoin), so the fact table streams through a single
        |stage with zero fact-side shuffle before the final grouped
        |aggregation. Filters on region/order-date are pushed to the scans.
        |At 100 TB the same plan holds: dims stay broadcastable; if a dim
        |outgrew the threshold AQE would fall back to shuffle joins, and
        |Skew.saltedJoin covers hot-key cases.""".stripMargin,
    "s1_cosine_topk" ->
      """Similarity search. The query set is broadcast
        |(BroadcastNestedLoopJoin over the small side), the cosine kernel is
        |the codegen'd graft_cosine expression, and ranking is the bounded
        |graft_topk aggregate: note partial_graft_topk BEFORE the exchange —
        |each map task ships at most k pairs per query, so shuffle volume is
        |O(k x partitions), independent of corpus size.""".stripMargin,
    "d3_ngram_jaccard_neardup" ->
      """Exact near-dup via prefix-filter inverted-index join (AllPairs
        |family). Shingle sets come pre-sorted from the graft_shingles
        |kernel; candidates are pairs sharing a token in the
        ||X| - floor(t|X|) + 1 prefix of a sorted set (provably complete),
        |pruned by the exact size-ratio test BEFORE the dedup shuffle, then
        |verified with the codegen'd graft_intersect_count two-pointer
        |merge. Pair work tracks postings-list sizes, not block² — the
        |candidate count at sf0.1 is 229k vs 3.2M same-language pairs.""".stripMargin,
    "a6_kmv_source_overlap" ->
      """KMV distinct-count set algebra (r18). The sketch build is ONE
        |corpus scan: ObjectHashAggregate runs partial_graft_kmv_agg BEFORE
        |the exchange, so each map task ships at most k=256 longs per
        |source — the shuffle is O(sources·k), corpus-size-independent.
        |Pairwise intersection estimates come from a BroadcastNestedLoopJoin
        |of the 20-row sketch table against itself (the tiny-table idiom),
        |with the codegen'd graft_kmv_intersect combine per pair. The exact
        |overlap subtree beside it (vocab self-join, ReusedExchange) is the
        |VERIFICATION HARNESS for the self-verifying oracle row — at 100 TB
        |the sketch path stands alone and the answer to "how much does
        |corpus A overlap benchmark B" costs a broadcast of O(groups·k)
        |bytes instead of a shingle re-join.""".stripMargin,
    "p11_gated_decontaminate" ->
      """KMV-gated decontamination (r19). By the time this plan exists the
        |gate has already run: two O(k=256)-long vocabulary synopses (one
        |ObjectHashAggregate scan per side, partial_graft_kmv_agg before
        |the exchange) and one driver-side graft_kmv_intersect estimate
        |decided the join is worth scheduling — at 100 TB that decision
        |costs a maintained corpus synopsis plus O(k) per new benchmark,
        |zero corpus bytes. The kept path below is t6's exact plan: the
        |benchmark postings broadcast (BroadcastHashJoin on the shingle
        |hash), the corpus side streams once, and the pair aggregation
        |ships one partial count per (train,bench) pair.""".stripMargin,
    "d1_exact_dedup_events" ->
      """Exact dedup as min_by(struct(payload), tieBreaker) aggregation:
        |partial_min_by runs BEFORE the exchange, so each map task ships one
        |candidate row per key — at high dup ratios the shuffle carries the
        |distinct keys, not the corpus (the row_number window formulation
        |would shuffle every row).""".stripMargin,
    "s2_lsh_topk" ->
      """Approximate ANN. One graft_srp_buckets kernel call computes all 16
        |table buckets per vector (plane matrix as a codegen reference
        |object); the corpus explodes to (table, bucket) rows, queries
        |broadcast with Hamming-1 multi-probe, candidates dedup on
        |(query, id) and rank through the bounded top-k aggregate. Each
        |query touches ~tables·(1+planes)/2^planes of the corpus instead of
        |all of it; recall measured 0.82 vs the exact baseline (LshRecallSpec
        |gate >= 0.6).""".stripMargin,
    "e2_asof_enrich" ->
      """As-of join. Spark lacks the operator; the composed form unions the
        |tagged sides and carries the last non-null right payload in one
        |window pass — a single hash exchange + sort on the key, no
        |range-join pair explosion. Checked against DuckDB's native
        |ASOF JOIN.""".stripMargin,
    "e1_sessionize" ->
      """Sessionization. Both window functions and the final aggregation use
        |the same (user_id) hash partitioning, so Catalyst plans exactly one
        |exchange; everything after it is sort + running computation within
        |partitions.""".stripMargin,
    "e3_interval_join" ->
      """Interval (range) join. The equi key keeps this a hash join — the
        |range predicate rides as the join condition, never a
        |BroadcastNestedLoopJoin over the cross product. Here the filtered
        |click anchors are small, so AQE broadcasts them (BuildLeft) and
        |the probe side streams through one stage; with two corpus-scale
        |sides the same plan degrades gracefully to a sort-merge join
        |hash-partitioned on the key, where matched rows are bounded by
        |window width x event rate per key.""".stripMargin,
    "d5b_embedding_lsh" ->
      """Embedding near-dup at scale. One graft_srp_buckets kernel call
        |computes all table buckets per vector; candidates come from the
        |(table, bucket) self-join with a row_number skew cap, dedup on
        |(id_a, id_b), then exactly ONE codegen'd cosine evaluation per
        |surviving candidate (the vector sides join back by id). Candidate
        |volume is n²/2^planes per table — the planes knob trades recall
        |(measured 0.81, gated >= 0.7) against pruning; never an all-pairs
        |product.""".stripMargin,
    "b4_embedding_index" ->
      """Persisted-SRP-index incremental embedding dedup. The plan shows
        |the production probe shape: the corpus side is a parquet SCAN of
        |the pre-bucketed index table (no srp kernel, no window cap — both
        |were paid once at write time) PRUNED at the storage layer — the
        |bucket table is partitionBy(shard)'d and the probe filters the
        |scan to the batch's touched-shard set with a literal predicate,
        |so the FileScan's PartitionFilters skips every shard=K/ directory
        |this batch never probes. The batch side explodes into 1+planes
        |Hamming-1 probes per table, candidates meet in a hash join on
        |(shard, tbl, bkt), and ONLY candidate ids join back to the index
        |vector table for the codegen'd cosine verify — the float columns
        |stay pruned out of the bucket join entirely. Per-batch cost
        |tracks batch size; the 100 TB corpus contributes a shard-pruned
        |narrow bucket scan.""".stripMargin,
    "d5d_embedding_lsh_auto" ->
      """Auto-density embedding near-dup — the production entry for the d5
        |family. The plan is d5b's bucket self-join with two additions
        |visible here: planes came from a corpus count (ceil(log2(n/32)),
        |so bucket occupancy — and per-bucket join work — stays ~constant
        |as the corpus grows; BENCH_SF1: 3.1x at 10x data where the fixed
        |5-plane config went 43x), and the probe side explodes each base
        |bucket into 1+planes Hamming-1 probes before its own skew cap, so
        |the denser bucket space keeps recall (0.97+ measured, gated in
        |EmbeddingLshSpec). Both sides re-capped -> candidates stay
        |<= maxBucket² per bucket even under adversarial skew.""".stripMargin,
    "q30_cube_grouping" ->
      """CUBE aggregation. Spark plans Expand (4 grouping-set replicas per
        |input row) feeding ONE partial -> exchange -> final aggregation:
        |the shuffle carries partial rows per (grouping set x key x
        |partition), not 4x the input — the same decomposable-aggregate
        |shape as a plain GROUP BY, just with a wider key space.""".stripMargin,
    "q36_scalar_subquery" ->
      """Correlated scalar subquery (spark.sql entry path). Catalyst
        |DECORRELATES it: the plan shows one aggregate over the inner side
        |joined back to the outer rows — never per-row re-execution of the
        |subquery. The same SQL text is the DuckDB oracle.""".stripMargin,
    "t6_decontaminate" ->
      """Benchmark decontamination. Both sides explode distinct shingle
        |postings; the benchmark side is broadcast (BroadcastHashJoin), so
        |the training corpus streams through a single stage — no shuffle of
        |corpus postings — and the overlap count aggregates with map-side
        |partials. At 100 TB the benchmark suite stays KB-scale: the shape
        |is scan-bound, which is the floor.""".stripMargin,
    "q15_percentiles" ->
      """Exact percentiles, both scale strategies composed by column
        |shape. The quantity columns (50 distinct values) take the
        |histogram path: groupBy(flag, value) partial-aggregates BEFORE
        |its exchange, so the shuffle carries the value histogram, and
        |the cumulative window sorts ~150 rows. The near-unique price
        |column takes the ranged path: ONE rangepartitioning exchange,
        |parallel per-partition sort, a streaming mapPartitions histogram
        |fold, and a broadcast join of tiny (partition, group) offsets —
        |no per-group serial stage anywhere (a plain row_number window
        |would bottleneck on 3 tasks at any cluster size).""".stripMargin,
    "t9_tfidf_topterms" ->
      """TF-IDF keyword extraction. Explode feeds a partial -> exchange ->
        |final (doc, term) count; document frequency aggregates the
        |already-deduped pairs (never re-touches the corpus); the idf join
        |broadcasts when the vocabulary fits (AQE decides); the top-k
        |window partitions by doc_id so parallelism tracks the corpus.""".stripMargin,
    "s4_quantized_topk" ->
      """Int8-quantized exact top-k. Quantization is a narrow projection
        |at the scan (no extra pass); the kernel and bounded top-k
        |aggregate then run on quantized vectors unchanged —
        |partial_graft_topk BEFORE the exchange, shuffle O(k x
        |partitions). At 100 TB quantization is the memory/IO lever: int8
        |elements pack ~4x denser on disk and in executor memory.""".stripMargin,
    "d7_edit_distance_pairs" ->
      """Fuzzy dedup via PassJoin. Both sides explode a bounded per-row
        |constant of (length, segIdx, content) keys — the probe side ~75,
        |the index side d+1 — and the candidate join is an equi-join on
        |content-bearing keys, so candidate volume tracks near-matches,
        |not length-band population (the length-band version paid 10M
        |levenshtein calls at sf0.1; this pays thousands). Verification
        |uses the threshold levenshtein. At 100 TB: per-row emit cost is
        |constant, the join partitions on segment content (high
        |cardinality, naturally spread), and no side is ever quadratic
        |before verification.""".stripMargin,
    "p2_incremental_ingest" ->
      """Incremental ingest (flagship composition). The Bloom filter and
        |the screened batch are checkpointed, so the corpus feeds the
        |bloom build exactly once and the batch materializes once (was 27
        |scan nodes before the checkpoints, 9 after). What remains
        |corpus-side is the keyed anti-join plus the MinHash signature
        |subtree, which Spark re-plans per reference (band side +
        |verification) — the scaladoc's persisted-signature-index note is
        |the production fix for daily re-ingest. The corpus NEVER joins
        |itself; candidate volume tracks the batch's band-bucket
        |occupancy.""".stripMargin,
    "b1_bloom_incremental" ->
      """Bloom incremental-dedup screen. The filter builds as
        |partial_graft_bloom_agg -> exchange -> final (each map task ships
        |ONE 32 KiB partial, never keys), then rides into the batch scan
        |as a broadcast one-row frame (BroadcastNestedLoopJoin over a
        |single row); the membership test is the codegen'd
        |graft_bloom_contains — k bit probes per row, no batch shuffle.
        |At 100 TB the corpus is scanned once per ingest cycle to build
        |the filter; every subsequent batch never touches it.""".stripMargin,
    "b1b_bloom_sharded" ->
      """Sharded Bloom screen — the 10^10-key path. The build groups the
        |corpus by hash-range shard (partial_graft_bloom_agg per shard
        |BEFORE the exchange: one small partial per (task, shard)); the
        |probe routes each batch row to its shard and meets its ONE filter
        |row in a ShuffledHashJoin on the shard id — no filter broadcast
        |anywhere in the plan, which is the point: an executor holds only
        |the shard its partition needs. The left join maps empty shards to
        |maybe_dup = false (definite absence).""".stripMargin,

    "b3b_minhash_index" ->
      """Persisted-index incremental MinHash probe. The plan shows the
        |scale contract: the CORPUS side reads back `signatures`/`bands`
        |parquet (narrow scans of precomputed columns — zero corpus TEXT
        |scans, no graft_minhash/graft_shingles kernel on the corpus
        |subtree, no per-probe window: the bucket cap was baked at index
        |write time), and the band scan is PRUNED at the storage layer:
        |the table is partitionBy(shard)'d, the probe derives the batch's
        |touched-shard set (a collect bounded by the shard count) and
        |filters with a literal predicate — the FileScan's
        |PartitionFilters line shows shard IN (...), so non-matching
        |shard=K/ directories are never read. Only the BATCH side runs
        |the signature kernels. At daily-ingest scale the index is
        |written once per corpus growth and every batch pays its own
        |signatures plus two small joins over its own shards' worth of
        |band data — never the full index.""".stripMargin,

    "q59b_quality_mix_bounds" ->
      """Boundary-broadcast quality mix. The binning stage has NO window
        |operator and no global sort: the bin is a codegen'd chain of
        |struct comparisons against the 9 boundary literals extracted in
        |pass 1 (range exchange of narrow pairs, per-partition sort, tiny
        |collects), composed with the stateless hash-keep filter — the
        |whole pass-2 plan is scan -> project -> filter. Contrast q59,
        |whose ntile needs a single-partition global sort of the scored
        |corpus.""".stripMargin,

    "t18_source_overlap" ->
      """Cross-source vocabulary overlap. The per-source distinct
        |vocabulary is ONE (src, shingle) exchange — at runtime AQE
        |replaces the other three references with ReusedExchange (verified
        |with Probe's finalized plan), so the corpus text is scanned and
        |shingled once. Pairwise work is the shingle-keyed self-join whose
        |volume is sum C(df,2) per shingle — bounded by the SOURCE count,
        |never the document count — and the per-source sizes arrive
        |broadcast. Zero-intersection pairs never materialize.""".stripMargin,

    "t18b_source_overlap_minhash" ->
      """MinHash source overlap — t18's corpus-scale twin. The per-doc
        |signature is one graft_minhash kernel call fused into the scan
        |projection; the per-source fold is a (src, pos) min-aggregation
        |with partial_min BEFORE the exchange, so the shuffle carries at
        |most sources x k x partitions partial minima regardless of corpus
        |size. The pairwise compare joins two sources x k frames (one
        |broadcast) — driver-trivial at any scale. Estimator stderr
        |~= sqrt(J(1-J)/64).""".stripMargin,

    "d8b_span_scrub" ->
      """Duplicated-span scrub (the Lee-et-al transform). Three shuffles,
        |all bounded by the DUPLICATED subset: the >1-doc window-hash
        |aggregate (two-phase count-distinct), the marked-position
        |collect_list per doc, and the final order. The corpus text itself
        |never shuffles — it joins the (tiny) marked-position lists
        |broadcast, and the excision is a single codegen'd projection:
        |covered = union of marked windows, kept = array_except over the
        |position sequence (hash-set lookup), rejoin. Linear per document,
        |no window operator, no token explosion on the text path.""".stripMargin,

    "p4_leakage_safe_split" ->
      """Leakage-safe split. The corpus-side plan is exactly one left join
        |against the cluster map (orders of magnitude smaller than the
        |corpus — only docs in some near-dup pair) plus the stateless
        |codegen'd bucket projection on the CLUSTER key; the pair graph
        |and connected components run on the pairs only. No corpus
        |self-join, no window, at most one corpus shuffle (and AQE can
        |broadcast the cluster map at runtime when it is small).""".stripMargin,

    "p5_indexed_ingest_loop" ->
      """The governed streaming ingest loop, run as two generations. Per
        |batch the plan family is: banded self-join WITHIN the batch only
        |(batch-sized buckets, never the corpus) feeding the greedy-star
        |screen — a single distinct over the pair output's id_b side, no
        |iterative cluster rounds in the loop — one band-key probe join
        |against the persisted index's PRE-CAPPED bucket table (zero
        |corpus text reads — the verify join touches stored signatures,
        |not documents), and batch-sized appends. The corpus contributes
        |nothing per batch but pruned index scans: at 100 TB the
        |per-batch cost tracks the BATCH, which is the whole point of
        |the ledger/index design — measured flat across two decades
        |(BENCH_SF10: 3.1x at 100x data). The bench time is the
        |END-TO-END pipeline including the one-off index build over 60%
        |of the corpus (~b3b's cost) and two generations of physical
        |parquet writes — a pipeline row like p1/p2, not an operator
        |row. Round 9 cut the loop's fixed overhead ~30%: per-bucket
        |occupancy comes from ONE shard-pruned raw read of the
        |occupancy/ side table (committed cap view at the batch
        |watermark + replay-presence flag from the same checkpointed
        |scan), the epoch fence is name-encoded claim files (driver-side
        |metadata ops, not per-mutation Spark jobs), and sharded appends
        |repartition by shard so each lands at most one file per
        |occupied shard. The probe's band scan stays storage-pruned via
        |the partitionBy(shard) layout (PartitionFilters, see b3b).
        |Round 10 cut the remaining floor again (48 -> ~20 jobs/batch,
        |warm seconds -30% in IngestProfile): the batch tunes execution
        |from its own measured geometry — shuffle partitions sized to
        |the EXPANDED band/probe rows, and the plan PINNED (AQE off)
        |only below a 2M expanded-row ceiling where per-stage job
        |submission is pure fixed cost; heavy batches keep AQE's
        |skew/coalesce machinery (a pinned 8M-probe-row sf10 batch
        |measured 2.2x slower than adaptive) —
        |one front job folds ledger state x batch geometry, one late job
        |folds novel/capped/replay counts, a row-group-pruned torn-tail
        |probe lets the CLEAN path append without self-healing
        |anti-joins, the output write doubles as the staging
        |materialization, index schemas/params are JVM-cached (zero
        |per-batch inference jobs), and the one-row ledger commit is a
        |driver-side parquet-java write (no Spark job).""".stripMargin,

    "p6_embedding_ingest_loop" ->
      """p5's embedding twin — same governed-loop plan family: SRP bucket
        |self-join WITHIN the batch only (multi-probe fan bounded by the
        |index's plane count) feeding the greedy-star screen (one
        |distinct, no cluster rounds), one bucket-key probe join against
        |the persisted index's pre-capped bucket table (corpus vectors
        |touched only for verified candidates), batch-sized appends.
        |Per-batch cost tracks the batch; the corpus contributes pruned
        |index scans only — the bucket scan shard-pruned via
        |PartitionFilters (see b4) and the cap occupancy from ONE
        |shard-pruned raw occupancy read (see p5), both O(batch). The
        |decade ratio (BENCH_SF10: ~19x at 100x) is the log-growing
        |multi-probe fan of the auto plane density, not the loop. Shares
        |p5's round-10 pinned-plan/front-fold/late-fold/clean-path floor
        |cuts; its within-batch screen keeps the EAGER adaptive cap
        |(unlike p5's lazy window cap) — the no-hot fast path skips the
        |window sort on the wide multi-probe bucket rows, measured worth
        |~12% of the whole entry at sf0.1, and the screen's multi-probe
        |checkpoint is freed the moment the batch output write lands.""".stripMargin,

    "p8_digest_ingest_loop" ->
      """The governed triad's THIN member — the exact-digest loop. Same
        |ledger/fence skeleton as p5/p6 (front fold, committed-watermark
        |reads, per-batch output overwrite doubling as the staging
        |materialization, ledger row last) but the screen collapses to
        |two joins: a grouped min per digest (within-batch
        |representative — no window, no signature kernels, no bucket
        |fan-out anywhere in the plan) and the committed-digest
        |LeftSemi against the shard-pruned index slice (PartitionFilters
        |= shard INSET, see b5). No occupancy read, no cap window, no
        |self-healing band derivation — which is why the whole entry
        |runs ~3x faster than p5 on the same corpus slice count and the
        |BENCH_SF10 digest_deletion_audit decade stays <= 2.4x on every
        |phase. The family exists for media/URL/checksum dedup: the
        |index rows are (id, 64-char digest) regardless of payload
        |size.""".stripMargin,

    "t11_bigram_lm_score" ->
      """Bigram LM scoring. The (w1,w2) count aggregate runs
        |partial -> exchange -> final; context counts derive from the
        |count table (never a second corpus pass); the scoring probe
        |explodes the corpus a second time and joins on the bigram key
        |with aligned hash partitioning; the per-doc average is a
        |decomposable aggregate on doc_id. The duplicated count subtree
        |(join build + context derivation) is canonical-identical, so
        |runtime exchange reuse dedupes it. Shuffle volume tracks the
        |bigram vocabulary and the exploded corpus — at 100 TB the
        |documented trade is frequency-pruning the count table to top-K
        |with a smoothed default tail.""".stripMargin,
    "q41_temperature_mix" ->
      """Temperature mixing. Two scan-sized-to-tiny aggregations (stratum
        |counts, then a one-row total), a broadcast of the per-stratum
        |thresholds, and a codegen'd hash-bucket filter over the corpus —
        |the corpus itself is never shuffled. The same plan at 100 TB is
        |scan-bound, which is the floor for a full-corpus resample.""".stripMargin,
    "d11_semdedup" ->
      """SemDeDup: cluster-scoped semantic dedup. Assignment is one
        |shuffle-free codegen'd map pass (the frozen IVF centroid matrix
        |rides into graft_ivf_probes as a literal — the s3 ANN artifact
        |reused for curation); the pairwise cosine verify is an equi-join
        |on the cell id, so candidate volume is sum(cell population^2),
        |never corpus^2, and the maxCell row_number cap bounds any
        |pathological cell exactly like the LSH-bucket caps. The greedy
        |star (anti-join on the dropped id_b side) keeps one
        |representative per dup group with no iterative clustering.""".stripMargin,
    "q60_dsir_sample" ->
      """DSIR importance resampling (Xie et al. 2023). Fit is ONE corpus
        |scan whose hashed-n-gram bucket counts partial-aggregate map-side
        |(shuffle O(partitions x buckets), corpus-size-independent; model
        |collect O(buckets)). Scoring is a SHUFFLE-FREE codegen'd map pass:
        |the 9-dp-rounded log-ratio vector rides into the generated code
        |as a literal array (graft_bucket_score), so there is no join
        |against a feature table and no per-row allocation. Selection is
        |hash-Gumbel keys (RNG-free, key-stable) + TakeOrdered top-k —
        |at 10^10 docs the same key column thresholds at an approx
        |quantile instead of ranking. The whole pipeline touches the
        |corpus exactly twice and shuffles none of it.""".stripMargin,
    "q42_bloom_runtime_filter" ->
      """Bloom runtime-filter join. The dim side reduces to one 32 KiB
        |filter (decomposable aggregate), broadcast-screens the fact scan
        |BEFORE the join, and the join itself removes the false
        |positives — result identical to the plain join, but only
        |maybe-matching fact rows reach the join's exchange. With a
        |selective dim at 100 TB that is the difference between shuffling
        |the fact table and shuffling a rounding error of it.""".stripMargin,
    "t14_gopher_rules" ->
      """Gopher structural quality rules. ONE narrow projection computes
        |every metric — including the top-word share, which is a run-length
        |scan over the sorted token array instead of the tempting
        |explode -> (doc, word) -> max pipeline (that would shuffle every
        |token of the corpus for a per-document statistic). The only
        |Exchange in the plan is the presentation sort; drop the final
        |orderBy in pipeline use and the operator is entirely
        |shuffle-free.""".stripMargin,
    "e5_asof_forward" ->
      """Forward as-of join (next event at-or-after). Same sort-based shape
        |as the backward e2: union both tagged sides, ONE hash exchange on
        |the key, one window sort; first(ignoreNulls) over the forward
        |frame replaces last() over the backward frame. No range-join pair
        |explosion at any scale.""".stripMargin,
    "q56_distribution_drift" ->
      """Drift monitor. Each snapshot aggregates to (category, count) with
        |map-side partials — the shuffle carries O(distinct categories),
        |not rows. The totals aggregate is a single row, broadcast back
        |(BroadcastNestedLoopJoin over a 1-row side is the scalar-subquery
        |shape). Nothing in the plan scales with corpus size.""".stripMargin,
    "s6_pq_topk" ->
      """Product-quantization ANN. The corpus reduces to m small ints per
        |vector via the codegen'd graft_pq_encode projection (the codebook
        |is a plan literal — no executor side input), ADC scores ride the
        |broadcast query join, and partial_graft_topk bounds the shuffle to
        |the shortlist. The shortlist — O(queries·rerank) rows, independent
        |of corpus size — then re-joins the float vectors for exact
        |re-ranking. At 100 TB the compressed scan reads 16x fewer bytes
        |and only shortlisted rows ever touch full precision.""".stripMargin,
    "s7_ivfpq_topk" ->
      """IVF-PQ composed index. The corpus projection carries (cell, codes)
        |— both codegen'd kernel calls in ONE pass; queries probe nprobe
        |cells (hash join on the cell id, broadcast query side), so a query
        |visits ~nprobe/c of the corpus AND reads each visited row as m
        |ints: the pruning and compression levers multiply. Shortlist
        |re-rank as in s6.""".stripMargin,
    "t16_token_entropy" ->
      """Token-distribution entropy. Like t14, the multiplicity profile is
        |a run-length scan over the sorted token array inside ONE narrow
        |projection — the only Exchange is the presentation sort. The
        |explode -> (doc, token) count alternative would shuffle every
        |token of the corpus for a per-document number.""".stripMargin,
    "q57_funnel_steps" ->
      """Ordered funnel. One conditional-min aggregation per step, each
        |needing the previous step's timestamp — the chain re-joins the
        |event table per step but EVERY groupBy/join is keyed on user_id:
        |three hash exchanges total for a 3-step funnel (the per-user
        |aggregate sides broadcast at this scale; at 100 TB AQE picks the
        |shuffle join and the partitioning is reused). No windows over
        |event history, nothing quadratic.""".stripMargin,
    "q58_retention_cohorts" ->
      """Retention triangle. Cohort assignment is a min-aggregation,
        |activity is a distinct (user, week) projection — both decompose
        |with map-side partials on the user key; the final cell count
        |shuffles O(users x active-weeks) rows, never raw events.""".stripMargin,
    "t17_semantic_decontaminate" ->
      """Semantic decontamination. The benchmark side broadcasts
        |(BroadcastNestedLoopJoin over the small side), the corpus streams
        |once through the codegen'd graft_cosine kernel, and the per-id max
        |is partial -> exchange -> final — the shuffle carries one row per
        |corpus id, not the pair fan-out.""".stripMargin,
    "q61_partitioned_pruned_read" ->
      """Hive-partitioned corpus layout. The write laid one directory per
        |lang value; the read's lang filter lands in the FileScan's
        |PartitionFilters — directories are pruned from the listing
        |BEFORE any bytes are read (and the lang column itself is not in
        |the data files at all). At 100 TB a one-partition read costs one
        |partition's bytes; a filter-after-scan would cost the corpus.""".stripMargin,
    "b5_digest_index" ->
      """Persisted digest-index probe — the EXACT-dedup third index
        |family. The corpus side is a narrow (id, dig) FileScan of the
        |sharded index table with PartitionFilters = shard INSET (the
        |batch's touched digest shards; every other shard=K/ directory
        |is pruned from the listing) — corpus payloads are NEVER read,
        |the index carries ~72 bytes per object regardless of media
        |size. The screen itself is two anti-joins: within-batch min-id
        |representative per digest (one grouped min + equi-join, no
        |window) and the committed-digest LeftSemi/LeftAnti pair. No
        |bands, caps or occupancy anywhere in the plan — collision IS
        |duplication, which is what makes this the thin family.""".stripMargin,
    "s8_ivf_indexed_topk" ->
      """Persisted IVF layout probe — the ANN serving artifact. The corpus
        |was written partitionBy(cell) under the frozen coarse quantizer;
        |the probe derives the query set's nprobe-cell IN-set (a collect
        |bounded at queries x nprobe) and filters the layout scan with the
        |literal set, so the FileScan's PartitionFilters line shows
        |cell IN (...) and every other cell=K/ directory is pruned from
        |the file listing BEFORE any bytes are read — the partition-pruned
        |twin of s3's in-flight cell join (same kernel, bit-identical
        |result; oracle is s3's verbatim). At 100 TB a probe costs
        |~nprobe/c of the corpus BYTES at the storage layer, and the
        |centroid matrix rides in the layout's own params table, so a
        |writer/prober geometry mismatch is unrepresentable.""".stripMargin,
    "s9_ivfpq_indexed_topk" ->
      """PQ-coded IVF layout probe — both storage levers in one plan. The
        |ADC stage's layout FileScan shows the two prunings multiply:
        |PartitionFilters = cell IN (...) (only the probed cell=K/
        |directories are listed) AND ReadSchema = (vec_id, codes) — the
        |4·dim-byte float vector column is never decoded for scoring,
        |because the codes were encoded ONCE at write time under the
        |layout's own persisted codebooks. Only the rerank-50 shortlist
        |(O(queries·rerank) rows, corpus-size-independent) joins back to
        |the full-precision vectors, again under the same cell
        |PartitionFilters. Bit-identical to the live s7 pipeline —
        |oracle is s7's verbatim.""".stripMargin,
    "b3c_minhash_index_delete" ->
      """Deleted-index probe on the PENDING-tombstone path (deletes
        |appended, compaction not yet run). The tombstone id set rides as
        |a BroadcastHashJoin LeftAnti above each index-table scan — an
        |O(tombstones) broadcast, never a corpus-side shuffle — and the
        |band scan underneath keeps its literal shard PartitionFilters
        |(the anti-join composes with, not instead of, the storage
        |pruning). Zero corpus text scans, as in b3b; once compaction
        |purges the rows the anti-joins vanish from the plan
        |entirely (b4c shows that shape).""".stripMargin,
    "b4c_embedding_index_delete" ->
      """Deleted-SRP-index probe AFTER compaction: the rewrite physically
        |dropped the tombstoned rows and folded the tombstone table, so
        |the plan is byte-identical in shape to b4 — no anti-join, no
        |residue; deletion costs the index nothing at probe time once
        |reclaimed. (The pending-path overhead that b3c shows is the
        |transient state between a delete and the next compaction.)""".stripMargin,
    "s10_ivf_layout_delete" ->
      """Takedown on the ANN SERVING layout, probed after the physical
        |purge. The plan is byte-identical in shape to s8 — the same
        |cell IN (...) PartitionFilters, no tombstone anti-join, no
        |residue — because compactIvfLayout rewrote ONLY the cell=K/
        |directories that held tombstoned rows (one id+cell
        |column-pruned scan finds them; the partition layout makes the
        |takedown rewrite O(hit cells), never a corpus rewrite) and
        |folded the tombstone files. Between the delete and the purge,
        |the pending path is one broadcast LeftAnti above the pruned
        |scan — O(tombstones), the b3c shape. At 100 TB a takedown
        |costs: one tombstone append now, a few cell-directory rewrites
        |at the next compaction, zero at probe time after that.""".stripMargin,
    "s11_knn_graph" ->
      """Corpus k-NN graph — the one s-family operator with NO
        |broadcast() hint: the query side is the corpus itself, so the
        |candidate join is a plain cell-keyed equi-join and CATALYST
        |picks the physical strategy from stats. At the verify SF the
        |dump below shows BroadcastHashJoin (the fanned probe side is
        |tiny); past the broadcast threshold the same declarative plan
        |becomes a shuffle join with both sides exchanged once on cell —
        |exactly the size-based fallback the broadcast-small probe
        |operators (s3/s8) never need. The base side carries one argmax
        |cell per vector, the probe side explodes to nprobe cells (one
        |graft_ivf_probes kernel call each way), and a pair can meet in
        |at most one cell — no dedup exchange before the ranking, which
        |is the bounded partial_graft_topk aggregate: each map task
        |ships <= k edges per query. Pair work is n^2·nprobe/cells =
        |n^1.5·nprobe/4 under the 4·sqrt(n) law — sub-quadratic by
        |construction where the naive graph is n^2 — and the maxCell
        |cap bounds a hot cell's corpus side so one dense region cannot
        |go quadratic (the cap's hot-bucket probe shows as a grouped
        |count + semi/anti joins only when a cell actually exceeds it;
        |the clean path is cap-free).""".stripMargin,
    "s12_knn_graph_increment" ->
      """Incremental k-NN graph maintenance — the rebuild-free plan. The
        |rebuild's n^2·nprobe/cells pair work never appears: the three
        |unioned edge streams are (a) batch queries x the capped union
        |base (the corpus is SCANNED once here, never self-joined), (b)
        |old corpus queries x the batch base only — their corpus-side
        |edges ride in from the old graph as a plain scan — and (c) the
        |old graph itself; one bounded partial_graft_topk re-rank
        |finishes it. Correctness is algebra, not approximation:
        |candidate sets decompose by side and top-k is monotone, so the
        |output is bit-identical to the rebuild (s11's oracle verbatim,
        |and the spec proves it under a binding hot-cell cap too — the
        |batch takes exactly the cap slots the corpus left open, which
        |is why the monotone-id contract is enforced up front). At
        |100 TB: a daily batch costs two corpus scans + batch-cell
        |pairs, the graph twin of the governed indexes' per-batch-work-
        |tracks-the-batch claim.""".stripMargin,
    "q63_training_shards" ->
      """Deterministic global shuffle into training shards (write +
        |read-back; the dumped plan is the read-back's permutation
        |check). The WRITE side is the interesting plan: ONE Exchange
        |(hashpartitioning on the shard id — tasks hold whole shards) +
        |a task-local Sort leading with the partition column. That
        |leading shard key is load-bearing: FileFormatWriter requires
        |task rows ordered by the partitionBy columns and silently
        |inserts its OWN shard-only sort when the incoming order does
        |not satisfy it — scrambling the shuffle order the operator
        |exists to produce (caught by the file-order spec on first
        |run). Both the shard id and the within-shard order are the
        |portable mixed hash of salted keys, so the DuckDB oracle
        |re-derives the WHOLE permutation; `ord` is stored, making each
        |shard self-describing. At 100 TB: sort cost is per-shard,
        |never global; a new salt is a fresh epoch permutation with no
        |new logic.""".stripMargin,
    "q64_zorder_layout_read" ->
      """Z-ordered layout read — multi-dimensional data skipping. The
        |dumped scan shows BOTH range predicates as PushedFilters
        |(GreaterThanOrEqual/LessThanOrEqual on l_orderkey AND
        |l_partkey): against this layout those pushed filters actually
        |BITE at the row-group level, because the write laid rows along
        |the Morton curve of the two columns and every row group's
        |(min,max) stat box is a tight rectangle in both dimensions.
        |Against a 1-D sorted layout the same plan prunes on one column
        |only — ZOrderSpec measures 18 vs 122 of ~600 files read for the
        |identical predicate by applying the reader's pruning rule to
        |the real file stats. The write side is one min/max aggregate +
        |one range exchange on the (codegen'd, UDF-free) bit-interleave
        |code + a per-task sort — a clustered rewrite paid once per
        |corpus generation, exactly like the IVF serving layout.""".stripMargin,

    "q64b_zorder3_layout_read" ->
      """Three-column Z-order (r15, the consolidated n-column
        |Layouts.zValue): the scan shows all THREE range predicates as
        |PushedFilters — and on this layout all three bite, because the
        |Morton interleave gives every row group a tight box in every
        |participating dimension. The decisive measurement is the
        |third-column-only band in ZOrderSpec: the 3-D layout reads
        |90/602 files where the 2-D layout (blind to l_suppkey) reads
        |602/602 — a predicate that doesn't mention the leading sort
        |columns still prunes. Same write-side cost shape as q64; the
        |range scaling is overflow-safe for wide domains (hash ids,
        |microsecond timestamps) via exact Decimal arithmetic, so the
        |curve cannot silently degrade to random order.""".stripMargin,

    "q64c_zorder_lifecycle_read" ->
      """Z-order LIFECYCLE read (the OPTIMIZE operating loop): the
        |layout served here went clustered-write → cheap unclustered
        |append (no range exchange — the ingest path; the NULL guard is
        |fused into the write job as a raise_error trap, one job per
        |append) → fragmentation-measured INCREMENTAL recluster (r16):
        |the trigger fired past the byte-fraction threshold and the
        |bounded pass rewrote only the unclustered tail merged with the
        |clustered files it interleaves with — chosen by a footer-
        |statistics overlap probe (metadata-only, zero data IO against
        |the clustered generation), committed via a roll-forward
        |manifest; this tail is beyond the clustered domain, so the
        |rewrite is exactly the tail. The dumped scan is identical in
        |shape to q64's — both range predicates pushed and biting on
        |tight post-recluster row-group boxes — which is the point:
        |every lifecycle state is an execution artifact, and the read
        |plan after maintenance is indistinguishable from a fresh
        |clustered write. At 100 TB the loop splits the two rates:
        |appends cost one parquet write, and maintenance rewrites the
        |FRAGMENTED FRACTION (BENCH_SF10 zorder_audit: 93 MB of a
        |339 MB corpus in 7.0 s vs the 16.1 s global rewrite; the
        |global pass remains the documented scattered-tail
        |fallback).""".stripMargin,

    "p9_cross_shard_reconcile" ->
      """Cross-shard duplicate reconciliation (the multi-stream
        |deployment's periodic batch pass). The reconcile runs eagerly
        |inside the entry, so the dump shows the post-convergence
        |serving read (union of both shards' scrubbed outputs); the
        |interesting plan is the pass itself, which is the d2 plan
        |shape over the UNION of the served corpora: both shards' batch
        |directories scan under one basePath read each, band/bucket
        |rows shuffle once on (band, bkey), the capped self-join emits
        |candidates, and the exact-Jaccard verify runs the codegen'd
        |two-pointer intersect — never all-pairs. The drop set (bounded
        |by the cross-shard duplicate count, broadcast-small) routes
        |back per shard as a tombstone append + a broadcast-tombstone
        |scrub of only the HIT batch directories; a second pass finds
        |nothing (the dropped side is physically gone from the union).
        |At 100 TB the pass costs one LSH sweep of the served corpora
        |per reconcile cadence — the same order as one governed
        |compaction, and independent of shard count.""".stripMargin,

    "q64d_zorder_stream_ingest_read" ->
      """q64c's lifecycle driven as a STREAM (zOrderedIngestStream):
        |the tail arrived as two micro-batches, each committed
        |exactly-once through appendZOrderedExactlyOnce — staged write,
        |roll-forward manifest, and a batch-id ledger that lives inside
        |`_zorder/` and is carried across every restamp, so a replayed
        |batch stays a no-op even after a recluster rewrote its files —
        |with the measured trigger firing the incremental recluster
        |in-stream. The dumped read plan is the same pruned scan as
        |q64/q64c: streaming ingest is one more lifecycle state the
        |result contract never sees. At 100 TB this is the lakehouse
        |`OPTIMIZE ZORDER BY` loop as a continuous sink: per-batch cost
        |is one staged parquet write + O(1) renames, maintenance cost
        |tracks the fragmented fraction on the trigger's cadence, and
        |crash/replay safety needs no external transaction log — the
        |layout's own generation record is the log.
        |
        |The pruned read goes through readMaintained — the snapshot
        |contract's production read entry; identical plan shape over an
        |explicit file list.""".stripMargin,

    "p10_cross_shard_reconcile_digest" ->
      """p9's exact-dedup twin over the governed digest deployment
        |(reconcileShardOutputs with the Digests family, on the shared
        |reconcileCore).
        |The union pass here is a digest equi-join STAR, not LSH: one
        |groupBy(dig) over the served corpora finds duplicate groups
        |(shuffle keyed on the digest — map-side partial counts, one
        |row per distinct digest on the wire), and each group pairs its
        |global min id with every other member, so pair volume is
        |linear in the group size even for a pathological hot digest
        |(an all-pairs self-join would go quadratic). Cross-shard
        |filtering, the broadcast-small drop set, per-shard tombstone +
        |hit-only scrubs, and the loud id contract (non-null, unique,
        |long-castable — all checked in ONE aggregate) are the shared
        |core's, verbatim. The dump shows the post-convergence serving
        |read: both shards' scrubbed batch directories under plain
        |pruned scans. At 100 TB: one digest-keyed shuffle of (id, dig)
        |pairs per reconcile cadence — cheaper than p9's LSH sweep by
        |the width of a signature, the natural cadence pass for the
        |exact family.""".stripMargin)

  /** Prose-only sections appended after the plan dumps (deployment
    * patterns with no single query plan to show). Regeneration keeps
    * them because they live HERE, not hand-edited into PLANS.md. */
  private val epilogue: String =
    """
      |## multi-stream ingest scale-out (deployment pattern, no plan dump)
      |
      |One governed stream is serial by design (the ledger watermark is a
      |total order over one index). Scaling ingest THROUGHPUT beyond one
      |stream is a deployment pattern, not a new operator: route the corpus
      |with any deterministic id router (`pmod(hash(id), N)`, id ranges,
      |source/domain) into N independent indexes, one governed stream per
      |shard. Every fence is per index path — epoch claims, ledgers,
      |tombstones, quarantine — so disjoint shards cannot collide; each
      |shard's id stream stays monotone under an id-preserving router; and
      |each shard self-compacts/scrubs independently. Semantics boundary
      |(documented, spec-pinned): near-dup screening is WITHIN a shard. Route
      |by a content-stable key when near-dup co-location matters, or run the
      |periodic cross-shard batch dedup operators (d-family) over the union
      |of shard outputs when cross-shard duplicates are in contract.
      |`ShardedGovernedIngestSpec` proves concurrent commits on disjoint
      |shards (parallel driver threads, one `spark.newSession()` per shard),
      |within-shard screening across a shard's committed history, the
      |cross-shard-miss boundary, and exactly-once replays under concurrency.
      |In-process caveat: per-batch execution tuning (shuffle partitions /
      |AQE pinning) is session-scoped and its save/restore is per batch, not
      |atomic across threads — co-located shards MUST each run on their own
      |`spark.newSession()` (same SparkContext, isolated SQL conf; the spec
      |asserts the parent session's knobs are never touched and each shard's
      |are restored). Separate drivers per shard are the natural deployment
      |anyway. Cross-shard duplicates (the documented within-shard screening
      |boundary) are closed by the periodic reconcile family —
      |`Dedup.reconcileShardOutputs`, one function for the three families:
      |MinHash (plan dumped above as p9_cross_shard_reconcile), SRP
      |embeddings and exact digests (p10), on one shared `reconcileCore`.
      |
      |Mixed-family deployments compose per family over the same corpus: a
      |production pipeline may run MinHash text shards and digest shards
      |side by side (each shard path holds ONE index family — the family is
      |a property of the shard, fixed by the router). Reconcile passes are
      |then independent per family: each pass unions only ITS family's
      |served outputs, applies its own pair finder, and feeds drops back
      |through its own shards' takedown machinery; nothing is shared across
      |families but the core's mechanics, so passes can run on independent
      |cadences (digest equi-join cheap and frequent, LSH sweeps on the
      |compaction cadence) and their drop sets cannot collide — ids are
      |globally unique across the whole deployment by the same router
      |contract each pass already checks loudly. Spec-pinned (r17):
      |`CrossShardReconcileSpec` "mixed-family deployments compose per
      |family" runs a MinHash and a digest deployment over the same corpus
      |with a planted near-dup (distinct digests) and a planted exact dup
      |(dissimilar texts) — each pass converges exactly its own duplicate
      |kind, leaves the other family's indexes and served corpora untouched,
      |and both are idempotent against the composed state.
      |
      |## z-order incremental recluster (lifecycle mechanics, no single plan dump)
      |
      |The global z-order rewrite was the one remaining whole-corpus
      |mutation in the repo; `Layouts.reclusterZOrderedIncremental` (r16)
      |replaces it for the common case by bounding each maintenance job to
      |the FRAGMENTED fraction. Mechanics: (1) the unclustered tail is the
      |set difference of the directory listing and the stamped generation
      |record — no scan; (2) the clustered generation's per-file key boxes
      |come from parquet FOOTER statistics, a distributed metadata pass
      |with zero data IO; (3) the tail reduces to its distinct coarse grid
      |cells in scaled key space (exact BigInt scaling, monotone, so the
      |grid test is a sound superset at any resolution — a dimension-dense
      |tail coarsens the grid instead of giving up), and a broadcast
      |cell-vs-box join selects the overlapped files; (4) the bounded
      |rewrite (tail + overlapped) stages into an underscore-invisible
      |directory and commits via a roll-forward manifest created by one
      |atomic rename — every crash inside the commit window rolls forward
      |idempotently at the next lifecycle call, a crash before the
      |manifest leaves only invisible debris. Out-of-domain tails
      |(time-ordered ingest) probe nothing and rewrite exactly themselves;
      |tails interleaved with more than `maxRewriteFraction` of the bytes
      |fall back to the global rewrite. Measured (BENCH_SF10
      |zorder_audit): the trigger probe is a flat ~0.2 s listing at both
      |scales; at sf10 the bounded pass rewrites 93-100 MB of a ~340 MB
      |corpus in 7-8 s against a 16.1 s global rewrite, while at sf0.1 the
      |fixed probe/manifest jobs invert the comparison (4.1 s vs 1.7 s) —
      |the pass pays off exactly in the large-corpus regime it exists for.
      |
      |## round adjudication notes
      |
      |Round-over-round drift adjudications (the r14/r16/r17 A/B tables,
      |suspect-list dispositions, calibration findings) are append-only
      |history, not plan documentation — they live in NOTES.md so this
      |regenerated file's diff stays plan-sized.
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.01"
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of representative queries\n\n")
    sb.append("Generated by `graft.tools.Plans` at sf0.01 (plan shapes are\n")
    sb.append("scale-independent; AQE may re-plan joins at runtime from real\n")
    sb.append("stats). Regenerate after plan-affecting changes.\n")
    // per-query dump budget: the MinHash literal arrays eat ~4k chars of
    // any signature-kernel plan, so the deleted-index probe needs more
    // room for its corpus-side subtree (the anti-joins the commentary
    // points at) to survive truncation
    val dumpChars = Map("b3c_minhash_index_delete" -> 24000)
      .withDefaultValue(6000)
    commentary.foreach { case (name, comment) =>
      val df = graft.SparkEntry.queries(name)(spark, d)
      sb.append(s"\n## $name\n\n")
      sb.append(comment).append("\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString.take(dumpChars(name)))
      sb.append("```\n")
    }
    sb.append(epilogue)
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("PLANS.md written")
    spark.stop()
  }
}
