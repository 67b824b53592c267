package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

/** Registration + Column-level API for graft's custom Catalyst expressions.
  *
  * Registered through the session `FunctionRegistry`, so the functions are
  * usable both from SQL (`SELECT graft_cosine(a, b)`) and from the DataFrame
  * DSL via `call_function`. Registration is idempotent and cheap; every
  * graft operator calls [[register]] defensively so driver-created sessions
  * (e.g. `graft.Verify`'s) need no special setup.
  */
object GraftFunctions {

  private def topkBuilder(es: Seq[Expression]): Expression = {
    val k = es(2) match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"graft_topk k must be an int literal, got $other")
    }
    TopKByScore(es(0), es(1), k)
  }

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an int literal, got $other")
  }

  /** Parses a literal (m·k)×subDim PQ codebook matrix + (m, k) literals
    * into the flat row-major layout the kernels index.
    */
  private def pqCodebookLit(mat: Expression, mE: Expression, kE: Expression,
                            what: String): (Seq[Float], Int, Int, Int) = {
    val rows = mat match {
      case Literal(v: ArrayData, _) =>
        (0 until v.numElements()).map { i =>
          val row = v.getArray(i)
          (0 until row.numElements()).map(j => row.getFloat(j)).toArray
        }
      case other => throw new IllegalArgumentException(
        s"$what codebook must be a literal matrix, got $other")
    }
    require(rows.nonEmpty && rows.map(_.length).distinct.size == 1,
      s"$what codebook must be a non-empty rectangular matrix")
    val m = intLit(mE, s"$what m")
    val k = intLit(kE, s"$what k")
    require(rows.length == m * k,
      s"$what codebook must have m*k = ${m * k} rows, got ${rows.length}")
    (rows.flatten.toSeq, m, k, rows.head.length)
  }

  /** (name, builder) for every custom function. */
  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_cosine" -> (es => CosineSimilarity(es(0), es(1))),
    "graft_dot" -> (es => DotProduct(es(0), es(1))),
    "graft_intersect_count" -> (es => IntersectCountSorted(es(0), es(1))),
    "graft_bucket_score" -> (es => BucketWeightSum(es(0), es(1))),
    "graft_topk" -> (topkBuilder _),
    "graft_simhash" -> (es => SimHashBits(es(0), intLit(es(1), "graft_simhash width"))),
    "graft_token_hashes" -> (es => PolyTokenHashes(es(0))),
    "graft_shingles" -> (es => PolyShingleSet(es(0), intLit(es(1), "graft_shingles n"))),
    "graft_window_hashes" -> (es => PolyWindowHashes(es(0),
      intLit(es(1), "graft_window_hashes n"))),
    "graft_charfold" -> (es => PolyCharFold(es(0))),
    "graft_srp_buckets" -> (es => SrpBuckets(es(0),
      intLit(es(1), "graft_srp_buckets tables"),
      intLit(es(2), "graft_srp_buckets planes"),
      intLit(es(3), "graft_srp_buckets dim"))),
    "graft_ivf_probes" -> (es => {
      // es(1): literal array<array<float>> centroid matrix
      val (flat, c, dim) = es(1) match {
        case Literal(v: ArrayData, _) =>
          val rows = (0 until v.numElements()).map { i =>
            val row = v.getArray(i)
            (0 until row.numElements()).map(j => row.getFloat(j)).toArray
          }
          require(rows.nonEmpty && rows.map(_.length).distinct.size == 1,
            "graft_ivf_probes centroids must be a non-empty rectangular matrix")
          (rows.flatten.toSeq, rows.length, rows.head.length)
        case other => throw new IllegalArgumentException(
          s"graft_ivf_probes centroids must be a literal matrix, got $other")
      }
      IvfProbes(es(0), flat, c, dim, intLit(es(2), "graft_ivf_probes nprobe"))
    }),
    "graft_run_stats" -> (es => TokenRunStats(es(0))),
    "graft_pq_encode" -> (es => {
      val (flat, m, k, subDim) = pqCodebookLit(es(1), es(2), es(3), "graft_pq_encode")
      PqEncode(es(0), flat, m, k, subDim)
    }),
    "graft_pq_adc" -> (es => {
      val (flat, m, k, subDim) = pqCodebookLit(es(2), es(3), es(4), "graft_pq_adc")
      PqAdcCosine(es(0), es(1), flat, m, k, subDim)
    }),
    "graft_minhash" -> (es => {
      val k = intLit(es(1), "graft_minhash k")
      val (as, bs) = MinHashCoeffs(k)
      MinHashSig(es(0), as, bs, MinHashCoeffs.Prime)
    }),
    "graft_bloom_positions" -> (es => BloomPositions(es(0),
      intLit(es(1), "graft_bloom_positions k"),
      intLit(es(2), "graft_bloom_positions mBits"))),
    "graft_bloom_contains" -> (es => BloomContains(es(0), es(1))),
    "graft_bloom_agg" -> (es => BloomWordsAgg(es(0),
      intLit(es(1), "graft_bloom_agg mBits"))),
    "graft_cm_agg" -> (es => CountMinAgg(es(0),
      intLit(es(1), "graft_cm_agg depth"),
      intLit(es(2), "graft_cm_agg width"))),
    "graft_cm_estimate" -> (es => CountMinEstimate(es(0), es(1),
      intLit(es(2), "graft_cm_estimate width"))),
    "graft_vec_avg" -> (es => VectorAvgAgg(es(0),
      intLit(es(1), "graft_vec_avg dim"))),
    "graft_kmv_agg" -> (es => {
      val k = intLit(es(1), "graft_kmv_agg k"); KmvOps.validateK(k)
      KmvAgg(es(0), k)
    }),
    "graft_kmv_union_agg" -> (es => {
      val k = intLit(es(1), "graft_kmv_union_agg k"); KmvOps.validateK(k)
      KmvUnionAgg(es(0), k)
    }),
    "graft_kmv_estimate" -> (es => KmvEstimate(es(0),
      intLit(es(1), "graft_kmv_estimate k"))),
    "graft_kmv_intersect" -> (es => KmvIntersectEstimate(es(0), es(1),
      intLit(es(2), "graft_kmv_intersect k"))),
    "graft_nfc" -> (es => NfcNormalize(es(0))))

  /** Injection descriptors for `SparkSessionExtensions.injectFunction`
    * (see [[graft.GraftExtensions]]).
    */
  def injectable: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] =
    builders.map { case (name, b) =>
      (FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.GraftFunctions", name), b)
    }

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      reg.createOrReplaceTempFunction(name, b, "built-in")
    }
  }

  private def asFloatArray(c: Column): Column = c.cast("array<float>")

  /** Cosine similarity of two `array<float>` columns (codegen'd, double). */
  def cosineSim(a: Column, b: Column): Column =
    call_function("graft_cosine", asFloatArray(a), asFloatArray(b))

  /** Inner product of two `array<float>` columns (codegen'd, double). */
  def dotProduct(a: Column, b: Column): Column =
    call_function("graft_dot", asFloatArray(a), asFloatArray(b))

  /** Intersection cardinality of two sorted-ascending distinct
    * `array<long>` columns (two-pointer merge, codegen'd) —
    * see [[IntersectCountSorted]].
    */
  def intersectCountSorted(a: Column, b: Column): Column =
    call_function("graft_intersect_count", a, b)

  /** `sum(weights[h mod weights.length])` over a hashed-feature list —
    * the shuffle-free scoring pass of hashed-n-gram importance weighting
    * (see [[BucketWeightSum]]). `weights` must be a literal
    * `array<double>`. */
  def bucketScore(hashes: Column, weights: Column): Column =
    call_function("graft_bucket_score", hashes, weights)

  /** Bounded top-k aggregate: array<struct<score,id>> of the k best
    * (score DESC, id ASC) pairs, with map-side partial reduction —
    * see [[TopKByScore]].
    */
  def topK(score: Column, id: Column, k: Int): Column =
    call_function("graft_topk", score, id.cast("long"), lit(k))

  /** Unicode NFC normalization (canonical composition) of a string
    * column — see [[NfcNormalize]]; already-NFC input (all ASCII)
    * returns untouched. */
  def nfcNormalize(text: Column): Column =
    call_function("graft_nfc", text)

  /** SimHash signature (width low bits) of a token-hash stream
    * (`array<long>`, duplicates vote) — see [[SimHashBits]].
    */
  def simHashBits(tokenHashes: Column, width: Int): Column =
    call_function("graft_simhash", tokenHashes, lit(width))

  /** MinHash signature (k mins under the seeded affine family) of a
    * shingle-hash set — see [[MinHashSig]] / [[MinHashCoeffs]].
    */
  def minHashSig(shingleHashes: Column, k: Int): Column =
    call_function("graft_minhash", shingleHashes, lit(k))

  /** Per-table SRP LSH bucket ids of an `array<float>` vector —
    * see [[SrpBuckets]] / [[SrpHash]].
    */
  def srpBuckets(vec: Column, tables: Int, planes: Int, dim: Int): Column =
    call_function("graft_srp_buckets", asFloatArray(vec),
      lit(tables), lit(planes), lit(dim))

  /** nprobe nearest centroid ids of an `array<float>` vector under a
    * trained (normalized) centroid matrix — see [[IvfProbes]].
    */
  def ivfProbes(vec: Column, centroids: Seq[Seq[Float]], nprobe: Int): Column =
    call_function("graft_ivf_probes", asFloatArray(vec),
      typedLit(centroids), lit(nprobe))

  /** struct<n_tokens, n_distinct, top_count, sum_c_ln_c> multiplicity
    * profile of an `array<string>` token column — see [[TokenRunStats]].
    */
  def runStats(tokens: Column): Column =
    call_function("graft_run_stats", tokens)

  /** m PQ codes of an `array<float>` vector under a trained
    * (m·k)×subDim codebook — see [[PqEncode]].
    */
  def pqEncode(vec: Column, codebook: Seq[Seq[Float]], m: Int, k: Int): Column =
    call_function("graft_pq_encode", asFloatArray(vec),
      typedLit(codebook), lit(m), lit(k))

  /** ADC cosine of (codes, query) under a trained codebook —
    * exactly cosine(query, reconstruction(codes)); see [[PqAdcCosine]].
    */
  def pqAdc(codes: Column, qvec: Column, codebook: Seq[Seq[Float]],
            m: Int, k: Int): Column =
    call_function("graft_pq_adc", codes, asFloatArray(qvec),
      typedLit(codebook), lit(m), lit(k))

  /** k Bloom bit positions of a key (cast to string, like
    * [[graft.operators.Sampling.hashBucket]]) — see [[BloomPositions]].
    */
  def bloomPositions(key: Column, k: Int, mBits: Int): Column =
    call_function("graft_bloom_positions", key.cast("string"), lit(k), lit(mBits))

  /** "maybe present" test of a position list against a filter's word
    * array — see [[BloomContains]].
    */
  def bloomContains(words: Column, positions: Column): Column =
    call_function("graft_bloom_contains", words, positions)

  /** Bloom bit-array aggregate over a position-list column —
    * see [[BloomWordsAgg]].
    */
  def bloomAgg(positions: Column, mBits: Int): Column =
    call_function("graft_bloom_agg", positions, lit(mBits))

  /** Count-min sketch aggregate over a position-list column (one position
    * per sketch row, from [[bloomPositions]] with k = depth and
    * mBits = width) — see [[CountMinAgg]].
    */
  def countMinAgg(positions: Column, depth: Int, width: Int): Column =
    call_function("graft_cm_agg", positions, lit(depth), lit(width))

  /** Count-min point estimate of a key's positions against a sketch —
    * see [[CountMinEstimate]].
    */
  def countMinEstimate(sketch: Column, positions: Column, width: Int): Column =
    call_function("graft_cm_estimate", sketch, positions, lit(width))

  /** KMV distinct-count synopsis of a LONG hash column (hash upstream
    * with `xxhash64`) — see [[KmvAgg]]. */
  def kmvAgg(hash: Column, k: Int): Column =
    call_function("graft_kmv_agg", hash, lit(k))

  /** UNION-merge of same-k KMV sketches — see [[KmvUnionAgg]]. */
  def kmvUnionAgg(sketch: Column, k: Int): Column =
    call_function("graft_kmv_union_agg", sketch, lit(k))

  /** Distinct-count estimate of a KMV sketch (exact below k). */
  def kmvEstimate(sketch: Column, k: Int): Column =
    call_function("graft_kmv_estimate", sketch, lit(k))

  /** Intersection-cardinality estimate of two same-k KMV sketches —
    * see [[KmvIntersectEstimate]]. */
  def kmvIntersect(a: Column, b: Column, k: Int): Column =
    call_function("graft_kmv_intersect", a, b, lit(k))

  /** Exact element-wise mean of an `array<float>` vector column
    * (decomposable single-pass centroid) — see [[VectorAvgAgg]].
    */
  def vectorAvg(vec: Column, dim: Int): Column =
    call_function("graft_vec_avg", asFloatArray(vec), lit(dim))
}

/** Deterministic affine MinHash coefficient family, shared by the Spark
  * kernel and the oracle-SQL generator (which embeds the same numbers as
  * literals so DuckDB reproduces the signatures bit-for-bit).
  */
object MinHashCoeffs {
  /** Prime modulus — fits in 31 bits so `a*x + b` stays inside a long. */
  val Prime = 2038074743L

  /** (a_i, b_i) for i < k, from a fixed seed. */
  def apply(k: Int): (Seq[Long], Seq[Long]) = {
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(k)((1L + rnd.nextInt(Int.MaxValue - 1).toLong,
                             rnd.nextInt(Int.MaxValue).toLong))
    (pairs.map(_._1), pairs.map(_._2))
  }
}
