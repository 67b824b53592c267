package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.{Locale, SplittableRandom}

/** Seeded input generators. Each returns the inputs the library will see
  * plus the ground truth, computed here in plain Scala from the same
  * draws — never by the library under test.
  */
object Gen {

  /** Order-independent 64-bit fingerprint of a multiset of lines: the sum
    * of a mixed FNV-1a hash per line. */
  def lineHash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  /** Inverse-CDF sampler for Zipf(s) over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      var acc = 0.0
      w.map { x => acc += x; acc }
    }
    def draw(rng: SplittableRandom): Int = {
      val u = rng.nextDouble() * cdf(n - 1)
      val i = java.util.Arrays.binarySearch(cdf, u)
      if (i >= 0) i else math.min(-i - 1, n - 1)
    }
  }

  // ---- ref_etl: salary-shaped CSV lines ---------------------------------

  final case class EtlTruth(totalLines: Long, malformed: Long,
                            excludedRows: Long, excludedCity: String,
                            upperHash: Long, filterLines: Long,
                            filterHash: Long, avgLines: Set[String])

  private val firstNames = Array("Olivia", "Liam", "Emma", "Noah", "Ava",
    "Mateo", "Sofia", "Lucas", "Mia", "Ethan", "Amara", "Kenji", "Priya",
    "Omar", "Ingrid", "Tariq")
  private val lastNames = Array("Smith", "Garcia", "Chen", "Okafor",
    "Novak", "Silva", "Haddad", "Kowalski", "Tanaka", "Moreau", "Rossi",
    "Patel", "Larsen", "Mbeki", "Fischer", "Quispe")

  def cityName(rank: Int): String = f"Town$rank%05d"

  /** `files` CSV files of `linesPerFile` data lines each, every file led by
    * the header `ID,Name,Age,City,Salary`. About `malformedShare` of the
    * data lines have at most three fields. Cities follow Zipf(`zipfS`)
    * over `cities` names; the excluded city is the most frequent one.
    * Salaries are whole numbers, so every per-city sum is exact in double
    * arithmetic and the expected `"%s,%.2f,%d"` lines are unambiguous.
    */
  def etl(dir: File, seed: Long, files: Int, linesPerFile: Int,
          cities: Int, zipfS: Double, malformedShare: Double): EtlTruth = {
    dir.mkdirs()
    val rng = new SplittableRandom(seed)
    val zipf = new Zipf(cities, zipfS)
    val excluded = cityName(0)
    val sums = new Array[Long](cities)
    val counts = new Array[Long](cities)
    var total, malformed, excludedRows, filterLines = 0L
    var upperHash, filterHash = 0L
    val header = "ID,Name,Age,City,Salary"
    var id = 0L
    for (f <- 0 until files) {
      val w = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(new File(dir, f"part-$f%03d.csv")), UTF_8),
        1 << 16)
      def emit(line: String, keptByFilter: Boolean): Unit = {
        w.write(line); w.write('\n')
        total += 1
        upperHash += lineHash(line.toUpperCase(Locale.ROOT))
        if (keptByFilter) { filterLines += 1; filterHash += lineHash(line) }
      }
      // the header has four or more fields and City != excluded, so the
      // reference's filter job keeps it; only the average job drops it
      emit(header, keptByFilter = true)
      var i = 0
      while (i < linesPerFile) {
        id += 1
        val name = firstNames(rng.nextInt(firstNames.length)) + " " +
          lastNames(rng.nextInt(lastNames.length))
        if (rng.nextDouble() < malformedShare) {
          malformed += 1
          val line = if (rng.nextBoolean()) s"$id,$name,${20 + rng.nextInt(45)}"
                     else s"$id,$name"
          emit(line, keptByFilter = false)
        } else {
          val c = zipf.draw(rng)
          val salary = 20000L + rng.nextInt(180000)
          val line = s"$id,$name,${20 + rng.nextInt(45)},${cityName(c)},$salary"
          if (c == 0) { excludedRows += 1; emit(line, keptByFilter = false) }
          else {
            sums(c) += salary; counts(c) += 1
            emit(line, keptByFilter = true)
          }
        }
        i += 1
      }
      w.close()
    }
    val avgLines = (1 until cities).filter(counts(_) > 0).map { c =>
      String.format(Locale.US, "%s,%.2f,%d", cityName(c),
        Double.box(sums(c).toDouble / counts(c)), Long.box(counts(c)))
    }.toSet
    EtlTruth(total, malformed, excludedRows, excluded, upperHash,
      filterLines, filterHash, avgLines)
  }

  // ---- governed_ingest: documents with planted duplicates ---------------

  /** One ingest batch: (doc_id, text) rows in ascending id order. */
  final case class Batch(docs: IndexedSeq[(Long, String)])

  final case class IngestTruth(planted: Set[Long], withinDup: Set[Long],
                               novel: Set[Long])

  private def token(rng: SplittableRandom, vocab: Int): String =
    "w" + Integer.toString(rng.nextInt(vocab), 36)

  private def doc(rng: SplittableRandom, vocab: Int): Array[String] =
    Array.fill(30 + rng.nextInt(21))(token(rng, vocab))

  /** `baseDocs` indexed documents (ids 1..baseDocs) and `batches` batches
    * of `batchSize` documents with ids continuing upward. In each batch
    * about `plantedShare` of the docs are near-duplicates of a random
    * indexed doc (one or two tokens replaced: shingle Jaccard ≈ 0.7–0.85)
    * and about `withinShare` are exact copies of an earlier novel doc of
    * the same batch. The rest are novel: uniform draws from a large
    * vocabulary, whose 3-shingles essentially never collide.
    */
  def ingest(seed: Long, vocab: Int, baseDocs: Int, batches: Int,
             batchSize: Int, plantedShare: Double, withinShare: Double)
      : (IndexedSeq[(Long, String)], IndexedSeq[Batch], IngestTruth) = {
    val rng = new SplittableRandom(seed)
    val base = Array.fill(baseDocs)(doc(rng, vocab))
    val baseRows = base.indices.map(i => (i + 1L, base(i).mkString(" ")))
    val planted, withinDup, novel = Set.newBuilder[Long]
    var id = baseDocs.toLong
    val bs = (0 until batches).map { _ =>
      val novelHere = scala.collection.mutable.ArrayBuffer.empty[String]
      Batch((0 until batchSize).map { _ =>
        id += 1
        val r = rng.nextDouble()
        val text =
          if (r < plantedShare) {
            planted += id
            val d = base(rng.nextInt(baseDocs)).clone()
            val edits = 1 + rng.nextInt(2)
            (0 until edits).foreach(_ => d(rng.nextInt(d.length)) = token(rng, vocab))
            d.mkString(" ")
          } else if (r < plantedShare + withinShare && novelHere.nonEmpty) {
            withinDup += id
            novelHere(rng.nextInt(novelHere.length))
          } else {
            novel += id
            val t = doc(rng, vocab).mkString(" ")
            novelHere += t
            t
          }
        (id, text)
      })
    }
    (baseRows, bs, IngestTruth(planted.result(), withinDup.result(),
      novel.result()))
  }

  // ---- ann_serve: clustered vectors and exact neighbours ----------------

  /** `n` vectors of dimension `dim` drawn around `clusters` Gaussian
    * centres (noise `sigma` per coordinate), and `queries` query vectors
    * drawn the same way. */
  def vectors(seed: Long, n: Int, dim: Int, clusters: Int, sigma: Double,
              queries: Int): (Array[Array[Float]], Array[Array[Float]]) = {
    val rng = new SplittableRandom(seed)
    def gauss(): Double = { // Box–Muller on the seeded stream
      val u1 = 1.0 - rng.nextDouble(); val u2 = rng.nextDouble()
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    val centres = Array.fill(clusters, dim)(gauss())
    def around(): Array[Float] = {
      val c = centres(rng.nextInt(clusters))
      Array.tabulate(dim)(j => (c(j) + sigma * gauss()).toFloat)
    }
    (Array.fill(n)(around()), Array.fill(queries)(around()))
  }

  /** Exact top-`k` ids by cosine similarity (brute force, ties broken by
    * the lower id), one array per query. Runs on `threads` threads. */
  def exactTopK(corpus: Array[Array[Float]], qs: Array[Array[Float]],
                k: Int, threads: Int): Array[Array[Long]] = {
    val norms = corpus.map(v => math.sqrt(v.map(x => x.toDouble * x).sum))
    val out = new Array[Array[Long]](qs.length)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = qs.indices.map { qi =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val q = qs(qi)
            val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
            // running top-k by insertion: ids ascend with i, so a strict
            // `>` keeps the lower id on ties
            val bestS = Array.fill(k)(Double.NegativeInfinity)
            val bestI = Array.fill(k)(-1L)
            var i = 0
            while (i < corpus.length) {
              val v = corpus(i); var dot = 0.0; var j = 0
              while (j < v.length) { dot += v(j).toDouble * q(j); j += 1 }
              val s = dot / (norms(i) * qn)
              if (s > bestS(k - 1)) {
                var p = k - 1
                while (p > 0 && s > bestS(p - 1)) {
                  bestS(p) = bestS(p - 1); bestI(p) = bestI(p - 1); p -= 1
                }
                bestS(p) = s; bestI(p) = i.toLong
              }
              i += 1
            }
            out(qi) = bestI
          }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    out
  }
}
