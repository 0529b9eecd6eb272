package graft.perfbench

import scala.collection.mutable
import scala.util.Random

/** Seeded input generation. The engine only ever sees what these return;
  * the same seed always yields the same traffic. */
object Inputs {

  /** One online text request: its kind and query text. */
  final case class TextRequest(kind: String, query: String)

  /** The kinds of the timed stream. Both route to the keyword arm, so every
    * timed request measures the same work. Every timed window ends on a
    * cycle boundary, so each run measures the same kind mix. */
  val TimedKinds: Seq[String] = Seq("id", "fuzzy")

  // Tail words are corpus terms found in at least five documents, so the
  // keyword arm ranks by a real BM25 score rather than by corpus position.
  private val IdTails = Seq("incident", "latency", "logs", "metrics", "monitoring", "drift",
    "compaction", "pagination")
  private val FuzzyForms = Seq("userid", "user_id", "user-id", "usr_id", "uid")
  private val FuzzyTails = Seq("authentication", "authorization", "audit", "lineage",
    "governance")

  /** `n` distinct queries cycling through [[TimedKinds]]. Each kind has a
    * fixed token shape, so it routes to the same arm on every seed:
    *  - id: `INC-492xx <word>` (digit-bearing, two tokens);
    *  - fuzzy: `<userid spelling> <4 digits> <word>` (three tokens).
    * No text repeats, and none equals a labeled query. */
  def textStream(seed: Long, labeled: Set[String], n: Int): IndexedSeq[TextRequest] = {
    val rnd = new Random(seed)
    val seen = mutable.HashSet.empty[String] ++ labeled
    val incidents = rnd.shuffle((0 until 100).toList).iterator
    val users = rnd.shuffle((1000 until 10000).toList).iterator
    def one(kind: String): String = kind match {
      case "id" => f"INC-492${incidents.next()}%02d ${IdTails(rnd.nextInt(IdTails.size))}"
      case "fuzzy" => s"${FuzzyForms(rnd.nextInt(FuzzyForms.size))} ${users.next()} " +
        FuzzyTails(rnd.nextInt(FuzzyTails.size))
    }
    (0 until n).map { i =>
      val kind = TimedKinds(i % TimedKinds.size)
      var q = one(kind)
      while (seen.contains(q)) q = one(kind)
      seen += q
      TextRequest(kind, q)
    }
  }

  /** The golden warm-up request for a seed: one of the two hybrid-routed
    * golden queries, whose request runs both the keyword and the vector
    * scorer once before the timed stream. */
  def goldenWarmup(seed: Long): String = if (seed % 2 == 0) "Q-001" else "Q-006"

  // ---- vectors -------------------------------------------------------------

  val Dim = 64
  val BaseVectors = 300
  val TrueClusters = 10
  val DeltaRows = 200
  val DeltaIdBase = 1000000L

  /** Cluster centres of the synthetic embedding corpus — fixed, so every
    * run serves the same base index. */
  private lazy val centres: Array[Array[Double]] = {
    val r = new Random(42)
    Array.fill(TrueClusters)(Array.fill(Dim)(r.nextGaussian()))
  }

  private def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private def clustered(rnd: Random, c: Int): Array[Float] =
    unit(centres(c).map(_ + 0.8 * rnd.nextGaussian()))

  /** The base corpus: (vec_id, embedding, label = true cluster). Fixed seed. */
  def baseVectors(): IndexedSeq[(Long, Array[Float], Int)] = {
    val rnd = new Random(4242)
    (0 until BaseVectors).map { i =>
      val c = rnd.nextInt(TrueClusters)
      (i.toLong, clustered(rnd, c), c)
    }
  }

  /** The `j`-th append delta of a run: DeltaRows fresh vectors. */
  def delta(seed: Long, j: Int): IndexedSeq[(Long, Array[Float], Int)] = {
    val rnd = new Random(seed * 1000003L + j)
    (0 until DeltaRows).map { i =>
      val c = rnd.nextInt(TrueClusters)
      (DeltaIdBase + j.toLong * DeltaRows + i, clustered(rnd, c), c)
    }
  }

  /** Micro-batch sizes of one block, alternating single-query requests
    * and batches of 20; an append follows every block. */
  val BatchBlock: Seq[Int] = Seq(1, 20, 1, 20)

  /** Query vectors: indexed vectors plus seeded noise. */
  def queryVectors(rnd: Random, indexed: IndexedSeq[Array[Float]], n: Int): Seq[Array[Float]] =
    Seq.fill(n) {
      val v = indexed(rnd.nextInt(indexed.size))
      unit(v.map(_ + 0.05 * rnd.nextGaussian()))
    }
}
