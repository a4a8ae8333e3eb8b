package ragbench

import java.util.SplittableRandom

/** Seeded input generator. Every input of every workload comes from
  * here, and each item draws from its own stream derived from
  * (seed, purpose, index): the same seed gives the same corpus, change
  * batches and questions, and a larger corpus extends a smaller one
  * instead of reshuffling it.
  *
  * Text is Zipf(1) over a fixed vocabulary of pronounceable words plus
  * English stopwords, so term frequencies look like natural text.
  */
final class Gen(seed: Long, vocabSize: Int = 20000) {
  import Gen._

  /** Rank i of the Zipf law → word; distinct by construction. */
  val vocab: Array[String] = Array.tabulate(vocabSize) { i =>
    val sb = new StringBuilder
    var n = i
    do {
      sb.append(Syllables(n % Syllables.length))
      n /= Syllables.length
    } while (n > 0)
    sb.toString
  }

  // cumulative Zipf(1) weights: P(rank r) ∝ 1 / (r + 1)
  private val cdf: Array[Double] = {
    val w = Array.tabulate(vocabSize)(r => 1.0 / (r + 1))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  def rng(purpose: Long, index: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed) ^ mix(purpose * 0x9E3779B97F4A7C15L + index)))

  def word(r: SplittableRandom): String =
    if (r.nextDouble() < StopwordShare) Stopwords(r.nextInt(Stopwords.length))
    else {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      vocab(math.min(if (i >= 0) i else -i - 1, vocabSize - 1))
    }

  def words(r: SplittableRandom, n: Int): Seq[String] = Seq.fill(n)(word(r))

  /** Document `id`'s text (version 0); 30–90 words. */
  def doc(id: Long): String = docVersion(id, 0)

  /** Text of `id` after its `version`-th update. */
  def docVersion(id: Long, version: Int): String = {
    val r = rng(PDoc + version, id)
    words(r, 30 + r.nextInt(61)).mkString(" ")
  }

  def corpus(n: Int): Seq[(Long, String)] =
    (0 until n).map(i => (i.toLong, doc(i.toLong)))

  /** One question: 8 Zipf words, or 8 consecutive words lifted from a
    * corpus doc (`lifted` = Some(doc id), the known right answer). */
  def question(r: SplittableRandom, liftFrom: Int): Question =
    if (liftFrom > 0 && r.nextDouble() < LiftedShare) {
      val id = r.nextInt(liftFrom).toLong
      val ws = doc(id).split(' ')
      val start = r.nextInt(ws.length - QuestionWords + 1)
      Question(ws.slice(start, start + QuestionWords).mkString(" "), Some(id))
    } else Question(words(r, QuestionWords).mkString(" "), None)

  /** A fixed pool of distinct questions over a corpus of `corpusSize`. */
  def questionPool(n: Int, corpusSize: Int): IndexedSeq[Question] = {
    val r = rng(PPool, 0)
    val seen = scala.collection.mutable.LinkedHashMap[String, Question]()
    while (seen.size < n) {
      val q = question(r, corpusSize)
      seen.getOrElseUpdate(q.text, q)
    }
    seen.values.toIndexedSeq
  }
}

final case class Question(text: String, lifted: Option[Long])

/** Skewed request stream over a question pool: about a third of the
  * requests repeat an earlier question (hot questions repeat most),
  * the rest take the next fresh one. Deterministic per seed. */
final class QuestionStream(gen: Gen, pool: IndexedSeq[Question]) {
  private val r = gen.rng(Gen.PStream, 0)
  private var next = 0
  private val asked = scala.collection.mutable.ArrayBuffer[Question]()

  def take(): Question = {
    val q =
      if (asked.nonEmpty && r.nextDouble() < Gen.RepeatShare) {
        // square of a uniform favours the first (hottest) questions
        val u = r.nextDouble()
        asked((u * u * asked.length).toInt)
      } else {
        val q = pool(next % pool.length)
        next += 1
        asked += q
        q
      }
    q
  }
}

object Gen {
  val Syllables: Array[String] = for {
    c <- Array("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t",
      "v", "z")
    v <- Array("a", "e", "i", "o", "u")
  } yield c + v
  val Stopwords: Array[String] = Array("the", "a", "of", "and", "to", "in",
    "is", "that", "for", "on", "with", "as")
  val StopwordShare = 0.3
  val QuestionWords = 8
  val LiftedShare = 0.25
  val RepeatShare = 1.0 / 3

  // stream purposes
  val PDoc = 0L          // + version
  val PPool = 1L << 20
  val PStream = 2L << 20
  val PBatch = 3L << 20
  val PBulk = 4L << 20

  /** SplitMix64 finaliser. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
