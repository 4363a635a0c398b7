package perfbench

import scala.util.Random

/** Seeded input generators. The same seed gives the same inputs; the
  * program sees only what these produce. */
object Gen {

  private val Cons = "bcdfghjklmnprstvz"
  private val Vowels = "aeiou"

  /** Synthetic word number `i` (three consonant-vowel syllables; distinct
    * for i < 85^3). */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i
    (0 until 3).foreach { _ =>
      sb.append(Cons(x % 17)).append(Vowels((x / 17) % 5)); x /= 85
    }
    sb.toString
  }

  /** Word index ranges: shared filler words, topic words, words that occur
    * in no generated document, and words of the seed-independent canary
    * documents. */
  val CommonWords = 300
  val TopicWords = 80
  private val TopicBase = 1000
  private val OutsideBase = 300000
  private val CanaryBase = 400000

  def topicWord(topic: Int, j: Int): String = word(TopicBase + topic * TopicWords + j)

  /** One sentence of `n` words on `topic`: topic words with probability
    * 0.55 (skewed to the topic's first words), filler otherwise. */
  def sentence(r: Random, topic: Int, n: Int): String =
    (0 until n).map { _ =>
      if (r.nextDouble() < 0.55) topicWord(topic, (r.nextDouble() * r.nextDouble() * TopicWords).toInt)
      else word(r.nextInt(CommonWords))
    }.mkString(" ") + "."

  def paragraph(r: Random, topic: Int, sentences: Int): String =
    (0 until sentences).map(_ => sentence(r, topic, 8 + r.nextInt(7))).mkString(" ")

  /** `n` words that no generated document contains. */
  def outsideWords(r: Random, n: Int): String =
    (0 until n).map(_ => word(OutsideBase + r.nextInt(20000))).mkString(" ")

  /** Canary document `i`: fixed text, the same for every seed. */
  def canaryText(i: Int): String = {
    val r = new Random(1000003L * (i + 1))
    (0 until 6).map { _ =>
      (0 until 10).map(_ => word(CanaryBase + r.nextInt(50000))).mkString(" ") + "."
    }.mkString(" ")
  }

  /** Replace about `rate` of the words of `text` with filler words. */
  def edit(r: Random, text: String, rate: Double): String =
    text.split(" ").map(w => if (r.nextDouble() < rate) word(r.nextInt(CommonWords)) else w).mkString(" ")
}
