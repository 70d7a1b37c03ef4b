package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generation. Every workload input is a pure function of the
  * `--seed` argument; the library only ever sees what is generated here. */
object Gen {
  private val Onsets = Array("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s",
    "t", "v", "w", "z", "br", "ch", "dr", "gl", "pl", "st", "tr")
  private val Nuclei = Array("a", "e", "i", "o", "u", "ai", "ea", "ou")

  /** `n` distinct lowercase pseudo-words of 2 to 4 syllables. */
  def vocabulary(rng: SplittableRandom, n: Int): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val sb = new StringBuilder
      var s = 2 + rng.nextInt(3)
      while (s > 0) {
        sb.append(Onsets(rng.nextInt(Onsets.length))).append(Nuclei(rng.nextInt(Nuclei.length)))
        s -= 1
      }
      seen += sb.toString
    }
    seen.toArray
  }

  def pick(rng: SplittableRandom, words: Array[String]): String = words(rng.nextInt(words.length))

  def between(rng: SplittableRandom, lo: Int, hi: Int): Int = lo + rng.nextInt(hi - lo + 1)

  /** Appends sentences ("word word, word word.") until `sb` holds `target`
    * characters or more; single spaces only, so the text is already in
    * the form `TextFunctions.normalizeText` produces. */
  def sentences(rng: SplittableRandom, sb: StringBuilder, target: Int, word: () => String): Unit =
    while (sb.length < target) {
      if (sb.nonEmpty) sb.append(' ')
      val n = between(rng, 6, 18)
      var i = 0
      while (i < n) {
        if (i > 0) sb.append(if (rng.nextInt(9) == 0) ", " else " ")
        sb.append(word())
        i += 1
      }
      sb.append('.')
    }

  /** The reference chunker (Function.java:214-245, maxLen 7500, lookback
    * 300), re-stated as the benchmark's oracle. Returns the chunks and
    * how many splits found no punctuation in the lookback window. */
  def referenceChunks(text: String, maxLen: Int, lookback: Int): (Seq[String], Int) = {
    val punct = Set('.', '。', ';', '；', '!', '！', '?', '？')
    val out = ArrayBuffer.empty[String]
    var hard = 0
    var rest = text
    while (rest.length > maxLen) {
      val start = math.max(maxLen - lookback, 0)
      var i = maxLen
      while (i > start && !punct(rest.charAt(i))) i -= 1
      val split = if (i > start) i else { hard += 1; start }
      out += rest.substring(0, split)
      rest = rest.substring(split)
    }
    out += rest
    (out.toSeq, hard)
  }
}
