package pipebench

/** Seed-free word lists and seeded text drawn from them. */
object Text {
  private val onsets = Seq("b", "c", "d", "f", "g", "h", "j", "k", "l", "m",
    "n", "p", "r", "s", "t", "v", "w", "z", "br", "cl", "dr", "gr", "pl",
    "st", "tr", "sh", "ch", "th")
  private val vowels = Seq("a", "e", "i", "o", "u", "ai", "ea", "ou")
  private val codas = Seq("", "", "n", "r", "s", "t", "l", "m", "nd", "st")

  /** A fixed English-like vocabulary of distinct lowercase ASCII words,
    * most frequent first. */
  val words: IndexedSeq[String] = {
    val r = new scala.util.Random(17)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 4000) {
      val n = 1 + r.nextInt(3)
      seen += (0 until n).map(_ => onsets(r.nextInt(onsets.size)) +
        vowels(r.nextInt(vowels.size)) + codas(r.nextInt(codas.size))).mkString
    }
    seen.toIndexedSeq
  }

  /** Common Russian words (lowercase Cyrillic) for windows-1251 pages. */
  val russian: IndexedSeq[String] = ("и в не на я быть он с что а по это она этот к но они мы " +
    "как из у который то за свой весь год от так о для ты же все тот мочь вы человек " +
    "такой его сказать только или еще бы себя один когда уже для вот кто да говорить " +
    "знать мой до время если сам другой день дело жизнь работа город рука слово место " +
    "вопрос лицо дом сторона страна мир случай голова ребенок сила конец вид система " +
    "часть друг земля глаз вода отец история утро вечер новый старый большой").split(" ").toIndexedSeq

  /** French and German words with Latin-1 letters for iso-8859-1 pages. */
  val latin1: IndexedSeq[String] = ("café élève über straße garçon déjà naïve fête größe " +
    "müde schön été français à où très même après bientôt hôtel forêt château " +
    "fräulein mädchen kühl süß grün weiß heißen täglich zurück das und der die le la " +
    "les une est pour avec sans dans chez mais donc ainsi").split(" ").toIndexedSeq

  private val cdf: Array[Double] = {
    val w = words.indices.map(i => 1.0 / (i + 1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  /** A word drawn with Zipf(1) frequencies over [[words]]. */
  def zipfWord(r: scala.util.Random): String = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    words(math.min(words.size - 1, if (i >= 0) i else -i - 1))
  }

  /** Zipf-distributed rank in [0, n): rank i has weight 1/(i+1)^s. */
  def zipfRank(r: scala.util.Random, n: Int, s: Double): Int = {
    val w = (0 until n).map(i => 1.0 / math.pow(i + 1, s))
    var x = r.nextDouble() * w.sum
    var i = 0
    while (i < n - 1 && x >= w(i)) { x -= w(i); i += 1 }
    i
  }

  def zipfWords(r: scala.util.Random, n: Int): IndexedSeq[String] =
    IndexedSeq.fill(n)(zipfWord(r))

  /** `ws` with the word at `pos` replaced by one drawn from the tail of
    * the vocabulary, so that it differs from the original. */
  def substitute(r: scala.util.Random, ws: IndexedSeq[String], pos: Int): IndexedSeq[String] = {
    var w = words(1000 + r.nextInt(words.size - 1000))
    while (w == ws(pos)) w = words(1000 + r.nextInt(words.size - 1000))
    ws.updated(pos, w)
  }
}
