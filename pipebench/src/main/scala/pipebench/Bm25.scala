package pipebench

import scala.collection.mutable

/** Plain-Scala BM25 over whitespace tokens (k1 = 1.2, b = 0.75), the
  * reference the program's probes are checked against. It uses the
  * program's documented scoring: the rational idf
  * (N - df + 0.5) / (df + 0.5), per-term contributions summed in query
  * order, ties broken by ascending doc id. */
final class Bm25 {
  private val k1 = 1.2
  private val b = 0.75
  private val tfs = mutable.LinkedHashMap.empty[Long, (Map[String, Int], Int)]
  private val df = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var totalTokens = 0L

  def add(id: Long, text: String): Unit = {
    val toks = text.split("\\s+").filter(_.nonEmpty)
    val tf = toks.groupBy(identity).map { case (t, xs) => t -> xs.length }
    tfs(id) = (tf, toks.length)
    tf.keys.foreach(t => df(t) += 1)
    totalTokens += toks.length
  }

  def size: Int = tfs.size

  /** Top-`k` (doc id, score), score descending. */
  def topK(terms: Seq[String], k: Int): Seq[(Long, Double)] = {
    val n = tfs.size.toDouble
    val avdl = totalTokens.toDouble / n
    tfs.iterator.flatMap { case (id, (tf, dl)) =>
      val s = terms.map { t =>
        val f = tf.getOrElse(t, 0).toDouble
        val d = df(t).toDouble
        if (f > 0)
          ((n - d + 0.5) / (d + 0.5)) * (f * (k1 + 1)) /
            (f + k1 * ((1 - b) + b * (dl.toDouble / avdl)))
        else 0.0
      }.reduce(_ + _)
      if (s > 0) Some((id, s)) else None
    }.toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  /** Whether `got` is the reference top-k: the same ids in the same order,
    * scores equal to 1e-9 relative. */
  def agrees(terms: Seq[String], k: Int, got: Seq[(Long, Double)]): Boolean = {
    val want = topK(terms, k)
    want.size == got.size && want.zip(got).forall { case ((i, s), (j, t)) =>
      i == j && math.abs(s - t) <= 1e-9 * math.max(1.0, math.abs(s))
    }
  }
}

object Bm25 {
  /** 1 to 3 distinct Zipf-drawn query terms. */
  def query(r: scala.util.Random): Seq[String] = {
    val n = 1 + r.nextInt(3)
    val ts = mutable.LinkedHashSet.empty[String]
    while (ts.size < n) ts += Text.zipfWord(r)
    ts.toSeq
  }
}
