package perfbench

import scala.collection.mutable
import scala.io.Source

/** The counts the oracle needs, as the generator (gen.py) computed them
  * from the words it emitted and wrote to `counts.tsv`: corpus totals,
  * every document's length, the postings (doc → tf) of every query term,
  * and the re-crawl documents the novelty gate must keep.
  */
final case class Counts(nDocs: Long, vocab: Long, sumDf: Long, sumTf: Long,
                        dl: Map[Long, Long], postings: Map[String, Map[Long, Long]],
                        novel: Set[Long])

object Counts {

  def read(path: String): Counts = {
    val src = Source.fromFile(path, "UTF-8")
    try {
      val kv = mutable.HashMap[String, String]()
      val postings = mutable.HashMap[String, Map[Long, Long]]()
      def pairs(s: String): Map[Long, Long] =
        if (s.isEmpty) Map.empty
        else s.split(",").iterator.map { p =>
          val i = p.indexOf(':'); p.take(i).toLong -> p.drop(i + 1).toLong
        }.toMap
      src.getLines().foreach { line =>
        val f = line.split("\t", -1)
        if (f(0) == "term") postings(f(1)) = pairs(f(2)) else kv(f(0)) = f(1)
      }
      Counts(kv("n_docs").toLong, kv("vocab").toLong, kv("sum_df").toLong, kv("sum_tf").toLong,
        pairs(kv("dl")), postings.toMap,
        kv("novel").split(",").iterator.filter(_.nonEmpty).map(_.toLong).toSet)
    } finally src.close()
  }
}

/** The benchmark's own scoring, from the counts alone: the reference's
  * tf·qtf/df² parity score and BM25, each summed per document, collapsed
  * with the same fixed-point step as `Stable.stab` and ranked by score
  * descending, doc_id ascending. The arithmetic follows the program's
  * column expressions operation by operation, so the two agree to the
  * last stab digit except where a summation-order ulp straddles a
  * rounding step; `sameTopK` allows exactly that.
  */
object Oracle {

  type Hit = (Long, Double)

  /** Query terms: the generator's words are lowercase letters with no
    * four-letter runs, which both tokenizers keep unchanged.
    */
  def terms(query: String): Seq[String] = query.split(" ").toSeq.filter(_.nonEmpty)

  def stab(x: Double, digits: Int): Double = {
    val p = math.pow(10, digits)
    math.floor(x * p + 0.5) / p
  }

  /** The k best documents: score descending, doc_id ascending. */
  def topK(scores: Map[Long, Double], k: Int): Seq[Hit] =
    scores.toSeq.sortBy { case (d, s) => (-s, d) }.take(k)

  private def qtf(query: String): Seq[(String, Long)] =
    terms(query).groupBy(identity).toSeq.map { case (w, ws) => w -> ws.size.toLong }.sortBy(_._1)

  /** Every matching document's parity score (stab 9). */
  def parityScores(c: Counts, query: String): Map[Long, Double] = {
    val acc = mutable.HashMap[Long, Double]()
    qtf(query).foreach { case (w, q) =>
      c.postings.get(w).foreach { p =>
        val df = p.size.toDouble
        p.foreach { case (d, tf) => acc(d) = acc.getOrElse(d, 0.0) + (tf * q) / (df * df) }
      }
    }
    acc.map { case (d, s) => d -> stab(s, 9) }.toMap
  }

  /** Every matching document's BM25 score (stab 6); N and avgdl over all
    * documents with at least one token, as the index's docinfo gives them.
    */
  def bm25Scores(c: Counts, query: String, k1: Double = 1.2, b: Double = 0.75): Map[Long, Double] = {
    val lens = c.dl.filter(_._2 > 0)
    val nDocs = lens.size.toDouble
    val avgdl = lens.values.sum.toDouble / lens.size
    val acc = mutable.HashMap[Long, Double]()
    qtf(query).foreach { case (w, q) =>
      c.postings.get(w).foreach { p =>
        val df = p.size.toLong
        val idf = StrictMath.log((nDocs - df + 0.5) / (df + 0.5) + 1.0)
        p.foreach { case (d, tf) =>
          val part = idf * q * (tf * (k1 + 1)) / (tf + k1 * ((1.0 - b) + b * lens(d) / avgdl))
          acc(d) = acc.getOrElse(d, 0.0) + part
        }
      }
    }
    acc.map { case (d, s) => d -> stab(s, 6) }.toMap
  }

  /** None when `got` is the top-k of `scores`: same length, and at each
    * rank the same document with the same score, or a document whose
    * score ties the expected one within `tol` (one rounding step).
    */
  def sameTopK(got: Seq[Hit], scores: Map[Long, Double], k: Int, tol: Double): Option[String] = {
    val want = topK(scores, k)
    if (got.size != want.size) return Some(s"${got.size} rows, expected ${want.size}")
    if (got.map(_._1).distinct.size != got.size) return Some("a document is ranked twice")
    got.zip(want).zipWithIndex.collectFirst {
      case (((gd, gs), (wd, ws)), i)
          if math.abs(gs - ws) > tol ||
            (gd != wd && !scores.get(gd).exists(s => math.abs(s - ws) <= tol)) =>
        s"rank ${i + 1}: got doc $gd score $gs, expected doc $wd score $ws"
    }
  }
}
