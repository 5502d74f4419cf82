package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The benchmark's own oracle on a corpus small enough to score by hand:
  *
  *   doc 0: apple banana apple          (dl 3)
  *   doc 1: banana cherry               (dl 2)
  *   doc 2: apple cherry cherry cherry  (dl 4)
  *
  * Vocabulary apple, banana, cherry, each with df 2: Σdf = 6 postings rows,
  * Σtf = 9 tokens, N = 3, avgdl = 3.
  */
class OracleSpec extends AnyFunSuite {

  private val tsv = Seq(
    "n_docs\t3", "vocab\t3", "sum_df\t6", "sum_tf\t9", "novel\t11",
    "dl\t0:3,1:2,2:4",
    "term\tapple\t0:2,2:1", "term\tbanana\t0:1,1:1", "term\tcherry\t1:1,2:3")
  private val counts = {
    val f = File.createTempFile("counts", ".tsv")
    try {
      val out = new java.io.PrintWriter(f, "UTF-8")
      try tsv.foreach(out.println) finally out.close()
      Counts.read(f.getPath)
    } finally f.delete()
  }

  test("counts.tsv: totals, lengths, query-term postings and novel ids") {
    assert(counts == Counts(3, 3, 6, 9, Map(0L -> 3L, 1L -> 2L, 2L -> 4L),
      Map("apple" -> Map(0L -> 2L, 2L -> 1L), "banana" -> Map(0L -> 1L, 1L -> 1L),
        "cherry" -> Map(1L -> 1L, 2L -> 3L)), Set(11L)))
  }

  test("parity top-k: tf·qtf/df², ties broken by doc_id") {
    // apple: doc 0 = 2·1/2² = 0.5, doc 2 = 1·1/2² = 0.25
    assert(Oracle.topK(Oracle.parityScores(counts, "apple"), 10) == Seq(0L -> 0.5, 2L -> 0.25))
    // apple + cherry×2: doc 2 = 1/4 + 3·2/4 = 1.75; docs 0 and 1 tie at 0.5
    assert(Oracle.topK(Oracle.parityScores(counts, "apple cherry cherry"), 10) ==
      Seq(2L -> 1.75, 0L -> 0.5, 1L -> 0.5))
    assert(Oracle.topK(Oracle.parityScores(counts, "apple cherry cherry"), 2) ==
      Seq(2L -> 1.75, 0L -> 0.5))
    assert(Oracle.parityScores(counts, "durian").isEmpty)
  }

  test("BM25 top-k (k1 = 1.2, b = 0.75), stab 6") {
    // idf = ln((3 − 2 + 0.5)/(2 + 0.5) + 1) = ln 1.6 = 0.4700036
    // banana: doc 0 (dl 3): idf·2.2/(1 + 1.2·1) = 0.470004
    //         doc 1 (dl 2): idf·2.2/(1 + 1.2·0.75) = 0.544215
    assert(Oracle.topK(Oracle.bm25Scores(counts, "banana"), 10) ==
      Seq(1L -> 0.544215, 0L -> 0.470004))
    // apple + cherry×2: doc 2 = idf·2.2/2.5 + 2·idf·6.6/4.5 = 1.792281,
    // doc 1 = 2 · 0.544215 = 1.088429, doc 0 = idf·4.4/3.2 = 0.646255
    assert(Oracle.topK(Oracle.bm25Scores(counts, "apple cherry cherry"), 10) ==
      Seq(2L -> 1.792281, 1L -> 1.088429, 0L -> 0.646255))
  }

  test("sameTopK accepts only the expected ranking, up to one-step rounding ties") {
    val s = Map(1L -> 0.3, 2L -> 0.2, 3L -> (0.2 + 1e-9), 4L -> 0.1)
    assert(Oracle.sameTopK(Seq(1L -> 0.3, 3L -> 0.200000001, 2L -> 0.2), s, 3, 1.5e-9).isEmpty)
    assert(Oracle.sameTopK(Seq(1L -> 0.3, 2L -> 0.2, 3L -> 0.200000001), s, 3, 1.5e-9).isEmpty)
    assert(Oracle.sameTopK(Seq(1L -> 0.3, 4L -> 0.2, 2L -> 0.2), s, 3, 1.5e-9).nonEmpty)
    assert(Oracle.sameTopK(Seq(1L -> 0.3, 3L -> 0.2), s, 3, 1.5e-9).nonEmpty)
    assert(Oracle.sameTopK(Seq(1L -> 0.31, 3L -> 0.2, 2L -> 0.2), s, 3, 1.5e-9).nonEmpty)
  }

  test("tail: the highest percentile with ten samples beyond it") {
    val xs = (1 to 50).map(_.toDouble)
    assert(Main.tail(xs) == ("p80", 40.0, 50))
    assert(Main.tail(xs.take(19)) == ("max", 19.0, 19))
  }

  test("BENCHMARK.json lists exactly the metrics the harness reports") {
    val b = new ObjectMapper().readTree(new File("../BENCHMARK.json"))
    def names(key: String) = b.get(key).elements().asScala.map(n =>
      (n.get("name").asText, n.get("unit").asText)).toSeq
    assert(names("end_to_end") == Main.EndToEnd)
    val perLayer = Main.Layers.flatMap { case (l, extras) =>
      (Main.Common ++ extras).map { case (m, u, _) => (s"$l.$m", u) } } ++
      Main.RunTrace.map { case (m, u, _) => (m, u) }
    assert(names("per_layer") == perLayer)
    assert(b.get("workloads").elements().asScala.map(_.get("name").asText).toSeq == Workload.Names)
  }
}
