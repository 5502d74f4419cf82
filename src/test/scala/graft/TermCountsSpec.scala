package graft

import graft.functions.TextOps
import graft.operators.Search
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The row-local tokenizer (`TextOps.termCounts`, behind
  * `Search.docWordCounts` and the index build) against the SQL regex tier
  * (`Search.tokens`): the same (doc_id, word, tf) rows on the test corpora
  * and on strings chosen to break a hand-written scanner, every word in
  * the `[a-z0-9]*[a-z][a-z0-9]*` domain that `Search.vocabularyFrom`'s
  * unpartitioned prefix window relies on (≤ 36 first characters), and
  * docinfo `n_tokens = 0` for a document with no kept token.
  */
class TermCountsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val Adversarial: Seq[(Long, String)] = Seq(
    1L -> "\u212A",                 // Kelvin sign: lowercases to ASCII 'k'
    2L -> "\u0130stanbul",          // dotted capital I: lowercases to i + U+0307
    3L -> "a\u00A0b",               // no-break space is not \s
    4L -> "a\u000Bb",               // vertical tab is \s
    5L -> "x\uD83D\uDE00y",         // surrogate-pair emoji between letters
    6L -> "x86 42 b2b",             // digits inside, alone and around letters
    7L -> "",
    8L -> null,
    9L -> "42 007 \u00E9\u00E8",    // nothing kept: digits and non-ASCII letters
    10L -> "The THE the, cat-cat;CAT\tdog\r\ndog  ")

  def adversarialDocs: DataFrame = {
    import spark.implicits._
    Adversarial.map { case (id, t) => (id, t, "en", "s1", Option(t).map(_.length.toLong).getOrElse(0L)) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  def viaRegex(docs: DataFrame): DataFrame =
    Search.tokens(docs).groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))

  def viaScan(docs: DataFrame): DataFrame =
    Search.docWordCounts(docs).groupBy("doc_id", "word").agg(sum("tf").as("tf"))

  def assertSameRows(a: DataFrame, b: DataFrame, what: String): Unit = {
    val extra = a.exceptAll(b).limit(5).collect()
    val missing = b.exceptAll(a).limit(5).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"$what: scan-only rows ${extra.mkString(", ")}; regex-only rows ${missing.mkString(", ")}")
  }

  def outOfDomain(docs: DataFrame): Long =
    Search.docWordCounts(docs).filter(!col("word").rlike("^[a-z0-9]*[a-z][a-z0-9]*$")).count()

  for ((name, dir) <- Seq("sf0.001" -> TestSpark.sf0001, "sf0.01" -> TestSpark.sf001)) {
    test(s"termCounts ≡ regex tokens per (doc_id, word) on $name documents") {
      val docs = Tables.documents(spark, dir)
      assert(Search.tokens(docs).count() > 0)
      assertSameRows(viaScan(docs), viaRegex(docs), name)
      // one row per (doc_id, word): df is a plain count over these rows
      val rows = Search.docWordCounts(docs)
      assert(rows.count() == rows.select("doc_id", "word").distinct().count())
      assert(outOfDomain(docs) == 0)
    }
  }

  test("termCounts ≡ regex tokens on adversarial strings; words stay in [a-z0-9]*[a-z][a-z0-9]*") {
    val docs = adversarialDocs
    assertSameRows(viaScan(docs), viaRegex(docs), "adversarial")
    assert(outOfDomain(docs) == 0)
    val got = Search.docWordCounts(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got.contains((1L, "k", 1L)))
    assert(got.contains((6L, "x86", 1L)) && got.contains((6L, "b2b", 1L)))
    assert(Set(3L, 4L, 5L).forall(d => got.count(_._1 == d) == 2))
    assert(Set("the" -> 3L, "cat" -> 3L, "dog" -> 2L).forall { case (w, tf) => got((10L, w, tf)) })
    assert(got.forall { case (d, _, _) => !Set(7L, 8L, 9L)(d) })
    // a null text yields an empty term array, never null
    assert(docs.select(TextOps.termCounts(col("text")).as("t")).filter(col("t").isNull).count() == 0)
  }

  test("index bucket: driver-side bucketOf == in-plan pmod(xxhash64(word), 16) on the sf0.01 vocabulary and adversarial strings") {
    import spark.implicits._
    val raw = Adversarial.flatMap { case (_, t) => Option(t) }.toDF("word")
    val words = Search.docWordCounts(Tables.documents(spark, TestSpark.sf001)).select("word")
      .union(Search.docWordCounts(adversarialDocs).select("word"))
      .union(raw).distinct()
    val got = words.select(col("word"), Search.bucket(col("word"))).collect()
      .map(r => r.getString(0) -> r.getInt(1))
    assert(got.length > Adversarial.size + 30)
    assert(got.map(_._2).toSet == (0 until 16).toSet)
    val wrong = got.filter { case (w, b) => Search.bucketOf(w) != b }
    assert(wrong.isEmpty, s"driver/in-plan bucket mismatch: ${wrong.take(5).mkString(", ")}")
  }

  test("buildIndex docinfo: n_tokens = kept-token count, 0 for a document with none") {
    val dir = java.nio.file.Files.createTempDirectory("termcounts").toString
    adversarialDocs.write.parquet(s"$dir/documents.parquet")
    Search.buildIndex(spark, dir, s"$dir/index")
    val nTokens = spark.read.parquet(s"$dir/index/docinfo").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
    val kept = Search.tokens(adversarialDocs).groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nTokens.size == Adversarial.size)
    assert(nTokens == Adversarial.map { case (d, _) => d -> kept.getOrElse(d, 0L) }.toMap)
    assert(Seq(7L, 8L, 9L).forall(nTokens(_) == 0L))
  }
}
