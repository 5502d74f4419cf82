package graft

import graft.operators.{Curation, Dedup, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The composite curation decision must equal the set algebra of its
  * component signals computed independently — the composition (joins,
  * anti-joins, split filter) is what this spec pins; each signal's own
  * values are pinned by the per-signal specs and oracles.
  */
class CurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val d = TestSpark.sf0001

  test("cleanGate (row-local) keeps exactly cleanCorpus's (aggregate) doc set") {
    import spark.implicits._
    for (dd <- Seq(TestSpark.sf0001, TestSpark.sf001)) {
      val docs = graft.sources.Tables.documents(spark, dd)
      val agg = TextAnalysis.cleanCorpus(docs).select("doc_id").as[Long].collect().toSet
      val rowLocal = docs.filter(TextAnalysis.cleanGate())
        .select("doc_id").as[Long].collect().toSet
      assert(rowLocal == agg, dd)
      assert(rowLocal.nonEmpty, dd)
    }
  }

  test("curate == clean ∩ low-rep ∩ low-nll − contaminated − dup-drop, train split only") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, d)
    val sh = Dedup.shingles(docs, 3)
    val lm = TextAnalysis.bigramLm(docs)
    val pairs = Dedup.ngramJaccardPairsFromKeys(
      sh.select(col("doc_id"), Dedup.shingleKey(col("shingle")).as("shk")), 0.6)

    val got = Curation.curate(docs, sh, lm, pairs)
      .select("doc_id").as[Long].collect().toSet

    val clean = TextAnalysis.cleanCorpus(docs).select("doc_id").as[Long].collect().toSet
    val repOk = TextAnalysis.repetition(docs)
      .filter(col("rep_ratio") <= 0.05).select("doc_id").as[Long].collect().toSet
    val nllOk = TextAnalysis.bigramNllFrom(TextAnalysis.bigramStream(docs), lm)
      .filter(col("avg_nll") <= 3.45).select("doc_id").as[Long].collect().toSet
    val bench = sh.filter(col("doc_id") < 10).select("shingle").distinct()
    val contam = sh.filter(col("doc_id") >= 10).join(bench, "shingle")
      .groupBy("doc_id").count().filter(col("count") > 4)
      .select("doc_id").as[Long].collect().toSet
    val dupDrop = Dedup.clusters(pairs)
      .filter(col("doc_id") =!= col("keep_id"))
      .select("doc_id").as[Long].collect().toSet

    val want = (clean intersect repOk intersect nllOk)
      .filter(_ >= 10) diff contam diff dupDrop
    assert(got == want)
    assert(got.nonEmpty)
    assert(got.forall(_ >= 10)) // the eval split never leaks into training
  }

  test("mixBySource: exact quotas, deterministic survivors, over-asked source truncates") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf001)
    val mix = graft.operators.Curation.mixBySource(docs,
      Map("src0" -> 0.5, "src1" -> 0.5), 20)
    val bySrc = mix.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySrc == Map("src0" -> 10L, "src1" -> 10L))
    // deterministic: same survivors on a second evaluation
    val a = mix.select("doc_id").as[Long].collect().toSet
    val b = graft.operators.Curation.mixBySource(docs,
      Map("src0" -> 0.5, "src1" -> 0.5), 20).select("doc_id").as[Long].collect().toSet
    assert(a == b)
    // a quota beyond the source's size yields the whole source, no error
    val n0 = docs.filter(col("source") === "src0").count()
    val over = graft.operators.Curation.mixBySource(docs,
      Map("src0" -> 1.0), (n0 * 10).toInt)
    assert(over.count() == n0)
    // binary-float quota edge: 0.29 × 100 = 28.999999999999996 in IEEE
    // doubles — the epsilon'd floor must yield the intended 29, not 28
    // (synthetic 40-doc source: the fixture's 25-doc sources would
    // truncate before the edge is visible)
    val wide = spark.range(40).select(col("id").as("doc_id"), lit("s").as("source"))
    val eps = graft.operators.Curation.mixBySource(wide, Map("s" -> 0.29), 100)
    assert(eps.count() == 29)
  }

  test("assignSplits: exhaustive, deterministic, assignment stable under corpus growth") {
    import spark.implicits._
    val splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf001)
    val a = Curation.assignSplits(docs, splits).as[(Long, String)].collect().toMap
    assert(a.size == docs.count())
    assert(a.values.toSet == Set("train", "val", "test"))
    // ~90/5/5: train dominates (loose bound — 500 docs of hash noise)
    assert(a.values.count(_ == "train") > a.size * 0.8)
    // growing the corpus never reassigns an existing doc (hash is
    // per-doc, thresholds are fixed): the sf0.001 subset agrees exactly
    val small = Curation.assignSplits(
      graft.sources.Tables.documents(spark, TestSpark.sf0001), splits)
      .as[(Long, String)].collect().toMap
    assert(small.forall { case (id, s) => a.get(id).forall(_ == s) })
    assert(small.keySet.intersect(a.keySet).nonEmpty)
  }

  test("mixByTokens: hash-order prefix per source, inclusive running sum within quota") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf001)
    val got = Curation.mixByTokens(docs,
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), 2000L)
      .as[(Long, String, Long, Long)].collect()
    val quotas = Map("src0" -> 1000L, "src1" -> 600L, "src2" -> 400L)
    assert(got.nonEmpty && got.map(_._2).toSet == quotas.keySet)
    for ((src, rows0) <- got.groupBy(_._2)) {
      val rows = rows0.sortBy(_._4)
      // cum is the running sum of n_tok in output order and stays in quota
      assert(rows.map(_._3).scanLeft(0L)(_ + _).drop(1).toSeq == rows.map(_._4).toSeq)
      assert(rows.last._4 <= quotas(src))
      // the kept set is a PREFIX of the source's hash order
      val hashOrder = docs.filter(col("source") === src)
        .select(col("doc_id"), org.apache.spark.sql.functions.md5(col("doc_id").cast("string")).as("h"))
        .as[(Long, String)].collect().sortBy { case (id, h) => (h, id) }.map(_._1)
      val kept = rows.map(_._1).toSet
      val prefixLen = hashOrder.takeWhile(kept).length
      assert(prefixLen == kept.size) // kept == first prefixLen docs of hash order
    }
    // the distributed rank behind it: Ranks.position / runningSum equal the
    // plain one-window row_number / sum row for row, on 1 and 8
    // partitions, at prefix widths 1 and 2, with one group holding 80 % of
    // the rows, a third of the rows in one bucket ("aa…"), null values and
    // a group whose values are all null
    locally {
      import graft.operators.Ranks
      import org.apache.spark.sql.expressions.Window
      val base = spark.range(0, 3000, 1, 1).select(col("id"),
        when(col("id") % 10 < 8, lit("big"))
          .otherwise(concat(lit("g"), (col("id") % 10).cast("string"))).as("g"),
        when(col("id") % 3 === 0, concat(lit("aa"), md5(col("id").cast("string"))))
          .otherwise(md5(col("id").cast("string"))).as("key"),
        when(col("id") % 7 === 0 || col("id") % 10 === 9, lit(null).cast("long"))
          .otherwise(col("id") % 13).as("v"))
      val order = Seq("key", "id")
      for (groups <- Seq(Seq("g"), Nil)) {
        val one = Window.partitionBy(groups.map(col): _*).orderBy(order.map(col): _*)
        val want = base
          .withColumn("pos", row_number().over(one).cast("long"))
          .withColumn("cum", sum("v").over(
            one.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select("id", "pos", "cum").as[(Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
        assert(want.exists(_._3.isEmpty) == groups.nonEmpty) // the all-null group
        for (in <- Seq(base, base.repartition(8).localCheckpoint()); width <- Seq(1, 2)) {
          val got = Ranks.runningSum(Ranks.position(in, groups, order, width, "pos"),
              groups, order, width, col("v"), "cum")
            .select("id", "pos", "cum").as[(Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
          assert(got == want, s"groups $groups, width $width, ${in.rdd.getNumPartitions} partitions")
        }
      }
    }
  }

  test("sourceOverlap: directed containment in (0,1], shared counts symmetric") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf001)
    val shk = Dedup.shingles(docs, 3)
      .select(col("doc_id"), Dedup.shingleKey(col("shingle")).as("shk"))
    val m = Curation.sourceOverlap(docs, shk)
      .as[(String, String, Long, Long, Double)].collect()
    assert(m.nonEmpty)
    assert(m.forall { case (a, b, shared, na, c) =>
      a != b && shared >= 1 && shared <= na && c > 0.0 && c <= 1.0 &&
        math.abs(c - shared.toDouble / na) < 1e-12
    })
    // n_shared is an intersection size — identical in both directions
    val byPair = m.map { case (a, b, shared, _, _) => ((a, b), shared) }.toMap
    assert(byPair.forall { case ((a, b), s) => byPair.get((b, a)).contains(s) })
    // n_a depends only on src_a
    val nA = m.groupBy(_._1).view.mapValues(_.map(_._4).toSet)
    assert(nA.forall(_._2.size == 1))
  }

  test("epochShuffle: dense 1..N bijection per epoch, epochs decorrelated") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf001)
    val n = docs.count()
    val sh = Curation.epochShuffle(docs, 2).as[(Int, Long, Long)].collect()
    assert(sh.length == 2 * n)
    for (e <- Seq(0, 1)) {
      val rows = sh.filter(_._1 == e)
      assert(rows.map(_._2).sorted.toSeq == (1L to n).toSeq) // dense global rank
      assert(rows.map(_._3).distinct.length == n)            // every doc exactly once
    }
    // the epoch salt actually reorders: the two permutations differ
    val p0 = sh.filter(_._1 == 0).sortBy(_._2).map(_._3).toSeq
    val p1 = sh.filter(_._1 == 1).sortBy(_._2).map(_._3).toSeq
    assert(p0 != p1)
    // deterministic: a second evaluation yields the identical permutation
    val again = Curation.epochShuffle(docs, 2).as[(Int, Long, Long)].collect()
      .filter(_._1 == 0).sortBy(_._2).map(_._3).toSeq
    assert(again == p0)
  }

  test("packSequences: chunks partition the corpus, budgets respected at chunk starts") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf001)
    val packed = graft.operators.Curation.packSequences(docs, 500L)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // every doc lands in exactly one chunk; totals add up
    val total = graft.operators.TextAnalysis.tokenCounts(docs)
      .agg(org.apache.spark.sql.functions.sum("alnum_tokens")).as[Long].head
    assert(packed.map(_._2).sum == docs.count())
    assert(packed.map(_._3).sum == total)
    // seq ids are dense from 0 (concat-and-chunk leaves no gaps: chunk k
    // exists whenever the running total passes k*budget)
    assert(packed.map(_._1).toSeq == packed.indices.map(_.toLong))
    // concat-and-chunk invariant: the first doc of chunk k+1 starts at or
    // past (k+1)·budget, and that start equals the cumulative token count
    // through chunk k — so every non-final chunk's cumulative total has
    // crossed its boundary
    val cums = packed.map(_._3).scanLeft(0L)(_ + _).drop(1)
    assert(packed.dropRight(1).zip(cums).forall {
      case ((k, _, _), cum) => cum >= (k + 1) * 500L
    })
  }

  test("packBestFit: histogram FFD equals naive per-item FFD; no doc splits; " +
    "oversize singletons; zero-token docs dropped; deterministic") {
    import spark.implicits._
    import graft.operators.Curation
    val C = 500L
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // random corpora incl. a zero-token doc and two oversize docs
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val docs = (0L until 800L).map(i => (i, (1 + rnd.nextInt(500)).toLong)) ++
        Seq((800L, 0L), (801L, 900L), (802L, 700L))
      val counts = docs.toDF("doc_id", "n_tok")
      val got = Curation.packBestFitAssignments(counts, C).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      // zero-token doc dropped, everything else placed exactly once
      assert(!got.contains(800L) && got.size == docs.size - 1)
      // naive per-item FFD reference (the independent third
      // implementation): items sorted (class desc, hash order), each
      // into the lowest-index bin that fits
      val cls = docs.collect { case (i, n) if n >= 1 && n <= C =>
        (i, n, math.min(C, (n + 19) / 20 * 20)) }
      val items = cls.sortBy { case (i, _, c) => (-c, md5hex(i.toString), i) }
      val bins = scala.collection.mutable.ArrayBuffer.empty[Long]
      val want = scala.collection.mutable.Map.empty[Long, Long]
      items.foreach { case (i, _, c) =>
        val j = bins.indexWhere(_ >= c)
        if (j >= 0) { bins(j) -= c; want(i) = j.toLong }
        else { bins += (C - c); want(i) = (bins.size - 1).toLong }
      }
      cls.foreach { case (i, n, c) =>
        assert(got(i) == ((n, c, want(i))), s"seed $seed doc $i")
      }
      // oversize singletons AFTER the packed bins, hash order, cls = n_tok
      val overOrder = Seq(801L, 802L).sortBy(i => (md5hex(i.toString), i))
      overOrder.zipWithIndex.foreach { case (i, t) =>
        val n = docs.find(_._1 == i).get._2
        assert(got(i) == ((n, n, bins.size.toLong + t)), s"oversize $i")
      }
      // per-bin class budget respected (no doc ever split)
      val seqs = Curation.packBestFit(counts, C).collect()
      seqs.foreach { r =>
        val (ct, slack) = (r.getLong(3), r.getLong(4))
        if (ct <= C) assert(slack == C - ct && ct <= C)
        else assert(slack == 0L && r.getLong(1) == 1L) // oversize singleton
      }
      // deterministic
      val again = Curation.packBestFitAssignments(counts, C).collect()
        .map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(cls.forall { case (i, _, _) => again(i) == got(i)._3 })
    }
    // prefix-width invariance (round 17 — the auto-derived 16^k rank
    // bucketing): wider prefixes move partition sizes, never results,
    // even on a DOMINANT-single-class corpus (the skew case that
    // motivated the parameterization)
    locally {
      val skew = ((0L until 900L).map(i => (i, 137L)) ++ // one dominant class
        (900L until 950L).map(i => (i, (1 + i % 499))) ++
        // oversize docs (n_tok > C): the singleton branch also rides the
        // widened k-char pfx rank window — both a dominant OVERSIZE
        // class and varied oversize values (round-17 advice)
        (950L until 980L).map(i => (i, 777L)) ++
        (980L until 990L).map(i => (i, 501L + i % 7))).toDF("doc_id", "n_tok")
      def run(k: Int) = Curation.packBestFitAssignments(skew, C, 20L, k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      val w1 = run(1)
      assert(w1 == run(2) && w1 == run(3), "rank bucketing width changed the layout")
      assert(w1 == Curation.packBestFitAssignments(skew, C).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq, "auto-derived width diverged")
    }

    // waste card: tokens conserved across layouts, bestfit never splits
    val counts = (0L until 300L).map(i => (i, (10 + (i % 90)))).toDF("doc_id", "n_tok")
    val card = Curation.packWasteCard(counts, C).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(card("bestfit")._2 == card("concat")._2) // same real tokens
    assert(card("bestfit")._4 == 0L && card("concat")._4 > 0L) // splits
    // pad = slots − tokens in both rows
    assert(card("bestfit")._3 == card("bestfit")._1 * C - card("bestfit")._2)
    assert(card("concat")._3 == card("concat")._1 * C - card("concat")._2)
  }

  test("capBySource: two-phase == one-window at every bucket count, incl. a skewed source") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf001)
    // reference: the plain one-window form (what the oracle runs)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    def oneWindow(d: org.apache.spark.sql.DataFrame, k: Int) =
      d.select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= k).select("doc_id", "source", "rk")
        .as[(Long, String, Long)].collect().toSet
    for (nb <- Seq(1, 4, 16)) {
      val got = Curation.capBySource(docs, 7, nb)
        .as[(Long, String, Long)].collect().toSet
      assert(got == oneWindow(docs, 7), s"nBuckets=$nb diverged")
    }
    // skew: collapse every doc into ONE source — phase 1 must still keep
    // the containment property and the final ranks must match
    val skewed = docs.withColumn("source", lit("megadomain"))
    assert(Curation.capBySource(skewed, 25, 16)
      .as[(Long, String, Long)].collect().toSet == oneWindow(skewed, 25))
  }

  test("sampleStratified: deterministic, per-source rates honored, unlisted sources whole") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf001)
    val rates = Map("src0" -> 0.25, "src1" -> 0.5)
    val a = Curation.sampleStratified(docs, rates).as[(Long, String)].collect().toSet
    val b = Curation.sampleStratified(docs, rates).as[(Long, String)].collect().toSet
    assert(a == b)
    val bySrc = a.groupBy(_._2).view.mapValues(_.size).toMap
    val totals = docs.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    // unlisted sources pass through whole
    totals.keys.filterNot(rates.contains).foreach { s =>
      assert(bySrc.getOrElse(s, 0) == totals(s))
    }
    // sampled sources land near their rate (16-bit hash over ~250
    // docs/source at sf0.01 — allow a generous binomial margin) and the
    // decision is per-doc stable: a kept doc stays kept when the corpus
    // halves (no count dependence)
    rates.foreach { case (s, r) =>
      val kept = bySrc.getOrElse(s, 0).toDouble
      assert(math.abs(kept / totals(s) - r) < 0.15, s"$s kept ${kept / totals(s)}")
    }
    val half = docs.filter(col("doc_id") % 2 === 0)
    val halfKept = Curation.sampleStratified(half, rates).as[(Long, String)].collect().toSet
    assert(halfKept == a.filter(_._1 % 2 == 0))
  }

  test("mixByTemperature: small sources up-weighted vs natural share, quotas conserved") {
    import spark.implicits._
    // skewed corpus: src_big 1600 docs, src_mid 300, src_small 100
    val docs = spark.range(0, 2000).select($"id".as("doc_id"),
      when($"id" < 1600, "src_big").when($"id" < 1900, "src_mid")
        .otherwise("src_small").as("source"))
    val out = Curation.mixByTemperature(docs, 0.7, 500)
      .as[(Long, String, Long)].collect().toSeq
    val byS = out.groupBy(_._2).view.mapValues(_.size).toMap
    // floor can undershoot by < |sources|; never overshoot
    assert(out.size <= 500 && out.size > 500 - 3)
    // α=0.7 shares: big 1600^.7=.. vs natural 80% — smoothing must move
    // share from the big source to the small one
    val naturalSmall = 100.0 / 2000
    val naturalBig = 1600.0 / 2000
    assert(byS("src_small").toDouble / out.size > naturalSmall * 1.5)
    assert(byS("src_big").toDouble / out.size < naturalBig)
    // α=1 recovers (floor-of-)natural shares
    val nat = Curation.mixByTemperature(docs, 1.0, 500)
      .as[(Long, String, Long)].collect().toSeq
    val natS = nat.groupBy(_._2).view.mapValues(_.size).toMap
    assert(natS("src_big") == 400 && natS("src_mid") == 75 && natS("src_small") == 25)
    // determinism across layouts
    val out2 = Curation.mixByTemperature(docs.repartition(7), 0.7, 500)
      .as[(Long, String, Long)].collect().toSeq
    assert(out.toSet == out2.toSet)
  }

  test("sampleWeighted: deterministic top-k heap plan, weight-proportional inclusion") {
    import spark.implicits._
    // skewed weights: doc i has weight 1 or 100 (every 10th doc heavy)
    val docs = spark.range(0, 2000).select($"id".as("doc_id"),
      when($"id" % 10 === 0, 100L).otherwise(1L).as("n_chars"))
    val got = Curation.sampleWeighted(docs, col("n_chars"), 100)
    // plan: TakeOrderedAndProject (per-partition k-heaps), never a global sort
    val p = got.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.linesIterator.take(3).mkString("|"))
    val rows = got.as[(Long, Long, Double)].collect().toSeq
    assert(rows.size == 100)
    // partitioning invariance: same winners on a different layout
    val rows2 = Curation.sampleWeighted(docs.repartition(13), col("n_chars"), 100)
      .as[(Long, Long, Double)].collect().toSeq
    assert(rows.toSet == rows2.toSet)
    // E-S inclusion bias: heavy docs are 10% of the corpus but carry ~92%
    // of the mass; they must dominate the sample (binomial margin wide)
    val heavy = rows.count(_._2 == 100L)
    assert(heavy > 60, s"only $heavy/100 heavy docs sampled — no weight bias?")
    // exhausting k >= n returns everything, in key order
    val all = Curation.sampleWeighted(docs, col("n_chars"), 3000)
      .as[(Long, Long, Double)].collect().toSeq
    assert(all.size == 2000 && all.map(_._3) == all.map(_._3).sorted)
  }
}
