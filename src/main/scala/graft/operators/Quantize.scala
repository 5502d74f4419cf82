package graft.operators

import graft.functions.Stable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue

/** int8 scalar quantization (SQ8) of the embedding column — the simplest
  * production vector-compression tier (FAISS's ScalarQuantizer, the
  * default "4× smaller, ~free recall" knob most ANN deployments turn
  * before reaching for PQ): per-dimension [lo, hi] bounds from one
  * corpus pass, then each coordinate maps row-locally to
  * round((x−lo)·255/(hi−lo)).
  *
  * Determinism: the bounds are min/max PICKS (no arithmetic — the
  * collected doubles are corpus values, bit-identical in any engine);
  * quantize/dequantize are sub/mul/div/floor chains of correctly-rounded
  * IEEE ops with the fold order written identically in the SQL twins;
  * error norms fold in index order (the ArrayDot / list_sum contract).
  * Constant dimensions (hi = lo) code to 0 and dequantize to lo.
  *
  * Scale shape: bounds are a d-bounded aggregate (map-side partials,
  * d-row collect under the centroid metadata contract); codes /
  * dequantization / error are row-local projections against plan-literal
  * bounds — no join, no shuffle, whole-stage codegen. The quantized
  * serving path (knnSq8) is the brute top-k shape over dequantized
  * vectors: what you run when SQ8's 4× memory cut lets the whole corpus
  * stay resident.
  */
object Quantize {

  /** The bounds table, gate-shaped: (i, lo, hi), 1-based — the single
    * aggregate both the gated query and the collected form share (two
    * spellings drifted apart would quantize against bounds the bounds
    * query never showed — closing-review finding).
    */
  def boundsDf(prep: DataFrame): DataFrame =
    prep.select(posexplode(col("e")).as(Seq("pos", "x")))
      .groupBy("pos").agg(min("x").as("lo"), max("x").as("hi"))
      .select((col("pos") + 1).cast("int").as("i"), col("lo"), col("hi"))

  /** Per-dimension (lo, hi), collected in dimension order. */
  def bounds(prep: DataFrame): (Array[Double], Array[Double]) = {
    val r = boundsDf(prep).orderBy("i").select("lo", "hi").collect()
    (r.map(_.getDouble(0)), r.map(_.getDouble(1)))
  }

  /** Per-element int code floor((x−lo)·255/(hi−lo)+0.5) as a double-typed
    * intermediate (the dequant math consumes it; the codes query casts).
    */
  private def codeExpr(x: Column, l: Column, h: Column): Column =
    when(h === l, 0.0)
      .otherwise(floor((x - l) * lit(255.0) / (h - l) + lit(0.5)))

  private def at(a: Array[Double], i: Column): Column =
    element_at(typedLit(a.toSeq), i + 1)

  /** Row-local code array from the raw vector (plan-literal bounds). */
  def codesArray(e: Column, lo: Array[Double], hi: Array[Double]): Column =
    transform(e, (x, i) => codeExpr(x, at(lo, i), at(hi, i)).cast("int"))

  /** The quantize→dequantize roundtrip x̂ = lo + code·((hi−lo)/255). */
  def dequantArray(e: Column, lo: Array[Double], hi: Array[Double]): Column =
    transform(e, (x, i) => {
      val l = at(lo, i)
      val h = at(hi, i)
      l + (codeExpr(x, l, h) * ((h - l) / lit(255.0)))
    })

  /** Exploded code rows (vec_id, i, code) — the persistable artifact. */
  def codes(prep: DataFrame, lo: Array[Double], hi: Array[Double]): DataFrame =
    prep.select(col("vec_id"),
        posexplode(codesArray(col("e"), lo, hi)).as(Seq("pos", "code")))
      .select(col("vec_id"), (col("pos") + 1).cast("int").as("i"), col("code"))

  private def dot(a: Column, b: Column): Column =
    graftglue.column(graft.functions.ArrayDot(
      graftglue.expression(a), graftglue.expression(b)))

  /** Per-vector reconstruction card: L2 error and cosine between the
    * original and its dequantized self — the "is 8 bits enough for this
    * corpus" number an index build logs before committing to SQ8.
    */
  def reconError(prep: DataFrame, lo: Array[Double], hi: Array[Double]): DataFrame = {
    val dq = dequantArray(col("e"), lo, hi)
    val diff = zip_with(col("e"), dq, (a, b) => a - b)
    prep.select(col("vec_id"), col("e"), dq.as("q"), diff.as("df"))
      .select(col("vec_id"),
        Stable.stab(sqrt(dot(col("df"), col("df"))), 6).as("l2_err"),
        Stable.stab(dot(col("e"), col("q")) /
          (sqrt(dot(col("e"), col("e"))) * sqrt(dot(col("q"), col("q")))), 6).as("cos"))
  }

  /** Brute top-k cosine over DEQUANTIZED vectors (the SQ8 serving tier —
    * bruteForceTopK's plan, 4× less resident memory): broadcast query
    * side, corpus side row-local dequant, one per-query top-k.
    */
  def knnSq8(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val p = Similarity.prepared(embeddings)
    val (lo, hi) = bounds(p)
    Similarity.bruteForcePrepared(
      p.select(col("vec_id"), dequantArray(col("e"), lo, hi).as("e"))
        .withColumn("nrm", Similarity.norm(col("e"))), nQueries, k)
  }
}
