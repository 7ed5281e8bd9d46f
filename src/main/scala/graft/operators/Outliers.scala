package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Robust (median/MAD) outlier detection per group — the outlier cut that
 * survives heavy tails: mean/stddev are dragged by the very outliers they
 * are supposed to flag, the median and the median-absolute-deviation are
 * not (50% breakdown point). The robust z-score
 * `(x − median) / (1.4826 · MAD)` reads like a normal z-score (1.4826
 * makes MAD consistent with σ under normality, Rousseeuw & Croux 1993);
 * |z| > 3.5 is the standard cut (Iglewicz & Hoaglin 1993).
 *
 * Shape: two grouped EXACT-percentile aggregations (median, then median
 * of absolute deviations — `Quantiles.exactQuantiles` semantics), each
 * group-cardinality-sized and BROADCAST back onto the scan; the data side
 * is never shuffled. Cutoffs round to 6dp on both engines so interpolation
 * float dust can't flip a boundary row. Complements the percentile-band
 * cut (`TextAnalysis.trimOutliers`): bands need a chosen quantile pair,
 * the robust z adapts to each group's spread.
 *
 * Reference anchor: no statistics surface in the reference (SURVEY §2.9);
 * pipeline extension (outlier filtering before training-data mixing).
 */
object Outliers {

  /**
   * Hill tail-index estimator (Hill 1975) — HOW heavy is the tail:
   * [[madOutliers]] flags which points are extreme, the [[graft
   * .pipeline.CorpusStats]] Zipf fit regresses the whole rank curve;
   * Hill estimates the tail exponent α from ONLY the top-k order
   * statistics, α = 1/H, H = (1/k)·Σᵢ≤k ln x₍ᵢ₎ − ln x₍ₖ₊₁₎ — the
   * standard answer to "does this length/degree/spend distribution
   * have finite variance" (α ≤ 2 means no; a mean-based capacity plan
   * is then fiction).
   *
   * Exactness + shape: order statistics come from per-VALUE counts +
   * distributed strictly-below prefix sums (never a global sort): the
   * k-th boundary value and each value's in-tail multiplicity are
   * exact integer arithmetic; ln terms round 12dp and DECIMAL-sum
   * with integer multiplicities. One groupBy + one bounded-relation
   * aggregation.
   *
   * Output: one row (n, k, x_tail, hill_h, alpha) — x_tail = x₍ₖ₊₁₎;
   * NULL estimates when k < 1 or the tail is flat (H ≤ 0).
   */
  def hillTailIndex(df: DataFrame, valueCol: Column,
      tailFrac: Double = 0.1): DataFrame = {
    require(tailFrac > 0.0 && tailFrac < 1.0, "tailFrac in (0,1)")
    val pv = df.select(valueCol.cast("long").as("v"))
      .where(col("v").isNotNull && col("v") > 0L)
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
    val n = pv.agg(coalesce(sum(col("c")), lit(0L))).head().getLong(0)
    val k = math.floor(tailFrac * n).toLong
    val spark = df.sparkSession
    import spark.implicits._
    if (k < 1 || n < k + 1) {
      Seq((n, k)).toDF("n", "k")
        .withColumn("x_tail", lit(null).cast("long"))
        .withColumn("hill_h", lit(null).cast("double"))
        .withColumn("alpha", lit(null).cast("double"))
    } else {
      val cum = DistDrift.withPrefixSums(pv, Seq("c"))
      val above = lit(n) - col("c_below") - col("c")
      val m = least(col("c"), lit(k) - above)
      val agg = cum.agg(
        sum(when(above < k,
          round(m.cast("double") * log(col("v").cast("double")), 12)
            .cast("decimal(38,12)")).otherwise(lit(0).cast("decimal(38,12)"))).as("su"),
        max(when(lit(n) - col("c_below") >= k + 1L, col("v"))).as("xk1"))
        .head()
      val su = agg.getDecimal(0).doubleValue
      val xk1 = agg.getLong(1)
      val h = su / k.toDouble -
        BigDecimal(math.log(xk1.toDouble))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (hOut, aOut) =
        if (h > 0.0) (Some(r6(h)), Some(r6(1.0 / h))) else (None, None)
      Seq((n, k, xk1, hOut, aOut)).toDF("n", "k", "x_tail", "hill_h", "alpha")
    }
  }


  /**
   * Huber M-estimator of location by IRLS (Huber 1964, c = 1.345) —
   * the ESTIMATOR this shelf lacked: [[robustZ]] flags outliers,
   * [[winsorize]] clips them, Huber's mean DOWNWEIGHTS them smoothly
   * (full weight inside c·σ̂, proportionally less outside), giving a
   * center with 95% Gaussian efficiency that a single corrupt batch
   * cannot drag — the number to alert on when the plain mean is hostage
   * to the tail.
   *
   * Determinism (the q380/q385/q386 doctrine): runs over the
   * per-DISTINCT-value relation; the start is the exact lower median
   * and the scale is 1.4826·MAD (both exact order statistics via
   * strictly-below prefix sums — no sort); each of the 3 IRLS rounds
   * rounds weights 9dp, DECIMAL-sums 6dp weighted moments, and
   * re-rounds μ 9dp — verbatim SQL replay. MAD = 0 (majority-constant
   * data) publishes the median as the estimate, which is what a 50%
   * breakdown estimator should do.
   *
   * Output: one row (n, median, mad, huber_mean, plain_mean) — 6dp.
   */
  def huberMean(df: DataFrame, valueCol: Column, iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters in [1,20]: $iters")
    val pv = df.select(valueCol.cast("long").as("v"))
      .where(col("v").isNotNull)
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    // ONE fused probe: n, Σc·v AND the value bounds — the bounds feed
    // both medians' bucket layouts (the dev relation's covering range
    // is derivable from them on the driver), dropping the per-median
    // min/max stats job of the old shape
    val t = pv.agg(coalesce(sum(col("c")), lit(0L)),
      sum(d38(col("c")) * d38(col("v"))),
      min(col("v")), max(col("v"))).head()
    val n = t.getLong(0)
    require(n >= 1, "huberMean: empty input")
    val sAll = t.getDecimal(1)
    val (vMin, vMax) = (t.getLong(2), t.getLong(3))
    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // exact lower-median order statistic over a per-value relation;
    // bounds passed in (any covering range is correct — see
    // withPrefixSumsInfo)
    def medianOf(rel: DataFrame, bounds: (Double, Double)): Long = {
      val k = (n + 1L) / 2L
      DistDrift.withPrefixSums(rel, Seq("c"), knownBounds = Some(bounds))
        .agg(min(when(col("c_below") + col("c") >= k, col("v")))).head().getLong(0)
    }
    val med = medianOf(pv, (vMin.toDouble, vMax.toDouble))
    val dev = pv.select(abs(col("v") - lit(med)).as("v"), col("c"))
      .groupBy(col("v")).agg(sum(col("c")).as("c"))
    val mad = medianOf(dev,
      (0.0, math.max(math.abs(vMin.toDouble - med), math.abs(vMax.toDouble - med))))
    val spark = df.sparkSession
    import spark.implicits._
    val plainMean = sAll.doubleValue / n.toDouble
    if (mad == 0L) {
      Seq((n, med.toDouble, 0.0, r6(med.toDouble), r6(plainMean)))
        .toDF("n", "median", "mad", "huber_mean", "plain_mean")
    } else {
      val thr = 1.345 * (1.4826 * mad.toDouble)
      var mu = med.toDouble
      for (_ <- 1 to iters) {
        val vd = col("v").cast("double"); val cd = col("c").cast("double")
        val adev = abs(vd - lit(mu))
        val w = round(when(adev <= lit(thr), 1.0)
          .otherwise(lit(thr) / adev), 9)
        val a = pv.agg(
          sum(round(w * cd, 6).cast("decimal(38,6)")),
          sum(round(w * cd * vd, 6).cast("decimal(38,6)"))).head()
        val (sw, swx) = (a.getDecimal(0).doubleValue, a.getDecimal(1).doubleValue)
        mu = r9(swx / sw)
      }
      Seq((n, med.toDouble, mad.toDouble, r6(mu), r6(plainMean)))
        .toDF("n", "median", "mad", "huber_mean", "plain_mean")
    }
  }

  /** Per-row robust z-score: adds `med`, `mad`, `robust_z` (null when the
    * group's MAD is 0 — a constant group has no spread to score against). */
  def robustZ(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    val g = col(groupCol)
    val med = df.groupBy(g).agg(
      round(expr(s"percentile($valCol, 0.5D)"), 6).as("med"))
    val withMed = df.join(broadcast(med), groupCol)
    val mad = withMed.groupBy(g).agg(
      round(expr(s"percentile(abs($valCol - med), 0.5D)"), 6).as("mad"))
    withMed.join(broadcast(mad), groupCol)
      .withColumn("robust_z",
        when(col("mad") > 0,
          round((col(valCol) - col("med")) / (lit(1.4826) * col("mad")), 6)))
  }

  /** Group profile: (group, med, mad, n, n_out) with |robust_z| > `zThresh`
    * counted as outliers. One more grouped agg over the scored rows. */
  def madProfile(df: DataFrame, groupCol: String, valCol: String,
      zThresh: Double = 3.5): DataFrame =
    robustZ(df, groupCol, valCol)
      .groupBy(col(groupCol))
      .agg(max(col("med")).as("med"), max(col("mad")).as("mad"),
        count(lit(1)).as("n"),
        sum(when(abs(col("robust_z")) > zThresh, 1L).otherwise(0L)).as("n_out"))

  /** Keep only in-band rows (|robust_z| ≤ `zThresh`; zero-MAD groups are
    * kept whole — no evidence of spread means no evidence of outliers). */
  def trimRobust(df: DataFrame, groupCol: String, valCol: String,
      zThresh: Double = 3.5): DataFrame =
    robustZ(df, groupCol, valCol)
      .where(col("robust_z").isNull || abs(col("robust_z")) <= zThresh)
      .drop("med", "mad", "robust_z")

  /**
   * Winsorized per-group summary: clip to the exact [pLo, pHi] rank
   * quantiles instead of DROPPING the tails (trimming changes n and
   * biases sums; winsorizing keeps every row, pulling the tails to the
   * cut). Quantiles come from the histogram-bisection path (no per-group
   * sort — the 100 TB route, q153/q194 discipline) and are BROADCAST
   * back onto the scan; the clip and the winsorized sum are exact long
   * arithmetic over integer `unitsCol`, so the published mean's one
   * division is the only float. `pLo`/`pHi` must be dyadic (exact
   * doubles) — p·n then has no float dust to shift a rank.
   *
   * Output: (group, n, lo_cut, hi_cut, n_lo, n_hi, sum_w, mean_w).
   */
  def winsorize(df: DataFrame, groupCol: String, unitsCol: Column,
      pLo: Double = 0.0625, pHi: Double = 0.9375): DataFrame = {
    require(pLo > 0 && pHi > pLo && pHi <= 1, s"0 < pLo < pHi <= 1: $pLo, $pHi")
    val base = df.select(col(groupCol).as("g"), unitsCol.cast("long").as("v"))
    val qs = Quantiles.exactQuantiles(base, Seq("g"), "v", Seq(pLo, pHi))
    val lo = qs.where(col("p") === pLo)
      .select(col("g"), col("value").cast("long").as("lo_cut"))
    val hi = qs.where(col("p") === pHi)
      .select(col("g"), col("value").cast("long").as("hi_cut"))
    base.join(broadcast(lo), Seq("g")).join(broadcast(hi), Seq("g"))
      .withColumn("__w", least(greatest(col("v"), col("lo_cut")), col("hi_cut")))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        max(col("lo_cut")).as("lo_cut"), max(col("hi_cut")).as("hi_cut"),
        sum(when(col("v") < col("lo_cut"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("v") > col("hi_cut"), 1L).otherwise(0L)).as("n_hi"),
        sum(col("__w")).as("sum_w"))
      .withColumn("mean_w",
        round(col("sum_w").cast("double") / col("n").cast("double"), 6))
  }
}
