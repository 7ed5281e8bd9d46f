package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Distribution drift between two table versions — the ML-monitoring
 * complement of [[Profile]]'s moment drift: population stability index
 * (the industry-standard binned divergence) and the exact two-sample
 * Kolmogorov-Smirnov statistic.
 *
 * PSI bins on EXPLICIT bounds (caller-declared, like `ZOrder.gridCoord` —
 * an engine-derived min/max would make the binning a moving target),
 * Laplace-smooths shares so empty bins don't blow up the log, and is one
 * grouped count per side.
 *
 * KS runs in EXACT integer arithmetic until the last step: with side
 * counts c1,c2 cumulated over the ordered distinct values, the statistic
 * is max |c1·n2 − c2·n1| / (n1·n2) — the numerator is an exact long, so
 * the max is deterministic (no float CDF accumulation). The cumulative
 * counts come from [[withPrefixSums]] — a DISTRIBUTED prefix sum over
 * the distinct-value relation (deterministic equi-width value buckets →
 * partitioned windows + exactly-cumulated broadcast offsets), so no
 * operator here ever funnels the relation through a single task.
 */
object DistDrift {

  /**
   * Distributed exclusive prefix sums over ascending `v` — the scan
   * primitive KS/Mann-Whitney/Kruskal-Wallis all need. A naive
   * `Window.orderBy(v)` collapses the whole relation into ONE task; this
   * instead buckets values equi-width (boundaries from one min/max agg,
   * so the bucket id is a deterministic pure function of v), runs the
   * running-sum window PARTITIONED per bucket, and cumulates the ≤
   * `PrefixBuckets` per-bucket totals exactly (longs) on the driver,
   * broadcasting the offsets back. Adds `<c>_below` = Σ of `c` over all
   * rows with smaller `v` for each requested count column. Null `v`
   * sorts first (its own bucket), matching SQL null-first rank order.
   */
  private val PrefixBuckets = 256

  /** [[withPrefixSums]] result with the driver-side facts the bucket
    * pass learns for free: `nDistinct` = number of perValue rows and
    * `totals` = the grand total of every count column (= the final
    * prefix accumulator). Surfacing them lets callers drop their own
    * count/total probe jobs (rankSums' tie rollup, yuenT's per-group
    * n, spearman's long-path election) — the round-17 job-count cut. */
  private[graft] case class PrefixSums(df: DataFrame, nDistinct: Long,
    totals: Map[String, Long],
    perGroupTotals: Map[Seq[Any], Map[String, Long]] = Map.empty)

  private[operators] def withPrefixSums(perValue: DataFrame, cnts: Seq[String],
      keepBucket: Boolean = false,
      knownBounds: Option[(Double, Double)] = None): DataFrame =
    withPrefixSumsInfo(perValue, cnts, keepBucket, knownBounds).df

  /** Full variant: also returns the distinct-value count and per-column
    * grand totals (see [[PrefixSums]]). `knownBounds` skips the min/max
    * stats job when the caller already knows a COVERING value range
    * (bounds only shape the internal buckets — any covering range is
    * correct; the oracle never sees them). `groupCols` (string-typed)
    * generalizes the scan to per-group prefix sums in the SAME pass:
    * buckets partition by (group, bucket), offsets cumulate per group
    * on the driver (≤ groups × buckets rows collected), and `<c>_below`
    * becomes Σ of `c` over smaller `v` WITHIN the row's group — one
    * bucket job for all of kendallW's raters where the old shape ran
    * one full pass per rater. */
  private[graft] def withPrefixSumsInfo(perValue: DataFrame,
      cnts: Seq[String], keepBucket: Boolean = false,
      knownBounds: Option[(Double, Double)] = None,
      groupCols: Seq[String] = Nil): PrefixSums = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
    val spark = perValue.sparkSession
    // the offsets frame types group keys as strings (a schema check, no job)
    groupCols.foreach(g => require(perValue.schema(g).dataType == StringType,
      s"withPrefixSumsInfo: group column '$g' must be a string column"))
    val (mn, mx) = knownBounds.getOrElse {
      val stats = perValue.where(col("v").isNotNull)
        .agg(min(col("v").cast("double")).as("mn"),
          max(col("v").cast("double")).as("mx")).head()
      if (stats.isNullAt(0)) (0.0, 0.0)
      else (stats.getDouble(0), stats.getDouble(1))
    }
    // always a function of v (never a foldable literal — Catalyst would
    // fold a constant partition key away and recreate the single-task
    // window); degenerate single-value/empty inputs get width 1 so the
    // formula itself lands everything in bucket 0
    val width = if (mx > mn) (mx - mn) / PrefixBuckets else 1.0
    val bucketOf =
      least(greatest(floor((col("v").cast("double") - lit(mn)) / lit(width)),
        lit(0.0)), lit((PrefixBuckets - 1).toDouble)).cast("int")
    val bucketed = perValue.withColumn("__b",
      when(col("v").isNull, lit(-1)).otherwise(bucketOf))
    val keyCols = groupCols :+ "__b"
    val bucketTotals = bucketed.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__nv"),
        cnts.map(c => sum(col(c)).as(c)): _*)
      .orderBy(keyCols.map(col): _*).collect()
    // offsets cumulate PER GROUP (rows arrive group-major, bucket-minor)
    val accs = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Any], scala.collection.mutable.LinkedHashMap[String, Long]]
    val grand = scala.collection.mutable.LinkedHashMap(cnts.map(_ -> 0L): _*)
    var nv = 0L
    val g = groupCols.length
    val offRows = bucketTotals.map { r =>
      val key = (0 until g).map(r.get)
      val acc = accs.getOrElseUpdate(key,
        scala.collection.mutable.LinkedHashMap(cnts.map(_ -> 0L): _*))
      nv += r.getAs[Long]("__nv")
      val offs = cnts.map { c =>
        val o = acc(c); val t = r.getAs[Long](c)
        acc(c) += t; grand(c) += t; o
      }
      Row.fromSeq(key ++ (r.getInt(g) +: offs))
    }
    val offSchema = StructType(
      groupCols.map(StructField(_, StringType, nullable = true)) ++
      (StructField("__b", IntegerType, nullable = false) +:
        cnts.map(c => StructField(s"__off_$c", LongType, nullable = false))))
    val offDf = spark.createDataFrame(
      java.util.Arrays.asList(offRows: _*), offSchema)
    val wIn = Window.partitionBy(keyCols.map(col): _*).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withLocal = cnts.foldLeft(bucketed) { (d, c) =>
      d.withColumn(s"__wb_$c", coalesce(sum(col(c)).over(wIn), lit(0L)))
    }
    // null-safe keys (a null group keeps its offsets), USING-join column order
    val offJoined = withLocal.join(broadcast(offDf),
        keyCols.map(k => withLocal(k) <=> offDf(k)).reduce(_ && _))
      .select((keyCols ++ withLocal.columns.filterNot(keyCols.contains)).map(withLocal(_)) ++
        cnts.map(c => offDf(s"__off_$c")): _*)
    val joined = cnts.foldLeft(offJoined) { (d, c) =>
      d.withColumn(s"${c}_below", col(s"__wb_$c") + col(s"__off_$c"))
    }
    PrefixSums(joined.drop((if (keepBucket) Nil else Seq("__b")) ++
      cnts.flatMap(c => Seq(s"__wb_$c", s"__off_$c")): _*),
      nv, grand.toMap,
      accs.map { case (k, m) => k -> m.toMap }.toMap)
  }

  private def bin(v: Column, lo: Double, hi: Double, nBins: Int): Column =
    least(greatest(floor((v - lit(lo)) / lit((hi - lo) / nBins)), lit(0.0)),
      lit((nBins - 1).toDouble)).cast("long")

  /** Per-bin shares of `valCol` over declared [lo, hi) equi-width bins,
    * Laplace-smoothed: (cnt + 1) / (n + nBins). */
  private def shares(df: DataFrame, valCol: String, lo: Double, hi: Double,
      nBins: Int, n: Long): DataFrame = {
    val binned = df.select(bin(col(valCol), lo, hi, nBins).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
    val allBins = df.sparkSession.range(nBins).select(col("id").as("bin"))
    allBins.join(binned, Seq("bin"), "left")
      .select(col("bin"),
        ((coalesce(col("cnt"), lit(0L)) + lit(1L)).cast("double")
          / lit((n + nBins).toDouble)).as("share"))
  }

  /**
   * PSI between `oldDf` and `newDf` on `valCol`:
   * one row — (psi, n_old, n_new). psi = Σ (q−p)·ln(q/p), 6dp.
   */
  def psi(oldDf: DataFrame, newDf: DataFrame, valCol: String,
      lo: Double, hi: Double, nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && hi > lo, "need nBins >= 2 and hi > lo")
    val (nOld, nNew) = (oldDf.count(), newDf.count())
    val p = shares(oldDf, valCol, lo, hi, nBins, nOld).withColumnRenamed("share", "p")
    val q = shares(newDf, valCol, lo, hi, nBins, nNew).withColumnRenamed("share", "q")
    p.join(q, "bin")
      // per-bin terms round to 12dp and sum as DECIMAL: the Σ is exact and
      // partition-order free (a raw double Σ could flip the 6dp rounding)
      .agg(round(sum(round((col("q") - col("p")) * log(col("q") / col("p")), 12)
        .cast("decimal(20,12)")).cast("double"), 6).as("psi"))
      .select(col("psi"), lit(nOld).as("n_old"), lit(nNew).as("n_new"))
  }

  /**
   * Chi-square test of INDEPENDENCE between two categorical columns —
   * the categorical complement of [[psi]]/[[ks]]: does priority depend
   * on status? One grouped count builds the contingency cells; expected
   * counts are the rational rt·ct/n evaluated once in doubles; terms
   * 12dp-round and DECIMAL-sum (the engine's Σ doctrine); Cramér's V =
   * √(χ²/(n·min(r−1,c−1))) normalizes to [0,1] from the PUBLISHED χ².
   * Output: one row (n, n_rows, n_cols, chi2, cramers_v).
   */
  def chi2Independence(df: DataFrame, colA: String, colB: String): DataFrame = {
    val cells = df.where(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).as("a"), col(colB).as("b"))
      .agg(count(lit(1)).as("o")).cache()
    val rowTot = cells.groupBy(col("a")).agg(sum(col("o")).as("rt"))
    val colTot = cells.groupBy(col("b")).agg(sum(col("o")).as("ct"))
    val n = cells.agg(sum(col("o"))).head().getLong(0)
    val r = rowTot.count()
    val c = colTot.count()
    // every (a, b) cell including structural zeros: expected > 0 for all
    val full = rowTot.crossJoin(colTot)
      .join(cells, Seq("a", "b"), "left")
      .withColumn("e",
        col("rt").cast("double") * col("ct").cast("double") / lit(n.toDouble))
      .withColumn("__term", round(
        (coalesce(col("o"), lit(0L)).cast("double") - col("e"))
          * (coalesce(col("o"), lit(0L)).cast("double") - col("e")) / col("e"), 12))
    val chi2 = full.agg(
      round(sum(col("__term").cast("decimal(24,12)")).cast("double"), 6).as("chi2"))
    chi2.select(lit(n).as("n"), lit(r).as("n_rows"), lit(c).as("n_cols"),
      col("chi2"),
      round(sqrt(col("chi2") / (lit(n.toDouble) * lit(math.min(r - 1, c - 1).toDouble))), 6)
        .as("cramers_v"))
  }

  /**
   * Nominal association effect sizes — what [[chi2Independence]]'s
   * p-machinery cannot say: χ² grows with n, so at corpus scale
   * EVERYTHING is "significant"; these are the size-of-effect numbers.
   * Bias-corrected Cramér's V (Bergsma 2013 — plain V is inflated
   * upward for small n and many categories; the corrected form
   * subtracts the independence expectation of φ²) and Goodman–Kruskal
   * λ in BOTH directions (proportional reduction in prediction error:
   * λ_B|A = how much knowing A improves guessing B over always
   * guessing B's mode — 0 even under dependence if the mode never
   * changes, which is exactly its point).
   *
   * Exactness: cells are exact longs from ONE aggregation (bounded by
   * the categorical domains, `maxCats` refusal); χ² rides 12dp-decimal
   * terms over the FULL margin cross (zero cells included — the q199
   * shape) and publishes 6dp; V/V⁺ compose from the PUBLISHED χ²; both
   * λ are exact-integer rationals with one divide. Single-category
   * margins publish NULL for the undefined statistics.
   *
   * Output: one row (n, n_rows, n_cols, chi2, v, v_corrected,
   * lambda_b_given_a, lambda_a_given_b).
   */
  def nominalAssociation(df: DataFrame, colA: String, colB: String,
      maxCats: Int = 64): DataFrame = {
    val src = df.select(col(colA).cast("string").as("a"),
        col(colB).cast("string").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull)
    // probe-then-refuse (the covCells discipline): dims checked in ONE
    // small distributed agg BEFORE any driver materialization, so a
    // high-cardinality column is refused without ever collecting it
    val probe = src.agg(countDistinct(col("a")).as("na"),
      countDistinct(col("b")).as("nb")).head()
    val (na, nb) = (probe.getLong(0), probe.getLong(1))
    require(na <= maxCats && nb <= maxCats,
      s"nominalAssociation: ${na}×${nb} categories exceed " +
        s"maxCats=$maxCats — this operator collects the contingency table")
    val cells = src
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("o"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val as = cells.keys.map(_._1).toSeq.distinct.sorted
    val bs = cells.keys.map(_._2).toSeq.distinct.sorted
    require(as.nonEmpty, "nominalAssociation: empty input")
    val (r, c) = (as.length, bs.length)
    val rt = as.map(a => a -> bs.map(b => cells.getOrElse((a, b), 0L)).sum).toMap
    val ct = bs.map(b => b -> as.map(a => cells.getOrElse((a, b), 0L)).sum).toMap
    val n = rt.values.sum
    val nd = n.toDouble
    def d12(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val chi2 = r6(as.iterator.flatMap(a => bs.iterator.map { b =>
      val e = rt(a).toDouble * ct(b).toDouble / nd
      val o = cells.getOrElse((a, b), 0L).toDouble
      d12((o - e) * (o - e) / e)
    }).foldLeft(BigDecimal(0))(_ + _).toDouble)
    val minDim = math.min(r, c) - 1
    val v = if (minDim > 0) Some(r6(math.sqrt(chi2 / (nd * minDim.toDouble))))
    else None
    val vc = if (minDim > 0 && n > 1) {
      val phi2 = chi2 / nd
      val phi2p = math.max(phi2 -
        (r - 1).toDouble * (c - 1).toDouble / (nd - 1.0), 0.0)
      val rp = r.toDouble - (r - 1).toDouble * (r - 1).toDouble / (nd - 1.0)
      val cp = c.toDouble - (c - 1).toDouble * (c - 1).toDouble / (nd - 1.0)
      val den = math.min(rp - 1.0, cp - 1.0)
      if (den > 0) Some(r6(math.sqrt(phi2p / den))) else None
    } else None
    def lambda(rowMax: Long, margMax: Long): Option[Double] =
      if (n == margMax) None
      else Some(r6((rowMax - margMax).toDouble / (n - margMax).toDouble))
    val lBA = lambda(as.map(a => bs.map(b => cells.getOrElse((a, b), 0L)).max).sum,
      ct.values.max)
    val lAB = lambda(bs.map(b => as.map(a => cells.getOrElse((a, b), 0L)).max).sum,
      rt.values.max)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((n, r.toLong, c.toLong, chi2, v, vc, lBA, lAB))
      .toDF("n", "n_rows", "n_cols", "chi2", "v", "v_corrected",
        "lambda_b_given_a", "lambda_a_given_b")
  }

  /**
   * Per-cell adjusted standardized residuals (Agresti §3.3.1) — the
   * drill-down [[chi2Independence]]'s one-number χ² can't give: WHICH
   * (a, b) cells drive the dependence and in which direction. For every
   * cell (including structural zeros) the residual
   * r = (o − e) / √(e·(1 − rt/n)·(1 − ct/n)) is asymptotically N(0,1)
   * under independence, so |r| > 2–3 marks the deviating cells. e and r
   * are each ONE double expression (6dp) from exact counts — no sums of
   * floats anywhere, so no order dependence by construction. A margin
   * spanning the whole relation (rt = n or ct = n) makes the denominator
   * 0 → NULL residual, loudly. Output: one row per cell
   * (a, b, o, e, resid); |cells| = |A|·|B|, bounded by the categorical
   * domains exactly like the χ² contingency itself.
   */
  def chi2Residuals(df: DataFrame, colA: String, colB: String): DataFrame = {
    val cells = df.where(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).as("a"), col(colB).as("b"))
      .agg(count(lit(1)).as("o")).cache()
    val rowTot = cells.groupBy(col("a")).agg(sum(col("o")).as("rt"))
    val colTot = cells.groupBy(col("b")).agg(sum(col("o")).as("ct"))
    val n = cells.agg(sum(col("o"))).head().getLong(0)
    val nd = lit(n.toDouble)
    val o = coalesce(col("o"), lit(0L)).cast("double")
    val e = col("rt").cast("double") * col("ct").cast("double") / nd
    val denom = e * (lit(1.0) - col("rt").cast("double") / nd) *
      (lit(1.0) - col("ct").cast("double") / nd)
    rowTot.crossJoin(colTot)
      .join(cells, Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("o"), lit(0L)).as("o"),
        round(e, 6).as("e"),
        when(denom > 0, round((o - e) / sqrt(denom), 6)).as("resid"))
  }

  /**
   * Mutual information between two categoricals (+ marginal entropies
   * and the min-entropy-normalized NMI) — the feature-selection measure
   * χ² isn't: MI ranks "how much does knowing A tell you about B" on a
   * comparable scale. All probabilities are rationals of exact counts;
   * each term's log argument is the rational n·o/(rt·ct); terms 12dp-
   * round and DECIMAL-sum (the Σ doctrine). Output: one row
   * (n, mi, h_a, h_b, nmi), nats, 6dp.
   */
  /**
   * Negative-binomial method-of-moments fit per group — the
   * overdispersion readout for count data: a Poisson has var = mean;
   * real per-user event counts almost never do, and the NB dispersion
   * k̂ = mean²/(var − mean) is the one number that says HOW heavy the
   * user-activity tail is (small k̂ = a few whales carry the volume —
   * the skew-join/salting early warning). Sibling of the Fano index
   * (`TimeSeries.dispersionIndex`, q320) which reads arrival buckets;
   * this reads the per-unit count distribution.
   *
   * Exactness: S = Σx, Q = Σx² are exact DECIMAL sums; mean = S/n,
   * sample variance = (n·Q − S²)/(n·(n−1)) are one double divide each
   * of exact-decimal-rooted operands; dispersion and k̂ compose from
   * the UNROUNDED doubles, all published 6dp. var ≤ mean (at-most-
   * Poisson) → NULL k̂ (the NB fit does not exist). One groupBy,
   * |groups| rows.
   *
   * Output: (grp, n, total, mean, variance, dispersion, k_hat),
   * ordered by grp.
   */
  def negativeBinomialFit(df: DataFrame, groupCol: Column,
      countCol: Column): DataFrame = {
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val g = df.select(groupCol.cast("string").as("grp"),
        countCol.cast("long").as("x"))
      .where(col("grp").isNotNull && col("x").isNotNull)
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("total"),
        sum(d(col("x")) * d(col("x"))).as("__q"))
    val nD = col("n").cast("double")
    val mean = col("total").cast("double") / nD
    val variance = (d(col("n")) * col("__q") - d(col("total")) * d(col("total")))
      .cast("double") / (nD * (nD - lit(1.0)))
    g.where(col("n") > 1)
      .select(col("grp"), col("n"), col("total"),
        round(mean, 6).as("mean"),
        round(variance, 6).as("variance"),
        when(mean > 0, round(variance / mean, 6)).as("dispersion"),
        when(variance > mean, round(mean * mean / (variance - mean), 6))
          .as("k_hat"))
      .orderBy("grp")
  }

  /**
   * Pairwise NMI matrix over a set of categorical columns — the
   * redundancy map a feature audit reads ("these two columns encode the
   * same thing") and the multi-column upgrade of [[mutualInformation]]:
   * one row per unordered column pair, same exact-count/12dp-term/
   * DECIMAL-sum arithmetic per pair. The pair loop is DRIVER-side over
   * C(|cols|,2) — bounded by the declared column list, never by data —
   * and each pair's readout is the one-row MI aggregation; the
   * `maxCols` require keeps the pass count loud.
   *
   * Output: (col_a, col_b, n, mi, h_a, h_b, nmi), ordered by (col_a,
   * col_b).
   */
  def nmiMatrix(df: DataFrame, cols: Seq[String],
      maxCols: Int = 12): DataFrame = {
    require(cols.size >= 2, "nmiMatrix: need at least two columns")
    require(cols.size <= maxCols,
      s"nmiMatrix: ${cols.size} columns > maxCols=$maxCols — " +
        s"C(k,2) MI passes; raise the bound deliberately")
    require(cols.distinct.size == cols.size, "nmiMatrix: duplicate columns")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    pairs.map { case (a, b) =>
      mutualInformation(df, a, b)
        .select(lit(a).as("col_a"), lit(b).as("col_b"),
          col("n"), col("mi"), col("h_a"), col("h_b"), col("nmi"))
    }.reduce(_ unionByName _).orderBy("col_a", "col_b")
  }

  def mutualInformation(df: DataFrame, colA: String, colB: String): DataFrame = {
    val cells = df.where(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).as("a"), col(colB).as("b"))
      .agg(count(lit(1)).as("o")).cache()
    val n = cells.agg(sum(col("o"))).head().getLong(0)
    val nd = lit(n.toDouble)
    def entropy(tot: DataFrame, c: String): DataFrame =
      tot.select(round(col(c).cast("double") / nd
          * log(nd / col(c).cast("double")), 12).as("__t"))
        .agg(round(sum(col("__t").cast("decimal(24,12)")).cast("double"), 6).as("h"))
    val rowTot = cells.groupBy(col("a")).agg(sum(col("o")).as("rt"))
    val colTot = cells.groupBy(col("b")).agg(sum(col("o")).as("ct"))
    val mi = cells.join(broadcast(rowTot), "a").join(broadcast(colTot), "b")
      .select(round(col("o").cast("double") / nd
        * log(nd * col("o").cast("double")
          / (col("rt").cast("double") * col("ct").cast("double"))), 12).as("__t"))
      .agg(round(sum(col("__t").cast("decimal(24,12)")).cast("double"), 6).as("mi"))
    mi.crossJoin(entropy(rowTot, "rt").withColumnRenamed("h", "h_a"))
      .crossJoin(entropy(colTot, "ct").withColumnRenamed("h", "h_b"))
      .select(lit(n).as("n"), col("mi"), col("h_a"), col("h_b"),
        round(col("mi") / least(col("h_a"), col("h_b")), 6).as("nmi"))
  }

  /**
   * Jensen–Shannon divergence between two categorical distributions —
   * the symmetric, always-finite drift measure KL isn't (KL blows up on
   * categories one side lacks; JSD's mixture M = (P+Q)/2 is nonzero
   * wherever either side is). Probabilities are rationals of exact
   * counts; per-category terms ½(p·ln(p/m) + q·ln(q/m)) round to 12dp
   * and DECIMAL-sum (the Σ doctrine); `jsd_bits` and the metric
   * `js_dist` = √(jsd/ln2) compose from the PUBLISHED 6dp jsd.
   * Output: one row (n_a, n_b, n_cats, jsd, jsd_bits, js_dist).
   */
  def jensenShannon(dfA: DataFrame, dfB: DataFrame, valCol: String): DataFrame = {
    val a = dfA.select(col(valCol).cast("string").as("v")).where(col("v").isNotNull)
      .groupBy(col("v")).agg(count(lit(1)).as("ca"))
    val b = dfB.select(col(valCol).cast("string").as("v")).where(col("v").isNotNull)
      .groupBy(col("v")).agg(count(lit(1)).as("cb"))
    val na = dfA.where(col(valCol).isNotNull).count()
    val nb = dfB.where(col(valCol).isNotNull).count()
    require(na > 0 && nb > 0, s"jensenShannon needs rows on both sides ($na, $nb)")
    val joined = a.join(b, Seq("v"), "full_outer")
      .select(coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val p = col("ca").cast("double") / lit(na.toDouble)
    val q = col("cb").cast("double") / lit(nb.toDouble)
    val m = (p + q) / lit(2.0)
    val term = (when(col("ca") > 0, p * log(p / m)).otherwise(lit(0.0))
      + when(col("cb") > 0, q * log(q / m)).otherwise(lit(0.0))) * lit(0.5)
    val ln2 = 0.6931471805599453
    joined.withColumn("__t", round(term, 12))
      .agg(count(lit(1)).as("n_cats"),
        round(sum(col("__t").cast("decimal(24,12)")).cast("double"), 6).as("jsd"))
      .select(lit(na).as("n_a"), lit(nb).as("n_b"), col("n_cats"), col("jsd"),
        round(col("jsd") / lit(ln2), 6).as("jsd_bits"),
        round(sqrt(col("jsd") / lit(ln2)), 6).as("js_dist"))
  }

  /**
   * Spearman rank correlation — the monotone-association measure that
   * ignores outliers and units Pearson chokes on. Tie-corrected average
   * ranks come from the SAME distinct-value discipline as [[ks]]: per-
   * value counts + bucketed prefix sums give the half-unit identity
   * 2·rank̄(v) = 2·below(v) + t(v) + 1, so NO full-relation window and
   * no per-row ranking — rows meet their rank by a value-keyed join.
   * With A = 2·rank̄ all moments are exact integers (ΣA = n(n+1) always):
   * ρ = (ΣAxAy − n(n+1)²) / √(ΣAx²−n(n+1)²)·√(ΣAy²−n(n+1)²) — sums in
   * DECIMAL(38,0) (exact to n ≈ 10⁴ trillion rows; A·A ≤ 4n²), doubles
   * only in the final ratio with the two sqrts taken separately (the
   * q244 overflow doctrine). Output: one row (n, rho), 6dp.
   */
  def spearman(df: DataFrame, xCol: Column, yCol: Column,
      forceDecimalPath: Boolean = false): DataFrame = {
    // forceDecimalPath: spec hook ONLY — pins the long moment path
    // byte-equal to the decimal path on the same data.
    // (A cache + broadcast-rank + fanOut variant was measured SLOWER
    // here — two serial broadcast builds plus the cache/checkpoint
    // materialization cost more than the shuffle joins they replaced;
    // reverted. The keepers are the fused stats probe and the
    // probe-gated long moment path.)
    val subj = df.select(xCol.cast("double").as("x"), yCol.cast("double").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull)
    // ONE fused probe: n for the long-path election + both axes' bucket
    // bounds (previously two separate stats jobs inside the two prefix
    // passes, and no n at all)
    val stats = subj.agg(count(lit(1)), min(col("x")), max(col("x")),
      min(col("y")), max(col("y"))).head()
    val n = stats.getLong(0)
    def bounds(i: Int): Option[(Double, Double)] =
      if (stats.isNullAt(i)) Some((0.0, 0.0))
      else Some((stats.getDouble(i), stats.getDouble(i + 1)))
    // doubled ranks satisfy A ≤ 2n, so every product ≤ 4n² and the
    // moment sums ≤ 4n³ — exact LONGs (codegen sum, no BigDecimal per
    // row) whenever 4n³ < 2⁶² (n ≈ 1.04M; BigInt guard, no wrap on
    // the probe itself). Identical integers to the DECIMAL(38,0)
    // sums under the bound → identical published doubles; above it
    // the decimal path keeps unbounded exactness (the VecOuterAgg /
    // kmeansLloyd probe-then-choose doctrine).
    val useLong = !forceDecimalPath &&
      BigInt(4) * BigInt(n).pow(3) < BigInt(2).pow(62)
    def rankOf(c: String, b: Option[(Double, Double)]): DataFrame = {
      val perValue = subj.groupBy(col(c).as("v")).agg(count(lit(1)).as("t"))
      val a2 = lit(2L) * col("t_below") + col("t") + 1L
      withPrefixSums(perValue, Seq("t"), knownBounds = b)
        .select(col("v").as(c),
          (if (useLong) a2 else a2.cast("decimal(38,0)")).as(s"__a_$c"))
    }
    val ranked = subj.join(rankOf("x", bounds(1)), "x")
      .join(rankOf("y", bounds(3)), "y")
    val agg = ranked.agg(count(lit(1)).as("n"),
      sum(col("__a_x") * col("__a_y")).as("sxy"),
      sum(col("__a_x") * col("__a_x")).as("sx2"),
      sum(col("__a_y") * col("__a_y")).as("sy2"))
    val nD = if (useLong) col("n") else col("n").cast("decimal(38,0)")
    val m = nD * (nD + lit(1)) * (nD + lit(1))
    val num = (col("sxy") - m).cast("double")
    val dx = (col("sx2") - m).cast("double")
    val dy = (col("sy2") - m).cast("double")
    agg.select(col("n"),
      when(dx > 0 && dy > 0, round(num / (sqrt(dx) * sqrt(dy)), 6)).as("rho"))
  }

  /**
   * Gini concentration coefficient per group, exact until the last step:
   * with values as integer cents sorted ascending (ties are
   * position-invariant in Σ i·x, so no tiebreak is even needed),
   * G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n — rank-weighted sums are exact longs,
   * one window pass per group. The inequality/concentration measure for
   * "how skewed is revenue across customers/sources".
   * Output: (group, n, total_cents, gini).
   */
  def gini(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__cents"))
    val ranked = df
      .withColumn("__cents", (col(valueCol).cast("decimal(18,2)") * 100).cast("long"))
      .withColumn("__i", row_number().over(w).cast("long"))
    ranked.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("__cents")).as("total_cents"),
        sum(col("__i") * col("__cents")).as("__six"))
      .select(col(groupCol), col("n"), col("total_cents"),
        round(lit(2.0) * col("__six").cast("double")
            / (col("n").cast("double") * col("total_cents").cast("double"))
          - (col("n").cast("double") + lit(1.0)) / col("n").cast("double"), 6)
          .as("gini"))
  }

  /**
   * Theil-T inequality with exact within/between decomposition — the
   * question [[gini]] cannot answer: Gini says HOW skewed revenue is,
   * Theil says WHERE the skew lives, because it is the only standard
   * inequality index that decomposes additively by group
   * (T = T_between + Σ_g s_g·T_g, s_g = the group's value share).
   * A rising corpus-wide Gini with flat within-group Theil means the
   * GROUPS are diverging, not the members.
   *
   * Exactness: values quantize to exact integer cents (DECIMAL sums);
   * the one transcendental per row (x·ln x) rounds 12dp and
   * DECIMAL-sums (order-free); every published statistic is one double
   * expression of those exact sums, mirrored verbatim in the oracle.
   * T_g uses the sum identity T_g = (Σx·lnx − ln μ_g·Σx)/(N_g·μ_g) —
   * no second pass over rows. Shape: ONE map-combined groupBy over the
   * fact table, then a groups-sized rollup. Non-positive values carry
   * no ln and are excluded by definition.
   *
   * Output per group: (grp, n, mean_x, share, theil_g) + the
   * decomposition (theil_within, theil_between, theil_total)
   * replicated (the calibration convention).
   */
  def theilDecomposition(df: DataFrame, groupCol: Column,
      valueCol: Column): DataFrame = {
    val rows = df.select(groupCol.cast("string").as("grp"),
        valueCol.cast("double").as("x"))
      .where(col("grp").isNotNull && col("x").isNotNull && col("x") > 0.0)
    val per = rows.groupBy(col("grp")).agg(
      count(lit(1)).as("n"),
      sum(round(col("x") * lit(100.0), 0).cast("decimal(38,0)")).as("__s2"),
      sum(round(col("x") * log(col("x")), 12).cast("decimal(38,12)")).as("__u"))
    val tot = per.agg(sum(col("n")).as("__nt"), sum(col("__s2")).as("__s2t"),
      sum(col("__u")).as("__ut"))
    val j = per.crossJoin(broadcast(tot))
    val ng = col("n").cast("double")
    val sg = col("__s2").cast("double") / lit(100.0)
    val mug = sg / ng
    val nt = col("__nt").cast("double")
    val st = col("__s2t").cast("double") / lit(100.0)
    val mut = st / nt
    val tg = (col("__u").cast("double") - log(mug) * sg) / (ng * mug)
    val share = sg / st
    val perT = j.select(col("grp"), col("n"), mug.as("__mug"),
        share.as("__share"), tg.as("__tg"),
        round(share * tg, 12).cast("decimal(38,12)").as("__w"),
        round(share * log(mug / mut), 12).cast("decimal(38,12)").as("__b"))
      .localCheckpoint(true) // read twice: scalar rollup + final join
    val sc = perT.agg(sum(col("__w")).as("__tw"), sum(col("__b")).as("__tb"))
    perT.crossJoin(broadcast(sc)).select(col("grp"), col("n"),
      round(col("__mug"), 6).as("mean_x"),
      round(col("__share"), 6).as("share"),
      round(col("__tg"), 6).as("theil_g"),
      round(col("__tw").cast("double"), 6).as("theil_within"),
      round(col("__tb").cast("double"), 6).as("theil_between"),
      round(col("__tw").cast("double") + col("__tb").cast("double"), 6)
        .as("theil_total"))
  }

  /**
   * Exact two-sample KS: one row — (ks, at_value, n_old, n_new), where
   * `ks` = max |F1−F2| over the pooled distinct values and `at_value` is
   * the smallest value attaining it (deterministic tiebreak). The max
   * search compares the INTEGER |c1·n2 − c2·n1| — floats appear only in
   * the published ratio.
   */
  /**
   * Exact 1-Wasserstein (earth-mover) distance between two integer-unit
   * samples — the drift metric WITH UNITS: PSI/KS/JSD see probability
   * mass only (10% of mass moving 1 cent reads like 10% moving $100);
   * W1 is the literal average transport cost in the value's own units,
   *
   *   W1 = ∫|F_A − F_B| dx
   *      = Σ_v |cumA(v)·n_B − cumB(v)·n_A| · gap(v) / (n_A·n_B)
   *
   * over pooled DISTINCT values (gap = successor − v). Every term is
   * exact DECIMAL(38,0); ONE double divide publishes 6dp. Plan: the
   * [[ks]] shape — distinct-value aggregation + distributed prefix
   * sums. The successor stays partitioned too: buckets are monotone in
   * v, so gap = bucket-local lead, patched at bucket boundaries by a
   * ≤257-row broadcast of next-bucket first values (the withPrefixSums
   * offset discipline applied to successors).
   * Output: one row (n_a, n_b, n_values, w1); w1 NULL if a side is empty.
   */
  def wasserstein1(aDf: DataFrame, bDf: DataFrame, valCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val tagged = aDf.select(col(valCol).cast("long").as("v"),
        lit(1L).as("s1"), lit(0L).as("s2"))
      .unionByName(bDf.select(col(valCol).cast("long").as("v"),
        lit(0L).as("s1"), lit(1L).as("s2")))
      .where(col("v").isNotNull)
    val perValue = tagged.groupBy(col("v"))
      .agg(sum(col("s1")).as("c1"), sum(col("s2")).as("c2"))
    val totals = tagged.agg(coalesce(sum(col("s1")), lit(0L)).as("n1"),
      coalesce(sum(col("s2")), lit(0L)).as("n2"))
    val cum = withPrefixSums(perValue, Seq("c1", "c2"), keepBucket = true)
    val wIn = Window.partitionBy(col("__b")).orderBy(col("v"))
    val withLead = cum.withColumn("__vn", lead(col("v"), 1).over(wIn))
    // per-bucket first values (≤257 rows) → each bucket's next-bucket first
    val firsts = cum.groupBy(col("__b")).agg(min(col("v")).as("fv"))
      .orderBy(col("__b")).collect()
    val nfRows: Seq[Row] = firsts.indices.map { i =>
      Row(firsts(i).getInt(0),
        if (i + 1 < firsts.length) java.lang.Long.valueOf(firsts(i + 1).getLong(1))
        else null)
    }
    val nfSchema = StructType(Seq(StructField("__b", IntegerType, nullable = false),
      StructField("__nf", LongType, nullable = true)))
    val nfDf = aDf.sparkSession.createDataFrame(
      java.util.Arrays.asList(nfRows: _*), nfSchema)
    val dec = "decimal(38,0)"
    val terms = withLead.join(broadcast(nfDf), "__b")
      .withColumn("__vnext", coalesce(col("__vn"), col("__nf")))
      .where(col("__vnext").isNotNull) // the global max value carries no gap
      .crossJoin(broadcast(totals))
      .withColumn("__t",
        (abs((col("c1_below") + col("c1")).cast(dec) * col("n2").cast(dec)
          - (col("c2_below") + col("c2")).cast(dec) * col("n1").cast(dec))
          * (col("__vnext") - col("v")).cast(dec)).cast(dec))
    val nv = perValue.agg(count(lit(1)).as("n_values"))
    terms.agg(coalesce(sum(col("__t")), lit(0).cast(dec)).as("__s"))
      .crossJoin(broadcast(totals)).crossJoin(broadcast(nv))
      .select(col("n1").as("n_a"), col("n2").as("n_b"), col("n_values"),
        when(col("n1") > 0 && col("n2") > 0,
          round(col("__s").cast("double")
            / (col("n1").cast(dec) * col("n2").cast(dec)).cast("double"), 6))
          .as("w1"))
  }

  /**
   * Per-key binned 1-Wasserstein against one reference histogram — the
   * bounded-state form of [[wasserstein1]] for streams and dashboards:
   * each key (a time window, a source, an experiment arm) carries at
   * most `nBins` counts, the reference broadcasts, and the distance is
   * exact over bin indices then scaled by the declared bin `width`
   * (the [[ksBinned]] lower-bound contract: converges to true W1 as
   * bins shrink). All windows PARTITION BY key (≤ nBins rows each);
   * terms are exact DECIMAL(38,0); one divide·scale publishes 6dp.
   * Input: `perKey` rows (k, bin, c); `ref` rows (bin, c).
   * Output per key: (k, n_key, w1) — w1 in value units; NULL if either
   * side is empty.
   */
  def histW1(perKey: DataFrame, ref: DataFrame, width: Double): DataFrame = {
    require(width > 0.0, "width > 0")
    val refTot = ref.agg(coalesce(sum(col("c")), lit(0L)).as("nr"))
    val r = ref.select(col("bin").as("bin"), col("c").as("cr"))
    val keys = perKey.select(col("k")).distinct()
    // pooled bins per key: the key's own bins ∪ every reference bin
    // (a bin one side lacks still moves the other side's cumulative)
    val pooled = perKey.select(col("k"), col("bin"), col("c").as("cw"))
      .join(keys.crossJoin(broadcast(r)), Seq("k", "bin"), "full_outer")
      .withColumn("cw", coalesce(col("cw"), lit(0L)))
      .withColumn("cr", coalesce(col("cr"), lit(0L)))
    val wK = Window.partitionBy(col("k")).orderBy(col("bin"))
    val dec = "decimal(38,0)"
    val cum = pooled
      .withColumn("__aw", sum(col("cw")).over(
        wK.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__ar", sum(col("cr")).over(
        wK.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__gap", lead(col("bin"), 1).over(wK) - col("bin"))
    val nw = perKey.groupBy(col("k"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("nk"))
    cum.where(col("__gap").isNotNull)
      .join(nw, "k").crossJoin(broadcast(refTot))
      .withColumn("__t", (abs(col("__aw").cast(dec) * col("nr").cast(dec)
        - col("__ar").cast(dec) * col("nk").cast(dec))
        * col("__gap").cast(dec)).cast(dec))
      .groupBy(col("k"), col("nk"), col("nr"))
      .agg(coalesce(sum(col("__t")), lit(0).cast(dec)).as("__s"))
      .select(col("k"), col("nk").as("n_key"),
        when(col("nk") > 0 && col("nr") > 0,
          round(col("__s").cast("double")
            / (col("nk").cast(dec) * col("nr").cast(dec)).cast("double")
            * lit(width), 6)).as("w1"))
  }

  /** DECIMAL(38,0) exactness ceilings for the pooled-CDF ladder's
    * integer sums, derived in the [[cramerVonMises]] / [[andersonDarling]]
    * Scaladoc: CvM's worst-case term mass N·(n1·n2)² ≤ N⁵/16 stays under
    * 10³⁸ to N ≈ 4.3·10⁷ pooled rows; A²'s l·(2N²)² ≤ 4N⁵ to N ≈ 3·10⁷.
    * Past the ceiling a per-value decimal term silently NULLs in Spark's
    * default non-ANSI mode and `sum` drops it — a confidently WRONG
    * non-NULL statistic — so both operators probe the pooled row count
    * and REFUSE above these bounds (the probe-then-refuse discipline:
    * maxN / maxClasses / maxSupport / maxCells everywhere else on the
    * shelf), directing callers to [[ksBinned]]-style binning, which this
    * ladder's tie-exact definitions make lossless per bin. */
  val CvmMaxPooled: Long = 40000000L
  val AdMaxPooled: Long = 20000000L

  /** One 1-row probe with the ladder's exact null/cast discipline
    * (cast-to-double THEN null-filter, so unparseable strings don't
    * count), refusing above `ceiling` BEFORE any heavy ladder work —
    * and returning (n1, n2) so the caller can inject them as literals,
    * REPLACING the ladder's broadcast-totals subtree: the probe's scan
    * pays for the scan the totals agg no longer runs, so enforcement
    * costs zero net work. */


  /** Shared two-sample pooled-CDF ladder ([[ks]] / [[cramerVonMises]] /
    * [[andersonDarling]]): per-distinct-value source counts c1/c2,
    * cumulative a1/a2 and broadcast totals n1/n2 — one union scan, one
    * value-keyed groupBy, bucketed prefix sums ([[withPrefixSums]],
    * never a single-task window). The single place the ladder's
    * null-filter and cast discipline lives. */
  private def pooledCdf(oldDf: DataFrame, newDf: DataFrame,
      valCol: String): DataFrame = {
    val tagged = oldDf.select(col(valCol).cast("double").as("v"), lit(1L).as("s1"), lit(0L).as("s2"))
      .unionByName(newDf.select(col(valCol).cast("double").as("v"), lit(0L).as("s1"), lit(1L).as("s2")))
      .where(col("v").isNotNull)
    val totals = tagged.agg(sum(col("s1")).as("n1"), sum(col("s2")).as("n2"))
    pooledCounts(oldDf, newDf, valCol).crossJoin(broadcast(totals))
  }

  /** The ladder's per-value core — counts c1/c2 and cumulatives a1/a2,
    * WITHOUT the totals: [[ks]] joins the lazy broadcast-totals agg
    * ([[pooledCdf]]); the ceiling-enforced members ([[cramerVonMises]] /
    * [[andersonDarling]]) inject their probe's (n1, n2) as literals
    * instead, so enforcement replaces — not duplicates — that subtree. */
  private def pooledCounts(oldDf: DataFrame, newDf: DataFrame,
      valCol: String): DataFrame = {
    val tagged = oldDf.select(col(valCol).cast("double").as("v"), lit(1L).as("s1"), lit(0L).as("s2"))
      .unionByName(newDf.select(col(valCol).cast("double").as("v"), lit(0L).as("s1"), lit(1L).as("s2")))
      .where(col("v").isNotNull)
    val perValue = tagged.groupBy(col("v"))
      .agg(sum(col("s1")).as("c1"), sum(col("s2")).as("c2"))
    withPrefixSums(perValue, Seq("c1", "c2"))
      .select(col("v"), col("c1"), col("c2"),
        (col("c1_below") + col("c1")).as("a1"),
        (col("c2_below") + col("c2")).as("a2"))
  }

  /** [[pooledCounts]] with the ceiling probe FUSED into one union-scan
    * aggregate that also learns the value bounds for the prefix pass
    * (the old shape ran probe + stats as two separate scans). Returns
    * (per-value cumulative relation, n1, n2); the ceiling refusal fires
    * before any bucket work, exactly as the standalone probe did. */
  private def pooledCountsProbed(oldDf: DataFrame, newDf: DataFrame,
      valCol: String, ceiling: Long, what: String): (DataFrame, Long, Long) = {
    val tagged = oldDf.select(col(valCol).cast("double").as("v"), lit(1L).as("s1"), lit(0L).as("s2"))
      .unionByName(newDf.select(col(valCol).cast("double").as("v"), lit(0L).as("s1"), lit(1L).as("s2")))
      .where(col("v").isNotNull)
    val pr = tagged.agg(sum(col("s1")), sum(col("s2")),
      min(col("v")), max(col("v"))).head()
    val n1 = if (pr.isNullAt(0)) 0L else pr.getLong(0)
    val n2 = if (pr.isNullAt(1)) 0L else pr.getLong(1)
    require(n1 + n2 <= ceiling,
      s"$what: ${n1 + n2} pooled rows exceed the exact-integer ceiling " +
        s"$ceiling (DECIMAL(38,0) term mass would overflow and silently " +
        "NULL-drop) — bin first (ksBinned's declared-bounds discipline; " +
        "each bin is one big tie and this statistic is already tie-exact)")
    val bounds = if (pr.isNullAt(2)) (0.0, 0.0)
      else (pr.getDouble(2), pr.getDouble(3))
    val perValue = tagged.groupBy(col("v"))
      .agg(sum(col("s1")).as("c1"), sum(col("s2")).as("c2"))
    val cum = withPrefixSums(perValue, Seq("c1", "c2"),
        knownBounds = Some(bounds))
      .select(col("v"), col("c1"), col("c2"),
        (col("c1_below") + col("c1")).as("a1"),
        (col("c2_below") + col("c2")).as("a2"))
    (cum, n1, n2)
  }

  def ks(oldDf: DataFrame, newDf: DataFrame, valCol: String): DataFrame = {
    val cum = pooledCdf(oldDf, newDf, valCol)
      .withColumn("num", abs(col("a1") * col("n2") - col("a2") * col("n1")))
    cum.orderBy(col("num").desc, col("v").asc).limit(1)
      .select(
        round(col("num").cast("double") / (col("n1") * col("n2")).cast("double"), 6).as("ks"),
        col("v").as("at_value"), col("n1").as("n_old"), col("n2").as("n_new"))
  }

  /**
   * Exact two-sample Cramér–von Mises drift — the L2 companion to
   * [[ks]]'s sup-norm: KS reads the single WORST CDF gap, ω² integrates
   * EVERY gap, so a broad small shift (which KS under-reads) and one
   * localized spike (which KS over-reads) separate. With per-distinct-
   * value pooled counts w = c1+c2, cumulative counts a1/a2 and totals
   * n1/n2:
   *
   *   T_units = Σ_v w·(a1·n2 − a2·n1)²            (exact integer)
   *   omega2  = T_units / ((n1+n2)·(n1·n2)²)      = ∫(F1−F2)² dH_pooled
   *   cvm_t   = T_units / ((n1+n2)²·n1·n2)        (Anderson 1962's T)
   *
   * The integral is against the POOLED empirical measure — the
   * tie-natural definition (each pooled observation contributes its
   * squared CDF gap once), equal to the classical rank form when ties
   * are absent. Exactness: (a1·n2 − a2·n1) is an exact long (to
   * n1·n2 < 2⁶³); its square is DECIMAL(19,0)² and the w-weighted Σ a
   * DECIMAL(38,0) — the worst-case bound N·(n1·n2)² ≤ N⁵/16 stays under
   * 10³⁸ to N ≈ 4·10⁷ pooled rows; the ceiling is ENFORCED (pooled rows
   * probed and refused above `maxPooled`, default [[CvmMaxPooled]]) —
   * beyond it bin first (the [[ksBinned]] declared-bounds discipline
   * applies verbatim: each bin is one big tie, and this definition
   * already treats ties exactly). Doubles appear only in the two
   * published one-divide ratios. Plan: one union scan → distinct-value
   * groupBy → bucketed prefix sums ([[withPrefixSums]], never a
   * single-task window) → one 1-row agg; n1/n2 arrive as LITERALS from
   * the ceiling probe, which thereby replaces (not duplicates) the
   * totals subtree. Output: one row (cvm_t, omega2, n_old, n_new), 6dp.
   */
  def cramerVonMises(oldDf: DataFrame, newDf: DataFrame, valCol: String,
      maxPooled: Long = CvmMaxPooled): DataFrame = {
    val (cum, pn1, pn2) =
      pooledCountsProbed(oldDf, newDf, valCol, maxPooled, "cramerVonMises")
    val dec = "decimal(38,0)"
    val num = (col("a1") * col("n2") - col("a2") * col("n1")).cast("decimal(19,0)")
    val terms = cum
      .withColumn("n1", lit(pn1)).withColumn("n2", lit(pn2))
      .select(col("n1"), col("n2"),
        ((col("c1") + col("c2")).cast("decimal(19,0)") * (num * num))
          .cast(dec).as("__t"))
    val nn = (col("n1") * col("n2")).cast("double")
    val nsum2 = ((col("n1") + col("n2")) * (col("n1") + col("n2"))).cast("double")
    terms.groupBy(col("n1"), col("n2"))
      .agg(coalesce(sum(col("__t")), lit(0).cast(dec)).as("t_units"))
      .select(
        when(col("n1") > 0 && col("n2") > 0,
          round(col("t_units").cast("double") / (nsum2 * nn), 6)).as("cvm_t"),
        when(col("n1") > 0 && col("n2") > 0,
          round(col("t_units").cast("double")
            / ((col("n1") + col("n2")).cast("double") * nn * nn), 6)).as("omega2"),
        col("n1").as("n_old"), col("n2").as("n_new"))
  }

  /**
   * Tie-adjusted two-sample Anderson–Darling (Scholz–Stephens 1987's
   * A²akN at k=2) — the TAIL-weighted member of the drift trio: [[ks]]
   * reads the single worst gap, [[cramerVonMises]] the average squared
   * gap, and A² re-weights each gap by 1/(H(1−H)) so divergence in the
   * DISTRIBUTION TAILS — where CvM's pooled measure has almost no mass
   * and KS's sup rarely lands — dominates the read. The midrank tie
   * adjustment clears denominators with DOUBLED counts, leaving every
   * term an exact-integer rational: with per-distinct-value pooled
   * counts l = c1+c2, doubled mid-CDF P = 2(a1+a2)−l and doubled
   * mid-count Q = 2·a1−c1,
   *
   *   A² = (N−1)/(n1·n2·N) · Σ_v l·(N·Q − n1·P)² / (P(2N−P) − N·l)
   *
   * (the k=2 symmetry N·M₂−n2·B = −(N·M₁−n1·B) folds both samples'
   * inner sums into one). Terms with a non-positive denominator (only
   * the pooled maximum, where both CDFs are 1) vanish by definition and
   * are skipped identically on both engines. Each term is one double
   * divide of exact integers (numerator DECIMAL(38,0) — the worst-case
   * l·(2N²)² ≤ 4N⁵ stays under 10³⁸ to N ≈ 2·10⁷ pooled rows; the
   * ceiling is ENFORCED (pooled rows probed and refused above
   * `maxPooled`, default [[AdMaxPooled]]) — bin first beyond that:
   * each bin is one big tie and
   * this definition is already tie-exact), 12dp-rounded and
   * DECIMAL-summed; identical samples read exactly 0. Same plan as
   * [[ks]]: union scan → distinct-value groupBy → bucketed prefix sums
   * → one 1-row agg — with n1/n2 as probe-injected literals, as in
   * [[cramerVonMises]]. Output: (ad_a2, n_old, n_new), 6dp.
   */
  def andersonDarling(oldDf: DataFrame, newDf: DataFrame,
      valCol: String, maxPooled: Long = AdMaxPooled): DataFrame = {
    val (cum, pn1, pn2) =
      pooledCountsProbed(oldDf, newDf, valCol, maxPooled, "andersonDarling")
    val decS = "decimal(38,12)"
    val nTot = col("n1") + col("n2")
    val l = col("c1") + col("c2")
    val p = lit(2L) * (col("a1") + col("a2")) - l
    val q = lit(2L) * col("a1") - col("c1")
    val num = (nTot * q - col("n1") * p).cast("decimal(19,0)")
    val den = p * (lit(2L) * nTot - p) - nTot * l
    val terms = cum
      .withColumn("n1", lit(pn1)).withColumn("n2", lit(pn2))
      .select(col("n1"), col("n2"),
        when(den > 0,
          round((l.cast("decimal(19,0)") * (num * num)).cast("decimal(38,0)")
            .cast("double") / den.cast("double"), 12))
          .otherwise(lit(0.0)).cast(decS).as("__t"))
    terms.groupBy(col("n1"), col("n2"))
      .agg(coalesce(sum(col("__t")), lit(0).cast(decS)).as("s"))
      .select(
        when(col("n1") > 0 && col("n2") > 0,
          round(col("s").cast("double") * (nTot - 1L).cast("double")
            / ((col("n1") * col("n2")).cast("double") * nTot.cast("double")),
            6)).as("ad_a2"),
        col("n1").as("n_old"), col("n2").as("n_new"))
  }

  /**
   * Binned two-sample KS — the declared-bounds sibling of [[ks]] for
   * 100 TB inputs whose raw value cardinality is unbounded (floats,
   * timestamps): values clamp into `nBins` equi-width bins over the
   * DECLARED [lo, hi) (the [[psi]] discipline — boundaries are
   * constants, never a data-dependent min/max, so the plan is one scan
   * feeding a distinct relation bounded by nBins regardless of data).
   * The statistic is max |F1−F2| over bin BOUNDARIES — a lower bound on
   * the exact KS that converges as bins shrink; same integer
   * |c1·n2 − c2·n1| max search and smallest-bin tiebreak as [[ks]].
   * Output: one row (ks, at_bin, bin_lo, n_old, n_new) — bin_lo is the
   * left edge of the bin attaining the max.
   */
  def ksBinned(oldDf: DataFrame, newDf: DataFrame, valCol: String,
      lo: Double, hi: Double, nBins: Int = 100): DataFrame = {
    require(nBins >= 2 && hi > lo, "need nBins >= 2 and hi > lo")
    def binned(df: DataFrame) = df.where(col(valCol).isNotNull)
      .select(bin(col(valCol).cast("double"), lo, hi, nBins).as("__bin"))
    val width = (hi - lo) / nBins
    ks(binned(oldDf), binned(newDf), "__bin")
      .select(col("ks"), col("at_value").cast("long").as("at_bin"),
        round(lit(lo) + col("at_value") * lit(width), 6).as("bin_lo"),
        col("n_old"), col("n_new"))
  }

  /**
   * [[mannWhitney]] over declared equi-width bins — each bin is one big
   * tie, so the half-unit rank identity applies unchanged with the bin
   * id as the value, and the distinct-value relation is ≤ nBins rows BY
   * CONSTRUCTION (the exact test is bounded only by observed value
   * cardinality). This is the test to reach for when values are
   * continuous floats at 100 TB: statistically it trades resolution
   * below the bin width for a hard cardinality bound. NULL values are
   * excluded (declared-domain semantics, as [[ksBinned]]). Output: as
   * [[mannWhitney]] — note u_a/z are computed on the binned ranks.
   */
  def mannWhitneyBinned(df: DataFrame, valCol: Column, groupCol: Column,
      lo: Double, hi: Double, nBins: Int = 100): DataFrame = {
    require(nBins >= 2 && hi > lo, "need nBins >= 2 and hi > lo")
    mannWhitney(df.where(valCol.isNotNull),
      bin(valCol.cast("double"), lo, hi, nBins), groupCol)
  }

  /** [[kruskalWallis]] over declared equi-width bins — see
    * [[mannWhitneyBinned]] for the contract; H is computed on the
    * binned (fully tied-within-bin) ranks with the same tie
    * correction. */
  def kruskalWallisBinned(df: DataFrame, valCol: Column, groupCol: Column,
      lo: Double, hi: Double, nBins: Int = 100): DataFrame = {
    require(nBins >= 2 && hi > lo, "need nBins >= 2 and hi > lo")
    kruskalWallis(df.where(valCol.isNotNull),
      bin(valCol.cast("double"), lo, hi, nBins), groupCol)
  }

  /**
   * Partial correlation r_xy·z — the confound check the plain [[
   * pearson correlation]] (q187) cannot make: x and y may correlate
   * only because BOTH track z (price and quantity both follow
   * discount); partialling z out with the textbook identity
   * r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) reads the
   * residual association directly.
   *
   * Exactness: all three inputs are integer-unit columns; the ten
   * moments (n, Σ of each, squares, cross products) ride ONE
   * map-combined aggregation in exact DECIMAL(38,0); each pairwise r
   * and the partial are one mirrored double expression, 6dp. NULL when
   * any variable is constant or a partialling denominator hits zero.
   *
   * Output: one row (n, r_xy, r_xz, r_yz, r_xy_z).
   */
  def partialCorr(df: DataFrame, xCol: Column, yCol: Column,
      zCol: Column): DataFrame = {
    val base = df.select(xCol.cast("long").as("x"), yCol.cast("long").as("y"),
        zCol.cast("long").as("z"))
      .where(col("x").isNotNull && col("y").isNotNull && col("z").isNotNull)
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val m = base.agg(count(lit(1)).as("n"),
      sum(d(col("x"))), sum(d(col("y"))), sum(d(col("z"))),
      sum(d(col("x")) * d(col("x"))), sum(d(col("y")) * d(col("y"))),
      sum(d(col("z")) * d(col("z"))),
      sum(d(col("x")) * d(col("y"))), sum(d(col("x")) * d(col("z"))),
      sum(d(col("y")) * d(col("z")))).head()
    val n = m.getLong(0)
    val spark = df.sparkSession
    import spark.implicits._
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    if (n < 3) {
      Seq(Tuple1(n)).toDF("n")
        .withColumn("r_xy", lit(null).cast("double"))
        .withColumn("r_xz", lit(null).cast("double"))
        .withColumn("r_yz", lit(null).cast("double"))
        .withColumn("r_xy_z", lit(null).cast("double"))
    } else {
      val bd = (1 to 9).map(i => BigDecimal(m.getDecimal(i)))
      val Seq(sx, sy, sz, sxx, syy, szz, sxy, sxz, syz) = bd
      val nB = BigDecimal(n)
      def den(saa: BigDecimal, sa: BigDecimal) = nB * saa - sa * sa
      val (dx, dy, dz) = (den(sxx, sx), den(syy, sy), den(szz, sz))
      if (dx <= 0 || dy <= 0 || dz <= 0) {
        Seq(Tuple1(n)).toDF("n")
          .withColumn("r_xy", lit(null).cast("double"))
          .withColumn("r_xz", lit(null).cast("double"))
          .withColumn("r_yz", lit(null).cast("double"))
          .withColumn("r_xy_z", lit(null).cast("double"))
      } else {
        def r(sab: BigDecimal, sa: BigDecimal, sb: BigDecimal,
            da: BigDecimal, db: BigDecimal): Double =
          (nB * sab - sa * sb).toDouble /
            math.sqrt(da.toDouble * db.toDouble)
        val rxy = r(sxy, sx, sy, dx, dy)
        val rxz = r(sxz, sx, sz, dx, dz)
        val ryz = r(syz, sy, sz, dy, dz)
        val part = (1.0 - rxz * rxz) * (1.0 - ryz * ryz)
        val pOut = if (part > 0.0)
          Some(r6((rxy - rxz * ryz) / math.sqrt(part))) else None
        Seq((n, r6(rxy), r6(rxz), r6(ryz), pOut))
          .toDF("n", "r_xy", "r_xz", "r_yz", "r_xy_z")
      }
    }
  }

  /**
   * Yuen's trimmed-mean t-test (Yuen 1974) — the robust middle ground
   * the two-sample shelf lacked: [[welchT]] compares means a single
   * spike can drag; [[mannWhitney]] abandons the mean entirely; Yuen
   * compares TRIMMED means with WINSORIZED variances, keeping a
   * location-difference reading that heavy tails cannot hijack. Trim
   * fraction must be dyadic (default ⅛) so k = ⌊trim·n⌋ has no float
   * dust.
   *
   * Exactness: per group, the trim boundaries are exact order
   * statistics and each value's in-band multiplicity is exact integer
   * arithmetic over per-value counts + strictly-below prefix sums (one
   * [[withPrefixSums]] pass per group, never a sort); winsorized
   * moments are DECIMAL(38,0) sums with the n·Σx² − S² cancellation
   * done exactly (the [[welchT]] doctrine); t and the Satterthwaite df
   * are one double expression. The t CDF is deliberately not published.
   *
   * Output: one row (group_a, group_b, n_a, n_b, h_a, h_b, tmean_a,
   * tmean_b, t_yuen, df) — 6dp; NULL t/df when a trimmed side has
   * h < 2 or both winsorized variances are 0.
   */
  def yuenT(df: DataFrame, valCol: Column, groupCol: Column,
      trim: Double = 0.125): DataFrame = {
    require(trim > 0.0 && trim < 0.5, s"trim in (0, 0.5): $trim")
    val base = df.select(groupCol.cast("string").as("g"),
        valCol.cast("long").as("v"))
      .where(col("g").isNotNull && col("v").isNotNull)
    val gs = base.select(col("g")).distinct().orderBy(col("g"))
      .collect().map(_.getString(0))
    require(gs.length == 2, s"yuenT needs exactly two groups, got ${gs.toSeq}")
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    // (n, k, h, tmeanNum, vLo, vHi, winsSum, winsSsq) for one group
    case class Side(n: Long, k: Long, h: Long, st: java.math.BigDecimal,
      ssqt: java.math.BigDecimal, vLo: Long, vHi: Long)
    // ONE pass for BOTH groups (the old shape ran a per-group pipeline —
    // per-group count probe, per-group prefix stats/totals, per-group
    // final agg: ~14 sequential jobs re-scanning the subject each time):
    // the distinct-value relation carries one count column per group,
    // the prefix pass cumulates both in the same bucket walk, and both
    // sides' trimmed moments ride ONE final aggregate. Per-group n
    // arrives free from the bucket totals. A value absent from a group
    // (cg = 0) contributes m = 0 to the sums and is excluded from the
    // vlo/vhi order-statistic scans by the cg > 0 guard — byte-identical
    // to the old per-group relations, which simply lacked those rows.
    val pv = base.groupBy(col("v")).agg(
      sum(when(col("g") === gs(0), 1L).otherwise(0L)).as("ca"),
      sum(when(col("g") === gs(1), 1L).otherwise(0L)).as("cb"))
    val info = withPrefixSumsInfo(pv, Seq("ca", "cb"))
    val cum = info.df
    def sideAgg(cc: String): Seq[Column] = {
      val n = info.totals(cc)
      val k = math.floor(trim * n).toLong
      val incl = col(s"${cc}_below") + col(cc)
      val m = greatest(least(incl, lit(n - k)) - greatest(col(s"${cc}_below"), lit(k)),
        lit(0L))
      Seq(
        sum(d38(m) * d38(col("v"))).as(s"st_$cc"),
        sum(d38(m) * d38(col("v")) * d38(col("v"))).as(s"ssqt_$cc"),
        min(when(col(cc) > 0 && incl >= k + 1L, col("v"))).as(s"vlo_$cc"),
        min(when(col(cc) > 0 && incl >= n - k, col("v"))).as(s"vhi_$cc"))
    }
    val aggCols = sideAgg("ca") ++ sideAgg("cb")
    val r = cum.agg(aggCols.head, aggCols.tail: _*).head()
    def sideOf(cc: String, off: Int): Side = {
      val n = info.totals(cc)
      val k = math.floor(trim * n).toLong
      Side(n, k, n - 2 * k, r.getDecimal(off), r.getDecimal(off + 1),
        if (r.isNullAt(off + 2)) 0L else r.getLong(off + 2),
        if (r.isNullAt(off + 3)) 0L else r.getLong(off + 3))
    }
    val (a, b) = (sideOf("ca", 0), sideOf("cb", 4))
    val spark = df.sparkSession
    import spark.implicits._
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def stats(s: Side): (Double, Double) = {
      // winsorized sum/ssq exact; variance via exact n·SSQ − S² numerator
      val sw = BigDecimal(s.st) + BigDecimal(s.k) * (BigDecimal(s.vLo) + BigDecimal(s.vHi))
      val ssqw = BigDecimal(s.ssqt) + BigDecimal(s.k) *
        (BigDecimal(s.vLo) * BigDecimal(s.vLo) + BigDecimal(s.vHi) * BigDecimal(s.vHi))
      val num = BigDecimal(s.n) * ssqw - sw * sw
      val nd = s.n.toDouble
      val sw2 = num.toDouble / (nd * (nd - 1.0))
      val tmean = BigDecimal(s.st).toDouble / s.h.toDouble
      (tmean, (nd - 1.0) * sw2 / (s.h.toDouble * (s.h.toDouble - 1.0)))
    }
    if (a.h < 2 || b.h < 2) {
      Seq((gs(0), gs(1), a.n, b.n, a.h, b.h)).toDF("group_a", "group_b",
          "n_a", "n_b", "h_a", "h_b")
        .withColumn("tmean_a", lit(null).cast("double"))
        .withColumn("tmean_b", lit(null).cast("double"))
        .withColumn("t_yuen", lit(null).cast("double"))
        .withColumn("df", lit(null).cast("double"))
    } else {
      val (tma, da) = stats(a)
      val (tmb, db) = stats(b)
      val denom = da + db
      val (t, dfOut) =
        if (denom > 0.0)
          (Some(r6((tma - tmb) / math.sqrt(denom))),
            Some(r6(denom * denom / (da * da / (a.h.toDouble - 1.0)
              + db * db / (b.h.toDouble - 1.0)))))
        else (None, None)
      Seq((gs(0), gs(1), a.n, b.n, a.h, b.h, r6(tma), r6(tmb), t, dfOut))
        .toDF("group_a", "group_b", "n_a", "n_b", "h_a", "h_b",
          "tmean_a", "tmean_b", "t_yuen", "df")
    }
  }

  /**
   * Welch's unequal-variance t-test — the parametric partner of
   * [[mannWhitney]] (means, not ranks; no equal-variance assumption, so
   * it is the safe default t). Moments are EXACT: long sums widened to
   * DECIMAL(38,0) for the n·Σx² − (Σx)² cancellation (the Trend
   * doctrine — the catastrophic subtraction happens in exact
   * arithmetic), doubles entering only in the published means, t and
   * Welch–Satterthwaite df. The p-value is deliberately not published
   * (the t CDF is not cross-engine reproducible; t and df are).
   *
   * Output: one row (group_a, group_b, n_a, n_b, mean_a, mean_b, t, df).
   */
  def welchT(df: DataFrame, valCol: Column, groupCol: Column): DataFrame = {
    val subj = df.select(groupCol.cast("string").as("g"),
      valCol.cast("long").as("v"))
    val moments = subj.groupBy(col("g")).agg(
        count(lit(1)).as("n"),
        sum(col("v")).cast("decimal(38,0)").as("sx"),
        sum((col("v").cast("decimal(38,0)") * col("v").cast("decimal(38,0)"))
          .cast("decimal(38,0)")).as("sxx"))
      .orderBy(col("g"))
      .collect()
    require(moments.length == 2,
      s"welchT needs exactly two groups, got ${moments.length}")
    def stats(r: org.apache.spark.sql.Row): (String, Long, Double, Double) = {
      val n = r.getLong(1)
      val sx = r.getDecimal(2); val sxx = r.getDecimal(3)
      val nBd = java.math.BigDecimal.valueOf(n)
      val mean = sx.doubleValue() / n
      // exact decimal cancellation, ONE double cast
      val varNum = nBd.multiply(sxx).subtract(sx.multiply(sx)).doubleValue()
      val s2 = if (n > 1) varNum / (n.toDouble * (n - 1).toDouble) else 0.0
      (r.getString(0), n, mean, s2)
    }
    val (ga, na, ma, s2a) = stats(moments(0))
    val (gb, nb, mb, s2b) = stats(moments(1))
    val a = s2a / na; val b = s2b / nb
    val se2 = a + b
    val spark = df.sparkSession
    import spark.implicits._
    Seq((ga, gb, na, nb,
      BigDecimal(ma).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(mb).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      if (se2 > 0)
        BigDecimal((ma - mb) / math.sqrt(se2))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      else Double.NaN,
      if (se2 > 0 && na > 1 && nb > 1)
        BigDecimal(se2 * se2 / (a * a / (na - 1).toDouble + b * b / (nb - 1).toDouble))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      else Double.NaN))
      .toDF("group_a", "group_b", "n_a", "n_b", "mean_a", "mean_b", "t", "df")
      .withColumn("t", when(!isnan(col("t")), col("t")))
      .withColumn("df", when(!isnan(col("df")), col("df")))
  }

  /**
   * Kruskal–Wallis H (1952) — [[mannWhitney]] generalized to k groups:
   * "does ANY group's distribution sit higher", the nonparametric
   * one-way ANOVA. Same half-unit exact rank machinery; the per-group
   * terms (Rg²/n_g) are 12dp-rounded and DECIMAL-summed (a plain float
   * sum over groups would be order-dependent), the tie correction
   * divides by 1 − Σ(t³−t)/(n³−n). Output: one row (k, n, tie_terms,
   * h, h_corrected) — compare h_corrected to χ²(k−1).
   */
  /**
   * Exact half-unit rank sums per group via the distinct-value identity
   * (the KS discipline — [[ks]] aggregates per distinct value FIRST, then
   * windows over the distinct-value relation, bounded by value
   * cardinality rather than row count). For value v with
   * `below = Σ counts of smaller values` and `t = pooled count at v`,
   * every row at v has average rank r̄ = below + (t+1)/2, so
   * 2·r̄ = 2·below + t + 1 — an exact long. Per-group rank sums are then
   * Σ_v cnt_{g,v}·(2·below_v + t_v + 1): one (g,v) grouped agg, one
   * distributed prefix sum over DISTINCT values ([[withPrefixSums]]),
   * one value-keyed join back. No row of the subject relation ever
   * passes through a window, and no single-task window exists at all.
   *
   * Returns ((group, n, 2·rank-sum) sorted by group, Σ(t³−t) tie term).
   */
  /** Distinct-value relations small enough to broadcast back onto the
    * (group, value) cells — sized from the prefix pass's own driver-side
    * count, so the choice is data-driven, not a config. 4M rows of
    * (long v, long r2x) ≈ 64 MB framed — inside the broadcast comfort
    * zone; above it the value-keyed shuffle join is the scale shape. */
  private[operators] val BroadcastValueLimit = 4000000L

  private[operators] def rankSums(subj: DataFrame): (Array[(String, Long, Long)], Long) = {
    // cells cached (not perValue): every downstream job — bucket stats,
    // bucket totals, the rank join — re-derives from cells, so caching
    // here stops each of them re-scanning the SUBJECT relation. The tie
    // rollup Σ(t³−t) rides the bucket-totals collect as a second count
    // column (totals come back on the driver for free), dropping the
    // separate tieSum job of the old shape.
    val cells = subj.groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
      .cache()
    val perValue = cells.groupBy(col("v")).agg(sum(col("c")).as("t"))
      .withColumn("t3", col("t") * col("t") * col("t") - col("t"))
    val info = withPrefixSumsInfo(perValue, Seq("t", "t3"))
    val valStats = info.df
      .withColumn("__r2x", lit(2L) * col("t_below") + col("t") + 1L)
      .select(col("v"), col("__r2x"))
    val ranked = if (info.nDistinct <= BroadcastValueLimit)
      cells.join(broadcast(valStats), "v")
    else cells.join(valStats, "v")
    val sums = ranked
      .groupBy(col("g"))
      .agg(sum(col("c")).as("n"), sum(col("c") * col("__r2x")).as("r2x"))
      .orderBy(col("g")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    cells.unpersist()
    (sums, info.totals("t3"))
  }

  def kruskalWallis(df: DataFrame, valCol: Column, groupCol: Column): DataFrame = {
    val subj = df.select(groupCol.cast("string").as("g"),
      valCol.cast("long").as("v"))
    val (sums, tieSum) = rankSums(subj)
    require(sums.length >= 2, s"kruskalWallis needs >= 2 groups, got ${sums.length}")
    val n = sums.map(_._2).sum
    // Σ (Rg²/n_g) with each term 12dp-rounded into exact decimal — the
    // same Σ doctrine the oracle replays; group order cannot matter
    val termSum = sums.map { case (_, ng, r2x) =>
      val rg = r2x.toDouble / 2.0
      BigDecimal(rg * rg / ng.toDouble)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    }.sum
    val h = 12.0 / (n.toDouble * (n + 1).toDouble) * termSum.toDouble -
      3.0 * (n + 1).toDouble
    val denom = 1.0 - tieSum.toDouble / (n.toDouble * n.toDouble * n.toDouble - n.toDouble)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val spark = df.sparkSession
    import spark.implicits._
    Seq((sums.length, n, tieSum, r6(h),
      if (denom > 0) r6(h / denom) else Double.NaN))
      .toDF("k", "n", "tie_terms", "h", "h_corrected")
      .withColumn("h_corrected", when(!isnan(col("h_corrected")), col("h_corrected")))
  }

  /**
   * Bhattacharyya coefficient + Hellinger distance between two samples
   * over declared equi-width bins — the bounded-metric drift pair the
   * PSI/JSD family lacks: Hellinger is a TRUE metric in [0,1]
   * (H² = 1 − BC, BC = Σ√(p·q)), immune to PSI's blow-up on
   * near-empty bins and symmetrical where KL is not. Same Laplace-
   * smoothed declared-bin shares as [[psi]] (the 100 TB guarantee:
   * the bin relation is nBins by construction); per-bin √(p·q) terms
   * 12dp-round and DECIMAL-sum; hellinger composes from the PUBLISHED
   * bc with one sqrt. Output: one row (n_a, n_b, bc, hellinger).
   */
  def hellinger(dfA: DataFrame, dfB: DataFrame, valCol: String,
      lo: Double, hi: Double, nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && hi > lo, "need nBins >= 2 and hi > lo")
    val (na, nb) = (dfA.count(), dfB.count())
    val p = shares(dfA, valCol, lo, hi, nBins, na).withColumnRenamed("share", "p")
    val q = shares(dfB, valCol, lo, hi, nBins, nb).withColumnRenamed("share", "q")
    p.join(q, "bin")
      .agg(round(sum(round(sqrt(col("p") * col("q")), 12)
        .cast("decimal(20,12)")).cast("double"), 6).as("bc"))
      .select(lit(na).as("n_a"), lit(nb).as("n_b"), col("bc"),
        round(sqrt(greatest(lit(0.0), lit(1.0) - col("bc"))), 6)
          .as("hellinger"))
  }

  /**
   * Cliff's delta — the distribution-free effect size the Mann-Whitney
   * z only tests: δ = P(a > b) − P(a < b) = 2U₁/(n_a·n_b) − 1 ∈ [−1,1],
   * the "how often does a random A beat a random B" number that stays
   * meaningful when variances are unequal and Cohen's d is not. Rides
   * the SAME distributed rank machinery as [[mannWhitney]] (exact
   * half-unit rank sums from bucketed prefix sums — no per-row window,
   * no pair join): with u2x = 2U₁ exact, δ = (u2x − n_a·n_b)/(n_a·n_b)
   * is ONE divide of exact integers, 6dp. The magnitude band applies
   * the standard Romano et al. cuts to the PUBLISHED δ.
   * Output: one row (group_a, group_b, n_a, n_b, u_a, delta, magnitude).
   */
  def cliffsDelta(df: DataFrame, valCol: Column, groupCol: Column): DataFrame = {
    val subj = df.select(groupCol.cast("string").as("g"),
      valCol.cast("long").as("v"))
    val (sums, _) = rankSums(subj)
    require(sums.length == 2,
      s"cliffsDelta needs exactly two groups, got ${sums.map(_._1).toSeq}")
    val Array((ga, na, r2xa), (gb, nb, _)) = sums
    val u2x = r2xa - na * (na + 1L)
    val spark = df.sparkSession
    import spark.implicits._
    def d(c: Column): Column = c.cast("decimal(38,0)")
    Seq((ga, gb, na, nb, u2x)).toDF("group_a", "group_b", "n_a", "n_b", "__u2x")
      .withColumn("u_a", col("__u2x").cast("double") / 2.0)
      .withColumn("delta", round(
        (d(col("__u2x")) - d(col("n_a")) * d(col("n_b"))).cast("double")
          / (d(col("n_a")) * d(col("n_b"))).cast("double"), 6))
      .withColumn("magnitude",
        when(abs(col("delta")) < 0.147, "negligible")
          .when(abs(col("delta")) < 0.33, "small")
          .when(abs(col("delta")) < 0.474, "medium")
          .otherwise("large"))
      .select("group_a", "group_b", "n_a", "n_b", "u_a", "delta", "magnitude")
  }

  /**
   * Quantile treatment effect (QTE) — the per-quantile difference
   * between two groups' value distributions: where a mean difference
   * says "B is bigger on average", the QTE curve says WHERE (a
   * treatment that only moves the top decile shows qte ≈ 0 at the
   * median — invisible to the mean, obvious here). Type-1 exact
   * quantiles: q_g(p) = the smallest value whose cumulative count
   * reaches ⌈p·n_g⌉, computed from per-group cumulative counts over
   * the DISTINCT (group, value) relation (group-partitioned window —
   * bounded by per-group value cardinality, the weightedMedian class).
   * Probabilities are dyadic-or-decimal RATIONALS num/den so the rank
   * ⌈p·n⌉ = (p_num·n + p_den − 1) div p_den is pure integer arithmetic.
   *
   * Output per p (asc): (p, n_a, n_b, q_a, q_b, qte = q_b − q_a) —
   * exact integers, no rounding anywhere.
   */
  def quantileTreatmentEffect(df: DataFrame, valCol: Column,
      groupCol: Column, ps: Seq[(Long, Long)] = Seq((1L, 4L), (1L, 2L),
        (3L, 4L))): DataFrame = {
    require(ps.nonEmpty && ps.size <= 16, "1..16 quantiles")
    require(ps.forall { case (n, d) => n >= 1 && n < d }, "p in (0,1)")
    val subj = df.select(groupCol.cast("string").as("g"),
        valCol.cast("long").as("v"))
      .where(col("g").isNotNull && col("v").isNotNull)
    val gs = subj.select(col("g")).distinct().orderBy(col("g")).collect()
      .map(_.getString(0))
    require(gs.length == 2,
      s"quantileTreatmentEffect needs exactly two groups, got ${gs.toSeq}")
    val perValue = subj.groupBy(col("g"), col("v"))
      .agg(count(lit(1)).as("cnt"))
    val wG = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = perValue
      .withColumn("__cum", sum(col("cnt")).over(wG))
      .withColumn("__n", sum(col("cnt")).over(Window.partitionBy(col("g"))))
      .localCheckpoint(true) // reused once per requested quantile
    val spark = df.sparkSession
    import spark.implicits._
    val pDf = ps.map { case (n, d) => (n, d,
      BigDecimal(n).setScale(6)./(BigDecimal(d)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .toDF("__pn", "__pd", "p")
    val picks = broadcast(pDf).crossJoin(cum) // ≤16 quantile rows
      .where(col("__cum") * col("__pd") >=
        col("__pn") * col("__n")) // cum ≥ ⌈p·n⌉ ⟺ cum·den ≥ num·n
      .groupBy(col("p"), col("g"))
      .agg(min(col("v")).as("q"), max(col("__n")).as("n"))
    val a = picks.where(col("g") === gs(0))
      .select(col("p"), col("n").as("n_a"), col("q").as("q_a"))
    val b = picks.where(col("g") === gs(1))
      .select(col("p"), col("n").as("n_b"), col("q").as("q_b"))
    a.join(b, "p")
      .select(col("p"), col("n_a"), col("n_b"), col("q_a"), col("q_b"),
        (col("q_b") - col("q_a")).as("qte"))
      .orderBy(col("p"))
  }

  /**
   * Mann–Whitney U rank-sum test (1947) — the nonparametric two-sample
   * location test that pairs with [[ks]] (KS asks "same distribution?",
   * U asks "is one systematically larger?") and needs no normality the
   * way a t-test does. Exactness trick: average ranks are half-integer,
   * so rank sums live in HALF-UNITS — 2·r̄ = 2·min_rank + ties − 1, an
   * exact long — and every statistic stays integer until the one final
   * divide: U₁ (half-units) = ΣR₂ₓ − n₁(n₁+1), z = ((U₂ₓ − n₁n₂)/2) /
   * σ with the tie-corrected σ² = n₁n₂/12·((n+1) − Σ(t³−t)/(n(n−1))).
   * Rank sums come from [[rankSums]]' distinct-value identity — the
   * window runs over the DISTINCT-value relation (value-cardinality
   * bounded, the KS discipline), never over the subject rows, and
   * there is no subject×subject anything.
   *
   * Output: one row (group_a, group_b, n_a, n_b, u_a, tie_terms, z).
   */
  def mannWhitney(df: DataFrame, valCol: Column, groupCol: Column): DataFrame = {
    val subj = df.select(groupCol.cast("string").as("g"),
      valCol.cast("long").as("v"))
    val (sums, tieSum) = rankSums(subj)
    require(sums.length == 2,
      s"mannWhitney needs exactly two groups, got ${sums.map(_._1).toSeq}")
    val Array((ga, na, r2xa), (gb, nb, _)) = sums
    val gs = Array(ga, gb)
    val n = na + nb
    val u2x = r2xa - na * (na + 1L) // U₁ in half-units
    val spark = df.sparkSession
    import spark.implicits._
    Seq((gs(0), gs(1), na, nb, u2x, tieSum)).toDF(
      "group_a", "group_b", "n_a", "n_b", "__u2x", "tie_terms")
      .withColumn("u_a", col("__u2x").cast("double") / 2.0)
      .withColumn("__s2",
        lit(na.toDouble) * lit(nb.toDouble) / 12.0
          * (lit((n + 1).toDouble)
            - col("tie_terms").cast("double") / (lit(n.toDouble) * lit((n - 1).toDouble))))
      .withColumn("z", when(lit(n) > 1 && col("__s2") > 0, round(
        ((col("__u2x").cast("double") - lit(na.toDouble) * lit(nb.toDouble)) / 2.0)
          / sqrt(col("__s2")), 6)))
      .select("group_a", "group_b", "n_a", "n_b", "u_a", "tie_terms", "z")
  }
}
