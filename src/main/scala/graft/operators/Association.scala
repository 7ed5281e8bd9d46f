package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Market-basket co-occurrence and association rules: support-counted item
 * pairs plus confidence/lift — the first pass of Apriori (Agrawal &
 * Srikant, VLDB 1994), which at warehouse scale is usually the ONLY pass
 * anyone needs (pairs drive "bought together"; k≥3 itemsets are rarely
 * actionable).
 *
 * Shape at scale: distinct (basket, item) first — multiplicity inside a
 * basket must not inflate support — then pairs via a basket-keyed
 * self-join (item_a < item_b). The join is keyed on the BASKET, so the
 * shuffle is one partition pass of the basket-item table and the blowup
 * per basket is items², bounded by `maxItemsPerBasket` (a loud guard: a
 * degenerate mega-basket would otherwise square silently — same contract
 * as PPJoin's posting caps). Pair counting and single-item supports
 * partially aggregate map-side; the metrics join is |items|-sized and
 * broadcast.
 *
 * Reference anchor: none (the reference has no analytics of this shape);
 * SURVEY §2 extension family.
 */
object Association {

  /** The items-per-basket contract and the basket count in ONE probe
    * over the cached (basket, item) table `bi`, grouped by `keys`. It is
    * a full aggregation, not a limit(1) probe: limit short-circuits
    * partitions, leaving the cache part-cold, so the basket count and the
    * first pair join would each re-run the upstream join+distinct
    * (measured: three ~10-task-second stages per q207 run). The densest
    * basket's key rides the same aggregation via `max_by`, so a violation
    * names it. Returns the number of baskets. */
  private def guardOccupancy(bi: DataFrame, keys: Seq[String],
      maxItemsPerBasket: Int): Long = {
    val key = if (keys.size == 1) col(keys.head) else struct(keys.map(col): _*)
    val stats = bi.groupBy(keys.map(col): _*).agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)), max(col("sz")), max_by(key, col("sz"))).head()
    val maxSz = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    require(maxSz <= maxItemsPerBasket,
      s"densest basket ${stats.get(2)} holds $maxSz items > " +
        s"maxItemsPerBasket=$maxItemsPerBasket")
    stats.getLong(0)
  }

  /**
   * Association pairs: (item_a, item_b, support, conf_ab, conf_ba, lift)
   * for item_a < item_b, support ≥ `minSupport` baskets. conf_ab =
   * P(b∈basket | a∈basket), lift = n·supp(ab)/(supp(a)·supp(b)) — both
   * 6dp-rounded pure functions of exact counts.
   */
  def pairs(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long = 2L, maxItemsPerBasket: Int = 1000): DataFrame = {
    // referenced by the guard, the basket count, the singles agg and BOTH
    // self-join sides — five actions would otherwise re-derive the
    // upstream (possibly join-shaped) basket table each time
    val bi = df.select(col(basketCol).as("b"), col(itemCol).cast("string").as("i"))
      .where(col("i").isNotNull).distinct().cache()
    val nBaskets = guardOccupancy(bi, Seq("b"), maxItemsPerBasket)
    val singles = bi.groupBy(col("i")).agg(count(lit(1)).as("supp"))
    val l = bi.select(col("b"), col("i").as("item_a"))
    val r = bi.select(col("b"), col("i").as("item_b"))
    val pairSupp = l.join(r, Seq("b")).where(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b")).agg(count(lit(1)).as("support"))
      .where(col("support") >= minSupport)
    pairSupp
      .join(broadcast(singles.select(col("i").as("item_a"), col("supp").as("__sa"))), "item_a")
      .join(broadcast(singles.select(col("i").as("item_b"), col("supp").as("__sb"))), "item_b")
      .select(col("item_a"), col("item_b"), col("support"),
        round(col("support").cast("double") / col("__sa").cast("double"), 6).as("conf_ab"),
        round(col("support").cast("double") / col("__sb").cast("double"), 6).as("conf_ba"),
        round(lit(nBaskets).cast("double") * col("support").cast("double")
          / (col("__sa").cast("double") * col("__sb").cast("double")), 6).as("lift"))
  }

  /**
   * Pair SUPPORT per tag group in ONE pass — for churn-style analyses
   * that compare the co-occurrence graph across corpus slices (q364's
   * before/after halves). Deriving each slice through [[pairs]]
   * separately re-scans the (possibly join-shaped) basket table once
   * per slice; here the slice tag rides the basket key, so the heavy
   * upstream runs ONCE and the self-join groups by (tag, basket) —
   * identical per-slice supports by construction (the basket key is
   * (tag, b), exactly what a per-slice filter would produce).
   *
   * Output: (tag, item_a, item_b, support), support ≥ minSupport
   * within its tag. Confidence/lift stay in [[pairs]] — churn needs
   * only the support ordering.
   */
  def pairSupportByTag(df: DataFrame, basketCol: String, itemCol: String,
      tagCol: String, minSupport: Long = 2L,
      maxItemsPerBasket: Int = 1000): DataFrame = {
    val bi = df.select(col(tagCol).as("tag"), col(basketCol).as("b"),
        col(itemCol).cast("string").as("i"))
      .where(col("i").isNotNull && col("tag").isNotNull).distinct().cache()
    guardOccupancy(bi, Seq("tag", "b"), maxItemsPerBasket)
    val l = bi.select(col("tag"), col("b"), col("i").as("item_a"))
    val r = bi.select(col("tag"), col("b"), col("i").as("item_b"))
    l.join(r, Seq("tag", "b")).where(col("item_a") < col("item_b"))
      .groupBy(col("tag"), col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= minSupport)
  }

  /**
   * Frequent triples — the SECOND Apriori pass, with the classic prune
   * doing the scale work: a triple {a<b<c} can only reach `minSupport` if
   * all three of its pairs do, so candidate enumeration SEMI-JOINS each
   * extension against the frequent-pair list (broadcast — it already
   * passed a support floor) BEFORE the third basket expansion. The
   * basket-keyed joins never blow past the guarded items-per-basket
   * bound, and the pair floor kills the tail before it multiplies.
   *
   * Output: (item_a, item_b, item_c, support, conf_ab_c = supp(abc) /
   * supp(ab), lift = n²·supp(abc)/(supp(a)·supp(b)·supp(c))) — all
   * 6dp-rounded pure functions of exact counts.
   */
  def triples(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long = 2L, maxItemsPerBasket: Int = 1000): DataFrame = {
    val bi = df.select(col(basketCol).as("b"), col(itemCol).cast("string").as("i"))
      .where(col("i").isNotNull).distinct().cache()
    val nBaskets = guardOccupancy(bi, Seq("b"), maxItemsPerBasket)
    val singles = bi.groupBy(col("i")).agg(count(lit(1)).as("supp"))
    // the per-basket pair relation feeds BOTH the support floor and the
    // third-item extension — materialize it once (guarded-quadratic size,
    // spillable) instead of paying the basket self-join shuffle twice
    val basketPairs = bi.select(col("b"), col("i").as("item_a"))
      .join(bi.select(col("b"), col("i").as("item_b")), Seq("b"))
      .where(col("item_a") < col("item_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairSupp = basketPairs
      .groupBy(col("item_a"), col("item_b")).agg(count(lit(1)).as("supp_ab"))
      .where(col("supp_ab") >= minSupport).cache()
    val freqAB = pairSupp.select(col("item_a"), col("item_b"))
    val t2 = basketPairs
      .join(broadcast(freqAB), Seq("item_a", "item_b"), "left_semi")
    val tri = t2
      .join(bi.select(col("b"), col("i").as("item_c")), Seq("b"))
      .where(col("item_c") > col("item_b"))
      .join(broadcast(freqAB.select(col("item_a").as("item_b"),
        col("item_b").as("item_c"))), Seq("item_b", "item_c"), "left_semi")
      .join(broadcast(freqAB.select(col("item_a"),
        col("item_b").as("item_c"))), Seq("item_a", "item_c"), "left_semi")
      .groupBy(col("item_a"), col("item_b"), col("item_c"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= minSupport)
    tri
      .join(broadcast(pairSupp), Seq("item_a", "item_b"))
      .join(broadcast(singles.select(col("i").as("item_a"), col("supp").as("__sa"))), "item_a")
      .join(broadcast(singles.select(col("i").as("item_b"), col("supp").as("__sb"))), "item_b")
      .join(broadcast(singles.select(col("i").as("item_c"), col("supp").as("__sc"))), "item_c")
      .select(col("item_a"), col("item_b"), col("item_c"), col("support"),
        round(col("support").cast("double") / col("supp_ab").cast("double"), 6)
          .as("conf_ab_c"),
        round(lit(nBaskets).cast("double") * lit(nBaskets).cast("double")
            * col("support").cast("double")
          / (col("__sa").cast("double") * col("__sb").cast("double")
            * col("__sc").cast("double")), 6).as("lift"))
  }

  /**
   * Item-item "bought together" recommendations: binary-basket cosine
   * sim(a,b) = supp(ab)/√(supp(a)·supp(b)) = √(conf_ab·conf_ba) — a pure
   * rounded function of [[pairs]]' PUBLISHED columns (cross-engine
   * reproducible by construction); both rule directions feed the bounded
   * top-k-per-item ranking ([[graft.plans.TopK.perKey]], rec-name
   * tiebreak). Output: (item, rec, sim, rank).
   */
  def recommendations(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long = 2L, topK: Int = 3): DataFrame = {
    val p = pairs(df, basketCol, itemCol, minSupport)
      .withColumn("sim", round(sqrt(col("conf_ab") * col("conf_ba")), 6))
    val both = p.select(col("item_a").as("item"), col("item_b").as("rec"), col("sim"))
      .unionByName(p.select(col("item_b").as("item"), col("item_a").as("rec"), col("sim")))
    graft.plans.TopK.perKey(both, Seq("item"), "sim", topK, "rec", desc = true)
  }
}
