package graft

import org.apache.spark.sql.functions._

import graft.operators.DistDrift

/** PSI and exact two-sample KS. */
class DistDriftSpec extends SparkSpec {
  import spark.implicits._

  test("psi: zero for identical distributions, hand-checked for a full shift") {
    val a = (1 to 100).map(_ => 0.5).toDF("v")
    val b = (1 to 100).map(_ => 1.5).toDF("v")
    val same = DistDrift.psi(a, a, "v", lo = 0.0, hi = 2.0, nBins = 2).head()
    assert(same.getDouble(0) == 0.0)
    val shifted = DistDrift.psi(a, b, "v", 0.0, 2.0, nBins = 2).head()
    // p = (101/102, 1/102), q = (1/102, 101/102):
    // psi = 2 * (100/102) * ln(101)
    val expect = math.rint(2 * (100.0 / 102.0) * math.log(101.0) * 1e6) / 1e6
    assert(math.abs(shifted.getDouble(0) - expect) < 2e-6, s"${shifted.getDouble(0)}")
    assert(shifted.getLong(1) == 100 && shifted.getLong(2) == 100)
  }

  test("chi2: zero under exact independence; 2x2 hand-check; V in [0,1]") {
    // perfectly independent 2x2: counts o = rt*ct/n exactly
    val ind = (Seq.fill(40)(("x", "p")) ++ Seq.fill(10)(("x", "q")) ++
      Seq.fill(120)(("y", "p")) ++ Seq.fill(30)(("y", "q"))).toDF("a", "b")
    val r0 = DistDrift.chi2Independence(ind, "a", "b").head()
    assert(r0.getAs[Double]("chi2") == 0.0)
    assert(r0.getAs[Double]("cramers_v") == 0.0)
    // fully dependent 2x2: chi2 = n, V = 1
    val dep = (Seq.fill(50)(("x", "p")) ++ Seq.fill(50)(("y", "q"))).toDF("a", "b")
    val r1 = DistDrift.chi2Independence(dep, "a", "b").head()
    assert(r1.getAs[Double]("chi2") == 100.0)
    assert(r1.getAs[Double]("cramers_v") == 1.0)
    assert(r1.getAs[Long]("n") == 100 && r1.getAs[Long]("n_rows") == 2)
  }

  test("mutual information: 0 under independence, MI == H and NMI == 1 when determined") {
    val ind = (Seq.fill(40)(("x", "p")) ++ Seq.fill(10)(("x", "q")) ++
      Seq.fill(120)(("y", "p")) ++ Seq.fill(30)(("y", "q"))).toDF("a", "b")
    val r0 = DistDrift.mutualInformation(ind, "a", "b").head()
    assert(r0.getAs[Double]("mi") == 0.0)
    // b fully determined by a: MI = H(A) = H(B), NMI = 1
    val dep = (Seq.fill(50)(("x", "p")) ++ Seq.fill(150)(("y", "q"))).toDF("a", "b")
    val r1 = DistDrift.mutualInformation(dep, "a", "b").head()
    assert(r1.getAs[Double]("mi") == r1.getAs[Double]("h_a"))
    assert(r1.getAs[Double]("nmi") == 1.0)
    // H(A) for p=(1/4,3/4) = ln4/4 + (3/4)ln(4/3)
    val expect = math.rint((math.log(4.0) / 4 + 0.75 * math.log(4.0 / 3)) * 1e6) / 1e6
    assert(math.abs(r1.getAs[Double]("h_a") - expect) < 2e-6)
  }

  test("gini: 0 for perfect equality, (n-1)/n for total concentration") {
    val equal = Seq.fill(10)(("g", 5.0)).toDF("g", "v")
    assert(DistDrift.gini(equal, "g", "v").head().getAs[Double]("gini") == 0.0)
    val concentrated = (Seq.fill(9)(("g", 0.0)) :+ (("g", 100.0))).toDF("g", "v")
    // all mass on the last of 10 → G = 2·(10·10000)/(10·10000) − 11/10 = 0.9
    assert(DistDrift.gini(concentrated, "g", "v").head().getAs[Double]("gini") == 0.9)
  }

  test("ks: 0 for identical, 1 for disjoint, hand-checked midpoint") {
    val a = (1 to 50).map(_.toDouble).toDF("v")
    assert(DistDrift.ks(a, a, "v").head().getDouble(0) == 0.0)
    val b = (51 to 100).map(_.toDouble).toDF("v")
    val disj = DistDrift.ks(a, b, "v").head()
    assert(disj.getDouble(0) == 1.0)
    assert(disj.getDouble(1) == 50.0) // max first attained at the last a-value
    // half-overlap: a = 1..50, c = 26..75 → max gap at v=25 (F1=.5, F2=0)
    val c = (26 to 75).map(_.toDouble).toDF("v")
    val half = DistDrift.ks(a, c, "v").head()
    assert(half.getDouble(0) == 0.5 && half.getDouble(1) == 25.0)
  }

  test("cramerVonMises: identical 0, disjoint hand sum, ties hand, <= ks^2") {
    val a = (1 to 50).map(_.toDouble).toDF("v")
    val same = DistDrift.cramerVonMises(a, a, "v").head()
    assert(same.getAs[Double]("cvm_t") == 0.0 && same.getAs[Double]("omega2") == 0.0)
    // disjoint halves: T = 2500·(Σ₁⁵⁰k² + Σ₀⁴⁹k²) = 208,375,000;
    // cvm_t = T/(100²·2500) = 8.335, omega2 = T/(100·2500²) = 0.3334
    val b = (51 to 100).map(_.toDouble).toDF("v")
    val disj = DistDrift.cramerVonMises(a, b, "v").head()
    assert(disj.getAs[Double]("cvm_t") == 8.335)
    assert(disj.getAs[Double]("omega2") == 0.3334)
    assert(disj.getAs[Long]("n_old") == 50L && disj.getAs[Long]("n_new") == 50L)
    // ties: A={1,1,2}, B={1,3} → per-value w·num² = 3·1² + 1·3² + 1·0²
    // = 12; cvm_t = 12/(25·6) = 0.08, omega2 = 12/(5·36) = 0.066667
    val ta = Seq(1.0, 1.0, 2.0).toDF("v")
    val tb = Seq(1.0, 3.0).toDF("v")
    val tied = DistDrift.cramerVonMises(ta, tb, "v").head()
    assert(tied.getAs[Double]("cvm_t") == 0.08)
    assert(tied.getAs[Double]("omega2") == 0.066667)
    // sup bounds every gap pointwise, so ∫(F1−F2)²dH ≤ KS²
    val c = (26 to 75).map(_.toDouble).toDF("v")
    val ks = DistDrift.ks(a, c, "v").head().getAs[Double]("ks")
    val om = DistDrift.cramerVonMises(a, c, "v").head().getAs[Double]("omega2")
    assert(om <= ks * ks + 1e-9)
  }

  test("andersonDarling: identical 0, hand tie case, tail-weighting order") {
    val a = (1 to 50).map(_.toDouble).toDF("v")
    assert(DistDrift.andersonDarling(a, a, "v").head()
      .getAs[Double]("ad_a2") == 0.0)
    // hand: A={1,1,2,4}, B={1,3,3} → Σ l·(NQ−n1P)²/(P(2N−P)−Nl) over
    // the four distinct values = 4/12·3 + 49/42 + 4/26·2 + 9/6, scaled
    // by (N−1)/(n1·n2·N) = 6/84 → 0.283883 (midrank A²akN, k=2)
    val ta = Seq(1.0, 1.0, 2.0, 4.0).toDF("v")
    val tb = Seq(1.0, 3.0, 3.0).toDF("v")
    val r = DistDrift.andersonDarling(ta, tb, "v").head()
    assert(r.getAs[Double]("ad_a2") == 0.283883)
    assert(r.getAs[Long]("n_old") == 4L && r.getAs[Long]("n_new") == 3L)
    // replica-pinned larger reads: fully separated halves and a
    // half-overlap shift (same fixtures as the ks/cvm hands)
    val b = (51 to 100).map(_.toDouble).toDF("v")
    assert(DistDrift.andersonDarling(a, b, "v").head()
      .getAs[Double]("ad_a2") == 38.749806)
    val c = (26 to 75).map(_.toDouble).toDF("v")
    assert(DistDrift.andersonDarling(a, c, "v").head()
      .getAs[Double]("ad_a2") == 21.536029)
  }

  test("cvm / andersonDarling: pooled-row exactness ceiling refuses loudly") {
    val a = (1 to 50).map(_.toDouble).toDF("v")
    val b = (51 to 100).map(_.toDouble).toDF("v")
    // past the DECIMAL(38,0) ceiling the term sum would silently
    // NULL-drop — the probe refuses BEFORE any ladder work instead
    val e1 = intercept[IllegalArgumentException] {
      DistDrift.cramerVonMises(a, b, "v", maxPooled = 99L)
    }
    assert(e1.getMessage.contains("cramerVonMises")
      && e1.getMessage.contains("bin first"))
    val e2 = intercept[IllegalArgumentException] {
      DistDrift.andersonDarling(a, b, "v", maxPooled = 99L)
    }
    assert(e2.getMessage.contains("andersonDarling")
      && e2.getMessage.contains("bin first"))
    // the probe counts with the ladder's own null/cast discipline:
    // NULL values don't count toward the ceiling, so exactly-at passes
    // and the statistic is unchanged by the null padding
    val bNulls = ((51 to 100).map(v => Some(v.toDouble)) :+ None).toDF("v")
    val r = DistDrift.cramerVonMises(a, bNulls, "v", maxPooled = 100L).head()
    assert(r.getAs[Double]("cvm_t") == 8.335
      && r.getAs[Long]("n_new") == 50L)
    assert(DistDrift.andersonDarling(a, bNulls, "v", maxPooled = 100L)
      .head().getAs[Double]("ad_a2") == 38.749806)
  }

  test("welchT: hand moments; equal groups give t 0; constant groups NULL t") {
    // A=[1,2,3]: mean 2, s2 1; B=[5,7]: mean 6, s2 2
    val df = Seq(("A", 1L), ("A", 2L), ("A", 3L), ("B", 5L), ("B", 7L))
      .toDF("g", "v")
    val r = DistDrift.welchT(df, col("v"), col("g")).head()
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Double]("mean_a") == 2.0)
    val va = 1.0 / 3; val vb = 2.0 / 2
    val t = (2.0 - 6.0) / math.sqrt(va + vb)
    val dfree = (va + vb) * (va + vb) / (va * va / 2.0 + vb * vb / 1.0)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("t") == r6(t))
    assert(r.getAs[Double]("df") == r6(dfree))
    val same = Seq(("A", 4L), ("A", 6L), ("B", 4L), ("B", 6L)).toDF("g", "v")
    assert(DistDrift.welchT(same, col("v"), col("g")).head().getAs[Double]("t") == 0.0)
    val const = Seq(("A", 4L), ("A", 4L), ("B", 4L), ("B", 4L)).toDF("g", "v")
    assert(DistDrift.welchT(const, col("v"), col("g")).head().isNullAt(6))
  }

  test("kruskalWallis: hand H on three clean groups; identity under no ties") {
    // A=[1,2] B=[3,4] C=[5,6]: R=3,7,11 → S=89.5,
    // H = 12/42·89.5 − 21 = 4.571429; no ties → h_corrected == h
    val df = Seq(("A", 1L), ("A", 2L), ("B", 3L), ("B", 4L),
      ("C", 5L), ("C", 6L)).toDF("g", "v")
    val r = DistDrift.kruskalWallis(df, col("v"), col("g")).head()
    assert(r.getAs[Int]("k") == 3 && r.getAs[Long]("n") == 6L)
    assert(r.getAs[Long]("tie_terms") == 0L)
    assert(r.getAs[Double]("h") == 4.571429)
    assert(r.getAs[Double]("h_corrected") == 4.571429)
  }

  test("mannWhitney: textbook U and z, with and without ties") {
    // A=[1,2,5], B=[3,4]: R_A=8, U=2, sigma^2=3, z=(2-3)/sqrt(3)
    val noTies = Seq(("A", 1L), ("A", 2L), ("A", 5L), ("B", 3L), ("B", 4L))
      .toDF("g", "v")
    val r1 = DistDrift.mannWhitney(noTies, col("v"), col("g")).head()
    assert(r1.getAs[Double]("u_a") == 2.0 && r1.getAs[Long]("tie_terms") == 0L)
    assert(r1.getAs[Double]("z") ==
      BigDecimal(-1.0 / math.sqrt(3.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // A=[1,2,2], B=[2,3]: avg-rank 3 for the tied 2s → U=1, t³−t=24,
    // sigma^2 = 0.5·(6 − 24/20) = 2.4
    val ties = Seq(("A", 1L), ("A", 2L), ("A", 2L), ("B", 2L), ("B", 3L))
      .toDF("g", "v")
    val r2 = DistDrift.mannWhitney(ties, col("v"), col("g")).head()
    assert(r2.getAs[Double]("u_a") == 1.0 && r2.getAs[Long]("tie_terms") == 24L)
    assert(r2.getAs[Double]("z") ==
      BigDecimal(-2.0 / math.sqrt(2.4))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // degenerate: all values identical → sigma 0 → z NULL, never NaN
    val flat = Seq(("A", 7L), ("A", 7L), ("B", 7L)).toDF("g", "v")
    assert(DistDrift.mannWhitney(flat, col("v"), col("g")).head().isNullAt(6))
  }

  test("binned siblings: order-preserving bins reproduce the exact test; " +
      "collisions become ties; out-of-range values clamp to edge bins") {
    // values 5,15,25,...: one per [i*10,(i+1)*10) bin → binning is an
    // order-isomorphism and the binned MW/KW must equal the exact ones
    val iso = (1 to 60).map(i => (if (i % 2 == 0) "A" else "B", i * 10.0 - 5.0))
      .toDF("g", "v")
    val exactR = DistDrift.mannWhitney(iso, col("v"), col("g")).head()
    val binR = DistDrift.mannWhitneyBinned(iso, col("v"), col("g"),
      lo = 0.0, hi = 600.0, nBins = 60).head()
    assert(binR.getAs[Double]("u_a") == exactR.getAs[Double]("u_a"))
    assert(binR.getAs[Double]("z") == exactR.getAs[Double]("z"))
    val kwExact = DistDrift.kruskalWallis(iso, col("v"), col("g")).head()
    val kwBin = DistDrift.kruskalWallisBinned(iso, col("v"), col("g"),
      0.0, 600.0, 60).head()
    assert(kwBin.getAs[Double]("h_corrected") == kwExact.getAs[Double]("h_corrected"))
    // 2-bin collapse: A={1,2}, B={11,12} with [0,20) x 2 → bin ids
    // A:{0,0}, B:{1,1}; ranks (1.5,1.5,3.5,3.5) → R_A=3, U_A=3-3=0;
    // ties Σ(t³−t) = 2·(8−2) = 12
    val two = Seq(("A", 1.0), ("A", 2.0), ("B", 11.0), ("B", 12.0)).toDF("g", "v")
    val r2 = DistDrift.mannWhitneyBinned(two, col("v"), col("g"), 0.0, 20.0, 2).head()
    assert(r2.getAs[Double]("u_a") == 0.0 && r2.getAs[Long]("tie_terms") == 12L)
    // clamping: -5 → bin 0, 999 → last bin; nulls excluded
    val cl = Seq(("A", -5.0), ("A", 999.0), ("B", 5.0), ("B", 15.0)).toDF("g", "v")
      .union(Seq(("B", Option.empty[Double])).toDF("g", "v"))
    val r3 = DistDrift.mannWhitneyBinned(cl, col("v"), col("g"), 0.0, 20.0, 2).head()
    assert(r3.getAs[Long]("n_a") == 2 && r3.getAs[Long]("n_b") == 2)
    // A's clamped bins {0, 1}, B's {0, 1}: ranks (1.5,1.5) and (3.5,3.5)
    // → R_A = 5, U_A = 5 - 3 = 2
    assert(r3.getAs[Double]("u_a") == 2.0)
  }

  test("ksBinned: lower bound on exact KS; equal when values are bin-aligned") {
    val a = (1 to 80).map(i => (i * 37 % 101).toDouble).toDF("v")
    val b = (1 to 90).map(i => (i * 53 % 97 + 10).toDouble).toDF("v")
    val exact = DistDrift.ks(a, b, "v").head().getAs[Double]("ks")
    val binned = DistDrift.ksBinned(a, b, "v", 0.0, 128.0, 16).head()
    assert(binned.getAs[Double]("ks") <= exact + 1e-9)
    assert(binned.getAs[Long]("n_old") == 80 && binned.getAs[Long]("n_new") == 90)
    // bin-aligned: values are exactly k*8 → 16 bins of width 8 lose nothing
    val a2 = (0 to 15).flatMap(i => Seq.fill(i + 1)((i * 8).toDouble)).toDF("v")
    val b2 = (0 to 15).flatMap(i => Seq.fill(16 - i)((i * 8).toDouble)).toDF("v")
    val e2 = DistDrift.ks(a2, b2, "v").head()
    val b2r = DistDrift.ksBinned(a2, b2, "v", 0.0, 128.0, 16).head()
    assert(b2r.getAs[Double]("ks") == e2.getAs[Double]("ks"))
    assert(b2r.getAs[Double]("bin_lo") == e2.getAs[Double]("at_value"))
  }

  test("rank tests: every window in the physical plan is PARTITIONED " +
      "(no single-task full-relation sort at any scale)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def unpartitionedWindows(p: SparkPlan): Seq[WindowExec] = {
      val expanded = p.collectWithSubqueries {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      expanded.flatMap(_.collectWithSubqueries {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      })
    }
    val df = (1 to 500).map(i => (if (i % 3 == 0) "A" else "B", (i * 37 % 101).toLong))
      .toDF("g", "v")
    for ((name, plan) <- Seq(
        "mannWhitney" -> DistDrift.mannWhitney(df, col("v"), col("g")),
        "kruskalWallis" -> DistDrift.kruskalWallis(df, col("v"), col("g")),
        "ks" -> DistDrift.ks(df.where(col("g") === "A"),
          df.where(col("g") === "B"), "v"))) {
      plan.collect() // materialize so AQE finalizes the executed plan
      val bad = unpartitionedWindows(plan.queryExecution.executedPlan)
      assert(bad.isEmpty, s"$name has unpartitioned WindowExec: $bad")
    }
  }

  test("wasserstein1: point shift = distance, split transport, zero, empty NULL") {
    def w1(a: Seq[Long], b: Seq[Long]): java.lang.Double = {
      val r = DistDrift.wasserstein1(a.toDF("v"), b.toDF("v"), "v").head()
      if (r.isNullAt(3)) null else r.getDouble(3)
    }
    // a point mass shifted by d costs exactly d
    assert(w1(Seq(0L), Seq(100L)) == 100.0)
    // {0,100} vs {50,50}: both units travel 50 -> mean 50
    assert(w1(Seq(0L, 100L), Seq(50L, 50L)) == 50.0)
    // identical samples cost 0; unequal sizes still exact:
    // {0} vs {0,10}: F_B jumps to 1/2 at 0 -> integral |1 - 1/2|*10 = 5
    assert(w1(Seq(5L, 7L), Seq(5L, 7L)) == 0.0)
    assert(w1(Seq(0L), Seq(0L, 10L)) == 5.0)
    // empty side publishes NULL with counts intact
    val e = DistDrift.wasserstein1(Seq.empty[Long].toDF("v"),
      Seq(1L).toDF("v"), "v").head()
    assert(e.getLong(0) == 0L && e.getLong(1) == 1L && e.isNullAt(3))
    // layout invariance (prefix sums + boundary stitch, no global window)
    val big = (1 to 3000).map(i => (i * 37 % 501).toLong)
    val shifted = big.map(_ + 13L)
    val x = DistDrift.wasserstein1(big.toDF("v"), shifted.toDF("v"), "v").head()
    val y = DistDrift.wasserstein1(big.toDF("v").repartition(17),
      shifted.toDF("v").repartition(5), "v").head()
    assert(x.getDouble(3) == y.getDouble(3))
    assert(x.getDouble(3) == 13.0) // rigid shift by 13 costs exactly 13
  }

  test("histW1: identical hist = 0, one-bin shift = width, missing bins count") {
    val ref = Seq((0L, 2L), (1L, 2L)).toDF("bin", "c")
    // key A identical to ref -> 0; key B all mass one bin right of ref's
    // average... hand: B = {bin1:2, bin2:2} vs ref {0:2,1:2} — every unit
    // moves exactly one bin -> w1 = width
    val perKey = Seq(("A", 0L, 2L), ("A", 1L, 2L), ("B", 1L, 2L), ("B", 2L, 2L))
      .toDF("k", "bin", "c")
    val got = DistDrift.histW1(perKey, ref, width = 10.0).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got == Map("A" -> 0.0, "B" -> 10.0))
    // a key missing a middle ref bin still integrates across the gap:
    // C = {0:1, 4:1} vs ref2 = {2:2}: cum diffs |1*2-0*2|*2 + |1*2-2*2|*2
    // over gaps (0->2, 2->4) -> (4+4)/(2*2)*10 = 20
    val c2 = DistDrift.histW1(Seq(("C", 0L, 1L), ("C", 4L, 1L)).toDF("k", "bin", "c"),
      Seq((2L, 2L)).toDF("bin", "c"), width = 10.0).head()
    assert(c2.getDouble(2) == 20.0)
  }

  test("spearman: monotone = 1, inverse = -1, tie hand case = 2/sqrt(5), constant NULL") {
    def rho(rows: Seq[(Double, Double)]): org.apache.spark.sql.Row =
      DistDrift.spearman(rows.toDF("x", "y"), col("x"), col("y")).head()
    // nonlinear but monotone: Pearson < 1, Spearman exactly 1
    assert(rho(Seq((1.0, 1.0), (2.0, 4.0), (3.0, 9.0), (4.0, 16.0))).getDouble(1) == 1.0)
    assert(rho(Seq((1.0, 16.0), (2.0, 9.0), (3.0, 4.0), (4.0, 1.0))).getDouble(1) == -1.0)
    // ties: x = (1,1,2,2) ranks (1.5,1.5,3.5,3.5) vs y = 1..4 → 2/√5
    val t = rho(Seq((1.0, 1.0), (1.0, 2.0), (2.0, 3.0), (2.0, 4.0)))
    assert(t.getDouble(1) == math.rint(2.0 / math.sqrt(5.0) * 1e6) / 1e6)
    assert(t.getLong(0) == 4)
    // zero-variance side: undefined, publishes NULL not NaN
    assert(rho(Seq((1.0, 5.0), (2.0, 5.0), (3.0, 5.0))).isNullAt(1))
    // long moment path == decimal path byte-for-byte on the same data
    // (the probe elects longs whenever 4n³ < 2⁶²; the spec hook forces
    // the decimal path so both run on identical input, ties included)
    val mixed = Seq((1.0, 2.0), (1.0, 7.0), (3.0, 7.0), (4.0, 1.0),
      (4.0, 4.0), (9.0, 9.0), (2.0, 2.0))
    val fast = DistDrift.spearman(mixed.toDF("x", "y"), col("x"), col("y"))
      .head()
    val dec = DistDrift.spearman(mixed.toDF("x", "y"), col("x"), col("y"),
      forceDecimalPath = true).head()
    assert(fast == dec)
  }

  test("jensenShannon: 0 for identical, ln2 for disjoint, hand-checked mix") {
    val a = (Seq.fill(30)("x") ++ Seq.fill(10)("y")).toDF("v")
    val same = DistDrift.jensenShannon(a, a, "v").head()
    assert(same.getAs[Double]("jsd") == 0.0)
    assert(same.getAs[Long]("n_cats") == 2)
    // disjoint supports: JSD = ln 2 (max), js_dist = 1 in bits
    val b = (Seq.fill(20)("z")).toDF("v")
    val dis = DistDrift.jensenShannon(a, b, "v").head()
    assert(math.abs(dis.getAs[Double]("jsd") - math.log(2.0)) < 1e-6)
    assert(dis.getAs[Double]("jsd_bits") == 1.0)
    assert(dis.getAs[Double]("js_dist") == 1.0)
    assert(dis.getAs[Long]("n_cats") == 3)
    // hand case: P = (3/4, 1/4), Q = (1/4, 3/4); m = (1/2, 1/2) for both
    // jsd = ½Σ p ln(2p) + ½Σ q ln(2q), symmetric ⇒ = Σ_p terms
    val c = (Seq.fill(10)("x") ++ Seq.fill(30)("y")).toDF("v")
    val expect = 0.75 * math.log(1.5) + 0.25 * math.log(0.5)
    val r = DistDrift.jensenShannon(a, c, "v").head()
    assert(math.abs(r.getAs[Double]("jsd") - expect) < 2e-6)
    assert(r.getAs[Long]("n_a") == 40 && r.getAs[Long]("n_b") == 40)
  }

  test("chi2Residuals: 2x2 equal |r| sign pattern, structural zero, margin NULL") {
    // cells (x,p)=30 (x,q)=10 (y,p)=10 (y,q)=10; n=60, rt=(40,20), ct=(40,20)
    val df = (Seq.fill(30)(("x", "p")) ++ Seq.fill(10)(("x", "q")) ++
      Seq.fill(10)(("y", "p")) ++ Seq.fill(10)(("y", "q")))
      .toDF("a", "b")
    val rows = DistDrift.chi2Residuals(df, "a", "b")
      .orderBy("a", "b").collect()
    assert(rows.length == 4)
    val byCell = rows.map(r => (r.getString(0), r.getString(1)) ->
      (r.getAs[Double]("e"), r.getAs[Double]("resid"))).toMap
    val e = 40.0 * 40.0 / 60.0
    val expResid = math.rint((30.0 - e) / math.sqrt(
      e * (1.0 - 40.0 / 60.0) * (1.0 - 40.0 / 60.0)) * 1e6) / 1e6
    assert(byCell(("x", "p"))._1 == math.rint(e * 1e6) / 1e6)
    assert(byCell(("x", "p"))._2 == expResid)
    // adjusted residuals of a 2x2 are +v,-v,-v,+v
    assert(byCell(("x", "q"))._2 == -expResid || // rounding may differ in last dp
      math.abs(byCell(("x", "q"))._2 + expResid) < 2e-6)
    assert(math.abs(byCell(("y", "p"))._2 + expResid) < 2e-6)
    assert(math.abs(byCell(("y", "q"))._2 - expResid) < 2e-6)
    // structural zero appears as o=0 with e>0
    val sz = (Seq.fill(5)(("x", "p")) ++ Seq.fill(5)(("y", "q")))
      .toDF("a", "b")
    val szRows = DistDrift.chi2Residuals(sz, "a", "b").collect()
    assert(szRows.length == 4 &&
      szRows.count(r => r.getAs[Long]("o") == 0L) == 2)
    // a single-category margin (ct = n) nulls every residual
    val deg = Seq(("x", "p"), ("y", "p")).toDF("a", "b")
    val degRows = DistDrift.chi2Residuals(deg, "a", "b").collect()
    assert(degRows.forall(_.isNullAt(4)))
  }

  test("hellinger: identical samples score 0, separated masses replay by hand") {
    val a = (1 to 10).map(_ => 1.0).toDF("v")
    val b = (1 to 10).map(_ => 9.0).toDF("v")
    val same = DistDrift.hellinger(a, a, "v", lo = 0.0, hi = 10.0,
      nBins = 2).head()
    assert(same.getAs[Double]("bc") == 1.0) // Laplace shares sum to 1
    assert(same.getAs[Double]("hellinger") == 0.0)
    // p = (11/12, 1/12), q = (1/12, 11/12): bc = 2·r12(√(11)/12)
    val sep = DistDrift.hellinger(a, b, "v", 0.0, 10.0, 2).head()
    def r(x: Double, n: Int) = BigDecimal(x)
      .setScale(n, BigDecimal.RoundingMode.HALF_UP).toDouble
    val term = r(math.sqrt((11.0 / 12) * (1.0 / 12)), 12)
    val bc = r((BigDecimal(term) * 2).toDouble, 6)
    assert(sep.getAs[Double]("bc") == bc)
    assert(sep.getAs[Double]("hellinger") == r(math.sqrt(1.0 - bc), 6))
  }

  test("quantileTreatmentEffect: exact type-1 picks, constant shift, ties") {
    val df = (Seq(1L, 2L, 3L, 4L).map(("A", _)) ++
      Seq(11L, 12L, 13L, 14L).map(("B", _))).toDF("g", "v")
    val rows = DistDrift.quantileTreatmentEffect(df, col("v"), col("g"))
      .collect()
    assert(rows.map(_.getAs[Double]("p")).toSeq == Seq(0.25, 0.5, 0.75))
    assert(rows.map(_.getAs[Long]("q_a")).toSeq == Seq(1L, 2L, 3L))
    assert(rows.map(_.getAs[Long]("q_b")).toSeq == Seq(11L, 12L, 13L))
    assert(rows.forall(_.getAs[Long]("qte") == 10L))
    // an all-tied group picks its single value at every p
    val tied = (Seq.fill(4)(("A", 5L)) ++ Seq(("B", 1L), ("B", 9L)))
      .toDF("g", "v")
    val t = DistDrift.quantileTreatmentEffect(tied, col("v"), col("g"))
      .collect()
    assert(t.forall(_.getAs[Long]("q_a") == 5L))
    assert(t.map(_.getAs[Long]("q_b")).toSeq == Seq(1L, 1L, 9L))
    intercept[IllegalArgumentException] {
      DistDrift.quantileTreatmentEffect(df.where(col("g") === "A"),
        col("v"), col("g"))
    }
  }

  test("cliffsDelta: total separation is ±1, all-tied is 0, rides the exact ranks") {
    val sep = Seq(("A", 1L), ("A", 2L), ("B", 3L), ("B", 4L)).toDF("g", "v")
    val r1 = DistDrift.cliffsDelta(sep, col("v"), col("g")).head()
    assert(r1.getAs[String]("group_a") == "A")
    assert(r1.getAs[Double]("delta") == -1.0) // every B beats every A
    assert(r1.getAs[String]("magnitude") == "large")
    val rev = Seq(("A", 9L), ("B", 1L)).toDF("g", "v")
    assert(DistDrift.cliffsDelta(rev, col("v"), col("g"))
      .head().getAs[Double]("delta") == 1.0)
    val tied = Seq(("A", 5L), ("B", 5L)).toDF("g", "v")
    val rt = DistDrift.cliffsDelta(tied, col("v"), col("g")).head()
    assert(rt.getAs[Double]("delta") == 0.0)
    assert(rt.getAs[String]("magnitude") == "negligible")
  }

  test("nmiMatrix: a copied column reads nmi 1, independent pairs near 0") {
    import spark.implicits._
    val df = (0 until 400).map { i =>
      val a = (i % 4).toString
      (a, a, (i % 2).toString) // c cycles independently of a at period 2 vs 4
    }.toDF("a", "acopy", "c")
    val rows = DistDrift.nmiMatrix(df, Seq("a", "acopy", "c")).collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("a", "acopy"), ("a", "c"), ("acopy", "c"))) // ordered pairs
    val byPair = rows.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(byPair(("a", "acopy")).getAs[Double]("nmi") == 1.0)
    // a determines c here (i%2 is a function of i%4) — nmi(a,c) = 1 on
    // the MIN-entropy normalization; swap c to a truly independent
    // cycle length to read ~0
    val ind = (0 until 400).map(i =>
      ((i % 4).toString, (i % 4).toString, (i % 5).toString))
      .toDF("a", "acopy", "c")
    val r2 = DistDrift.nmiMatrix(ind, Seq("a", "c")).head()
    assert(math.abs(r2.getAs[Double]("nmi")) < 1e-6)
    intercept[IllegalArgumentException] {
      DistDrift.nmiMatrix(df, Seq("a"))
    }
  }

  test("negativeBinomialFit: hand moments; at-most-Poisson nulls k_hat") {
    import spark.implicits._
    // g1 = [1,2,3]: mean 2, sample var 1 < mean → NULL k̂, dispersion .5
    // g2 = [0,0,6]: mean 2, var 12 → k̂ = 4/10 = 0.4
    val df = Seq(("g1", 1L), ("g1", 2L), ("g1", 3L),
      ("g2", 0L), ("g2", 0L), ("g2", 6L)).toDF("g", "x")
    val rows = DistDrift.negativeBinomialFit(df, col("g"), col("x"))
      .collect().map(r => r.getString(0) -> r).toMap
    val g1 = rows("g1")
    assert(g1.getAs[Double]("mean") == 2.0 && g1.getAs[Double]("variance") == 1.0)
    assert(g1.getAs[Double]("dispersion") == 0.5)
    assert(g1.isNullAt(g1.fieldIndex("k_hat")))
    val g2 = rows("g2")
    assert(g2.getAs[Double]("variance") == 12.0
      && g2.getAs[Double]("dispersion") == 6.0
      && g2.getAs[Double]("k_hat") == 0.4)
  }
  test("theilDecomposition: within-equal groups put ALL inequality between") {
    import spark.implicits._
    // A = {100, 100}, B = {300, 300}: T_A = T_B = 0 → within 0;
    // between = .25·ln(½) + .75·ln(1.5) = 0.130812036…; total = between.
    // The direct Theil over the pooled 4 values is the same number —
    // the decomposition identity at its cleanest.
    val df = Seq(("A", 100.0), ("A", 100.0), ("B", 300.0), ("B", 300.0))
      .toDF("g", "x")
    val rows = graft.operators.DistDrift.theilDecomposition(df, col("g"), col("x"))
      .collect().map(r => r.getString(0) -> r).toMap
    val a = rows("A"); val b = rows("B")
    assert(a.getAs[Long]("n") == 2L && a.getAs[Double]("mean_x") == 100.0)
    assert(a.getAs[Double]("share") == 0.25 && b.getAs[Double]("share") == 0.75)
    assert(a.getAs[Double]("theil_g") == 0.0 && b.getAs[Double]("theil_g") == 0.0)
    assert(a.getAs[Double]("theil_within") == 0.0)
    assert(a.getAs[Double]("theil_between") == 0.130812)
    assert(a.getAs[Double]("theil_total") == 0.130812)
    // non-positive values are excluded by definition, not poisoned
    val guarded = graft.operators.DistDrift.theilDecomposition(
      df.unionByName(Seq(("A", 0.0), ("B", -5.0)).toDF("g", "x")),
      col("g"), col("x")).collect().map(r => r.getString(0) -> r).toMap
    assert(guarded("A").getAs[Long]("n") == 2L
      && guarded("A").getAs[Double]("theil_between") == 0.130812)
  }
  test("yuenT: hand shifted arms t=-10/sqrt(2), spike trimmed away, degenerates NULL") {
    import spark.implicits._
    def run(a: Seq[Long], b: Seq[Long]) =
      graft.operators.DistDrift.yuenT(
        (a.map(("A", _)) ++ b.map(("B", _))).toDF("g", "v"),
        col("v"), col("g"))
    // A = 1..8, B = 11..18 (pure +10 shift): k=1 trims each end,
    // tmeans 4.5/14.5; winsorized variance gives d = 1.0 exactly per
    // side → t = −10/√2, df = 4/(2/5) = 10
    val r = run(1L to 8L, 11L to 18L).head()
    assert(r.getAs[Long]("h_a") == 6L && r.getAs[Double]("tmean_a") == 4.5)
    assert(r.getAs[Double]("tmean_b") == 14.5)
    assert(r.getAs[Double]("t_yuen") == -7.071068 && r.getAs[Double]("df") == 10.0)
    // a 1000-spike replacing the max is TRIMMED: same tmean, same t
    val sp = run((1L to 7L) :+ 1000L, 11L to 18L).head()
    assert(sp.getAs[Double]("tmean_a") == 4.5
      && sp.getAs[Double]("t_yuen") == -7.071068)
    // identical constant arms: zero winsorized variance → NULL t/df
    val const = run(Seq.fill(8)(5L), Seq.fill(8)(5L)).head()
    assert(const.isNullAt(8) && const.isNullAt(9))
    // a side with h < 2 refuses into NULL estimates
    val thin = run(Seq(1L), Seq(1L, 2L, 3L, 4L)).head()
    assert(thin.isNullAt(6) && thin.isNullAt(8))
  }
  test("partialCorr: a pure confound partials to exactly zero; constants NULL") {
    import spark.implicits._
    // x = z+a, y = z+b over all (z,a,b) ∈ {0,1}³: r_xy = ½ comes ONLY
    // through z (r_xz = r_yz = 1/√2) — partialling z out reads 0
    val rows = for (z <- 0 to 1; a <- 0 to 1; b <- 0 to 1)
      yield ((z + a).toLong, (z + b).toLong, z.toLong)
    val r = graft.operators.DistDrift.partialCorr(rows.toDF("x", "y", "z"),
      col("x"), col("y"), col("z")).head()
    assert(r.getAs[Long]("n") == 8L)
    assert(r.getAs[Double]("r_xy") == 0.5 && r.getAs[Double]("r_xz") == 0.707107)
    assert(r.getAs[Double]("r_xy_z") == 0.0)
    // a constant variable has no correlation to read: NULL row
    val const = graft.operators.DistDrift.partialCorr(
      Seq((1L, 2L, 5L), (2L, 3L, 5L), (3L, 5L, 5L)).toDF("x", "y", "z"),
      col("x"), col("y"), col("z")).head()
    assert(const.isNullAt(1) && const.isNullAt(4))
  }
  test("nominalAssociation: perfect 1.0s, independence zeros, mode-blind lambda") {
    import spark.implicits._
    def run(rows: Seq[(String, String)]) =
      graft.operators.DistDrift.nominalAssociation(rows.toDF("a", "b"), "a", "b")
        .head()
    // A determines B: every effect size reads exactly 1
    val perfect = run(Seq.fill(5)(("a1", "b1")) ++ Seq.fill(5)(("a2", "b2")))
    assert(perfect.getAs[Double]("chi2") == 10.0
      && perfect.getAs[Double]("v") == 1.0
      && perfect.getAs[Double]("v_corrected") == 1.0)
    assert(perfect.getAs[Double]("lambda_b_given_a") == 1.0
      && perfect.getAs[Double]("lambda_a_given_b") == 1.0)
    // exact independence: chi2 = 0, both Vs 0, lambdas 0
    val indep = run((for (a <- Seq("a1", "a2"); b <- Seq("b1", "b2");
      _ <- 1 to 5) yield (a, b)))
    assert(indep.getAs[Double]("chi2") == 0.0
      && indep.getAs[Double]("v") == 0.0
      && indep.getAs[Double]("v_corrected") == 0.0
      && indep.getAs[Double]("lambda_b_given_a") == 0.0)
    // dependence that never moves B's MODE: chi2 > 0 yet lambda = 0 —
    // exactly the distinction lambda exists to make
    val modeBlind = run(Seq.fill(30)(("a1", "b1")) ++ Seq.fill(10)(("a1", "b2"))
      ++ Seq.fill(20)(("a2", "b1")) ++ Seq.fill(10)(("a2", "b2")))
    assert(modeBlind.getAs[Double]("chi2") > 0.0
      && modeBlind.getAs[Double]("lambda_b_given_a") == 0.0)
  }

  test("grouped prefix sums: a null group keeps its own offsets; non-string groups refused") {
    val pv = Seq[(String, Long, Long)]((null, 1L, 2L), (null, 3L, 1L), (null, 5L, 4L),
      ("a", 2L, 1L), ("a", 3L, 5L)).toDF("g", "v", "c")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("v", "c", "c_below").as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val grouped = DistDrift.withPrefixSumsInfo(pv, Seq("c"), groupCols = Seq("g")).df
    val alone = DistDrift.withPrefixSumsInfo(pv.where(col("g").isNull).drop("g"), Seq("c")).df
    assert(rows(grouped.where(col("g").isNull)) == rows(alone))
    assert(rows(alone) == Seq((1L, 2L, 0L), (3L, 1L, 2L), (5L, 4L, 3L)))
    assert(rows(grouped.where(col("g") === "a")) == Seq((2L, 1L, 0L), (3L, 5L, 1L)))
    intercept[IllegalArgumentException] {
      DistDrift.withPrefixSumsInfo(pv.withColumn("g", lit(1)), Seq("c"), groupCols = Seq("g"))
    }
  }
}
