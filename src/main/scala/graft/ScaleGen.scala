package graft

import org.apache.spark.sql.functions._

/**
 * Scale-rehearsal data generator: deterministically up-scales a TESTDATA
 * sf directory by `copies`× so the heavy operator family can be MEASURED
 * past the driver's largest sf instead of scale-argued (BASELINE.md
 * "Round-9 sf1 rehearsal"). Never touches /root/testdata — output goes to
 * a scratch dir.
 *
 * Scaling must preserve the WORKLOAD SHAPE, not just the row count:
 *  - documents: copy k>0 SUFFIXES every token with a copy marker, a
 *    bijection on the token vocabulary: each copy's shingle/df structure
 *    is exactly ISOMORPHIC to the original corpus (same bucket sizes,
 *    same pair mass, ×copies total) with zero cross-copy overlap — the
 *    honest linear-scaling regime. Naive text copies would grow
 *    candidate mass quadratically in `copies`, and inserting tokens
 *    BETWEEN originals would collapse shingles onto bigram statistics
 *    (denser buckets than the real corpus); both poison the exponent.
 *  - embeddings: copy k>0 gets FRESH hash-random vectors (xxhash64 of
 *    (id, dim index, copy) → uniform in [-1, 1]); random 64-dim vectors
 *    are near-orthogonal, so no spurious cross-copy near neighbors while
 *    the original sf's neighbor structure rides along unchanged.
 *  - all other tables copy through unchanged (the rehearsal family is
 *    dedup/ANN-centric; relational scaling is Catalyst's well-measured
 *    territory).
 *
 * FIXTURE PROFILE (arg 6, "rehearsal" | "suite"): the default
 * "rehearsal" profile is the ADVERSARIAL twin — 1e7 key steps push
 * events user ids past q178's declared bitmap domain [0, 65536) (the
 * refusal fires, BY CONTRACT), customer copies densify q273's fixed
 * 50-square plane toward its n² pair mass, and hash-geometry
 * embeddings degenerate every ANN partition scheme's recall
 * (q33/q55/q91). Those five NAMED failures are the documentation of
 * WHY this profile exists (BASELINE.md round-15 sf1 sweep). "suite"
 * is the PRODUCTION-SHAPED rehearsal the full 405-query sweep can read
 * green on:
 *  - events copies shift user_id DENSELY (step = max user id + 1, so
 *    x10 of TESTDATA's 1,500 users tops out at 15,000 — inside the
 *    declared bitmap domain; a production audience bitmap is
 *    domain-sized by definition); event_id keeps the sparse step
 *    (uniqueness is its only contract);
 *  - customer is treated as a DIMENSION (copied through unchanged) and
 *    orders shift only o_orderkey, so o_custkey keeps pointing at real
 *    customers — per-customer fan-out grows ×copies, the same declared
 *    "fixed dimension under a growing fact table" regime supplier/part
 *    already use. q273's 50-square plane keeps its calibrated
 *    occupancy (the plane is sized to the customer table the gate
 *    declares, exactly as the bitmap is sized to its id domain);
 *  - pair with geometry=clustered for the ANN recall contracts.
 *
 * Embedding GEOMETRY (arg 4, "hash" | "clustered"): hash-random vectors
 * are near-ISOTROPIC — the adversarial regime where ANY partition scheme's
 * recall degenerates to the fraction scanned (BASELINE.md standing
 * caveat), which is the wrong fixture for rehearsing the IVF/PQ recall
 * contracts: real-world embedding corpora are CLUSTERED (the geometry the
 * reference's NGH engine exists to serve,
 * /root/reference/lib/src/core/ngh_graph_engine.dart:14-23). "clustered"
 * regenerates EVERY vector (all copies, k=0 included) on a HIERARCHICAL
 * mixture — 16 macro clusters × 1024 micro clusters × per-vector noise,
 * each level a deterministic xxhash64-uniform draw:
 *   coord_i = macro(m,i) + 0.6·micro(u,i) + 0.02·noise(vec_id,i)
 * (macro/micro/noise each uniform in [-1,1]; u = hash(vec_id) mod 1024,
 * m = u mod 16). Each scale is calibrated to a real-corpus property,
 * measured against the index kernels rather than guessed:
 *  - a SINGLE-level noise ball concentrates all cluster-mates onto one
 *    thin distance shell (concentration of measure at d=64) — exact
 *    top-k becomes noise-scale fluctuation no quantized method can
 *    rank (measured: PQ rerank=1 recall 0.11, graph 0.17);
 *  - micro offsets must be COMPARABLE to the PQ codeword Voronoi
 *    radius (k=16/subspace → radius ≈ half the macro subspace
 *    spacing ≈ 1.1; 0.6 × E‖u₈‖ ≈ 1.0): big enough that each micro
 *    lands on its own codeword tuple (codes fingerprint micros — the
 *    behavior PQ shows on real corpora), small enough that micros
 *    stay inside their macro (full-dim micro radius ≈ 2.8 ≪ macro
 *    separation ≈ 6.5, so IVF cell assignment is constant per macro);
 *  - per-vector noise 0.02 makes micro-mates TRUE neighbors
 *    (≈ 0.18 apart vs ≈ 3.9 to sibling micros) — the near-dup /
 *    same-topic band of a production corpus. Both fixtures are kept: hash =
 * adversarial twin, clustered = the production-geometry rehearsal.
 */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val base = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Graft.localSession("graft-scalegen")

    // arg 5: comma-list of table groups to generate ("all" default) —
    // an ANN-only rehearsal (embeddings at x100) must not pay for a
    // full sf10 relational build it never reads
    val knownGroups = Set("dims", "events", "customer", "orders",
      "lineitem", "documents", "embeddings")
    val wanted = args.lift(4).getOrElse("all")
    val wantedSet = wanted.split(",").map(_.trim).filter(_.nonEmpty).toSet
    require(wanted == "all" || (wantedSet.nonEmpty && wantedSet.subsetOf(knownGroups)),
      s"unknown table group(s) ${wantedSet -- knownGroups} — known: " +
        knownGroups.toSeq.sorted.mkString(", "))
    def tables(t: String): Boolean = wanted == "all" || wantedSet.contains(t)

    val profile = args.lift(5).getOrElse("rehearsal")
    require(Seq("rehearsal", "suite").contains(profile),
      s"fixture profile must be rehearsal|suite: $profile")

    if (tables("dims")) for (t <- Seq("region", "nation", "supplier", "part"))
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")

    val idStep = 10000000L

    // events scale by KEY-SHIFTED user copies (event_id/user_id shift
    // together, timestamps unchanged): ×copies users with UNCHANGED
    // per-user activity — the honest regime for the user-keyed analytics
    // family (funnel q148, cohort q149, gap-fill q156, range join q155,
    // sliding distinct q160): per-user state/grid/pair mass constant,
    // total linear. Naive row copies would densify per-user event counts
    // and grow range-join pair mass quadratically.
    if (tables("events")) {
      val evs = spark.read.parquet(s"$base/events.parquet")
      // suite profile: DENSE user steps keep the scaled id domain
      // bitmap-sized (see the profile Scaladoc); event_id only needs
      // uniqueness so it keeps the sparse step in both profiles
      val userStep = if (profile == "suite")
        evs.agg(max(col("user_id"))).head().getLong(0) + 1L else idStep
      (0 until copies).map { k =>
        if (k == 0) evs
        else evs
          .withColumn("event_id", col("event_id") + lit(k * idStep))
          .withColumn("user_id", col("user_id") + lit(k * userStep))
      }.reduce(_ unionByName _)
        .repartition(8)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    }

    // customer/orders scale by KEY-SHIFTED copies so the relational gate
    // family (snapshot diff q133, z-order layout q135) rehearses on ×N
    // rows; the modular gate constructions stay valid under shifted keys
    // (shifted ids land on the same residue classes with the same
    // densities). Foreign keys shift together so join fan-out per key is
    // UNCHANGED — the honest linear regime, never a densified join.
    // suite profile: customer is a DIMENSION (unscaled, like supplier/
    // part) and orders keep o_custkey pointing at it — per-customer
    // fan-out grows ×copies instead of the customer-keyed fixture
    // planes densifying (see the profile Scaladoc)
    if (tables("customer")) {
      val cust = spark.read.parquet(s"$base/customer.parquet")
      (0 until (if (profile == "suite") 1 else copies)).map { k =>
        if (k == 0) cust
        else cust.withColumn("c_custkey", col("c_custkey") + lit(k * idStep))
      }.reduce(_ unionByName _)
        .repartition(8)
        .write.mode("overwrite").parquet(s"$out/customer.parquet")
    }

    if (tables("orders")) {
      val ords = spark.read.parquet(s"$base/orders.parquet")
      (0 until copies).map { k =>
        if (k == 0) ords
        else {
          val shifted = ords
            .withColumn("o_orderkey", col("o_orderkey") + lit(k * idStep))
          if (profile == "suite") shifted
          else shifted.withColumn("o_custkey", col("o_custkey") + lit(k * idStep))
        }
      }.reduce(_ unionByName _)
        .repartition(8)
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
    }

    // lineitem shifts l_orderkey with orders (FK-consistent); supplier/
    // part stay unscaled, so per-supplier fan-out grows ×copies — the
    // realistic regime for a fixed dimension under a growing fact table
    if (tables("lineitem")) {
      val li = spark.read.parquet(s"$base/lineitem.parquet")
      (0 until copies).map { k =>
        if (k == 0) li
        else li.withColumn("l_orderkey", col("l_orderkey") + lit(k * idStep))
      }.reduce(_ unionByName _)
        .repartition(16)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    }
    if (tables("documents")) {
      val docs = spark.read.parquet(s"$base/documents.parquet")
      (0 until copies).map { k =>
        if (k == 0) docs
        else docs.select(
          (col("doc_id") + lit(k * idStep)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"$$1ck$k").as("text"),
          col("lang"), col("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .select(docs.columns.map(col): _*)
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
    }

    val geometry = args.lift(3).getOrElse("hash")
    require(Seq("hash", "clustered").contains(geometry),
      s"embedding geometry must be hash|clustered: $geometry")
    if (tables("embeddings")) {
      val embs = spark.read.parquet(s"$base/embeddings.parquet")
      val dim = embs.select(size(col("embedding"))).head.getInt(0)
      val allIds = (0 until copies).map { k =>
        if (k == 0) embs
        else embs.select(
          (col("vec_id") + lit(k * idStep)).as("vec_id"),
          expr(s"""transform(sequence(0, ${dim - 1}),
                   i -> cast(cast(pmod(xxhash64(vec_id, i, $k), 2001) - 1000 as double)
                        / 1000.0 as float))""").as("embedding"),
          col("label"))
      }.reduce(_ unionByName _)
      val scaledEmbs =
        if (geometry == "hash") allIds
        else clusteredEmbedding(allIds, dim)
      scaledEmbs
        .repartition(8)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }

    val docN = if (tables("documents"))
      spark.read.parquet(s"$out/documents.parquet").count() else -1L
    val embN = if (tables("embeddings"))
      spark.read.parquet(s"$out/embeddings.parquet").count() else -1L
    println(s"""{"scaled":"$out","copies":$copies,"geometry":"$geometry","profile":"$profile","documents":$docN,"embeddings":$embN}""")
    spark.stop()
  }

  /** The "clustered" geometry kernel (see the object Scaladoc): 16 macro
    * × 1024 micro deterministic clusters + a 20% interpolated-bridge
    * component, all levels xxhash64-uniform draws keyed ONLY on vec_id
    * and the dimension index — a pure function, so the fixture
    * regenerates bit-identically anywhere. Factored out of main so
    * ScaleSpec can pin the contract the ANN rehearsal rides on:
    * micro-mates ≪ cross-macro distances, bridges between their two
    * anchors, exact determinism. */
  def clusteredEmbedding(ids: org.apache.spark.sql.DataFrame, dim: Int)
      : org.apache.spark.sql.DataFrame =
    ids
      .withColumn("__u", pmod(xxhash64(col("vec_id"), lit(9901L)), lit(1024L)))
      .withColumn("__m", pmod(col("__u"), lit(16L)))
      .withColumn("__ub", pmod(xxhash64(col("vec_id"), lit(7411L)), lit(1024L)))
      .withColumn("__mb", pmod(col("__ub"), lit(16L)))
      .withColumn("__t",
        pmod(xxhash64(col("vec_id"), lit(6007L)), lit(1001L))
          .cast("double") / lit(1000.0))
      .withColumn("__bg",
        pmod(xxhash64(col("vec_id"), lit(31L)), lit(5L)) === 0)
      .select(col("vec_id"),
        expr(s"""transform(sequence(0, ${dim - 1}),
          i -> cast(
            (case when __bg then
               __t * (cast(pmod(xxhash64(7703L, __m, i), 2001) - 1000
                        as double) / 1000.0
                      + cast(pmod(xxhash64(8807L, __u, i), 2001) - 1000
                        as double) / 1000.0 * 0.6)
               + (1.0 - __t) * (cast(pmod(xxhash64(7703L, __mb, i), 2001)
                        - 1000 as double) / 1000.0
                      + cast(pmod(xxhash64(8807L, __ub, i), 2001) - 1000
                        as double) / 1000.0 * 0.6)
             else
               cast(pmod(xxhash64(7703L, __m, i), 2001) - 1000 as double)
                 / 1000.0
               + cast(pmod(xxhash64(8807L, __u, i), 2001) - 1000 as double)
                 / 1000.0 * 0.6
             end)
            + cast(pmod(xxhash64(vec_id, i, 5501L), 2001) - 1000 as double)
              / 1000.0 * 0.02
          as float))""").as("embedding"),
        col("label"))
}
