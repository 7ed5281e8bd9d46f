package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/**
 * Near-duplicate detection for training-data pipelines, designed around
 * Spark's shuffle model: every method is a *bucket join* — candidates are
 * generated by exploding per-document keys (band hashes / simhash bands /
 * shared shingles) and shuffling on the key, never by a cross join. At
 * 100 TB the shuffle volume is O(docs × keys), and the exact verification
 * only runs on candidate pairs.
 *
 * Two hash families:
 *  - *fast*: `xxhash64` (codegen'd, 1 cycle/byte) — the production path;
 *  - *oracle*: md5-hex-string min-hashing — bit-identical in DuckDB, used
 *    by the correctness gate. Same algorithm, swappable hash.
 */
object Dedup {

  // ---------- exact ----------

  /** Exact dedup: group by normalized-text fingerprint, keep min id.
    * Map-side partial aggregation makes this one shuffle of (fp → id).
    * The fingerprint comes from the fused `TextStatsExpr` kernel (byte-
    * identical to `fingerprint(text)` = md5 of normalized text, asserted
    * by PipelineSpec) — one JNI-free kernel call per row instead of a
    * regex+md5 Column chain, and the kernel class is shared with q24 so
    * a cold JVM pays its codegen/classload cost once, not per query. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("__id"), textStats(col(textCol)).getField("fp").as("fp"))
      .groupBy("fp")
      .agg(min(col("__id")).as("keeper"), count(lit(1)).as("dupes"))

  /**
   * Cross-source duplication matrix — the crawl diagnostic behind "which
   * feeds are mirroring each other": near-dup pairs (the gated
   * [[minhashPairs]] md5 family) joined back to their source labels and
   * rolled up per unordered source pair, within-source pairs on the
   * diagonal. A hot cell between two different sources means paying for
   * the same content twice; the roll-up is |sources|²-bounded however
   * large the corpus. Output: (source_a ≤ source_b, within_source,
   * n_pairs, mean_jaccard).
   */
  def crossSourceDup(docs: DataFrame, idCol: String, textCol: String,
      srcCol: String, shingleN: Int = 3, k: Int = 12, bands: Int = 4,
      threshold: Double = 0.3): DataFrame = {
    val pairs = minhashPairs(docs, idCol, textCol, shingleN, k, bands, threshold)
    val src = docs.select(col(idCol), col(srcCol))
    pairs
      .join(src.select(col(idCol).as("a"), col(srcCol).as("__sa")), "a")
      .join(src.select(col(idCol).as("b"), col(srcCol).as("__sb")), "b")
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"),
        col("jaccard"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("jaccard").cast("decimal(10,6)")).cast("double")
          / count(lit(1)).cast("double"), 6).as("mean_jaccard"))
      .withColumn("within_source", col("source_a") === col("source_b"))
      .select("source_a", "source_b", "within_source", "n_pairs", "mean_jaccard")
  }

  /**
   * CCNet/RefinedWeb-style line-level dedup: every document is split into
   * lines, a line INSTANCE survives iff it is the globally FIRST
   * occurrence of that line text (ordered by (id, position) — the shard
   * order CCNet's per-shard pass approximates), and each document is
   * reassembled from its surviving lines. This is the pass that strips
   * boilerplate (nav bars, cookie banners, footers) that exact whole-doc
   * dedup never sees.
   *
   * Shape at scale — two-and-a-half shuffles, no window over the corpus:
   *  1. explode lines (narrow) → groupBy(line) with `min(struct(id,pos))`:
   *     map-side partial aggregation collapses a hyper-duplicated line
   *     (the empty line, "Home", a shared footer) to ONE row per partition
   *     BEFORE the shuffle, so keeper derivation is skew-immune;
   *  2. hash join instances back to their line's keeper — the hot line is
   *     a sort-merge/AQE-splittable skew key here, each instance matching
   *     exactly one keeper row (never a window: a window would sort every
   *     instance of the hot line in one task);
   *  3. groupBy(id) reassembles surviving lines in position order.
   *
   * Output: (`idCol`, n_lines, n_kept, text_kept) — text_kept is ""
   * (not null) when every line of a doc lost to earlier occurrences.
   *
   * `scope = "doc"` restricts dedup to WITHIN each document (the
   * RefinedWeb intra-doc repetition trim): a line repeated inside one
   * doc keeps its first instance, but cross-doc repeats all survive —
   * keeper derivation and the join key simply gain the doc id, so the
   * shuffle keys on (line, id) and a corpus-wide hot line never
   * concentrates.
   */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", scope: String = "corpus"): DataFrame = {
    require(scope == "corpus" || scope == "doc",
      s"scope must be 'corpus' or 'doc': $scope")
    val lines = docs.select(col(idCol).as("__id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "line")))
    val keeperKeys = if (scope == "doc") Seq("line", "__id") else Seq("line")
    val keepers = lines.groupBy(keeperKeys.map(col): _*)
      .agg(min(struct(col("__id"), col("pos"))).as("__first"))
    lines.join(keepers, keeperKeys)
      .withColumn("__kept",
        col("__first.__id") === col("__id") && col("__first.pos") === col("pos"))
      .groupBy(col("__id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__kept"), lit(1L)).otherwise(lit(0L))).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("__kept"),
              struct(col("pos"), col("line"))))),
            x => x.getField("line")),
          sep).as("text_kept"))
      .withColumnRenamed("__id", idCol)
  }

  // ---------- MinHash + LSH ----------

  /** Oracle-parity minhash signature over a PRE-COMPUTED shingle column:
    * element i = MIN over shingles s of md5(i ':' s) as hex string.
    * String-min is as uniform as integer-min for Jaccard estimation and is
    * reproducible in any engine with md5.
    *
    * PERF: callers must pass `sh` as a projected ATTRIBUTE (a prior
    * `.withColumn`), never the raw shingle expression — the signature
    * references `sh` k times, and inlining the shingle construction into
    * each lambda multiplies the per-row cost by k (measured 200×+ slower
    * at sf0.1). CollapseProject keeps a multi-use non-cheap attribute
    * behind a projection boundary, so the column form evaluates once. */
  def minhashFromShingles(sh: Column, k: Int): Column =
    kcol(graft.expr.MinHashExpr(kexp(sh), k))

  /** HOF formulation of minhashFromShingles — byte-identical output,
    * interpreted evaluation; kept as the spec cross-check for the kernel. */
  private[graft] def minhashFromShinglesHof(sh: Column, k: Int): Column =
    bind(sh)(s => transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(s, x => md5(concat(i.cast("string"), lit(":"), x))))))

  /** Fast family: xxhash64(seed, shingle) min per seed (production) —
    * codegen kernel; HOF twin kept below as its spec cross-check. */
  def minhashFromShinglesFast(sh: Column, k: Int): Column =
    kcol(graft.expr.MinHashFastExpr(kexp(sh), k))

  private[graft] def minhashFromShinglesFastHof(sh: Column, k: Int): Column =
    bind(sh)(s => transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(s, x => xxhash64(i, x)))))

  /** Convenience single-column form — ONLY for one-off signature queries
    * (cost: k shingle evaluations per row; see minhashFromShingles). */
  def minhashSignature(textCol: Column, shingleN: Int, k: Int): Column =
    minhashFromShingles(shingles(textCol, shingleN), k)

  /** Band hashes: split the k-element signature into `bands` bands of
    * k/bands rows; band j key = md5 of the joined band slice. */
  def bandHashes(sig: Column, k: Int, bands: Int): Column = {
    val r = k / bands
    bind(sig)(s => transform(sequence(lit(0), lit(bands - 1)),
      j => md5(concat_ws("|", slice(s, j * r + 1, lit(r))))))
  }

  /**
   * LSH candidate pairs with exact Jaccard verification.
   * Plan: docs → (doc, band_idx, band_hash) explode → shuffle on
   * (band_idx, hash) → within-bucket pairs (a < b) → distinct pairs →
   * join back shingle sets → exact Jaccard ≥ threshold.
   * No cross join anywhere; skew guard: buckets larger than
   * `maxBucket` (degenerate hash collisions, e.g. empty docs) are dropped,
   * as in standard LSH dedup at scale.
   */
  def minhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 12,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucket: Int = 1000,
      oracleHash: Boolean = true): DataFrame = {
    // each select is a deliberate projection boundary: sh → sig → bands are
    // multi-use non-cheap attributes, so each stage evaluates exactly once
    // per row (CollapseProject will not inline them)
    val withSh = fanOut(docs.select(col(idCol).as("id"), col(textCol).as("text")))
      .select(col("id"), shingles(col("text"), shingleN).as("sh"))
    val withSig = withSh.select(col("id"), col("sh"),
      (if (oracleHash) minhashFromShingles(col("sh"), k)
       else minhashFromShinglesFast(col("sh"), k)).as("sig"))
    val withBands = withSig.select(col("id"), col("sh"),
      bandHashes(col("sig"), k, bands).as("bands"))
    val exploded = withBands.select(col("id"), posexplode(col("bands")).as(Seq("band", "bh")))
    val buckets = exploded.groupBy("band", "bh")
      .agg(collect_list(col("id")).as("ids"))
      .where(size(col("ids")).between(2, maxBucket))
    // NOTE: the spread() treatment applied to the other pair families
    // (jaccard/containment/cosinePairsLsh — measured 1.5x there) was
    // tried HERE too and measured a 0.75-0.8x REGRESSION on q29/q45:
    // minhash band hashes make thousands of small buckets (no fat-row
    // skew to break) and the candidate mass is tiny, so the two added
    // exchanges cost more than the parallelism they buy. Reverted.
    val pairs = buckets
      .select(explode(pairsOf(col("ids"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
    // sorted sides + sizes: |A∪B| = |A|+|B|−|A∩B| on distinct shingle
    // arrays (same doubles as size(array_union)); the merge-walk kernel
    // stays codegen-able, so the pushed condition evaluates it twice but
    // keeps the whole join stage in codegen (a bind() here would make
    // the predicate CodegenFallback — measured slower at this family's
    // small candidate mass)
    val sets = withSh.select(col("id"), array_sort(col("sh")).as("sh"),
      size(col("sh")).as("sz"))
    def inter = kcol(graft.expr.IntersectSizeSortedExpr(
      kexp(col("sha")), kexp(col("shb"))))
    pairs
      .join(sets.select(col("id").as("a"), col("sh").as("sha"), col("sz").as("vsa")), "a")
      .join(sets.select(col("id").as("b"), col("sh").as("shb"), col("sz").as("vsb")), "b")
      .withColumn("jaccard", round(inter.cast("double") /
        (col("vsa") + col("vsb") - inter).cast("double"), 6))
      .where(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** All unordered pairs (a<b) from a bucket's id list, as an array of
    * structs — flatten of per-element slices, pure HOF. */
  /** All unordered pairs of a bucket's ids, sorted — ONE codegen kernel
    * call (`PairKernel.sortedPairs`); the HOF twin below is
    * CodegenFallback with a slice copy per element. DedupSpec pins
    * kernel == HOF. */
  private[graft] def pairsOf(ids: Column): Column =
    kcol(graft.expr.SortedPairsExpr(kexp(ids)))

  private[graft] def pairsOfHof(ids: Column): Column =
    bind(array_sort(ids)) { sorted =>
      flatten(transform(sorted, (x, i) =>
        transform(slice(sorted, i + lit(2), size(sorted)), y => struct(x.as("a"), y.as("b")))))
    }

  /** Exact Jaccard over two shingle arrays (treated as sets). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, 0.0).otherwise(inter / uni)
  }

  /** n-gram Jaccard similarity of two text columns (direct, for verify). */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column =
    jaccard(shingles(a, n), shingles(b, n))

  /**
   * EXACT n-gram Jaccard near-dup pairs — 100% recall at the threshold,
   * no hashing — via prefix filtering (the AllPairs/PPJoin family:
   * Bayardo et al. WWW'07, Xiao et al. WWW'08): order every document's
   * shingles by GLOBAL rarity (document frequency asc, shingle asc) and
   * index only its first |d| - ⌈t·|d|⌉ + 1 shingles — two sets with
   * Jaccard ≥ t MUST share at least one prefix shingle under any shared
   * total order, so the posting-list join over prefixes alone loses
   * nothing. Verification computes exact Jaccard on the candidate pairs.
   *
   * Scale shape: shuffles are O(docs × shingles) for the df count and
   * O(docs × prefix) for candidate generation — rare-first ordering makes
   * prefix postings the SHORTEST lists, so hot shingles (boilerplate) stay
   * out of the join. `maxPosting` is a last-resort skew guard: a posting
   * longer than it (e.g. near-identical corpus) is dropped and recall
   * below 100% is possible — same contract as the LSH `maxBucket`.
   *
   * vs `minhashPairs`: exact but two extra shuffles; prefer MinHash+LSH
   * when estimated Jaccard is acceptable, this when the threshold is a
   * hard guarantee (legal dedup, eval-set decontamination).
   */
  def jaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      maxPosting: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the shingling pass appears FOUR times in this DAG (df-count join's
    // two posting sides + both verify sides) — materialize it once;
    // localCheckpoint blocks are freed by the ContextCleaner when the
    // frame is GC'd, unlike persist() which would leak without an
    // explicit unpersist the caller can't schedule
    val sets = fanOut(docs.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"), shingles(col("__t"), shingleN).as("sh"))
      .select(col("id"), col("sh"), size(col("sh")).as("sz"))
      .localCheckpoint(true)
    val posts = sets.select(col("id"), col("sz"), explode(col("sh")).as("s"))
    val dfreq = posts.groupBy("s").agg(count(lit(1)).as("df"))
    // rare-first rank within each document; keep the PPJoin prefix
    val w = Window.partitionBy("id").orderBy(col("df"), col("s"))
    val prefix = posts.join(dfreq, "s")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")).cast("int") + 1)
    val buckets = prefix.groupBy("s")
      .agg(collect_list(struct(col("id"), col("sz"), col("rn"))).as("xs"))
      .where(size(col("xs")).between(2, maxPosting))
    // per-pair aggregation carries the PPJoin pruning metadata: shared
    // prefix count, first/last shared positions, set sizes
    val cand = spread(buckets).select(explode(pairsOfStruct(col("xs"))).as("p"))
      .select(col("p.a.id").as("a"), col("p.b.id").as("b"),
        col("p.a.sz").as("sza"), col("p.b.sz").as("szb"),
        col("p.a.rn").as("ra"), col("p.b.rn").as("rb"))
      .groupBy("a", "b")
      .agg(first(col("sza")).as("sza"), first(col("szb")).as("szb"),
        count(lit(1)).as("shared"),
        min(col("ra")).as("fra"), min(col("rb")).as("frb"),
        max(col("ra")).as("lra"), max(col("rb")).as("lrb"))
    // J(A,B) ≥ t needs overlap ≥ α = ⌈t/(1+t)·(|A|+|B|)⌉. Safe upper
    // bounds (positions share one global order, so common elements form an
    // ascending chain in both docs, and every common element follows the
    // FIRST shared prefix element):
    //   length:   t·max(|A|,|B|) ≤ min(|A|,|B|)
    //   position: overlap ≤ 1 + min(|A| - first_ra, |B| - first_rb)
    //   suffix:   overlap ≤ shared + (|A| - last_ra) + (|B| - last_rb)
    val alpha = ceil(lit(threshold / (1.0 + threshold)) * (col("sza") + col("szb")))
    val survivors = cand
      .where(least(col("sza"), col("szb")).cast("double") >=
        lit(threshold) * greatest(col("sza"), col("szb")))
      .where((lit(1) + least(col("sza") - col("fra"), col("szb") - col("frb"))) >= alpha)
      .where((col("shared") + (col("sza") - col("lra")) + (col("szb") - col("lrb"))) >= alpha)
      .select("a", "b")
    // verify with ONE array pass: shingle arrays are distinct, so
    // |A∪B| = |A| + |B| - |A∩B| (same doubles as size(array_union));
    // sides are sorted ONCE per doc so |A∩B| is a zero-allocation merge
    // walk (`PairKernel.intersectSizeSorted`) instead of a hash set per
    // candidate pair — intersect SIZE is order-free, value identical
    val full = sets.select(col("id"), array_sort(col("sh")).as("sh"), col("sz"))
    spread(survivors)
      .join(full.select(col("id").as("a"), col("sh").as("sha"), col("sz").as("vsa")), "a")
      .join(full.select(col("id").as("b"), col("sh").as("shb"), col("sz").as("vsb")), "b")
      // bind: the threshold filter gets pushed into the join condition
      // with the alias INLINED — without the let-binding the intersect
      // kernel would run twice there (numerator + union term; measured
      // plan) and once more in the survivor projection
      .withColumn("jaccard", bind(kcol(graft.expr.IntersectSizeSortedExpr(
          kexp(col("sha")), kexp(col("shb"))))) { i =>
        round(i.cast("double") /
          (col("vsa") + col("vsb") - i).cast("double"), 6) })
      .where(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /**
   * Asymmetric CONTAINMENT pairs — the quote/subset detector symmetric
   * Jaccard structurally misses: a 50-shingle snippet fully embedded in
   * a 5000-shingle page has c(A→B) = |A∩B|/|A| = 1.0 but Jaccard ≈
   * 0.01, so a threshold that catches it as near-dup would glue the
   * whole corpus together. Ordered output: (contained, container).
   *
   * Plan shape: the prefix filter specializes to the CONTAINED side
   * only (c(A→B) ≥ t needs overlap ≥ ⌈t·|A|⌉, so a's rare-first prefix
   * of size |A| − ⌈t·|A|⌉ + 1 must hit SOME shingle of B; B cannot be
   * pruned — any container is admissible, that is the point), joined
   * against the full posting lists with the df ≤ maxPosting boilerplate
   * guard; exact verify per candidate. Shuffles are shingle-keyed; no
   * doc×doc join ever forms.
   *
   * Output: (contained, container, containment 6dp, sz_contained,
   * sz_container), containment ≥ threshold.
   */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.8,
      maxPosting: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(threshold > 0 && threshold <= 1, "threshold in (0,1]")
    val sets = fanOut(docs.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"), shingles(col("__t"), shingleN).as("sh"))
      .select(col("id"), col("sh"), size(col("sh")).as("sz"))
      .where(col("sz") > 0)
      .localCheckpoint(true)
    val posts = sets.select(col("id"), col("sz"), explode(col("sh")).as("s"))
    val dfreq = posts.groupBy("s").agg(count(lit(1)).as("df"))
    val postsK = posts.join(dfreq.where(col("df") <= maxPosting), "s")
    val w = Window.partitionBy("id").orderBy(col("df"), col("s"))
    val prefix = postsK
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")).cast("int") + 1)
      .select(col("s"), col("id").as("a"))
    val cand = prefix
      .join(postsK.select(col("s"), col("id").as("b")), "s")
      .where(col("a") =!= col("b"))
      .select("a", "b").distinct()
    // sorted-merge intersect size (see jaccardPairs) — value identical,
    // no per-candidate hash set; candidates spread across the session's
    // parallelism (AQE coalesces the 920k-pair distinct to ~6 partitions
    // by byte size — 15.8 s of merge-walk task time on 6 of 32 cores)
    val full = sets.select(col("id"), array_sort(col("sh")).as("sh"), col("sz"))
    // SOUND length prune ahead of the merge walk, in ONE conjunction so
    // the cheap test short-circuits first (the q31 condition-order
    // lesson): a passing pair needs round(inter/sza, 6) ≥ t, i.e.
    // inter ≥ (t − 5e-7)·sza, and inter ≤ |B| — so szb/sza < t − 5e-7
    // can never pass (jaccardPairs' length bound, specialized to the
    // asymmetric measure).
    val containment = round(kcol(graft.expr.IntersectSizeSortedExpr(
      kexp(col("sha")), kexp(col("shb")))).cast("double")
      / col("sza").cast("double"), 6)
    spread(cand)
      .join(full.select(col("id").as("a"), col("sh").as("sha"), col("sz").as("sza")), "a")
      .join(full.select(col("id").as("b"), col("sh").as("shb"), col("sz").as("szb")), "b")
      .where(col("szb").cast("double") >=
        (lit(threshold) - lit(5e-7)) * col("sza").cast("double")
        && containment >= threshold)
      .select(col("a").as("contained"), col("b").as("container"),
        containment.as("containment"), col("sza").as("sz_contained"),
        col("szb").as("sz_container"))
  }

  // ---------- exact shared-substring dedup ----------

  /**
   * Exact shared-substring pairs: documents sharing ANY identical
   * character span of `spanLen` — the "substring dedup" family (Lee et
   * al., "Deduplicating Training Data Makes Language Models Better":
   * exact long spans catch boilerplate/citation overlap that
   * token-shingle Jaccard dilutes away). Suffix-array-free Spark shape:
   * every doc explodes its (len − spanLen + 1) sliding spans, ONE
   * shuffle buckets them, bucket id-lists yield pairs — no doc×doc join.
   *
   * `hashed = false` (gate/oracle mode) buckets on the span STRING —
   * byte-exact and SQL-reproducible. `hashed = true` (scale mode)
   * buckets on xxhash64(span): ids+8-byte keys through the shuffle
   * instead of 50-char strings (~6× narrower at spanLen 50); a 2⁻⁶⁴
   * collision can fabricate a pair, the documented trade (the spec pins
   * hashed == exact on TESTDATA). `maxBucket` is the usual skew guard —
   * a span shared by MORE docs than that is boilerplate, not near-dup
   * signal (set high when the oracle must match exactly).
   */
  def sharedSpanPairs(docs: DataFrame, idCol: String, textCol: String,
      spanLen: Int = 50, maxBucket: Int = 1000,
      hashed: Boolean = false): DataFrame = {
    require(spanLen >= 2, s"spanLen must be >= 2, got $spanLen")
    // span generation is the charGrams codegen kernel (one boundary pass
    // per doc; docs shorter than spanLen emit NOTHING — a doc that CAN'T
    // contain a spanLen-char span must not produce span keys, which the
    // kernel guarantees where the HOF needed a sequence(1,0) guard).
    // Within-doc repeats carry no pair signal; they are collapsed by
    // collect_set in the SAME shuffle that builds the buckets — one
    // span-keyed exchange instead of the old distinct + collect_list two
    // (identical id sets: pairsOf sorts, so set order is immaterial)
    val spans = fanOut(docs.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"),
        explode(kcol(graft.expr.CharGramsExpr(
          kexp(col("__t")), spanLen))).as("span"))
      .select(col("id"),
        (if (hashed) xxhash64(col("span")) else col("span")).as("key"))
    spans.groupBy("key")
      .agg(collect_set(col("id")).as("ids"))
      .where(size(col("ids")).between(2, maxBucket))
      .select(explode(pairsOf(col("ids"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
  }

  /**
   * Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003 —
   * the MOSS algorithm): hash every k-char gram of the lowercased text,
   * slide a window of w consecutive gram hashes, keep each window's
   * MINIMUM. Guarantee: any substring shared between two documents of
   * length ≥ w+k−1 contributes at least one SHARED fingerprint, while
   * only ~2/(w+1) of gram hashes are kept — the scalable refinement of
   * `sharedSpanPairs` (spans selected by content, not all positions, so
   * the corpus index shrinks ~w/2× with a detection guarantee instead of
   * a sampling heuristic).
   *
   * Shape at scale: pure per-row codegen HOFs (transform / slice /
   * array_min / array_distinct) + one explode; the output is a
   * (fp → id) index ready for the same bucket-group as sharedSpanPairs.
   * Docs shorter than w+k−1 chars emit nothing (no guarantee possible —
   * route them to `editPairs`).
   *
   * Hash families (the Dedup convention): production xxhash64 (8-byte
   * keys rendered as strings), `oracleHash = true` md5-hex string-min,
   * reproducible in any engine with md5.
   *
   * Output: (`idCol`, fp STRING), distinct within a doc.
   */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, oracleHash: Boolean = false): DataFrame = {
    require(k >= 2 && w >= 1, s"need k >= 2, w >= 1: got k=$k, w=$w")
    // whole chain (gram hash → window min → distinct) as ONE codegen
    // kernel — the HOF twin below is CodegenFallback (every gram/window
    // crosses the interpreted boundary, a fresh slice per window);
    // DedupSpec pins kernel == HOF on real data
    fanOut(docs.select(col(idCol), col(textCol).as("__t")))
      .select(col(idCol), explode(kcol(graft.expr.WinnowFpsExpr(
        kexp(lower(col("__t"))), k, w, oracleHash))).as("fp"))
  }

  /** HOF formulation of [[winnowFingerprints]] — the byte-identity spec
    * cross-check for `WinnowFpsExpr` (interpreted; never in a hot path). */
  private[graft] def winnowFingerprintsHof(docs: DataFrame, idCol: String,
      textCol: String, k: Int = 8, w: Int = 4,
      oracleHash: Boolean = false): DataFrame = {
    require(k >= 2 && w >= 1, s"need k >= 2, w >= 1: got k=$k, w=$w")
    val fps = bind(lower(col(textCol))) { t =>
      when(length(t) >= k + w - 1,
        bind(transform(sequence(lit(1), length(t) - (k - 1)),
            i => if (oracleHash) md5(substring(t, i, lit(k)))
                 else xxhash64(substring(t, i, lit(k))).cast("string"))) { hs =>
          array_distinct(transform(sequence(lit(0), size(hs) - w),
            i => array_min(slice(hs, i + 1, lit(w)))))
        })
        .otherwise(array().cast("array<string>"))
    }
    docs.select(col(idCol), explode(fps).as("fp"))
  }

  /** Candidate near-dup pairs from the winnowing index —
    * `sharedSpanPairs`' bucket-group over CONTENT-SELECTED fingerprints:
    * ids sharing any winnow fingerprint pair up (guaranteed to include
    * every pair sharing a substring of length ≥ w+k−1), with the usual
    * `maxBucket` boilerplate guard. ONE fp-keyed shuffle, ids-only
    * buckets; verification (jaccard / edit / exact-span) belongs to the
    * caller — this is the index walk. */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 20, w: Int = 8, maxBucket: Int = 1000,
      oracleHash: Boolean = false): DataFrame =
    winnowFingerprints(docs, idCol, textCol, k, w, oracleHash)
      .groupBy("fp").agg(collect_list(col(idCol)).as("ids"))
      .where(size(col("ids")).between(2, maxBucket))
      .select(explode(pairsOf(col("ids"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()

  // ---------- cluster-level dedup (connected components) ----------

  /** Distributed-loop round count of the LAST [[connectedComponents]]
    * call on this thread (0 = the driver union-find fast path answered;
    * the fused seed round is not counted; the count includes the final
    * no-change confirmation round). Instrumentation only — feeds the
    * rounds-vs-n decomposition (`cc_rounds`) of [[graft.Rehearse]]'s
    * `density` family: at constant density an O(log n) round count with
    * per-round linear cost is the designed shape, and this is the number
    * that proves it. */
  val lastCcRounds = new ThreadLocal[Int] { override def initialValue(): Int = 0 }

  /**
   * Connected components over an undirected edge list (near-dup pairs from
   * `minhashPairs` / `jaccardPairs` / `simhashPairs` / `cosinePairsLsh`)
   * via hash-min label propagation with pointer jumping — the
   * MapReduce-native formulation (Kiveris et al., "Connected Components in
   * MapReduce and Beyond", SoCC'14; same family GraphFrames/GraphX use) —
   * NOT a driver-side union-find: edges and labels stay distributed
   * end-to-end, so the pair list can be billions of rows.
   *
   * Per round: (1) every vertex adopts the min label among itself and its
   * neighbors (one shuffle on vertex id), (2) labels pointer-jump through
   * their root's label (`comp := comp(comp)`, a self-join — one more
   * shuffle), which collapses label chains so convergence needs
   * O(log diameter) rounds instead of O(diameter). Near-dup clusters have
   * tiny diameters (dup families link through shared mutations), so 3-4
   * rounds is typical. Each round's labels are localCheckpointed: an
   * iterative plan would otherwise grow exponentially and re-execute every
   * prior round per action. Convergence = a round that changes no label.
   *
   * Returns (`id`, `component`) for every vertex appearing in `pairs`;
   * `component` is the component's minimum id (deterministic canonical
   * representative).
   *
   * `localSolveEdges`: when the (pinned, deduplicated) edge list is at
   * most this many rows, a driver-side union-find answers in one collect —
   * the iterative rounds are pure job overhead at that size. Set 0 to
   * force the distributed loop.
   */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25, localSolveEdges: Long = 4_000_000L): DataFrame = {
    lastCcRounds.set(0)
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .localCheckpoint(true) // re-read every round — pin it once
    // AQE-style runtime re-plan: a near-dup pair list is usually a tiny
    // fraction of the corpus (the count is one cheap job over the pinned
    // frame). Below the cutover a driver union-find with path compression
    // answers in one pass instead of paying 5-10 shuffle jobs per
    // propagation round; above it the distributed loop below is the only
    // thing that scales. Identical results by construction (spec-pinned:
    // DedupSpec runs both paths on the same graphs).
    // byte-aware second condition (GraphOps.fitsLocal): the row-count
    // cutover alone would collect 4M long-URL-keyed edges into a driver
    // OOM; the gate charges actual key bytes against a fixed budget
    if (graft.operators.GraphOps.fitsLocal(edges, localSolveEdges).ok) {
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", pairs.schema(aCol).dataType),
        org.apache.spark.sql.types.StructField("component", pairs.schema(aCol).dataType)))
      val parent = scala.collection.mutable.HashMap.empty[Any, Any]
      def cmp(x: Any, y: Any): Int = x.asInstanceOf[Comparable[Any]].compareTo(y)
      def find(x: Any): Any = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.collect().foreach { e =>
        val (a, b) = (e.get(0), e.get(1))
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (cmp(ra, rb) <= 0) parent(rb) = ra else parent(ra) = rb }
      }
      // snapshot keys first: find() path-compresses (mutates values) and
      // must not run under a live iterator over the same map
      val out = parent.keys.toArray
        .map(k => org.apache.spark.sql.Row(k, find(k))).toSeq
      // default slicing — numSlices=1 would ship the whole vertex list in
      // one task binary and start every downstream consumer single-partition
      return pairs.sparkSession.createDataFrame(
        pairs.sparkSession.sparkContext.parallelize(out), sch)
    }
    // seed = round 1 fused: label(v) = min(v, neighbors(v)) costs the same
    // one shuffle a plain id-identity init would
    var labels = edges.select(col("src").as("id"), col("dst").as("component"))
      .union(edges.select(col("src").as("id"), col("src").as("component")))
      .groupBy("id").agg(min("component").as("component"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // (1) hash-min: min label among self + neighbors. The self rows ride
      // flagged through the same aggregation so each vertex's PREVIOUS
      // label comes out of the shuffle for free — the convergence check
      // then reads the pinned result instead of paying a join per round.
      val msgs = edges.join(labels.select(col("id").as("src"), col("component")), "src")
        .select(col("dst").as("id"), col("component"), lit(false).as("__self"))
      val prop = msgs.union(labels.withColumn("__self", lit(true)))
        .groupBy("id").agg(min("component").as("component"),
          max(when(col("__self"), col("component"))).as("__prev"))
      // (2) pointer jump: component := component(component). Every label
      // value IS a vertex id (labels start as ids and min() preserves
      // membership), so the lookup always resolves.
      val roots = prop.select(col("id").as("component"), col("component").as("__root"))
      val next = prop.join(roots, Seq("component"), "left")
        .select(col("id"), coalesce(col("__root"), col("component")).as("component"),
          col("__prev"))
        .localCheckpoint(true)
      converged = next.where(col("component") =!= col("__prev")).isEmpty
      labels = next.select("id", "component")
      iter += 1
      lastCcRounds.set(iter)
    }
    // pointer jumping converges in O(log diameter) — 25 rounds covers any
    // realistic graph; returning PARTIAL labels silently would corrupt a
    // downstream dedup (wrong keepers dropped), so exhaustion is an error
    require(converged,
      s"connectedComponents did not converge within $maxIter rounds")
    labels
  }

  /**
   * Cluster-level dedup: drop every near-duplicate except one KEEPER per
   * connected component. `keeperOrder` ranks cluster members (best first —
   * e.g. `Seq(length(col("text")).desc)` keeps the longest variant);
   * ties (and the default) fall back to min id, the deterministic
   * canonical choice. Docs in no pair are singleton components (their own
   * keeper). Returns `docs` plus `component` and `is_keeper` — filter
   * `is_keeper` for the deduped corpus, or aggregate by `component` for
   * cluster audits.
   *
   * Scale shape: CC over the pairs (pairs ≪ docs), then ONE broadcast-or-
   * shuffle join of docs against the component map and a window ranked
   * only WITHIN clusters — singletons skip the window via the null-
   * component fast path.
   */
  def dedupClusters(docs: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      keeperOrder: Seq[Column] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = connectedComponents(pairs, aCol, bCol)
      .withColumnRenamed("id", idCol)
    val joined = docs.join(comp, Seq(idCol), "left")
    // rank only real clusters: routing singletons (the vast majority of a
    // deduped corpus) into the window would put them ALL in one
    // null-component partition — a guaranteed skew straggler at scale
    val w = Window.partitionBy(col("component"))
      .orderBy((keeperOrder :+ col(idCol).asc): _*)
    val clustered = joined.where(col("component").isNotNull)
      .withColumn("__rk", row_number().over(w))
    val singles = joined.where(col("component").isNull)
      .withColumn("__rk", lit(1))
    singles.unionByName(clustered)
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .withColumn("is_keeper", (col("__rk") === 1).cast("int"))
      .drop("__rk")
  }

  // ---------- streaming ----------

  /** Streaming exact dedup for an ingest firehose: drop events whose
    * normalized-text fingerprint (fused `TextStatsExpr` kernel — identical
    * to `exactGroups`' key) was already seen inside the watermark horizon.
    * `dropDuplicatesWithinWatermark` keeps per-fingerprint state ONLY
    * until the watermark passes it — bounded state, unlike a global
    * `dropDuplicates` which grows forever on an unbounded stream. The
    * batch twin is `exactGroups`; within one horizon the survivors agree
    * (first arrival wins). */
  def dedupStream(events: DataFrame, textCol: String, tsCol: String,
      watermark: String): DataFrame =
    events.withColumn("__fp", textStats(col(textCol)).getField("fp"))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming NEAR-dup for an ingest firehose: drop a document when any
    * of its `bands` minhash band keys was seen inside the watermark
    * horizon — the single-pass streaming form of `minhashPairs`' candidate
    * generation (the batch twin; q29/q45 gate its banding).
    *
    * Shape: one signature kernel per row, then `bands` CHAINED
    * `dropDuplicatesWithinWatermark` stages, one per band key. Stage j's
    * state holds only the band-j keys of documents that survived stages
    * 0..j-1, so total state = bands small keys × horizon — bounded, like
    * `dedupStream`, and an order of magnitude smaller than any design
    * that keeps shingle sets. The survivors form a band-collision
    * independent set: no two survivors share ANY band key within the
    * horizon.
    *
    * Contract: this is CANDIDATE-level dedup (LSH recall/precision at the
    * chosen (k, bands)), not exact-Jaccard-verified — verification would
    * require holding every survivor's shingle set in state. Batch-verify
    * the survivors with `minhashPairs` when the threshold is a hard
    * guarantee. A duplicate arriving more than `watermark` after its twin
    * re-emits (state evicted) — the same bounded-horizon contract as
    * `dedupStream`; StreamingSpec pins both sides.
    *
    * `oracleHash = true` switches to the md5 signature family
    * (DuckDB-reproducible, the q88 gate); production default is the
    * xxhash64 codegen kernel. */
  def dedupStreamNear(events: DataFrame, textCol: String, tsCol: String,
      watermark: String, shingleN: Int = 3, k: Int = 12, bands: Int = 4,
      oracleHash: Boolean = false): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    // projection boundaries as in minhashPairs: sh and sig are multi-use
    // non-cheap attributes, each must evaluate once per row
    val withSh = events.withColumn("__sh", shingles(col(textCol), shingleN))
    val withSig = withSh.withColumn("__sig",
      if (oracleHash) minhashFromShingles(col("__sh"), k)
      else minhashFromShinglesFast(col("__sh"), k))
    val bandCols = (0 until bands).map(j => s"__bh$j")
    val withBands = bandCols.zipWithIndex.foldLeft(
      withSig.withColumn("__bands", bandHashes(col("__sig"), k, bands))) {
      case (df, (c, j)) => df.withColumn(c, element_at(col("__bands"), j + 1))
    }
    val deduped = bandCols.foldLeft(withBands.withWatermark(tsCol, watermark)) {
      (df, c) => df.dropDuplicatesWithinWatermark(c)
    }
    deduped.drop(Seq("__sh", "__sig", "__bands") ++ bandCols: _*)
  }

  /** Streaming near-dup for a 64-BIT HASH firehose (image dHash from
    * `Multimodal.imagePHash`, simhash halves, …): drop an event when any
    * of its [[hammingPairsBlocked]] table keys was seen inside the
    * watermark horizon — within one horizon no two survivors sit at
    * hamming ≤ `maxHamming` (pigeonhole over blocks, recall exactly 1).
    * Block keys, NOT the 16-bit bands, on purpose: streaming state keys
    * recur across the whole horizon, so a 16-bit key space saturates at
    * production rates (every segment value soon "seen" → unrelated
    * images dropped); ~32-bit combo keys keep the false-collision rate
    * ~rate²·horizon/2³² . Shape mirrors [[dedupStreamNear]]: C(b, b−h)
    * chained `dropDuplicatesWithinWatermark` stages (20 at the default
    * h=3, b=6), state = 20 longs × horizon, bounded. Same contracts:
    * candidate-level precision (batch-verify survivors with
    * `hammingPairsBlocked` when the threshold is hard), and a twin
    * arriving past the horizon re-emits. Batch twin of the drop set:
    * [[hashBlockCollisionPairs]]. */
  def dedupStreamHashes(events: DataFrame, hiCol: String, loCol: String,
      tsCol: String, watermark: String,
      maxHamming: Int = 3, blocks: Int = 6): DataFrame = {
    val keys = blockKeyExprs(col(hiCol).cast("long"), col(loCol).cast("long"),
      maxHamming, blocks)
    val keyCols = keys.indices.map(j => s"__hk$j")
    val withKeys = keys.zip(keyCols).foldLeft(events) {
      case (df, (k, c)) => df.withColumn(c, k)
    }
    val deduped = keyCols.foldLeft(withKeys.withWatermark(tsCol, watermark)) {
      (df, c) => df.dropDuplicatesWithinWatermark(c)
    }
    deduped.drop(keyCols: _*)
  }

  /** Block-key collision candidate pairs (a < b) WITHOUT the hamming
    * verify — exactly the pair set whose later member
    * [[dedupStreamHashes]] drops (the `bandCollisionPairs` discipline:
    * derive the batch keeper set the streaming gate must reproduce). */
  def hashBlockCollisionPairs(hashes: DataFrame, idCol: String,
      hiCol: String, loCol: String, maxHamming: Int = 3, blocks: Int = 6,
      maxBucket: Int = 100000): DataFrame = {
    val sides = hashes.select(col(idCol).as("id"),
      col(hiCol).cast("long").as("hi"), col(loCol).cast("long").as("lo"))
    sides.select(col("id"),
        explode(array(blockKeyExprs(col("hi"), col("lo"), maxHamming, blocks): _*))
          .as("k"))
      .groupBy("k")
      .agg(collect_list(col("id")).as("ids"))
      .where(size(col("ids")).between(2, maxBucket))
      .select(explode(pairsOf(col("ids"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
  }

  /**
   * Incremental-ingest dedup: keep only the NEW documents that are
   * neither exact duplicates nor minhash-band near-dup candidates of a
   * HISTORICAL corpus — the daily-increment-versus-warehouse operation.
   * New×new pairing never forms (dedup an increment internally with
   * `exactGroups`/`minhashPairs` first if needed); the history side
   * collapses to its DISTINCT fingerprint and band-key sets — at
   * warehouse scale those are the (much smaller, persistable) "index"
   * the increment anti-joins, two shuffles total, both keyed on short
   * hashes. Near-dup filtering is candidate-level like
   * [[dedupStreamNear]] (band collision at the chosen (k, bands), not
   * verified Jaccard — batch-verify survivors when the threshold is
   * hard). `oracleHash` picks the md5 signature family (gate) over the
   * xxhash64 kernel (production), as in `minhashPairs`.
   */
  def dedupAgainstHistory(history: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 12, bands: Int = 4,
      oracleHash: Boolean = false): DataFrame = {
    def withFp(df: DataFrame) =
      df.withColumn("__fp", textStats(col(textCol)).getField("fp"))
    def bandKeys(df: DataFrame): DataFrame = {
      val sig = df
        .withColumn("__sh", shingles(col(textCol), shingleN))
        .withColumn("__sig",
          if (oracleHash) minhashFromShingles(col("__sh"), k)
          else minhashFromShinglesFast(col("__sh"), k))
      sig.select(col(idCol),
        posexplode(bandHashes(col("__sig"), k, bands)).as(Seq("band", "bh")))
    }
    val histFp = withFp(history).select("__fp").distinct()
    val exactClean = withFp(newDocs).join(histFp, Seq("__fp"), "left_anti")
    val histBands = bandKeys(history).select("band", "bh").distinct()
    val colliding = bandKeys(exactClean)
      .join(histBands, Seq("band", "bh"), "left_semi")
      .select(col(idCol)).distinct()
    exactClean.join(colliding, Seq(idCol), "left_anti").drop("__fp")
  }

  /** Band-collision candidate pairs (a < b) — `minhashPairs` WITHOUT the
    * exact-Jaccard verify: exactly the pair set whose later member
    * `dedupStreamNear` drops. Used to derive the batch keeper set the
    * streaming gate must reproduce. `oracleHash` defaults MATCH
    * `dedupStreamNear` (both false → xxhash64 production family), so the
    * documented batch-keeper/stream-survivor pairing holds under default
    * arguments; pass the same value to both when overriding. */
  def bandCollisionPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 12, bands: Int = 4,
      maxBucket: Int = 1000, oracleHash: Boolean = false): DataFrame = {
    val withSh = fanOut(docs.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"), shingles(col("__t"), shingleN).as("sh"))
    val withSig = withSh.select(col("id"),
      (if (oracleHash) minhashFromShingles(col("sh"), k)
       else minhashFromShinglesFast(col("sh"), k)).as("sig"))
    val exploded = withSig
      .select(col("id"), bandHashes(col("sig"), k, bands).as("bands"))
      .select(col("id"), posexplode(col("bands")).as(Seq("band", "bh")))
    exploded.groupBy("band", "bh")
      .agg(collect_list(col("id")).as("ids"))
      .where(size(col("ids")).between(2, maxBucket))
      .select(explode(pairsOf(col("ids"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
  }

  // ---------- SimHash ----------

  /**
   * 64-bit SimHash over whitespace tokens as a '0'/'1' bit-string
   * (stringly-typed to dodge BIGINT sign pitfalls across engines).
   * Bit b of token t comes from hex digit b/4 of md5(t): bit = (digit >> (b%4)) & 1.
   * The per-bit majority over tokens sets the output bit. Deterministic and
   * reproducible in DuckDB with the same strpos('0123..f') digit decode.
   */
  /** SimHash from a PRE-COMPUTED distinct-token column (projection-
    * boundary rule as minhashFromShingles: the 64 bit tallies each
    * reference the token array; pass an attribute, not the expression). */
  def simhashFromTokens(toks: Column): Column =
    kcol(graft.expr.SimHash64Expr(kexp(toks)))

  /** HOF formulation of simhashFromTokens — byte-identical output,
    * interpreted evaluation; kept as the spec cross-check for the kernel. */
  private[graft] def simhashFromTokensHof(toks: Column): Column =
    // md5 of every token computed ONCE (bound array), then the 64 bit
    // tallies only slice hex digits out of the cached hashes
    bind(transform(toks, t => md5(t))) { hs =>
      val bits = (0 until 64).map { b =>
        val tally = aggregate(hs, lit(0),
          (acc, h) => acc + ((shiftright(hexDigitVal(substring(h, 1 + b / 4, 1)), b % 4) % 2) * 2 - 1))
        when(tally >= 0, "1").otherwise("0")
      }
      concat(bits: _*)
    }

  /** Distinct normalized tokens for simhash (expose so callers can project
    * it once as a column before simhashFromTokens) — codegen kernel; the
    * HOF chain is kept below as its spec cross-check. */
  def simhashTokens(textCol: Column): Column =
    kcol(graft.expr.DistinctTokensExpr(kexp(textCol)))

  private[graft] def simhashTokensHof(textCol: Column): Column =
    array_distinct(whitespaceTokens(normalizeText(textCol)))

  /** Convenience one-column form — 64 token-array evaluations per row;
    * use simhashTokens + simhashFromTokens behind a projection in bulk. */
  def simhash64(textCol: Column): Column = simhashFromTokens(simhashTokens(textCol))

  /** hex char → 0..15 (conv is hex-aware; DuckDB oracles use
    * strpos('0123456789abcdef', d)-1 — same values). */
  private def hexDigitVal(digit: Column): Column =
    conv(digit, 16, 10).cast("int")

  /** Hamming distance between two equal-length bit-strings — codegen
    * kernel (`HammingExpr`), byte-identical to the HOF twin below (which
    * stays as the spec cross-check and documents the DuckDB-oracle
    * formulation: length(a) - length(replace(...)) style char compare). */
  def hammingDistance(a: Column, b: Column): Column =
    kcol(graft.expr.HammingExpr(kexp(a), kexp(b)))

  /** Interpreted HOF formulation of hammingDistance — byte-identical on
    * ASCII bit-strings; kept as the spec cross-check for the kernel. */
  private[graft] def hammingDistanceHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(split(a, ""), split(b, ""), (x, y) => when(x =!= y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)

  /**
   * SimHash near-dup pairs: band the 64 bits into `bands` segments — two
   * docs within hamming distance d share at least one identical segment
   * when bands > d (pigeonhole). Shuffle key = (band idx, segment bits).
   */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int = 8,
      maxHamming: Int = 6,
      maxBucket: Int = 1000): DataFrame = {
    val width = 64 / bands
    val withSig = fanOut(docs.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"), simhashTokens(col("__t")).as("toks"))
      .select(col("id"), simhashFromTokens(col("toks")).as("sig"))
    val exploded = withSig.select(col("id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        j => substring_index_seg(col("sig"), j, width))).as(Seq("band", "seg")))
    val buckets = exploded.groupBy("band", "seg")
      .agg(collect_list(struct(col("id"), col("sig"))).as("xs"))
      .where(size(col("xs")).between(2, maxBucket))
    buckets
      .select(explode(pairsOfStruct(col("xs"))).as("p"))
      .select(col("p.a.id").as("a"), col("p.a.sig").as("siga"),
        col("p.b.id").as("b"), col("p.b.sig").as("sigb"))
      .distinct()
      .withColumn("hamming", hammingDistance(col("siga"), col("sigb")))
      .where(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
  }

  /**
   * Corpus-scale SimHash near-dup pairs: same signature kernel as
   * [[simhashPairs]], but candidate generation goes through the
   * Manku-style multi-table block keys of [[hammingPairsBlocked]]
   * instead of 8-bit bands. The 8-bit band space (256 keys/band) fills
   * up by ~10⁴ documents and candidate mass goes O(n²/2⁸); the C(6,3)
   * ~32-bit tables keep buckets sparse to n~10⁹ with recall still
   * EXACTLY 1 at hamming ≤ maxHamming (pigeonhole over blocks — the
   * measured divergence is in BASELINE.md's phash rehearsal, same
   * candidate machinery). Output: (a, b, hamming), a < b.
   */
  def simhashPairsBlocked(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      blocks: Int = 6,
      maxBucket: Int = 100000): DataFrame = {
    val withSig = fanOut(docs.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"), simhashTokens(col("__t")).as("toks"))
      .select(col("id"), simhashFromTokens(col("toks")).as("sig"))
    // '0'/'1' bit-string halves → unsigned 32-bit longs; hamming over
    // (hi, lo) equals hamming over the string (bit order is a bijection)
    val asBits = withSig.select(col("id"),
      conv(substring(col("sig"), 1, 32), 2, 10).cast("long").as("hi"),
      conv(substring(col("sig"), 33, 32), 2, 10).cast("long").as("lo"))
    hammingPairsBlocked(asBits, "id", "hi", "lo", maxHamming, blocks, maxBucket)
  }

  private def substring_index_seg(sig: Column, j: Column, width: Int): Column =
    substring(sig, lit(1) + j * width, lit(width))

  private def pairsOfStruct(xs: Column): Column =
    kcol(graft.expr.SortedPairsExpr(kexp(xs)))

  private[graft] def pairsOfStructHof(xs: Column): Column =
    bind(array_sort(xs)) { sorted =>
      flatten(transform(sorted, (x, i) =>
        transform(slice(sorted, i + lit(2), size(sorted)), y => struct(x.as("a"), y.as("b")))))
    }

  // ---------- embedding near-dup ----------

  /**
   * Embedding-cosine near-duplicates via sign-LSH bucketing: project each
   * vector on `planes` pseudo-random hyperplanes (deterministic ±1 weights
   * from xxhash64(plane,dim)), bucket on the sign bit-string, verify exact
   * cosine within buckets. Recall < 1 by construction — the scale path.
   * For the exact (oracle) variant use `cosinePairsExact` on a bounded id
   * range.
   */
  /** HOF/literal formulation of the sign-LSH signature — planes×dim
    * Catalyst nodes; kept ONLY as the byte-identity spec cross-check for
    * `SignLshExpr` (use small planes in specs). */
  private[graft] def signBitsHof(v: Column, planes: Int, dim: Int): Column = {
    val bits = (0 until planes).map { p =>
      val dot = (0 until dim).map { d =>
        val w = when(xxhash64(lit(p), lit(d)) % 2 === 0, 1.0).otherwise(-1.0)
        element_at(v, d + 1).cast("double") * w
      }.reduce(_ + _)
      when(dot >= 0, "1").otherwise("0")
    }
    concat(bits: _*)
  }

  def cosinePairsLsh(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      planes: Int = 12,
      bandsCount: Int = 3,
      maxBucket: Int = 2000): DataFrame = {
    // sign bits via the codegen kernel (graft.expr.SignLshExpr) — one call
    // instead of a planes×dim literal tree (18k nodes at dim=1536)
    val withSig = fanOut(embs.select(col(idCol).as("id"), col(vecCol).as("v")))
      .withColumn("sig", kcol(graft.expr.SignLshExpr(kexp(col("v")), planes)))
    val width = planes / bandsCount
    // candidate generation carries ONLY ids through the bucket explosion —
    // at dim=1536 a vector is ~6 KB and candidates are O(bucket²); vectors
    // join back AFTER the distinct, once per surviving pair side
    val exploded = withSig.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bandsCount - 1)),
        j => substring(col("sig"), lit(1) + j * width, lit(width)))).as(Seq("band", "seg")))
    val buckets = exploded.groupBy("band", "seg")
      .agg(collect_list(col("id")).as("ids"))
      .where(size(col("ids")).between(2, maxBucket))
    // spread: at narrow band widths the bucket relation is a handful of
    // FAT rows (16 bands × 2^2 segments = 64 rows at the q44 settings)
    // that AQE packs onto one task — 3.1 s of pair explosion on one core
    val pairs = spread(buckets).select(explode(pairsOf(col("ids"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
    // exact verify with norms hoisted to the per-row side (cosinePairsExact
    // formulation — identical doubles to dot/(||a||·||b||))
    val sides = withSig.select(col("id"), col("v"), l2Norm(col("v")).as("n"))
    spread(pairs)
      .join(sides.select(col("id").as("a"), col("v").as("va"), col("n").as("na")), "a")
      .join(sides.select(col("id").as("b"), col("v").as("vb"), col("n").as("nb")), "b")
      .withColumn("cosine",
        round(dotProduct(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .where(col("cosine") >= threshold)
      .select("a", "b", "cosine")
  }

  /** Exact cosine threshold self-join — O(N²) verify/oracle path; callers
    * bound the id range. Broadcast the smaller (filtered) side. */
  def cosinePairsExact(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    // norms hoisted to the per-row side of the join: the O(N²) pair loop
    // evaluates ONE dot product instead of dot + two norms (3× less work,
    // same doubles as dot/(||a||·||b||) computed pairwise)
    val base = fanOut(embs.select(col(idCol).as("__id"), col(vecCol).as("__v")))
    val l = base.select(col("__id").as("a"), col("__v").as("va"),
      l2Norm(col("__v")).as("na"))
    val r = base.select(col("__id").as("b"), col("__v").as("vb"),
      l2Norm(col("__v")).as("nb"))
    // the threshold rides IN the join condition, AFTER the id test: a
    // trailing .where(cosine >= t) gets pushed into the BNLJ condition
    // AHEAD of `a < b` (measured plan), making the dot kernel run on all
    // n² ordered pairs instead of the n²/2 that pass the cheap id test —
    // And short-circuits left-to-right in codegen, so this order halves
    // the kernel work; values and surviving pairs are identical
    val cosine = round(dotProduct(col("va"), col("vb"))
      / (col("na") * col("nb")), 6)
    l.join(r, col("a") < col("b") && cosine >= threshold)
      .select(col("a"), col("b"), cosine.as("cosine"))
  }

  // ---------- semantic dedup (SemDeDup, cluster-bounded) ----------

  /**
   * SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
   * arXiv:2303.09540): assign every vector to its nearest centroid —
   * the pure-codegen argmin chain `VectorSearch.ivfCell`, no UDF in the
   * scan — then verify cosine similarity ONLY between vectors sharing a
   * cluster. This is the third embedding-dedup shape next to
   * `cosinePairsExact` (O(N²), the oracle) and `cosinePairsLsh`
   * (sign-LSH bands): the cluster is the candidate bucket, so pair work
   * is Σ|cell|² instead of N² — with k ∝ √N cells the candidate mass
   * stays ~N^1.5 at any corpus size, and the one shuffle is keyed on the
   * cluster id. The recall contract differs from LSH: a pair is found
   * iff both sides land in the SAME cell, the paper's deliberate trade
   * (cross-cluster near-dups are rare because the clustering and the
   * similarity use the same geometry).
   *
   * `maxCluster` is the usual skew valve: a cell larger than it is
   * excluded from pairing (a degenerate centroid fit, not dup signal) —
   * same contract as `maxBucket` in the banded families.
   *
   * Output: (cluster, a, b, cosine), a < b, cosine rounded to 6dp.
   */
  def semanticPairs(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      model: graft.vector.VectorSearch.IvfModel,
      threshold: Double,
      maxCluster: Int = 1000000): DataFrame = {
    val assigned = embs.where(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        graft.vector.VectorSearch.ivfCell(model, col(vecCol)).as("cluster"))
    cosinePairsWithin(assigned, "cluster", "id", "v", threshold, maxCluster)
  }

  /**
   * The cluster-bounded cosine verify-join [[semanticPairs]] runs after
   * assignment, exposed on its own so any upstream clustering (IVF cell,
   * label, LSH bucket, k-means) feeds the same core: all-pairs cosine
   * WITHIN each cluster key, never across. Cost is Σ c² over cluster
   * sizes c — constant cluster density ⇒ linear in rows (the
   * regime `graft.Rehearse density` measures); `maxCluster` is the loud-contract
   * guard against a degenerate assignment. Assignment itself is the
   * caller's stated cost (O(n·k·d) for a k-centroid argmin).
   * Output: (cluster, a, b, cosine ≥ threshold), a < b.
   */
  def cosinePairsWithin(
      assigned: DataFrame,
      clusterCol: String,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxCluster: Int = 1000000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // fresh internal names: the input may already carry a column named
    // like the output (e.g. "cluster"), which would make the window's
    // partition key ambiguous across the self-join lineage
    val base = fanOut(assigned)
      .select(col(clusterCol).as("__cl"), col(idCol).as("__pid"),
        col(vecCol).as("__pv"), l2Norm(col(vecCol)).as("__pn"))
      // the count window shuffles on cluster — the SAME key the pair
      // join needs, so the exchange is reused, not added
      .withColumn("__cn", count(lit(1)).over(Window.partitionBy(col("__cl"))))
      .where(col("__cn") <= maxCluster)
    val l = base.select(col("__cl"), col("__pid").as("a"),
      col("__pv").as("va"), col("__pn").as("na"))
    val r = base.select(col("__cl"), col("__pid").as("b"),
      col("__pv").as("vb"), col("__pn").as("nb"))
    l.join(r, Seq("__cl")).where(col("a") < col("b"))
      .withColumn("cosine",
        round(dotProduct(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .where(col("cosine") >= threshold)
      .select(col("__cl").as("cluster"), col("a"), col("b"), col("cosine"))
  }

  /**
   * Deterministic centroid set for gate/bootstrap use: the embedding of
   * the MIN-id row per label, clusters ordered by label. No averaging
   * happens, so an external oracle reproduces every assignment from the
   * parquet bytes alone (float-sum order can never flip an argmin) —
   * production callers train real centroids with `VectorSearch.ivfTrain`
   * instead. The collect is bounded by label cardinality (one row per
   * label).
   */
  def medoidCentroids(embs: DataFrame, idCol: String, vecCol: String,
      labelCol: String): graft.vector.VectorSearch.IvfModel = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(labelCol)).orderBy(col(idCol).asc)
    val rows = embs.where(col(vecCol).isNotNull && col(labelCol).isNotNull)
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .select(col(labelCol).cast("long").as("l"), col(vecCol).as("v"))
      .collect()
    val cents = rows.sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    graft.vector.VectorSearch.IvfModel(cents, "l2")
  }

  // ---------- 64-bit perceptual-hash near-dup ----------

  /**
   * Near-duplicate pairs over a 64-bit hash column split in unsigned
   * 32-bit halves (`Multimodal.imagePHash` output shape): band the hash
   * into four 16-bit segments, bucket-join on (band, segment), verify
   * exact hamming distance inside buckets. By pigeonhole two hashes at
   * hamming ≤ 3 agree on at least one of the 4 bands, so for
   * `maxHamming ≤ 3` the banded plan returns EXACTLY the brute-force
   * pair set — recall 1 with no id×id join (the shuffle is keyed on
   * (band, segment); bucket size tracks hash-collision clusters, not
   * corpus size). Output: (a, b, hamming), a < b.
   */
  def hammingPairs64(
      hashes: DataFrame,
      idCol: String,
      hiCol: String,
      loCol: String,
      maxHamming: Int = 2,
      maxBucket: Int = 100000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"hammingPairs64: 4×16-bit banding is exact only for maxHamming ≤ 3 (got $maxHamming)")
    val sides = hashes.select(col(idCol).as("id"),
      col(hiCol).cast("long").as("hi"), col(loCol).cast("long").as("lo"))
    val mask = lit(0xFFFFL)
    val exploded = sides.select(col("id"),
      posexplode(array(
        col("lo").bitwiseAND(mask),
        shiftrightunsigned(col("lo"), 16).bitwiseAND(mask),
        col("hi").bitwiseAND(mask),
        shiftrightunsigned(col("hi"), 16).bitwiseAND(mask))).as(Seq("band", "seg")))
    // candidates carry ONLY ids through the bucket explosion (the
    // cosinePairsLsh discipline); hashes join back once per surviving
    // pair side after the distinct
    val buckets = exploded.groupBy("band", "seg")
      .agg(collect_list(col("id")).as("ids"))
      .where(size(col("ids")).between(2, maxBucket))
    val pairs = buckets.select(explode(pairsOf(col("ids"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
    pairs
      .join(sides.select(col("id").as("a"), col("hi").as("ha"), col("lo").as("la")), "a")
      .join(sides.select(col("id").as("b"), col("hi").as("hb"), col("lo").as("lb")), "b")
      .withColumn("hamming",
        (bit_count(col("ha").bitwiseXOR(col("hb"))) +
          bit_count(col("la").bitwiseXOR(col("lb")))).cast("int"))
      .where(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
  }

  /**
   * Corpus-scale variant of [[hammingPairs64]]: multi-table BLOCK keys in
   * the style of Manku/Jain/Sarma's web-crawl simhash dedup (WWW'07).
   * The 16-bit bands above are exact but saturate by the birthday
   * problem — at 5M random hashes each of the 4×65k band buckets holds
   * ~76 ids and candidate mass grows O(n²/2¹⁶) — measured, not argued
   * (BASELINE.md round-9 phash rehearsal). Here the 64 bits split into
   * `blocks` roughly-equal blocks and each of the C(blocks, blocks−h)
   * tables keys on a COMBINATION of blocks−h blocks: ≤ h errors corrupt
   * ≤ h blocks, so some blocks−h blocks are clean and that table's key
   * matches — recall stays exactly 1, while keys widen from 16 to
   * ~64·(blocks−h)/blocks bits (b=6, h=3 → ~32-bit keys), pushing the
   * birthday regime from n~10⁴·⁵ to n~10⁹·⁵. Table count is the
   * C(6,3)=20-ish constant fan-out you pay for staying exact; candidate
   * verification is unchanged. Output: (a, b, hamming), a < b.
   */
  /** The C(blocks, blocks−h) table keys of [[hammingPairsBlocked]] as
    * column expressions — one 64-bit long per table (tag in the top
    * bits, clean-block values concatenated below). Shared by the batch
    * pair join, the candidate twin, and the streaming chain so all
    * three bucket on IDENTICAL keys. */
  private[pipeline] def blockKeyExprs(hi: Column, lo: Column,
      maxHamming: Int, blocks: Int): Seq[Column] = {
    require(maxHamming >= 1 && blocks > maxHamming && blocks <= 16,
      s"block keys need 1 ≤ maxHamming < blocks ≤ 16 (got h=$maxHamming b=$blocks)")
    // block i spans bits [i·64/b, (i+1)·64/b) of (hi << 32 | lo)
    val bounds = (0 to blocks).map(i => i * 64 / blocks)
    def blockExpr(i: Int): Column = {
      val (loBit, hiBit) = (bounds(i), bounds(i + 1))
      val width = hiBit - loBit
      val mask = lit((1L << width) - 1)
      val src =
        if (hiBit <= 32) shiftrightunsigned(lo, loBit)
        else if (loBit >= 32) shiftrightunsigned(hi, loBit - 32)
        else // straddles the half boundary: stitch the two shifts
          shiftrightunsigned(lo, loBit)
            .bitwiseOR(shiftleft(hi, 32 - loBit))
      src.bitwiseAND(mask)
    }
    val combos = (0 until blocks).combinations(blocks - maxHamming).toSeq
    // key = combo id ++ concatenated clean-block values, one 64-bit long
    // (max combo width = 64·(b−h)/b < 58 bits for b ≥ 6 leaves room for
    // the table tag in the top bits)
    combos.zipWithIndex.map { case (combo, t) =>
      val kw = combo.map(i => bounds(i + 1) - bounds(i)).sum
      require(kw + 5 <= 63, s"key overflow: combo width $kw")
      combo.foldLeft(lit(t.toLong): Column)((acc, i) =>
        shiftleft(acc, bounds(i + 1) - bounds(i)).bitwiseOR(blockExpr(i)))
    }
  }

  def hammingPairsBlocked(
      hashes: DataFrame,
      idCol: String,
      hiCol: String,
      loCol: String,
      maxHamming: Int = 3,
      blocks: Int = 6,
      maxBucket: Int = 100000): DataFrame = {
    val sides = hashes.select(col(idCol).as("id"),
      col(hiCol).cast("long").as("hi"), col(loCol).cast("long").as("lo"))
    if (maxHamming == 0) {
      // exact duplicates degenerate to one table keyed on the full hash
      // (a tag+combo key would need 64 bits + tag; the group-by is also
      // simply the better plan here)
      val buckets = sides.groupBy("hi", "lo")
        .agg(collect_list(col("id")).as("ids"))
        .where(size(col("ids")).between(2, maxBucket))
      return buckets.select(explode(pairsOf(col("ids"))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"),
          lit(0).cast("int").as("hamming"))
    }
    val exploded = sides.select(col("id"),
      explode(array(blockKeyExprs(col("hi"), col("lo"), maxHamming, blocks): _*))
        .as("k"))
    val buckets = exploded.groupBy("k")
      .agg(collect_list(col("id")).as("ids"))
      .where(size(col("ids")).between(2, maxBucket))
    val pairs = buckets.select(explode(pairsOf(col("ids"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
    pairs
      .join(sides.select(col("id").as("a"), col("hi").as("ha"), col("lo").as("la")), "a")
      .join(sides.select(col("id").as("b"), col("hi").as("hb"), col("lo").as("lb")), "b")
      .withColumn("hamming",
        (bit_count(col("ha").bitwiseXOR(col("hb"))) +
          bit_count(col("la").bitwiseXOR(col("lb")))).cast("int"))
      .where(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
  }

  // ---------- edit-distance near-dup (short strings) ----------

  /**
   * Edit-distance near-dup pairs for SHORT strings (titles, names,
   * URLs, product ids): SymSpell-style deletion neighborhoods — every
   * string buckets under each of its ≤`maxDist`-deletion variants, and
   * two strings within Levenshtein `maxDist` always share a variant
   * (substitution: delete the differing position from both; insertion:
   * the shorter string IS a variant of the longer — the standard
   * SymSpell completeness argument, applied symmetrically), so recall
   * is exactly 1; candidates verify with the codegen `levenshtein`
   * built-in in-bucket. Variant count is O(len^maxDist) per row —
   * that's the SHORT-string contract (for documents use the
   * minhash/simhash families). Ids-only buckets, skew-capped, one
   * shuffle keyed on the variant string. Output: (a, b, dist), a < b.
   */
  def editPairs(
      strings: DataFrame,
      idCol: String,
      strCol: String,
      maxDist: Int = 1,
      maxBucket: Int = 10000): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      s"editPairs: deletion neighborhoods sized for maxDist ∈ {1, 2} (got $maxDist)")
    val sides = strings.select(col(idCol).as("id"), col(strCol).as("s"))
    def delOnce(sc: Column): Column =
      transform(sequence(lit(0), length(sc) - 1),
        i => concat(sc.substr(lit(1), i), sc.substr(i + lit(2), length(sc))))
    val v1 = array_union(array(col("s")), delOnce(col("s")))
    val variants =
      if (maxDist == 1) v1
      else array_distinct(flatten(transform(v1, s =>
        array_union(array(s), transform(sequence(lit(0), length(s) - 1),
          i => concat(s.substr(lit(1), i), s.substr(i + lit(2), length(s))))))))
    val exploded = sides.select(col("id"), explode(variants).as("v"))
    val buckets = exploded.groupBy("v")
      .agg(collect_list(col("id")).as("ids"))
      .where(size(col("ids")).between(2, maxBucket))
    val pairs = buckets.select(explode(pairsOf(col("ids"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
    pairs
      .join(sides.select(col("id").as("a"), col("s").as("sa")), "a")
      .join(sides.select(col("id").as("b"), col("s").as("sb")), "b")
      .withColumn("dist", levenshtein(col("sa"), col("sb")))
      .where(col("dist") <= maxDist)
      .select("a", "b", "dist")
  }

  /**
   * Query-by-image top-K: rank a hash corpus by hamming distance to one
   * 64-bit query hash (unsigned 32-bit halves), ties broken by id so the
   * result is deterministic. Deliberately a straight scan — two XOR +
   * popcounts per row inside codegen feeding `TakeOrderedAndProject`:
   * at 10⁹ rows that is the PLAN OF CHOICE, not a compromise (a
   * blocked-key probe can only bound distances ≤ h, not fill an
   * arbitrary top-K; the scan needs no index maintenance and no second
   * pass). Output: (id, hamming) ascending.
   */
  def hammingTopK(
      hashes: DataFrame,
      idCol: String,
      hiCol: String,
      loCol: String,
      queryHi: Long,
      queryLo: Long,
      topK: Int = 10): DataFrame = {
    hashes.select(col(idCol).as("id"),
        (bit_count(col(hiCol).cast("long").bitwiseXOR(lit(queryHi))) +
          bit_count(col(loCol).cast("long").bitwiseXOR(lit(queryLo))))
          .cast("int").as("hamming"))
      .orderBy(col("hamming").asc, col("id").asc)
      .limit(topK)
  }
}
