package graft.query

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.Graft
import graft.expr.Cond

/** One join clause (reference: lib/src/model/join_clause.dart:2-11 — inner,
  * left, right only; chained joins apply left-deep,
  * query_executor.dart:585-601). Any comparison operator is allowed
  * (theta joins fall back to Spark's BNLJ, query_executor.dart:1706-1731). */
final case class JoinSpec(
    table: String,
    leftKey: String,
    op: String,
    rightKey: String,
    joinType: String,
    alias: Option[String] = None) {
  /** Name this occurrence is known by in qualified refs and output naming. */
  def name: String = alias.getOrElse(table)
}

/** Select list item: "field", "field as alias" (AS case-insensitive,
  * alias validated [A-Za-z0-9_]+), "table.field"
  * (reference query_builder.dart:93-108, 825-848). */
final case class SelectItem(field: String, alias: Option[String]) {
  def outputName: String = alias.getOrElse(if (field.contains('.')) field.split('.').last else field)
}
object SelectItem {
  private val AliasRe = "^(.+?)\\s+[aA][sS]\\s+([A-Za-z0-9_]+)$".r
  def parse(s: String): SelectItem = s.trim match {
    case AliasRe(f, a) => SelectItem(f.trim, Some(a))
    case f             => SelectItem(f, None)
  }
}

/**
 * Fluent query builder — the engine's query language, mirroring the
 * reference's chain API (/root/reference/lib/src/Interface/chain_builder.dart:23-288,
 * lib/src/chain/query_builder.dart). There is no SQL parser in the
 * reference; the chain IS the language.
 *
 * The builder is immutable and compiles to a single declarative
 * `DataFrame` plan — filters, joins, aggregates and sorts all become
 * Catalyst nodes, so predicate pushdown, column pruning, join strategy
 * selection and partial aggregation are inherited from Spark rather than
 * re-implemented (SURVEY.md §4: no custom optimizer rules are needed).
 */
final case class QueryBuilder(
    engine: Graft,
    table: String,
    cond: Cond = Cond.True,
    selects: Seq[SelectItem] = Nil,
    aggs: Seq[Agg] = Nil,
    groups: Seq[String] = Nil,
    havingCond: Option[Cond] = None,
    joins: Seq[JoinSpec] = Nil,
    orders: Seq[(String, Boolean)] = Nil, // (field, ascending)
    limitOpt: Option[Int] = None,
    offsetOpt: Option[Int] = None,
    distinctOn: Option[Seq[String]] = None,
    useDefaultLimit: Boolean = true,
    cacheEnabled: Boolean = false,
    cacheTtlMs: Option[Long] = None) {

  // ---------- condition chain (SURVEY.md §2.3) ----------

  def where(field: String, op: String, value: Any): QueryBuilder =
    copy(cond = cond && Cond.Leaf(field, op, value))
  /** OR the leaf onto the accumulated condition (reference orWhere). As the
    * FIRST predicate it acts like where — `True || leaf` would otherwise
    * silently match every row. */
  def orWhere(field: String, op: String, value: Any): QueryBuilder =
    orCondition(Cond.Leaf(field, op, value))
  def condition(c: Cond): QueryBuilder = copy(cond = cond && c)
  def orCondition(c: Cond): QueryBuilder =
    copy(cond = if (cond == Cond.True) c else cond || c)

  // sugar (chain_builder.dart:83-288, query_condition.dart:544-678)
  def whereEqual(f: String, v: Any): QueryBuilder = where(f, "=", v)
  def whereNotEqual(f: String, v: Any): QueryBuilder = where(f, "!=", v)
  def whereGreaterThan(f: String, v: Any): QueryBuilder = where(f, ">", v)
  def whereGreaterThanOrEqualTo(f: String, v: Any): QueryBuilder = where(f, ">=", v)
  def whereLessThan(f: String, v: Any): QueryBuilder = where(f, "<", v)
  def whereLessThanOrEqualTo(f: String, v: Any): QueryBuilder = where(f, "<=", v)
  def whereIn(f: String, vs: Seq[Any]): QueryBuilder = where(f, "IN", vs)
  def whereNotIn(f: String, vs: Seq[Any]): QueryBuilder = where(f, "NOT IN", vs)
  def whereBetween(f: String, lo: Any, hi: Any): QueryBuilder = where(f, "BETWEEN", (lo, hi))
  def whereNull(f: String): QueryBuilder = where(f, "IS", null)
  def whereNotNull(f: String): QueryBuilder = where(f, "IS NOT", null)
  def whereLike(f: String, p: String): QueryBuilder = where(f, "LIKE", p)
  def whereNotLike(f: String, p: String): QueryBuilder = where(f, "NOT LIKE", p)
  /** LIKE '%v%' (query_condition.dart:633-635) */
  def whereContains(f: String, v: String): QueryBuilder = whereLike(f, s"%$v%")
  def whereNotContains(f: String, v: String): QueryBuilder = whereNotLike(f, s"%$v%")
  def whereStartsWith(f: String, v: String): QueryBuilder = whereLike(f, s"$v%")
  def whereEndsWith(f: String, v: String): QueryBuilder = whereLike(f, s"%$v")
  def whereContainsAny(f: String, vs: Seq[String]): QueryBuilder =
    copy(cond = cond && Cond.or(vs.map(v => Cond.Leaf(f, "LIKE", s"%$v%")): _*))
  /** IS NULL OR = '' (query_condition.dart:659-663) */
  def whereEmpty(f: String): QueryBuilder =
    copy(cond = cond && (Cond.Leaf(f, "IS", null) || Cond.Leaf(f, "=", "")))
  def whereNotEmpty(f: String): QueryBuilder =
    copy(cond = cond && (Cond.Leaf(f, "IS NOT", null) && Cond.Leaf(f, "!=", "")))
  def whereTrue(f: String): QueryBuilder = where(f, "=", true)
  def whereFalse(f: String): QueryBuilder = where(f, "=", false)

  // ---------- projection / aggregation ----------

  def select(fields: String*): QueryBuilder =
    copy(selects = selects ++ fields.map(SelectItem.parse))
  def selectAgg(items: Any*): QueryBuilder = {
    val (as, fs) = items.partition(_.isInstanceOf[Agg])
    copy(
      selects = selects ++ fs.map(f => SelectItem.parse(f.toString)),
      aggs = aggs ++ as.map(_.asInstanceOf[Agg]))
  }
  def agg(as: Agg*): QueryBuilder = copy(aggs = aggs ++ as)
  def groupBy(fields: String*): QueryBuilder = copy(groups = groups ++ fields)
  /** HAVING evaluated post-aggregation against OUTPUT rows — may reference
    * aggregates by output name, e.g. "sum(amount)" (query_builder.dart:679-690). */
  def having(c: Cond): QueryBuilder = copy(havingCond = Some(havingCond.fold(c)(_ && c)))
  def distinct(fields: String*): QueryBuilder =
    copy(distinctOn = Some(fields.toSeq))

  // ---------- joins (SURVEY.md §2.4) ----------

  /** Join target syntax: "table" or "table as alias" — the alias names the
    * occurrence in qualified refs and output columns, which makes
    * SELF-JOINS unambiguous (`join("events as e2", "events.user_id", "=",
    * "e2.user_id")`). A repeated bare target is auto-aliased `t_2, t_3, …`
    * (the reference permits repeated chain targets,
    * query_executor.dart:585-601). */
  private def mkJoin(t: String, lk: String, op: String, rk: String, jt: String): JoinSpec = {
    val item = SelectItem.parse(t)
    val base = item.alias.map(a => JoinSpec(item.field, lk, op, rk, jt, Some(a)))
      .getOrElse(JoinSpec(t.trim, lk, op, rk, jt))
    val used = (table +: joins.map(_.name)).toSet
    base.alias.foreach(a => require(!used(a),
      s"duplicate join alias '$a' — each occurrence needs a distinct name"))
    if (base.alias.isEmpty && used(base.name)) {
      // first free numbered alias: t_2, t_3, … regardless of whether the
      // colliding occurrence is the base table or an earlier join
      val k = Iterator.from(2).find(k => !used(s"${base.table}_$k")).get
      base.copy(alias = Some(s"${base.table}_$k"))
    } else base
  }
  def join(t: String, leftKey: String, op: String, rightKey: String): QueryBuilder =
    copy(joins = joins :+ mkJoin(t, leftKey, op, rightKey, "inner"))
  def leftJoin(t: String, leftKey: String, op: String, rightKey: String): QueryBuilder =
    copy(joins = joins :+ mkJoin(t, leftKey, op, rightKey, "left"))
  def rightJoin(t: String, leftKey: String, op: String, rightKey: String): QueryBuilder =
    copy(joins = joins :+ mkJoin(t, leftKey, op, rightKey, "right"))

  /** FK-based auto-join: the ON clause is resolved from declared foreign
    * keys in the schema registry, forward (this table references `t`) or
    * reverse (`t` references this table) — reference
    * query_builder.dart:210-253, 851-951. Composite FKs: first key pair →
    * ON, residual pairs → WHERE equality filters (the reference's split,
    * query_builder.dart:210-253). */
  def joinWithForeignKey(t: String, joinType: String = "inner"): QueryBuilder = {
    val pairs = engine.registry.resolveFkJoin(lastTable, t, engine.space).getOrElse(
      throw new IllegalArgumentException(s"no foreign key between $lastTable and $t"))
    val (lk, rk) = pairs.head
    val residualCond = pairs.tail.foldLeft(cond) { case (c, (lf, rf)) =>
      c && Cond.Leaf(s"$lastTable.$lf", "=", col(s"$t.$rf"))
    }
    copy(
      joins = joins :+ JoinSpec(t, s"$lastTable.$lk", "=", s"$t.$rk", joinType),
      cond = residualCond)
  }
  def joinReferencedTable(t: String): QueryBuilder = joinWithForeignKey(t)
  def joinReferencingTable(t: String): QueryBuilder = joinWithForeignKey(t)
  /** FK joins always resolve against the MAIN table, as the reference does
    * (_resolveForeignKeyJoins walks currentSchema only,
    * query_builder.dart:851-951) — chained FK hops need manual join(). */
  private def lastTable: String = table

  // ---------- sort / paging (SURVEY.md §2.7) ----------

  def orderByAsc(fields: String*): QueryBuilder =
    copy(orders = orders ++ fields.map(_ -> true))
  def orderByDesc(fields: String*): QueryBuilder =
    copy(orders = orders ++ fields.map(_ -> false))
  def limit(n: Int): QueryBuilder = copy(limitOpt = Some(n))
  def offset(n: Int): QueryBuilder = copy(offsetOpt = Some(n))
  /** Disable the reference's implicit 1000-row cap
    * (DataStoreConfig.defaultQueryLimit, data_store_config.dart:208). */
  def noDefaultLimit: QueryBuilder = copy(useDefaultLimit = false)

  // ---------- compilation ----------

  /** Joined + filtered frame with per-table aliases still attached. */
  private def joinedDF: (DataFrame, Map[String, DataType]) = {
    val base = engine.table(table).as(table)
    var types = Map.empty[String, DataType]
    def addTypes(t: String, df: DataFrame): Unit = df.schema.fields.foreach { f =>
      types += (s"$t.${f.name}" -> f.dataType)
      types += (f.name -> types.getOrElse(f.name, f.dataType))
    }
    addTypes(table, base)
    val joined = joins.foldLeft(base) { (acc, j) =>
      val right = engine.table(j.table).as(j.name)
      addTypes(j.name, right)
      // loose-typed equality keys: the reference canonicalizes primitive
      // join keys to STRINGS before hashing (query_executor.dart:1526-1533),
      // so 1 matches "1" but "1.0" does NOT match 1. Spark's native
      // coercion would cast the string side numerically ("1.0" == 1 →
      // true) — divergent. When exactly one side is a STRING and the other
      // a primitive, compare string forms instead. Numeric-vs-numeric
      // mismatches (long↔double↔decimal) deliberately KEEP native numeric
      // coercion: Spark's decimal scale ("100.00") and double E-notation
      // ("1.0E7") renderings make string compare drop numerically equal
      // keys, and the reference's int-vs-double string mismatch is a quirk
      // no schema relies on. Same-typed keys (the overwhelmingly common
      // case) always compare natively, keeping pushdown/shuffle shape.
      def primitive(d: DataType): Boolean = d match {
        case org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.BooleanType => true
        case _: org.apache.spark.sql.types.NumericType => true
        case _ => false
      }
      val lt = types.get(j.leftKey)
      val rt = types.get(j.rightKey)
      val oneSideString = Seq(lt, rt).flatten
        .count(_ == org.apache.spark.sql.types.StringType) == 1
      val on =
        if (j.op == "=" && lt.isDefined && rt.isDefined && lt != rt &&
            oneSideString && primitive(lt.get) && primitive(rt.get))
          col(j.leftKey).cast("string") === col(j.rightKey).cast("string")
        else Cond.Leaf(j.leftKey, j.op, col(j.rightKey))
          .toColumn(col, f => None) // same-typed / numeric pairs compared natively
      acc.join(right, on, j.joinType)
    }
    (joined, types)
  }

  /** Output column names after joins: un-conflicted fields flatten to the
    * bare name; conflicted keep the `table.field` prefix
    * (reference query_builder.dart:705-823). Lazy: `bt` consults this per
    * column reference, and each evaluation would otherwise reopen every
    * joined table (a file listing and a new relation per table; the
    * session's TableResolver keeps the reopen itself free of Spark jobs). */
  private lazy val flattenNames: Seq[(String, String)] = { // (qualifiedRef, outputName)
    val perTable: Seq[(String, Seq[String])] =
      ((table, table) +: joins.map(j => (j.name, j.table))).distinct
        .map { case (n, t) => n -> engine.table(t).schema.fieldNames.toSeq }
    val counts = perTable.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
    perTable.flatMap { case (t, fs) =>
      fs.map(f => (s"$t.$f", if (counts(f) > 1) s"$t.$f" else f))
    }
  }
  private lazy val flattenMap: Map[String, String] = flattenNames.toMap

  /** Resolve a user-facing field reference against the post-flatten frame:
    * single-table queries resolve `table.field` as a qualified ref (the
    * base carries `.as(table)`); join queries map it through the flatten
    * rule (un-conflicted → bare name, conflicted → literal "t.f" column). */
  private def bt(name: String): Column =
    if (!name.contains('.')) col(name)
    else if (joins.isEmpty) col(name) // qualified against the aliased base
    else flattenMap.get(name) match {
      case Some(out) => if (out.contains('.')) col(s"`$out`") else col(out)
      case None      => col(s"`$name`")
    }

  /** Compile the chain to a DataFrame (rows only, no pagination metadata). */
  def toDF: DataFrame = compile(applyLimit = true)

  def df: DataFrame = toDF

  private[graft] def compile(applyLimit: Boolean): DataFrame = {
    val (joined0, types) = joinedDF
    val filtered = cond match {
      case Cond.True => joined0
      case c         => joined0.where(c.toColumn(col, f => types.get(f)))
    }

    // flatten join-result naming (identity for single-table queries)
    val flat =
      if (joins.isEmpty) filtered
      else filtered.select(flattenNames.map { case (q, o) => col(q).as(o) }: _*)
    val flatTypes: Map[String, DataType] =
      flat.schema.fields.map(f => f.name -> f.dataType).toMap

    // aggregation: plain selected fields in the presence of aggs act as keys
    val isAggQuery = aggs.nonEmpty || groups.nonEmpty
    val grouped: DataFrame =
      if (isAggQuery) {
        val keyNames = (groups ++ selects.map(_.field).filterNot(groups.contains)).distinct
        val keys = keyNames.map { k =>
          val out = selects.find(_.field == k).flatMap(_.alias).getOrElse(k)
          bt(k).as(out)
        }
        val aggCols = aggs.map(_.toColumn(bt))
        if (keys.isEmpty) flat.agg(aggCols.head, aggCols.tail: _*)
        else flat.groupBy(keys: _*).agg(aggCols.head, aggCols.tail: _*)
      } else flat

    val postHaving = havingCond.fold(grouped) { h =>
      val ts = grouped.schema.fields.map(f => f.name -> f.dataType).toMap
      grouped.where(h.toColumn(bt, f => ts.get(f)))
    }

    val deduped = distinctOn.fold(postHaving) {
      case Nil => postHaving.dropDuplicates()
      case fs  => postHaving.select(fs.map(bt): _*).dropDuplicates()
    }

    // sort: asc = nulls first, desc = nulls last (reference comparator
    // negation places nulls last on desc — value_matcher.dart:100-102;
    // both are Spark defaults). Numeric-string PKs sort (length, value)
    // — value_matcher.dart:121-148.
    val sortCols: Seq[Column] = orders.flatMap { case (f, asc) =>
      val cs = engine.registry.numericStringSortCols(table, f, bt(f), engine.space)
      cs.map(c => if (asc) c.asc else c.desc)
    }
    val sorted = if (sortCols.nonEmpty) deduped.orderBy(sortCols: _*) else deduped

    // pagination BEFORE the final projection (the reference's executor
    // slices/sorts before the builder's select — query_executor.dart:573-757,
    // query_builder.dart:580-703 — so sorting by non-selected fields works)
    val paged =
      if (!applyLimit) sorted
      else {
        val off = offsetOpt.getOrElse(0)
        if (off > engine.maxQueryOffset)
          throw new IllegalArgumentException(
            s"offset $off exceeds maxQueryOffset ${engine.maxQueryOffset}; use cursor pagination")
        val lim = limitOpt.orElse(if (useDefaultLimit) Some(engine.defaultQueryLimit) else None)
        (off, lim) match {
          case (0, None)    => sorted
          case (0, Some(n)) => sorted.limit(n)
          case (o, maybeN)  =>
            // Scale-safe offset: TakeOrdered bounds the set to offset+limit
            // (≤ maxQueryOffset + limit rows) BEFORE the single-partition
            // row_number window — the window never sees more than ~11k rows.
            require(sortCols.nonEmpty, "offset requires an explicit orderBy")
            val n = maybeN.getOrElse(engine.defaultQueryLimit)
            val bounded = sorted.limit(o + n)
            val w = Window.orderBy(sortCols: _*)
            bounded.withColumn("__rn", row_number().over(w))
              .where(col("__rn") > o).drop("__rn")
        }
      }

    // final projection (select/alias) — aggregation queries already
    // projected their keys+aggregates; distinct([fields]) already projected
    if (!isAggQuery && distinctOn.isEmpty && selects.nonEmpty)
      paged.select(selects.map(s => bt(s.field).as(s.outputName)): _*)
    else paged
  }

  // ---------- scalar shortcut actions (query_builder.dart:293-372) ----------

  def count(): Long = compile(applyLimit = false).count()
  def exists(): Boolean = !compile(applyLimit = false).limit(1).isEmpty
  def first(): Option[Row] = compile(applyLimit = true).limit(1).collect().headOption
  private def scalarAgg(a: Agg): Option[Any] = {
    val r = compile(applyLimit = false).agg(a.toColumn(bt)).collect()(0)
    Option(r.get(0))
  }
  def sumOf(f: String): Option[Any] = scalarAgg(Agg.sum(f))
  def avgOf(f: String): Option[Any] = scalarAgg(Agg.avg(f))
  def minOf(f: String): Option[Any] = scalarAgg(Agg.min(f))
  def maxOf(f: String): Option[Any] = scalarAgg(Agg.max(f))

  /** Execute with pagination metadata (limit+1 probe → hasMore, cursors —
    * reference query_executor.dart:352-397, 637-686). */
  /** Cache key: space + full builder state, WITHOUT the engine reference
    * (switchSpace/watched copies share the cache and must hit each
    * other's entries) and with TYPE-TAGGED condition values — `=  5` and
    * `= "5"` have different semantics on an untyped field but identical
    * toString forms, so the raw case-class rendering is not injective. */
  private def cacheKey: String = {
    def tag(v: Any): String = v match {
      case null => "null"
      case s: Seq[_] => s.map(tag).mkString("[", ",", "]")
      case a: Array[_] => a.map(tag).mkString("[", ",", "]")
      case x => x.getClass.getName + ":" + x
    }
    def ck(c: Cond): String = c match {
      case Cond.True => "T"
      case Cond.And(cs) => cs.map(ck).mkString("A(", ",", ")")
      case Cond.Or(cs) => cs.map(ck).mkString("O(", ",", ")")
      case Cond.Leaf(f, op, v) => s"L($f,$op,${tag(v)})"
      case other => other.toString
    }
    Seq(engine.space, table, ck(cond), selects, aggs, groups,
      havingCond.map(ck), joins, orders, limitOpt, offsetOpt, distinctOn,
      useDefaultLimit).mkString("|")
  }

  def run(): QueryResult =
    if (!cacheEnabled) QueryResult.execute(this)
    else {
      val tables = (table +: joins.map(_.table)).toSet
      engine.queryCache.getOrRun(cacheKey, tables, cacheTtlMs)(QueryResult.execute(this))
    }

  // ---------- reference-name sugar (query_builder.dart) ----------

  /** `execute` — the reference's terminal name for `run()`. */
  def execute(): QueryResult = run()
  /** `or(condition)` — the reference's condition-group disjunction. */
  def or(c: Cond): QueryBuilder = orCondition(c)
  /** Bare-aggregate scalar names as the reference spells them. */
  def min(f: String): Option[Any] = minOf(f)
  def max(f: String): Option[Any] = maxOf(f)
  def sum(f: String): Option[Any] = sumOf(f)
  def avg(f: String): Option[Any] = avgOf(f)
  /** `asStream` — server-side-cursor record stream
    * (stream_query_builder.dart:26-140): partitions stream to the caller
    * one at a time, nothing materializes driver-side. */
  def asStream: Iterator[Row] = engine.streamQuery(this)
  /** Reference cache toggles (tree_cache query-result cache,
    * query_executor.dart:42-49): OPT-IN result caching on the engine's
    * budgeted LRU ([[QueryCache]]) — results invalidate on every write
    * through this engine and may carry a TTL. Off by default: Spark's
    * parquet page cache + plan reuse already cover the re-scan cost, the
    * result cache only pays off for repeated EXACT queries (dashboards,
    * watch re-emissions). */
  def useQueryCache(ttlMs: Option[Long] = None): QueryBuilder =
    copy(cacheEnabled = true, cacheTtlMs = ttlMs)
  def noQueryCache: QueryBuilder = copy(cacheEnabled = false)

  /** Chain-level watch (query_builder.dart:480): initial emission + re-run
    * on every write to this query's tables, coalescing debounce. Requires
    * a hub-attached engine (`Graft.watched(hub)`). */
  def watch(onData: Seq[Row] => Unit): graft.streaming.WatchSubscription = {
    val h = engine.hub.getOrElse(throw new IllegalStateException(
      "watch requires a hub-attached engine — use Graft.watched(hub)"))
    h.watch(this)(onData)
  }
}
