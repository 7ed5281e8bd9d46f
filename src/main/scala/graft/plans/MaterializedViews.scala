package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.sources.TableResolver

/**
 * Materialized-view aggregate rewrite — the classic warehouse
 * acceleration: a query that re-aggregates a base table over a SUBSET of
 * a summary's grouping dimensions is silently redirected to the summary
 * (sum → sum of partial sums, count → sum of partial counts, min/max →
 * min/max of partial min/max). At 100 TB the base scan is the entire
 * query cost; the summary is smaller by the group-reduction factor, and
 * the rewrite is exact because sum/count/min/max are self-decomposable.
 *
 * Spark-first shape: a `Rule[LogicalPlan]` in the optimizer (injected
 * via `SparkSessionExtensions`, like [[NanosPredicatePushdown]]) pattern-
 * matching `Aggregate` directly over a registered base-table scan. The
 * registry maps RESOLVED scan root paths to their summary definition, so
 * matching is exact — never a name heuristic. Freshness is the caller's
 * contract: re-run [[MaterializedViews.create]] after base writes (the
 * same snapshot-at-registration semantics as any warehouse MV without
 * incremental maintenance).
 *
 * Rewrite preconditions (else the plan is left untouched): every
 * grouping expression is a bare dimension column of the view; every
 * aggregate is an undistinct, unfiltered sum/count(constant)/min/max
 * over a pre-aggregated column. Queries with residual filters or other
 * functions fall through to the base scan — correct, just unaccelerated.
 */
object MaterializedViews {

  /** ("sum"|"min"|"max", srcCol) or ("count", "*") → summary column. */
  final case class MvDef(mvPath: String, dims: Set[String],
      aggs: Map[(String, String), String])

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, MvDef]()

  def clear(): Unit = registry.clear()

  /** Root paths of the scan a DataFrame reads (empty if not a file scan). */
  private def rootPaths(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Seq.empty[String]
      }
    }.flatten

  /** Build + write + register the summary for `basePath`. Aggregate specs:
    * ("sum", c) / ("min", c) / ("max", c) / ("count", "*"). */
  def create(spark: SparkSession, basePath: String, mvPath: String,
      dims: Seq[String], aggSpecs: Seq[(String, String)]): MvDef = {
    require(dims.nonEmpty && aggSpecs.nonEmpty, "dims and aggs must be non-empty")
    val base = TableResolver.open(spark, basePath)
    val cols = aggSpecs.map {
      case ("sum", c)   => sum(col(c)).as(s"mv_sum_$c")
      case ("min", c)   => min(col(c)).as(s"mv_min_$c")
      case ("max", c)   => max(col(c)).as(s"mv_max_$c")
      case ("count", _) => count(lit(1)).as("mv_cnt")
      case (f, c)       => throw new IllegalArgumentException(s"unsupported agg $f($c)")
    }
    base.groupBy(dims.map(col): _*).agg(cols.head, cols.tail: _*)
      .write.mode("overwrite").parquet(mvPath)
    val names = aggSpecs.map {
      case ("count", _) => ("count", "*") -> "mv_cnt"
      case (f, c)       => (f, c) -> s"mv_${f}_$c"
    }.toMap
    val d = MvDef(mvPath, dims.toSet, names)
    rootPaths(base).foreach(p => registry.put(p, d))
    d
  }

  private[plans] def lookup(paths: Seq[String]): Option[MvDef] =
    paths.iterator.map(registry.get).find(_ != null)

  /**
   * INCREMENTAL refresh: rebuild the summary from the OLD summary plus
   * only the changed rows, never a full re-aggregation of the new base.
   * Deleted/updated keys contribute their OLD rows negated,
   * inserted/updated keys their NEW rows positive; re-aggregating the
   * union with the old partials is exact for sum/count (self-inverting
   * under negation). min/max are NOT delete-maintainable and are
   * deliberately unsupported here — refresh those with [[create]].
   * Groups whose count nets to zero vanish, matching a full rebuild.
   *
   * At 100 TB the change set normally arrives from CDC (q133's
   * `SnapshotDiff.changes` is the batch derivation when it doesn't);
   * the two key-joins and the final dims-keyed aggregation touch
   * |changes| + |summary| rows, not the base.
   */
  def refreshIncremental(oldDf: DataFrame, newDf: DataFrame, pk: String,
      mv: DataFrame, dims: Seq[String], sumCols: Seq[String]): DataFrame = {
    require(dims.nonEmpty && sumCols.nonEmpty, "dims and sumCols must be non-empty")
    val ch = graft.operators.SnapshotDiff.changes(oldDf, newDf, pk, dims ++ sumCols)
    val negKeys = ch.where(col("change_type").isin("deleted", "updated")).select(col(pk))
    val posKeys = ch.where(col("change_type").isin("inserted", "updated")).select(col(pk))
    val sumTypes = sumCols.map(c => c -> mv.schema(s"mv_sum_$c").dataType).toMap
    def partials(df: DataFrame, keys: DataFrame, sign: Int): DataFrame =
      df.join(keys, pk).select(
        dims.map(col) ++
          sumCols.map(c => (col(c) * lit(sign)).cast(sumTypes(c)).as(s"mv_sum_$c")) :+
          lit(sign.toLong).as("mv_cnt"): _*)
    val mvPartials = mv.select(
      dims.map(col) ++ sumCols.map(c => col(s"mv_sum_$c")) :+ col("mv_cnt"): _*)
    val aggCols = sumCols.map(c =>
      sum(col(s"mv_sum_$c")).cast(sumTypes(c)).as(s"mv_sum_$c")) :+
      sum(col("mv_cnt")).as("mv_cnt")
    mvPartials
      .unionByName(partials(oldDf, negKeys, -1))
      .unionByName(partials(newDf, posKeys, 1))
      .groupBy(dims.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .where(col("mv_cnt") > 0)
  }

  /**
   * CDC row feed between two snapshots, WITH before/after images — what a
   * log-based CDC source (Debezium-shaped) emits and what streaming
   * maintenance consumes: (`pk`, change_type, before_c…, after_c…) for
   * every changed key. Same ONE full-outer PK join as
   * [[graft.operators.SnapshotDiff.diff]], images ride along instead of
   * being re-fetched later.
   */
  def cdcFeed(oldDf: DataFrame, newDf: DataFrame, pk: String,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    val o = oldDf.select(pk, cols: _*).withColumn("__old", lit(1)).alias("o")
    val n = newDf.select(pk, cols: _*).withColumn("__new", lit(1)).alias("n")
    val same = cols.map(c => col(s"o.$c") <=> col(s"n.$c")).reduce(_ && _)
    o.join(n, col(s"o.$pk") === col(s"n.$pk"), "full_outer")
      .select(
        coalesce(col(s"o.$pk"), col(s"n.$pk")).as(pk) +:
        when(col("o.__old").isNull, lit("inserted"))
          .when(col("n.__new").isNull, lit("deleted"))
          .when(same, lit("unchanged"))
          .otherwise(lit("updated")).as("change_type") +:
        (cols.map(c => col(s"o.$c").as(s"before_$c")) ++
         cols.map(c => col(s"n.$c").as(s"after_$c"))): _*)
      .where(col("change_type") =!= "unchanged")
  }

  /**
   * Apply one CDC batch (rows shaped like [[cdcFeed]]) to a sum/count
   * summary: before-images of deleted/updated keys contribute NEGATED
   * partials, after-images of inserted/updated keys positive ones, then
   * one dims-keyed re-aggregation with the old summary. Exact for
   * sum/count (self-inverting under negation), and ORDER-INSENSITIVE
   * across batches: signed deltas commute, so any batch split of the same
   * net change converges to the same summary. Touches |batch| + |summary|
   * rows — never a base-table scan.
   */
  def applyCdc(mv: DataFrame, batch: DataFrame, dims: Seq[String],
      sumCols: Seq[String]): DataFrame = {
    require(dims.nonEmpty && sumCols.nonEmpty, "dims and sumCols must be non-empty")
    val sumTypes = sumCols.map(c => c -> mv.schema(s"mv_sum_$c").dataType).toMap
    def side(prefix: String, types: Seq[String], sign: Int) =
      batch.where(col("change_type").isin(types: _*)).select(
        dims.map(c => col(s"${prefix}_$c").as(c)) ++
          sumCols.map(c => (col(s"${prefix}_$c") * lit(sign))
            .cast(sumTypes(c)).as(s"mv_sum_$c")) :+
          lit(sign.toLong).as("mv_cnt"): _*)
    val aggCols = sumCols.map(c =>
      sum(col(s"mv_sum_$c")).cast(sumTypes(c)).as(s"mv_sum_$c")) :+
      sum(col("mv_cnt")).as("mv_cnt")
    mv.select(dims.map(col) ++ sumCols.map(c => col(s"mv_sum_$c")) :+
        col("mv_cnt"): _*)
      .unionByName(side("before", Seq("deleted", "updated"), -1))
      .unionByName(side("after", Seq("inserted", "updated"), 1))
      .groupBy(dims.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .where(col("mv_cnt") > 0)
  }

  /**
   * STREAMING maintenance: keep the summary at `mvPath` current against a
   * stream of CDC rows ([[cdcFeed]] schema) — `foreachBatch` applies
   * [[applyCdc]] per micro-batch and republishes the summary through
   * `Writes.lockedSwap`, so readers never observe a partial summary. The
   * summary is |groups|-sized; each batch costs |batch| + |summary|, never
   * a base scan — the streaming complement of [[refreshIncremental]]
   * (q142's batch shape). Caller starts/awaits the returned writer.
   */
  def maintainStream(cdcStream: DataFrame, mvPath: String, dims: Seq[String],
      sumCols: Seq[String]): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    cdcStream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val spark = batch.sparkSession
      // the summary is read inside the swap, after its recovery step
      graft.write.Writes.lockedSwap(spark.sparkContext.hadoopConfiguration, mvPath)(tmp =>
        applyCdc(TableResolver.open(spark, mvPath), batch, dims, sumCols)
          .coalesce(1).write.mode("overwrite").parquet(tmp))
    }
}

/** The optimizer rule. Idempotent: a rewritten Aggregate scans the
  * summary path, which is never registered as a base. */
object MvAggregateRewrite extends Rule[LogicalPlan] {

  /** Aggregate child shapes we accept: a file scan, optionally under a
    * column-pruning Project of bare attributes. */
  private object BaseScan {
    def unapply(p: LogicalPlan): Option[Seq[String]] = p match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => Some(fs.location.rootPaths.map(_.toString))
        case _ => None
      }
      case Project(pl, child) if pl.forall(_.isInstanceOf[Attribute]) =>
        unapply(child)
      case _ => None
    }
  }

  private def constantCount(c: Count): Boolean =
    c.children.nonEmpty && c.children.forall {
      case l: Literal => l.value != null
      case _ => false
    }

  /** Replacement for one aggregate call over the base, or None if it is
    * not decomposable onto the summary. The replacement is type-stable:
    * widened results (sum-of-sums decimal) cast back to the original. */
  private def rewriteAggExpr(ae: AggregateExpression,
      mv: MaterializedViews.MvDef,
      mvAttr: Map[String, Attribute]): Option[Expression] = {
    if (ae.isDistinct || ae.filter.nonEmpty) return None
    val replaced: Option[Expression] = ae.aggregateFunction match {
      case s @ Sum(c: Attribute, _) if mv.aggs.contains(("sum", c.name)) =>
        Some(ae.copy(aggregateFunction = s.copy(child = mvAttr(mv.aggs(("sum", c.name))))))
      case m @ Min(c: Attribute) if mv.aggs.contains(("min", c.name)) =>
        Some(ae.copy(aggregateFunction = m.copy(child = mvAttr(mv.aggs(("min", c.name))))))
      case m @ Max(c: Attribute) if mv.aggs.contains(("max", c.name)) =>
        Some(ae.copy(aggregateFunction = m.copy(child = mvAttr(mv.aggs(("max", c.name))))))
      case c: Count if constantCount(c) && mv.aggs.contains(("count", "*")) =>
        Some(ae.copy(aggregateFunction = Sum(mvAttr(mv.aggs(("count", "*"))))))
      // avg → sum(partial sums)/sum(partial counts): DOUBLE only —
      // decimal Average carries scale rules a Divide would not reproduce
      case Average(c: Attribute, _)
          if c.dataType == org.apache.spark.sql.types.DoubleType &&
            mv.aggs.contains(("sum", c.name)) && mv.aggs.contains(("count", "*")) =>
        val s = Sum(mvAttr(mv.aggs(("sum", c.name)))).toAggregateExpression()
        val n = Sum(mvAttr(mv.aggs(("count", "*")))).toAggregateExpression()
        Some(org.apache.spark.sql.catalyst.expressions.Divide(
          s, org.apache.spark.sql.catalyst.expressions.Cast(
            n, org.apache.spark.sql.types.DoubleType)))
      case _ => None
    }
    replaced.map { re =>
      if (re.dataType == ae.dataType) re
      else org.apache.spark.sql.catalyst.expressions.Cast(re, ae.dataType)
    }
  }

  /** Rewrite one output expression. Aggregate calls may sit ANYWHERE in
    * the alias body (CollapseProject merges post-agg projections into
    * the Aggregate, producing e.g. Alias(Cast(agg))); bare attributes
    * outside aggregates must be dimensions. Manual recursion — a blind
    * transform would also rewrite the attributes INSIDE aggregate
    * children, which are measure columns, not dims. */
  private def rewriteNamed(ne: NamedExpression,
      mv: MaterializedViews.MvDef,
      mvAttr: Map[String, Attribute]): Option[NamedExpression] = ne match {
    case a: Attribute if mv.dims.contains(a.name) =>
      Some(Alias(mvAttr(a.name), a.name)(exprId = a.exprId))
    case al @ Alias(body, name) =>
      var ok = true
      def rw(e: Expression): Expression = e match {
        case ae: AggregateExpression =>
          rewriteAggExpr(ae, mv, mvAttr).getOrElse { ok = false; ae }
        case a: Attribute =>
          if (mv.dims.contains(a.name)) mvAttr(a.name) else { ok = false; a }
        case other => other.mapChildren(rw)
      }
      val nb = rw(body)
      if (ok) Some(Alias(nb, name)(exprId = al.exprId)) else None
    case _ => None
  }

  private def rewrite(agg: Aggregate, mv: MaterializedViews.MvDef): Option[LogicalPlan] = {
    val spark = SparkSession.active
    val mvPlan = TableResolver.open(spark, mv.mvPath).queryExecution.analyzed
    val mvAttr = mvPlan.output.map(a => a.name -> a).toMap
    val ges2 = agg.groupingExpressions.map {
      case a: Attribute if mv.dims.contains(a.name) => Some(mvAttr(a.name))
      case _ => None
    }
    val aes2 = agg.aggregateExpressions.map(rewriteNamed(_, mv, mvAttr))
    if (ges2.forall(_.isDefined) && aes2.forall(_.isDefined))
      Some(Aggregate(ges2.flatten, aes2.flatten, mvPlan))
    else None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(_, _, BaseScan(paths), _) =>
      MaterializedViews.lookup(paths)
        .flatMap(mv => rewrite(agg, mv))
        .getOrElse(agg)
  }
}
