package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampType}

/**
 * Optimizer rule restoring predicate pushdown for TIMESTAMP(NANOS)
 * parquet columns.
 *
 * `graft.sources.ParquetNanos` surfaces nanos columns as
 * `timestamp_micros(c div 1000)` (Spark cannot read nanos natively —
 * `spark.sql.legacy.parquet.nanosAsLong=true` exposes the raw int64).
 * A time-range predicate then compares a DERIVED expression, so the
 * parquet scan receives no filter: at 100 TB that is a full scan where a
 * row-group prune should be.
 *
 * This rule rewrites comparisons of `timestamp_micros(c div 1000)`
 * against timestamp literals into exact integer bounds on the raw nanos
 * column `c` (micro → nanos range [v·1000, v·1000+999]), which V1
 * DataSourceStrategy then pushes into the parquet scan (min/max + bloom).
 * Registered through `SparkSessionExtensions` (Graft.extensions).
 */
object NanosPredicatePushdown extends Rule[LogicalPlan] {

  /** timestamp_micros(c div 1000) over a long attribute → c */
  private object NanosTs {
    def unapply(e: Expression): Option[Attribute] = e match {
      case MicrosToTimestamp(d: IntegralDivide) => (d.left, d.right) match {
        case (a: Attribute, Literal(1000L, LongType)) if a.dataType == LongType => Some(a)
        case _ => None
      }
      case _ => None
    }
  }

  /** Non-null timestamp literal → its internal micros value. */
  private object TsLit {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Long, TimestampType) => Some(v)
      case _ => None
    }
  }

  private def nFirst(micros: Long): Expression = Literal(micros * 1000L, LongType)
  private def nLast(micros: Long): Expression = Literal(micros * 1000L + 999L, LongType)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    // c as nanos; predicate on the micro-truncated timestamp value v:
    //   ts >  v  ⇔ c >  v·1000+999        ts <  v ⇔ c < v·1000
    //   ts >= v  ⇔ c >= v·1000            ts <= v ⇔ c <= v·1000+999
    //   ts =  v  ⇔ v·1000 <= c <= v·1000+999
    case GreaterThan(NanosTs(c), TsLit(v))          => GreaterThan(c, nLast(v))
    case GreaterThan(TsLit(v), NanosTs(c))          => LessThan(c, nFirst(v))
    case GreaterThanOrEqual(NanosTs(c), TsLit(v))   => GreaterThanOrEqual(c, nFirst(v))
    case GreaterThanOrEqual(TsLit(v), NanosTs(c))   => LessThanOrEqual(c, nLast(v))
    case LessThan(NanosTs(c), TsLit(v))             => LessThan(c, nFirst(v))
    case LessThan(TsLit(v), NanosTs(c))             => GreaterThan(c, nLast(v))
    case LessThanOrEqual(NanosTs(c), TsLit(v))      => LessThanOrEqual(c, nLast(v))
    case LessThanOrEqual(TsLit(v), NanosTs(c))      => GreaterThanOrEqual(c, nFirst(v))
    case EqualTo(NanosTs(c), TsLit(v)) =>
      And(GreaterThanOrEqual(c, nFirst(v)), LessThanOrEqual(c, nLast(v)))
    case EqualTo(TsLit(v), NanosTs(c)) =>
      And(GreaterThanOrEqual(c, nFirst(v)), LessThanOrEqual(c, nLast(v)))
    case IsNotNull(NanosTs(c))                      => IsNotNull(c)
    case IsNull(NanosTs(c))                         => IsNull(c)
  }
}

/** Extension installer, passed to `withExtensions` by [[graft.Graft.localSession]]. */
object GraftExtensions {
  val install: SparkSessionExtensions => Unit = { ext =>
    ext.injectOptimizerRule(_ => NanosPredicatePushdown)
    ext.injectOptimizerRule(_ => MvAggregateRewrite)
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectColumnar(_ => BindLiterals)
  }
}
