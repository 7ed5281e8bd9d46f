package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._
import org.sparkproject.guava.cache.{CacheBuilder, CacheLoader}

/** A primitive literal whose generated code loads its value once from the
  * class's `references` instead of spelling it in the source. It explains
  * exactly like the literal. */
case class BoundLiteral(lit: Literal) extends LeafExpression {
  override def dataType: DataType = lit.dataType
  override def nullable: Boolean = lit.nullable
  override def eval(input: InternalRow): Any = lit.value
  override def toString: String = lit.toString
  override def sql: String = lit.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val jt = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("boundLiteral", lit.value)
    val v = ctx.addMutableState(jt, "boundLiteral", v => s"$v = $ref.${jt}Value();")
    ev.copy(isNull = FalseLiteral, value = JavaCode.global(v, dataType))
  }
}

/** Binds the non-null primitive literal operands of comparisons and
  * arithmetic in `FilterExec` and `ProjectExec`: `Literal.doGenCode` writes
  * int, long, double, date and timestamp values into the generated source,
  * so each new key, bound, offset or vector norm would compile a new class.
  * As a pre-transition rule it runs after scans are planned (their
  * `PushedFilters` keep real literals) and before `CollapseCodegenStages`,
  * in the non-adaptive preparations and in every AQE stage. */
object BindLiterals extends ColumnarRule {
  private val bindable: Set[DataType] = Set(BooleanType, ByteType, ShortType, IntegerType,
    LongType, FloatType, DoubleType, DateType, TimestampType, TimestampNTZType)

  private def bind(e: Expression): Expression = e.transform {
    case op @ (_: BinaryComparison | _: BinaryArithmetic) => op.mapChildren {
      case l: Literal if l.value != null && bindable(l.dataType) => BoundLiteral(l)
      case c => c
    }
  }

  override val preColumnarTransitions: Rule[SparkPlan] = _.transformUp {
    case f: FilterExec => f.copy(condition = bind(f.condition))
    case p: ProjectExec =>
      p.copy(projectList = p.projectList.map(bind(_).asInstanceOf[NamedExpression]))
  }
}

/** Spark's JVM-wide codegen class cache, sized once from the SQLConf
  * current when `CodeGenerator` loads, which may be before graft's session. */
object CodegenCache {
  private def field(owner: String, name: String) = {
    val f = Class.forName(owner).getDeclaredField(name)
    f.setAccessible(true)
    f
  }
  private def guava = field("org.apache.spark.util.NonFateSharingCache", "cache")

  /** CodeGenerator's `NonFateSharingLoadingCache`, holding the guava cache. */
  private def holder = field(CodeGenerator.getClass.getName, "cache").get(CodeGenerator)

  /** A field of the guava `LocalCache` behind the live cache. */
  private def local(name: String): Any = {
    val lc = field("org.sparkproject.guava.cache.LocalCache$LocalManualCache", "localCache")
    field("org.sparkproject.guava.cache.LocalCache", name).get(lc.get(guava.get(holder)))
  }

  /** Entries the live cache holds at most; negative when unbounded. */
  def capacity: Long = local("maxWeight").asInstanceOf[Long]

  /** Swaps a live cache bounded below `n` entries for an empty `n`-entry
    * one with the same loader. Any failure leaves the cache as it was. */
  def ensure(n: Long): Unit = try {
    if (n > 0 && capacity >= 0 && capacity < n) {
      val loader = local("defaultLoader").asInstanceOf[CacheLoader[AnyRef, AnyRef]]
      guava.set(holder, CacheBuilder.newBuilder().maximumSize(n).build[AnyRef, AnyRef](loader))
    }
  } catch { case scala.util.control.NonFatal(_) => () }
}
