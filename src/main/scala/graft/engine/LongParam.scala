package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** A long value the generated code reads as a PARAMETER. Spark inlines a
  * primitive `Literal` into the generated Java, so every fresh query time
  * (`time=now` on a refreshing dashboard, a maintenance tick, an append's
  * write stamp) is new code text: it misses Spark's code cache and pays a
  * Janino compile plus cold JIT on every query. This expression instead
  * reads its value from the plan's reference array
  * (`ctx.addReferenceObj`, as [[TallySamples]] reads its accumulator), so
  * one query shape compiles once and runs at every time.
  *
  * NON-foldable, or ConstantFolding would turn it back into a literal.
  * The price: a filter on it is not a data-source filter, so it does not
  * reach parquet's row-group statistics. A scan that needs pruning by
  * time must carry its own literal bounds.
  *
  * `rebind` says how the value follows the query's times when a cached
  * plan is reused at other times ([[PlanCache]]); `id` tells apart two
  * parameters of one value, so the cache can see that every parameter a
  * build made is still in its optimized plan. Canonicalization drops the
  * id: plans that differ only in it compare equal, as they did without it.
  */
final case class LongParam(value: Long, rebind: LongParam.Rebind = LongParam.Never,
                           id: Long = LongParam.nextId()) extends LeafExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "param"
  override def sql: String = s"param(${value}L)"
  override def toString: String = s"param($value)"

  override def eval(input: InternalRow): Any = value

  override lazy val canonicalized: Expression = copy(id = 0L)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", java.lang.Long.valueOf(value), "java.lang.Long")
    ev.copy(
      code = code"final ${CodeGenerator.javaType(dataType)} ${ev.value} = $ref.longValue();",
      isNull = FalseLiteral)
  }
}

object LongParam {
  /** How a parameter's value follows the query's times. */
  sealed trait Rebind
  /** Moves by as much as the query's start and end do: the times
    * themselves, an `offset` from them, a window edge. */
  case object Shifts extends Rebind
  /** The same at every query time: a step count, an absolute `@`. */
  case object Fixed extends Rebind
  /** Follows the times some other way (a subquery's step-aligned grid),
    * or is not a query time at all: a plan holding one is not reused. */
  case object Never extends Rebind

  private val ids = new java.util.concurrent.atomic.AtomicLong
  private def nextId(): Long = ids.incrementAndGet()

  /** The parameter as a Column. */
  def of(value: Long, rebind: Rebind = Never): Column =
    ColumnBridge.column(LongParam(value, rebind))
}
