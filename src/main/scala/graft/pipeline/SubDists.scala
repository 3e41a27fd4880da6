package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** `sub_dists(e)`: squared euclidean distances from the `subDims`-wide
  * slice of `e` starting at `offset` to EVERY entry of a codebook, as one
  * `array<double>` — the query-side distance-table kernel of the ADC and
  * IMI paths, native and codegen'd.
  *
  * Why a kernel: the column-expression formulation materialized Ks (ADC:
  * M×Ks) separate columns, each a `subDims`-term sum of literal-laden
  * `element_at` squares — at the gate shape that is a ~14 KB expression
  * tree PER COLUMN (the `x · x` square even duplicates the subtraction
  * subtree), and a per-job profile measured the resulting Catalyst+Janino
  * work dominating every small-batch ADC/IMI search (1–2 s of driver time
  * per action); at production shape (M=16, Ks=256) it is 4096 columns.
  * One static call with the codebook riding the stage's reference array
  * replaces the whole tree ([[NearestCells]] pattern, guide §4).
  *
  * BIT-COMPATIBILITY: the accumulation is the same left fold
  * (`d += (e[off+t] − c[t])²`, t ascending, `0.0` seed — adding `+0.0` to
  * the first non-negative term is exact) the old `reduceLeft(_ + _)`
  * column trees evaluated and the SQL oracles reproduce; entry order is
  * codebook order. Every consumer's doubles are unchanged. */
final case class SubDists(child: Expression, codebook: Array[Array[Double]],
                          offset: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "sub_dists"

  private val sub: Int = if (codebook.isEmpty) 0 else codebook(0).length
  @transient private lazy val flat: Array[Double] = {
    val out = new Array[Double](codebook.length * sub)
    var i = 0
    while (i < codebook.length) {
      System.arraycopy(codebook(i), 0, out, i * sub, sub)
      i += 1
    }
    out
  }

  protected override def nullSafeEval(input: Any): Any =
    SubDists.dists(flat, sub, offset, input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("codebook", flat, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.pipeline.SubDists.dists($cRef, $sub, $offset, $c)")
  }

  override protected def withNewChildInternal(newChild: Expression): SubDists =
    copy(child = newChild)
}

object SubDists {

  /** Distances from `e[offset ..< offset+subDims]` to each codebook entry
    * (array<double>, codebook order). `offset` is 0-based. */
  def column(e: Column, codebook: Array[Array[Double]], offset: Int): Column =
    ColumnBridge.column(SubDists(ColumnBridge.expression(e), codebook, offset))

  /** Static runtime kernel shared by interpreted and generated code. */
  def dists(flat: Array[Double], sub: Int, offset: Int, e: ArrayData): ArrayData = {
    // same discipline as [[NearestCells.nearest]]: the offset read has no
    // slice() bounding it, so a short embedding fails loud here instead of
    // reading past the row buffer into garbage distances
    if (e.numElements() < offset + sub)
      throw new IllegalArgumentException(
        s"sub_dists: embedding has ${e.numElements()} elements, kernel " +
          s"reads ${offset + sub} (offset $offset, subDims $sub) — malformed vector")
    val ks = if (sub == 0) 0 else flat.length / sub
    val out = new Array[Double](ks)
    var j = 0
    while (j < ks) {
      var d = 0.0
      var t = 0
      val off = j * sub
      while (t < sub) {
        val x = e.getDouble(offset + t) - flat(off + t)
        d += x * x
        t += 1
      }
      out(j) = d
      j += 1
    }
    new GenericArrayData(out)
  }
}
