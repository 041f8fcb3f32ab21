package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructField, StructType}

/** Nearest centroid of an `array<double>` vector over a FIXED centroid
  * matrix as one codegen'd expression: output is `struct<idx:int,
  * csim:double>` — the 0-based row of the winning centroid and its rounded
  * cosine. The winner maximizes `round(cosine, 6)` with ties to the LOWEST
  * index (callers pass the matrix sorted by cent_id, making this identical
  * to the `row_number() OVER (ORDER BY csim DESC, cent_id)` window form and
  * to the DuckDB oracle). Comparison uses `Double.compare`, matching Spark
  * SQL's total order (NaN greatest, -0 < 0).
  *
  * This is the IVF corpus-assignment kernel: the join+window form exchanged
  * and sorted corpus×nlist rows; an `aggregate()` HOF fold is shuffle-free
  * but interpreted (measured ~1.4× slower than the window at 1M×64);
  * this expression is shuffle-free AND inside
  * whole-stage codegen — assignment becomes a pure scan projection.
  */
case class NearestCentroid(child: Expression, cents: Array[Array[Double]])
    extends UnaryExpression {

  require(cents.nonEmpty, "nearest_centroid requires at least one centroid")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid requires array<double> input, got ${t.catalogString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("idx", IntegerType, nullable = false),
    StructField("csim", DoubleType, nullable = false)))
  override def prettyName: String = "nearest_centroid"

  override def nullSafeEval(v: Any): Any =
    NearestCentroid.compute(v.asInstanceOf[ArrayData], cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", cents, "double[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NearestCentroid$$.MODULE$$.compute($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

object NearestCentroid {
  /** Spark's `round(x, 6)` for doubles, exactly (RoundBase's arithmetic):
    * NaN/Infinity pass through, everything else HALF_UP at scale 6.
    */
  def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Same accumulation order as [[CosineSim.compute]] over the common
    * prefix, so the per-pair value is bit-identical to the join form.
    */
  private def cosineWith(x: ArrayData, c: Array[Double]): Double = {
    val n = math.min(x.numElements(), c.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val a = x.getDouble(i)
      val b = c(i)
      dot += a * b
      na += a * a
      nb += b * b
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def compute(x: ArrayData, cents: Array[Array[Double]]): InternalRow = {
    var best = 0
    var bestSim = round6(cosineWith(x, cents(0)))
    var i = 1
    while (i < cents.length) {
      val s = round6(cosineWith(x, cents(i)))
      // strict: a tie keeps the earlier (lower-cent_id) row
      if (java.lang.Double.compare(s, bestSim) > 0) { best = i; bestSim = s }
      i += 1
    }
    InternalRow(best, bestSim)
  }
}
