package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}

/** Every stratified-containment band-bucket key of ONE document for
  * one ROLE (the small or the large side of a size-class-gap pair),
  * across ALL kept arms, in a single codegen'd pass — the round-14
  * replacement for the per-(arm, role) union that re-scanned the
  * signature cache once per branch (2·(G+1) cache passes at maxGap G;
  * one expression over one scan per role now emits the identical
  * rows).
  *
  * Per document of size class c, with `occupiedMask` bit p set iff
  * size class p holds at least one document (classes are ⌊log₂ s⌋ of
  * a positive size, so 0 ≤ p < 64 always — a partner class outside
  * that range is simply unoccupied):
  *
  *  - `asSmall = true`: for each arm (g, r, b) whose partner class
  *    c+g is occupied, the b entries (ci=c, cj=c+g, i, bandHash_i)
  *    for i in [0, b) — the doc betting it is the SMALLER side.
  *  - `asSmall = false`: for each arm with g > 0 whose partner c−g is
  *    occupied, (ci=c−g, cj=c, i, bandHash_i) — the LARGER side; a
  *    gap-0 arm contributes its small-role rows (ci=cj=c) here
  *    instead, exactly the union shape (gap 0 joins small vs small).
  *
  * Band hashes come from [[BandHashes.compute]] — the ONE definition
  * of the fold, so this emitter is bit-identical per arm to
  * `posexplode(BandHashes(mh, r, b))` by construction (spec-pinned
  * against the union reference). Ineligible arms emit nothing and a
  * document whose every arm is ineligible yields an EMPTY array — an
  * `explode` (not `explode_outer`) downstream drops it, reproducing
  * the union's `cls isin eligible` filters row for row.
  */
case class StratBandEmit(mh: Expression, cls: Expression,
    arms: Seq[(Int, Int, Int)], occupiedMask: Long, asSmall: Boolean)
    extends BinaryExpression {

  require(arms.nonEmpty, "StratBandEmit needs at least one arm")
  require(arms.forall { case (g, r, b) => g >= 0 && r > 0 && b > 0 },
    s"arm geometry out of range: $arms")

  override def left: Expression = mh
  override def right: Expression = cls

  override def checkInputDataTypes(): TypeCheckResult = (mh.dataType, cls.dataType) match {
    case (ArrayType(LongType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<bigint>, int), got (${l.simpleString}, ${r.simpleString})")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("ci", IntegerType, nullable = false),
    StructField("cj", IntegerType, nullable = false),
    StructField("band_idx", IntegerType, nullable = false),
    StructField("band_hash", LongType, nullable = true))), containsNull = false)

  override def prettyName: String = "graft_strat_band_emit"

  // (g, r, b) triples flattened for cheap iteration from generated code
  private lazy val armsFlat: Array[Int] =
    arms.flatMap { case (g, r, b) => Seq(g, r, b) }.toArray

  override def nullSafeEval(mhv: Any, clsv: Any): Any =
    StratBandEmit.compute(mhv.asInstanceOf[ArrayData],
      clsv.asInstanceOf[Int], armsFlat, occupiedMask, asSmall)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val armsRef = ctx.addReferenceObj("arms", armsFlat, "int[]")
    nullSafeCodeGen(ctx, ev, (mhv, clsv) =>
      s"${ev.value} = graft.expressions.StratBandEmit.compute(" +
        s"$mhv, $clsv, $armsRef, ${occupiedMask}L, $asSmall);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): StratBandEmit =
    copy(mh = newLeft, cls = newRight)
}

object StratBandEmit {

  private def occupied(mask: Long, c: Int): Boolean =
    c >= 0 && c < 64 && ((mask >>> c) & 1L) == 1L

  /** Does this (arm, role) emit for a document of class `cls`? What
    * gates emission is the PARTNER class — zero-partner roles emitted
    * tens of GB for empty joins before this filter (measured, round
    * 10; carried over from the union's eligibility sets). A gap-0
    * arm's partner is the document's own class, so its large-role
    * rows (the small-role rows routed to the large side) are gated
    * on `cls` itself, as the union's `cls isin occupied` filter did.
    */
  private def emits(cls: Int, g: Int, mask: Long, asSmall: Boolean): Boolean =
    if (asSmall) occupied(mask, cls + g)
    else occupied(mask, cls - g)

  /** Shared by eval and generated code — one definition of the emit. */
  def compute(mh: ArrayData, cls: Int, arms: Array[Int],
      mask: Long, asSmall: Boolean): ArrayData = {
    var total = 0
    var k = 0
    while (k < arms.length) {
      if (emits(cls, arms(k), mask, asSmall)) total += arms(k + 2)
      k += 3
    }
    val out = new Array[Any](total)
    var o = 0
    k = 0
    while (k < arms.length) {
      val g = arms(k)
      if (emits(cls, g, mask, asSmall)) {
        val r = arms(k + 1)
        val b = arms(k + 2)
        val ci = if (asSmall || g == 0) cls else cls - g
        val cj = if (asSmall) cls + g else cls
        // the ONE band-hash fold definition — bit-identical per arm to
        // posexplode(BandHashes(mh, r, b)) in the union it replaces
        val hashes = BandHashes.compute(mh, r, b)
        var i = 0
        while (i < b) {
          out(o) = new GenericInternalRow(Array[Any](ci, cj, i,
            if (hashes.isNullAt(i)) null else hashes.getLong(i)))
          o += 1
          i += 1
        }
      }
      k += 3
    }
    new GenericArrayData(out)
  }
}
