package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The whole 128-permutation MinHash signature of a document from its
  * raw text in ONE per-row codegen'd pass — the shuffle-free
  * formulation of `Dedup.minhashSignatures`.
  *
  * The declarative reference (`Dedup.minhashSignaturesDeclarative`:
  * shingle explode → `shiftright(h, 32)` → 128 `min(pmod(a·h + b, p))`
  * columns keyed on doc_id) materializes every (doc, shingle) row and
  * pays an aggregate plus one exchange. But a MinHash signature is a
  * PER-DOCUMENT value: `min` is insensitive to duplicate inputs, so
  * the distinct-shingle step is unnecessary, and nothing about the
  * computation needs to leave the row. This expression runs the same
  * text scan as [[ShingleFingerprints]] (split-on-' ' word
  * boundaries, 3-gram code-point folds), keeps only the P1 half of
  * the dual-prime fingerprint (exactly `shiftright(h, 32)`), and
  * folds each shingle hash through all 128 universal-hash
  * permutations into a local `long[128]` min buffer.
  *
  * Exactness contract: bit-identical to the declarative reference for
  * every document with ≥ 3 words (spec-checked against it); documents
  * too short to shingle, and NULL text, yield NULL — their absence
  * from the reference's grouped table — so callers filter
  * `IS NOT NULL` to reproduce its row set exactly.
  */
case class MinhashTextSignature(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.simpleString}")
  }

  // element type matches the declarative reference's array of min columns
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullable: Boolean = true

  override def prettyName: String = "graft_minhash_text"

  override def nullSafeEval(a: Any): Any =
    MinhashTextSignature.compute(a.asInstanceOf[UTF8String].toString)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => s"""
      |${ev.value} = graft.expressions.MinhashTextSignature.compute($v.toString());
      |${ev.isNull} = (${ev.value} == null);
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinhashTextSignature =
    copy(child = newChild)
}

object MinhashTextSignature {
  val NumPerms = 128
  val Prime = 2147483647L // 2^31 - 1 — the permutation modulus

  /** The (aᵢ, bᵢ) universal-hash permutation constants, generated once
    * from a fixed seed (java.util.Random's LCG is specified, so every
    * JVM derives the same family). Shared with the declarative
    * reference in [[graft.operators.Dedup]], the live gate and the SQL
    * surface — ONE definition of the family.
    */
  val (permA, permB): (IndexedSeq[Long], IndexedSeq[Long]) = {
    val rnd = new scala.util.Random(42)
    val pairs = IndexedSeq.fill(NumPerms)(
      (rnd.nextInt(Int.MaxValue - 1).toLong + 1, rnd.nextInt(Int.MaxValue).toLong))
    (pairs.map(_._1), pairs.map(_._2))
  }
  // array views for the per-row fold below
  private val permAArr: Array[Long] = permA.toArray
  private val permBArr: Array[Long] = permB.toArray

  private final val Mul = 1000003L
  private final val P1 = 2147483647L // 2^31 - 1 — the shingle hash prime
  private final val Space = ' '.toInt

  /** Shared by eval and generated code — one definition of the scan.
    * Returns null for texts with fewer than three words (no shingle —
    * the document is absent from the declarative reference's table).
    */
  def compute(s: String): ArrayData = {
    val n = s.length
    var words = 1
    var i = 0
    while (i < n) { if (s.charAt(i) == ' ') words += 1; i += 1 }
    if (words < 3) return null
    val starts = new Array[Int](words)
    val ends = new Array[Int](words)
    var w = 0
    starts(0) = 0
    i = 0
    while (i < n) {
      if (s.charAt(i) == ' ') { ends(w) = i; w += 1; starts(w) = i + 1 }
      i += 1
    }
    ends(w) = n
    val pa = permAArr
    val pb = permBArr
    val prime = Prime
    val mins = new Array[Long](NumPerms)
    java.util.Arrays.fill(mins, prime)
    var g = 0
    while (g < words - 2) {
      // the P1 rolling fold over (token, space, token, space, token) —
      // the top half of ShingleFingerprints' dual-prime fingerprint,
      // i.e. exactly shiftright(fingerprint, 32)
      var h = 0L
      var t = 0
      while (t < 3) {
        if (t > 0) h = Math.floorMod(h * Mul + Space, P1)
        var j = starts(g + t)
        val until = ends(g + t)
        while (j < until) {
          val cp = s.codePointAt(j)
          h = Math.floorMod(h * Mul + cp, P1)
          j += Character.charCount(cp)
        }
        t += 1
      }
      // h < 2^31 and a < 2^31, so a*h + b < 2^63 — exact, no overflow
      var k = 0
      while (k < mins.length) {
        val x = Math.floorMod(pa(k) * h + pb(k), prime)
        if (x < mins(k)) mins(k) = x
        k += 1
      }
      g += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }
}
