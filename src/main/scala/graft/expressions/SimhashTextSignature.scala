package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types.{DataType, LongType, StringType}

/** Per-row 64-bit SimHash: text → signature as ONE codegen'd
  * expression — the [[MinhashTextSignature]] move applied to SimHash.
  * A signature is a per-document value and the bit votes are a plain
  * sum over the document's own words, so nothing about the
  * computation needs to leave the row: no word explode, no aggregate,
  * NO SHUFFLE — the signature table computes inside the parquet scan
  * stage, which is the 100 TB shape (round 8).
  *
  * Exactness contract, bit-for-bit with the declarative reference
  * `Dedup.simhashSignaturesDeclarative` (word explode + 64
  * conditional sums; spec-checked): tokens are the elements of
  * `split(text, ' ')` with Spark's limit −1 semantics — consecutive
  * separators yield empty tokens, a trailing separator yields a
  * trailing empty token, and the empty string yields one empty
  * token — and each token hashes as
  * [[RollingFingerprint]] of the salted `"xq" + token` (the salt fold
  * is precomputed; segment code points fold on top of it without
  * materializing per-token strings). Votes are
  * `Σ ((h >> j) & 1) * 2 − 1` per bit, packed as sign > 0.
  */
case class SimhashTextSignature(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_simhash_text"

  override def nullSafeEval(a: Any): Any =
    SimhashTextSignature.compute(a.asInstanceOf[UTF8String].toString)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.expressions.SimhashTextSignature.compute($v.toString());")

  override protected def withNewChildInternal(newChild: Expression): SimhashTextSignature =
    copy(child = newChild)
}

object SimhashTextSignature {
  private final val Mul = 1000003L
  private final val P1 = 2147483647L // 2^31 - 1
  private final val P2 = 2147483629L

  // the rolling-fingerprint fold state after the fixed "xq" salt
  // prefix — both accumulators, precomputed once ('x' then 'q';
  // 120·1000003 + 113 < 2^31, so neither modulus engages)
  private final val SaltH1 = Math.floorMod(
    Math.floorMod('x'.toLong, P1) * Mul + 'q'.toLong, P1)
  private final val SaltH2 = Math.floorMod(
    Math.floorMod('x'.toLong, P2) * Mul + 'q'.toLong, P2)

  /** Shared by eval and generated code so there is exactly one
    * definition of the tokenize-hash-vote-pack pipeline.
    */
  def compute(s: String): Long = {
    val votes = new Array[Long](64)
    val n = s.length
    var segStart = 0
    var i = 0
    // i == n closes the final token (split limit −1 keeps it even
    // when empty); ' ' is a BMP char, so it can never appear inside
    // a surrogate pair and the char-wise separator scan is safe
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        var h1 = SaltH1
        var h2 = SaltH2
        var j = segStart
        while (j < i) {
          val cp = s.codePointAt(j)
          h1 = Math.floorMod(h1 * Mul + cp, P1)
          h2 = Math.floorMod(h2 * Mul + cp, P2)
          j += Character.charCount(cp)
        }
        val h = h1 * 4294967296L + h2
        var k = 0
        while (k < 64) {
          votes(k) += ((h >>> k) & 1L) * 2L - 1L
          k += 1
        }
        segStart = i + 1
      }
      i += 1
    }
    var sig = 0L
    var k = 0
    while (k < 64) {
      if (votes(k) > 0) sig |= 1L << k
      k += 1
    }
    sig
  }
}
