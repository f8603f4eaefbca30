package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Keeps one-value options from growing back: every default-valued
  * parameter (any type) of a `def` or `class` in the scanned files
  * must be on [[OptionRatchetSpec.Keepers]], which says why it stays
  * open. A threshold the operators, their stream twins and the
  * DuckDB oracles share belongs in a named constant instead.
  */
class OptionRatchetSpec extends AnyFunSuite {
  import OptionRatchetSpec._

  test("scanned files hold no default-valued parameter off the keeper list") {
    val found = Scanned.flatMap { file =>
      val obj = Paths.get(file).getFileName.toString.stripSuffix(".scala")
      defaultParams(new String(Files.readAllBytes(Paths.get(file)), "UTF-8"))
        .map { case (member, param) => s"$obj.$member.$param" }
    }
    val unlisted = found.filterNot(Keepers.contains)
    assert(unlisted.isEmpty, unlisted.mkString(
      "default-valued parameters off the keeper list (make them constants, " +
        "or list them with the reason they stay open):\n", "\n", ""))
    val stale = Keepers.keySet.toSeq.filterNot(found.contains).sorted
    assert(stale.isEmpty, stale.mkString("keepers that no longer exist:\n", "\n", ""))
  }

  test("the scanner sees defaults of every type and skips comments and strings") {
    val src =
      """object O {
        |  // def commented(a: Int = 1)
        |  /** def documented(b: Int = 2) */
        |  val s = "def quoted(c: Int = 3)"
        |  def f[T](x: Int, y: String = "a,b", z: Option[(String, String)] = None)(
        |      implicit w: Boolean = true, g: Int => Int = (_: Int) + 1): Int = x
        |  final case class C(n: Long = 5L, m: Seq[Int] = Seq(1, 2))
        |  def h(p: Int): Int = p
        |}""".stripMargin
    assert(defaultParams(src) ==
      Seq("f" -> "y", "f" -> "z", "f" -> "w", "f" -> "g", "C" -> "n", "C" -> "m"))
  }
}

object OptionRatchetSpec {
  val Scanned = Seq(
    "src/main/scala/graft/operators/Dedup.scala",
    "src/main/scala/graft/operators/Similarity.scala",
    "src/main/scala/graft/streaming/DocPipelineJobs.scala")

  /** `Object.member.param` → why the parameter stays open. */
  val Keepers: Map[String, String] = Map(
    "Dedup.embedNearDup.tau" ->
      ("dd_embed_neardup runs at EmbedNearDupTau; dd_embed_neardup_t30 passes 0.3 " +
        "so the pipeline has an oracle row with pairs in it"),
    "Dedup.containmentStratified.candBudgetPerDoc" ->
      ("dd_containment_strat_budget passes 16 to certify the gap-1 arm the default " +
        "budget drops at density"),
    "Similarity.hybridRrf.queries" ->
      "the BM25 arm's query set: the RRF specs plant single-term queries",
    "DocPipelineJobs.chunkStream.chunkTokens" ->
      "twin of Sampling.chunkSequences, whose window shapes PropertySpec sweeps",
    "DocPipelineJobs.chunkStream.overlap" ->
      "twin of Sampling.chunkSequences, whose window shapes PropertySpec sweeps",
    "DocPipelineJobs.budgetGateStream.budget" ->
      "twin of Sampling.tokenBudgetSelect, whose budgets PropertySpec sweeps",
    "DocPipelineJobs.budgetGateStream.nShards" ->
      "twin of Sampling.tokenBudgetSelect, whose budgets PropertySpec sweeps",
    "DocPipelineJobs.dedupCleanStream.dedupTtl" ->
      ("the dedup state's watermark: None keeps every hash, Some bounds state by " +
        "event time (the state-eviction work decides its shipped value)"))

  /** Blanks comments and the contents of string literals, keeping
    * every other character in place.
    */
  private def code(src: String): String = {
    val out = new StringBuilder(src)
    def blank(a: Int, b: Int): Unit =
      (a until math.min(b, src.length)).foreach(k => if (src(k) != '\n') out(k) = ' ')
    var i = 0
    while (i < src.length) {
      if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i); val e = if (j < 0) src.length else j
        blank(i, e); i = e
      } else if (src.startsWith("/*", i)) {
        val j = src.indexOf("*/", i + 2); val e = if (j < 0) src.length else j + 2
        blank(i, e); i = e
      } else if (src.startsWith("\"\"\"", i)) {
        val j = src.indexOf("\"\"\"", i + 3); val e = if (j < 0) src.length else j
        blank(i + 3, e); i = e + 3
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        blank(i + 1, j); i = j + 1
      } else i += 1
    }
    out.toString
  }

  /** The text between the bracket at `open` and its partner, and the
    * index just past the partner.
    */
  private def group(s: String, open: Int): (String, Int) = {
    var depth = 0; var i = open
    do {
      s(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case _ =>
      }
      i += 1
    } while (depth > 0 && i < s.length)
    (s.substring(open + 1, i - 1), i)
  }

  /** Splits at commas outside any bracket. */
  private def topLevel(s: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    var depth = 0; var from = 0
    s.indices.foreach { i =>
      s(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case ',' if depth == 0 => parts += s.substring(from, i); from = i + 1
        case _ =>
      }
    }
    (parts += s.substring(from)).result()
  }

  /** Whether a parameter has a default: an `=` outside brackets that is
    * not part of `=>`, `==`, `<=`, `>=` or `!=`.
    */
  private def hasDefault(param: String): Boolean = {
    var depth = 0
    param.indices.exists { i =>
      param(i) match {
        case '(' | '[' | '{' => depth += 1; false
        case ')' | ']' | '}' => depth -= 1; false
        case '=' => depth == 0 &&
          !param.lift(i + 1).exists(c => c == '>' || c == '=') &&
          !param.lift(i - 1).exists(c => "<>!=".contains(c))
        case _ => false
      }
    }
  }

  /** (member, parameter) for every default-valued parameter of a
    * `def` or `class` in `src`, in source order.
    */
  def defaultParams(src: String): Seq[(String, String)] = {
    val c = code(src)
    """\b(?:def|class)\s+([A-Za-z_][A-Za-z0-9_]*)""".r.findAllMatchIn(c).toSeq.flatMap { m =>
      var i = m.end
      def skipSpace(): Unit = while (i < c.length && c(i).isWhitespace) i += 1
      skipSpace()
      if (i < c.length && c(i) == '[') { i = group(c, i)._2; skipSpace() }
      val params = Seq.newBuilder[String]
      while (i < c.length && c(i) == '(') {
        val (body, next) = group(c, i)
        params ++= topLevel(body).filter(hasDefault)
        i = next; skipSpace()
      }
      params.result().map { p =>
        val name = p.takeWhile(_ != ':').trim.split("\\s+").last
        m.group(1) -> name
      }
    }
  }
}
