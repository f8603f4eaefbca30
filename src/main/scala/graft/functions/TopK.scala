package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Bounded per-group top-k as a custom typed [[Aggregator]]: each
  * map-side partial keeps only k candidates, so a grouped top-k never
  * sorts a whole group — the at-scale alternative to a rank() window
  * (which shuffles and sorts every row of every group).
  *
  * Deterministic ordering: score descending, id ascending on ties —
  * mirrored by the oracle's `ORDER BY total DESC, id`.
  */
object TopK {

  case class Scored(id: Long, score: Double)
  case class TopBuf(items: Seq[Scored])

  class TopKAggregator(k: Int) extends Aggregator[Scored, TopBuf, Seq[Scored]] {
    /** Strict weak ordering even with NaN scores (NaN ranks last,
      * ties broken by id) — a plain `a.score > b.score` comparator is
      * intransitive around NaN and can throw TimSort's contract
      * exception mid-job.
      */
    private def better(a: Scored, b: Scored): Boolean = {
      val an = a.score.isNaN
      val bn = b.score.isNaN
      if (an != bn) bn
      else if (!an && a.score != b.score) a.score > b.score
      else a.id < b.id
    }
    private def trim(s: Seq[Scored]): Seq[Scored] = s.sortWith(better).take(k)
    /** Splice `a` into the already-better-sorted buffer: binary
      * search for the slot, one O(k) patch — `reduce` fires per input
      * row, so a full O(k log k) re-sort there was pure waste (the
      * buffer never leaves sorted order between rows).
      */
    private def insert(s: Seq[Scored], a: Scored): Seq[Scored] = {
      val v = s.toIndexedSeq
      var lo = 0; var hi = v.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (better(v(mid), a)) lo = mid + 1 else hi = mid
      }
      v.patch(lo, Seq(a), 0)
    }

    override def zero: TopBuf = TopBuf(Nil)
    // hot path: rows that can't beat the current kth entry skip all
    // sorting/allocation — the common case once the buffer is full
    override def reduce(b: TopBuf, a: Scored): TopBuf =
      if (b.items.size < k) TopBuf(insert(b.items, a))
      else if (better(a, b.items.last)) TopBuf(insert(b.items.init, a))
      else b
    override def merge(x: TopBuf, y: TopBuf): TopBuf = TopBuf(trim(x.items ++ y.items))
    override def finish(r: TopBuf): Seq[Scored] = trim(r.items)
    override def bufferEncoder: Encoder[TopBuf] = Encoders.product[TopBuf]
    override def outputEncoder: Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
  }
}
