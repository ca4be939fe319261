package graft.query

import scala.collection.mutable

import graft.index.SegmentIO.PostingBlock
import graft.index.Varbyte

/** Shard-local BM25 top-k over compressed posting lists: conjunctive
  * intersection and disjunctive block-max WAND (north rule: "BM25
  * top-k with posting-list intersection and block-max WAND pruning").
  *
  * Plays the role of the reference's exhaustive scorer
  * (`src/vector_index.py:115-147`) but with sub-linear pruning:
  * blocks whose score upper bounds cannot beat the running k-th best
  * are skipped without decoding.
  *
  * Determinism (SURVEY §7.5): a doc's score is the sum of per-term
  * contributions in LEXICOGRAPHIC term order, ties broken
  * (score desc, doc_id asc) — identical to [[LocalOracle]].
  */
object Wand {

  /** Cursor over one term's posting blocks (within one shard).
    * Skips whole blocks via (first_doc, last_doc) without decoding.
    *
    * Block score bounds derive from the stored avgdl-independent
    * (block_max_tf, block_min_dl) pair at cursor time:
    * idf * tfNorm(max_tf, min_dl, avgdl) dominates every member doc's
    * contribution (tfNorm is monotone in both arguments), so WAND
    * pruning stays safe under any corpus statistics — including after
    * incremental appends shift avgdl.
    */
  final class TermCursor(
      val term: String,
      val idf: Double,
      val maxScore: Double, // idf * tfNorm(dict max_tf, dict min_dl)
      blocksIn: Array[PostingBlock],
      avgdl: Double) {

    private val blocks = blocksIn.sortBy(_.block_id)
    private var bi = 0
    private var pos = -1
    private var ids: Array[Long] = null
    private var tfs: Array[Int] = null
    private var blockBound = 0.0
    var curDoc: Long = Long.MaxValue

    if (blocks.nonEmpty) { decodeBlock(0); pos = 0; curDoc = ids(0) }

    private def decodeBlock(i: Int): Unit = {
      val b = blocks(i)
      ids = Varbyte.decodeDeltas(b.doc_bytes, b.n)
      tfs = Varbyte.decodeInts(b.tf_bytes, b.n)
      blockBound = idf * Bm25.tfNorm(b.block_max_tf, b.block_min_dl, avgdl)
      bi = i
    }

    def exhausted: Boolean = curDoc == Long.MaxValue
    def curTf: Int = tfs(pos)

    /** Upper bound of this term's score inside the current block. */
    def curBlockBound: Double =
      if (exhausted) 0.0 else blockBound

    def next(): Unit = {
      if (exhausted) return
      pos += 1
      if (pos >= ids.length) {
        if (bi + 1 < blocks.length) { decodeBlock(bi + 1); pos = 0 }
        else { curDoc = Long.MaxValue; return }
      }
      curDoc = ids(pos)
    }

    /** Advance to the first doc >= target. Blocks are skipped via
      * last_doc metadata (no decode), then binary search in-block.
      */
    def advanceTo(target: Long): Unit = {
      if (exhausted || curDoc >= target) return
      if (blocks(bi).last_doc < target) {
        var j = bi + 1
        while (j < blocks.length && blocks(j).last_doc < target) j += 1
        if (j >= blocks.length) { curDoc = Long.MaxValue; return }
        decodeBlock(j)
        pos = 0
      }
      // binary search for first id >= target in [pos, n)
      var lo = pos
      var hi = ids.length - 1
      if (ids(hi) < target) { curDoc = Long.MaxValue; return } // can't happen: last_doc >= target
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ids(mid) < target) lo = mid + 1 else hi = mid
      }
      pos = lo
      curDoc = ids(pos)
    }
  }

  /** Bounded top-k heap with (score desc, doc_id asc) selection.
    * Docs arrive in increasing doc_id, so an equal-score later doc
    * never displaces an earlier one.
    */
  final class TopK(k: Int) {
    private val heap = new mutable.PriorityQueue[(Double, Long)]()(
      // min-heap on (score asc, doc_id desc): head = current worst
      Ordering.by[(Double, Long), (Double, Long)] { case (s, d) => (-s, d) })
    def size: Int = heap.size
    def full: Boolean = heap.size >= k
    def worst: Double = heap.head._1
    /** Bound check: can a doc with score upper bound `ub` still enter? */
    def canEnter(ub: Double, minScore: Double): Boolean =
      if (full) ub > worst else ub >= minScore
    def offer(doc: Long, score: Double, minScore: Double): Unit = {
      if (score < minScore) return
      if (!full) heap.enqueue((score, doc))
      else if (score > worst) { heap.dequeue(); heap.enqueue((score, doc)) }
    }
    def result(): Array[(Long, Double)] = {
      val arr: Array[(Double, Long)] = heap.dequeueAll.toArray
      arr.map(p => (p._2, p._1)).sortBy(p => (-p._2, p._1))
    }
  }

  /** Disjunctive block-max WAND top-k over one shard.
    *
    * @param cursors lexicographically term-sorted cursors
    * @param dl doc-length lookup (global doc_id -> dl)
    */
  def topKDisjunctive(
      cursors: Array[TermCursor],
      dl: Long => Int,
      avgdl: Double,
      k: Int,
      minScore: Double): Array[(Long, Double)] = {
    val topk = new TopK(k)
    if (cursors.isEmpty || k <= 0) return topk.result()
    val order = cursors.clone() // sorted by curDoc each round
    var running = true
    while (running) {
      java.util.Arrays.sort(order, Ordering.by[TermCursor, Long](_.curDoc))
      if (order(0).exhausted) { running = false }
      else {
        // pivot: first prefix whose maxScore sum could still enter
        var acc = 0.0
        var p = 0
        var found = -1
        while (p < order.length && found < 0) {
          if (!order(p).exhausted) {
            acc += order(p).maxScore
            if (topk.canEnter(acc, minScore)) found = p
          }
          p += 1
        }
        if (found < 0) running = false
        else {
          val pivotDoc = order(found).curDoc
          if (pivotDoc == Long.MaxValue) running = false
          else if (order(0).curDoc == pivotDoc) {
            // every cursor sitting on pivotDoc can contribute — the
            // block-max bound must cover ALL of them, not just the
            // pivot prefix (equal curDocs can extend past `found`)
            var ub2 = 0.0
            var i = 0
            while (i < order.length && order(i).curDoc == pivotDoc) {
              ub2 += order(i).curBlockBound
              i += 1
            }
            val atPivot = i // order(0..atPivot) sit on pivotDoc
            if (topk.canEnter(ub2, minScore)) {
              // full evaluation in lexicographic term order
              val d = dl(pivotDoc)
              var score = 0.0
              var j = 0
              while (j < cursors.length) {
                val c = cursors(j)
                if (c.curDoc == pivotDoc)
                  score += c.idf * Bm25.tfNorm(c.curTf, d, avgdl)
                j += 1
              }
              topk.offer(pivotDoc, score, minScore)
            }
            // move every cursor off pivotDoc
            var m = 0
            while (m < atPivot) { order(m).next(); m += 1 }
          } else {
            // advance the laggard(s) up to the pivot
            var m = 0
            while (m < found && order(m).curDoc < pivotDoc) {
              order(m).advanceTo(pivotDoc)
              m += 1
            }
          }
        }
      }
    }
    topk.result()
  }

  /** Conjunctive (AND) posting-list intersection with galloping
    * advance — default BM25 mode per SURVEY §2.4 Q4.
    */
  def topKConjunctive(
      cursors: Array[TermCursor],
      dl: Long => Int,
      avgdl: Double,
      k: Int,
      minScore: Double): Array[(Long, Double)] = {
    val topk = new TopK(k)
    if (cursors.isEmpty || k <= 0 || cursors.exists(_.exhausted)) return topk.result()
    var candidate = cursors.map(_.curDoc).max
    var running = true
    while (running) {
      var aligned = true
      var i = 0
      var maxDoc = candidate
      while (i < cursors.length) {
        cursors(i).advanceTo(candidate)
        if (cursors(i).exhausted) { running = false; aligned = false }
        else if (cursors(i).curDoc != candidate) {
          aligned = false
          if (cursors(i).curDoc > maxDoc) maxDoc = cursors(i).curDoc
        }
        i += 1
      }
      if (!running) ()
      else if (aligned) {
        val d = dl(candidate)
        var score = 0.0
        var j = 0
        while (j < cursors.length) {
          score += cursors(j).idf * Bm25.tfNorm(cursors(j).curTf, d, avgdl)
          j += 1
        }
        topk.offer(candidate, score, minScore)
        cursors.foreach(_.next())
        if (cursors.exists(_.exhausted)) running = false
        else candidate = cursors.map(_.curDoc).max
      } else {
        candidate = maxDoc
      }
    }
    topk.result()
  }
}
