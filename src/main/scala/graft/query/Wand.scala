package graft.query

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
  *
  * The traversal loops allocate nothing per doc or per round: cursors
  * decode into buffers they own, the heap is two flat arrays, and the
  * cursor order is kept by an insertion sort on the primitive doc id.
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

    // the resident cache already holds each term's blocks in block_id
    // order; only a caller's unsorted list is sorted
    private val blocks =
      if ((1 until blocksIn.length).forall(i => blocksIn(i - 1).block_id <= blocksIn(i).block_id))
        blocksIn
      else blocksIn.sortBy(_.block_id)
    private var bi = 0
    private var pos = -1
    private var n = 0 // decoded entries of block bi
    private var ids: Array[Long] = Array.emptyLongArray // reused across blocks
    private var tfs: Array[Long] = Array.emptyLongArray
    private var blockBound = 0.0
    var curDoc: Long = Long.MaxValue

    if (blocks.nonEmpty) { decodeBlock(0); pos = 0; curDoc = ids(0) }

    private def decodeBlock(i: Int): Unit = {
      val b = blocks(i)
      if (ids.length < b.n) { ids = new Array[Long](b.n); tfs = new Array[Long](b.n) }
      Varbyte.decodeDeltasInto(b.doc_bytes, b.n, ids)
      Varbyte.decodeInto(b.tf_bytes, b.n, tfs)
      n = b.n
      blockBound = idf * Bm25.tfNorm(b.block_max_tf, b.block_min_dl, avgdl)
      bi = i
    }

    def exhausted: Boolean = curDoc == Long.MaxValue
    def curTf: Int = tfs(pos).toInt

    /** Upper bound of this term's score inside the current block. */
    def curBlockBound: Double =
      if (exhausted) 0.0 else blockBound

    def next(): Unit = {
      if (exhausted) return
      pos += 1
      if (pos >= n) {
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
      var hi = n - 1
      if (ids(hi) < target) { curDoc = Long.MaxValue; return } // can't happen: last_doc >= target
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ids(mid) < target) lo = mid + 1 else hi = mid
      }
      pos = lo
      curDoc = ids(pos)
    }
  }

  /** Bounded top-k heap with (score desc, doc_id asc) selection: a
    * binary heap over a score array and a doc array whose root is the
    * current worst, (score asc, doc_id desc) first. Docs must arrive in
    * increasing doc_id, so an equal-score later doc never displaces an
    * earlier one and the kept set is exactly the top k. The arrays grow
    * on demand, so k may be as large as `Int.MaxValue`.
    */
  final class TopK(k: Int) {
    private var scores = new Array[Double](math.max(0, math.min(k, 16)))
    private var docs = new Array[Long](scores.length)
    private var n = 0
    def full: Boolean = n >= k
    def worst: Double = scores(0)
    /** Bound check: can a doc with score upper bound `ub` still enter? */
    def canEnter(ub: Double, minScore: Double): Boolean =
      if (full) n > 0 && ub > worst else ub >= minScore
    def offer(doc: Long, score: Double, minScore: Double): Unit = {
      if (score < minScore) return
      if (!full) {
        if (n == scores.length) {
          val cap = math.min(k.toLong, 2L * n).toInt
          scores = java.util.Arrays.copyOf(scores, cap)
          docs = java.util.Arrays.copyOf(docs, cap)
        }
        n += 1
        siftUp(n - 1, score, doc)
      } else if (n > 0 && score > worst) siftDown(score, doc)
    }

    /** (s1, d1) ranks below (s2, d2): lower score, or equal score and
      * higher doc_id.
      */
    private def below(s1: Double, d1: Long, s2: Double, d2: Long): Boolean =
      s1 < s2 || (s1 == s2 && d1 > d2)

    private def put(i: Int, score: Double, doc: Long): Unit = {
      scores(i) = score
      docs(i) = doc
    }

    private def siftUp(from: Int, score: Double, doc: Long): Unit = {
      var i = from
      while (i > 0 && below(score, doc, scores((i - 1) >>> 1), docs((i - 1) >>> 1))) {
        val p = (i - 1) >>> 1
        put(i, scores(p), docs(p))
        i = p
      }
      put(i, score, doc)
    }

    /** Replace the root with (score, doc) and restore the heap. */
    private def siftDown(score: Double, doc: Long): Unit = {
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        val c = if (l + 1 < n && below(scores(l + 1), docs(l + 1), scores(l), docs(l))) l + 1 else l
        if (c < n && below(scores(c), docs(c), score, doc)) {
          put(i, scores(c), docs(c))
          i = c
        } else done = true
      }
      put(i, score, doc)
    }

    /** The kept docs as (doc_id, score), score desc then doc_id asc.
      * Empties the heap.
      */
    def result(): Array[(Long, Double)] = {
      val out = new Array[(Long, Double)](n)
      while (n > 0) {
        out(n - 1) = (docs(0), scores(0))
        n -= 1
        if (n > 0) siftDown(scores(n), docs(n))
      }
      out
    }
  }

  /** Stable insertion sort of `a` by curDoc: between rounds only the
    * cursors that moved are out of place.
    */
  private def sortByCurDoc(a: Array[TermCursor]): Unit = {
    var i = 1
    while (i < a.length) {
      val c = a(i)
      var j = i - 1
      while (j >= 0 && a(j).curDoc > c.curDoc) { a(j + 1) = a(j); j -= 1 }
      a(j + 1) = c
      i += 1
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
    if (k > 0) disjunctive(cursors, dl, avgdl, topk, minScore)
    topk.result()
  }

  /** [[topKDisjunctive]] into `topk`, which may already hold docs of
    * lower doc_id (earlier shards): its k-th best prunes from the start.
    */
  private[query] def disjunctive(
      cursors: Array[TermCursor],
      dl: Long => Int,
      avgdl: Double,
      topk: TopK,
      minScore: Double): Unit = {
    if (cursors.isEmpty) return
    val order = cursors.clone() // sorted by curDoc each round
    var running = true
    while (running) {
      sortByCurDoc(order)
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
    if (k > 0) conjunctive(cursors, dl, avgdl, topk, minScore)
    topk.result()
  }

  /** The largest curDoc of `cursors`, Long.MaxValue if one is exhausted. */
  private def maxCurDoc(cursors: Array[TermCursor]): Long = {
    var max = Long.MinValue
    var i = 0
    while (i < cursors.length) { max = math.max(max, cursors(i).curDoc); i += 1 }
    max
  }

  /** [[topKConjunctive]] into `topk`, as [[disjunctive]]. */
  private[query] def conjunctive(
      cursors: Array[TermCursor],
      dl: Long => Int,
      avgdl: Double,
      topk: TopK,
      minScore: Double): Unit = {
    var candidate = maxCurDoc(cursors)
    // an exhausted cursor sits on Long.MaxValue: nothing intersects
    var running = cursors.nonEmpty && candidate != Long.MaxValue
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
        var m = 0
        while (m < cursors.length) { cursors(m).next(); m += 1 }
        candidate = maxCurDoc(cursors)
        if (candidate == Long.MaxValue) running = false
      } else {
        candidate = maxDoc
      }
    }
  }
}
