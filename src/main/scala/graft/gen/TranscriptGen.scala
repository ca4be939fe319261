package graft.gen

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.Turn
import graft.tokenize.Tokenizer

/** Deterministic transcript-corpus synthesizer (FIXTURES.md §1).
  *
  * Every value is a pure function of (seed, conv, turnIdx, position):
  * generation is partition-count independent, so `local[8]` and
  * `local[32]` runs (and any executor layout) see byte-identical
  * corpora — a precondition for the N-vs-4N rank-identity check.
  *
  * Knobs mirror the reference's corpus behavior: Zipf(s=1.07) term
  * frequencies give genuinely hot terms (the analog of the
  * hot-partition re-split in reference `src/pubmed_downloader.py:112-163`,
  * exercising the per-shard split of hot posting groups), stop-word
  * filler exercises the tokenizer's stop list, and a planted needle
  * set replicates the known-relevant-document fixture
  * (`diagnose_semantic_search.py:18-21`).
  */
object TranscriptGen {

  val VocabSize = 5000
  val ZipfS = 1.07
  val NumNeedles = 20
  val BaseEpochMs = 1767225600000L // 2026-01-01T00:00:00Z

  def termOf(i: Int): String = f"t$i%05d"

  /** Normalized Zipf CDF over the vocabulary (driver-computed once,
    * closed over by executors — 40 KB).
    */
  lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(i => 1.0 / math.pow(i + 1.0, ZipfS))
    val total = w.sum
    val cdf = new Array[Double](VocabSize)
    var acc = 0.0
    var i = 0
    while (i < VocabSize) { acc += w(i) / total; cdf(i) = acc; i += 1 }
    cdf(VocabSize - 1) = 1.0
    cdf
  }

  private val fillers: Array[String] = Tokenizer.StopWordsSorted

  // -- splittable counter-based PRNG (splitmix64 finalizer) --
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def h(seed: Long, a: Long, b: Long, c: Long, d: Long): Long =
    mix64(mix64(mix64(mix64(mix64(seed) ^ a) ^ b) ^ c) ^ d)

  def u01(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53).toDouble)

  def nonNeg(x: Long): Long = x & Long.MaxValue

  // -- corpus shape --
  def turnsPerConv(seed: Long, conv: Long): Int =
    3 + (nonNeg(h(seed, conv, 1, 0, 0)) % 23).toInt // 3..25

  def turnLen(seed: Long, conv: Long, turn: Int): Int =
    5 + (nonNeg(h(seed, conv, 2, turn, 0)) % 116).toInt // 5..120

  def zipfTerm(u: Double): String = {
    var lo = 0
    var hi = VocabSize - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (zipfCdf(mid) < u) lo = mid + 1 else hi = mid
    }
    termOf(lo)
  }

  def tokenAt(seed: Long, conv: Long, turn: Int, k: Int): String = {
    val hv = h(seed, conv, 3, turn, k)
    val u = u01(hv)
    if (u < 0.18) fillers((nonNeg(hv >>> 17) % fillers.length).toInt)
    else zipfTerm((u - 0.18) / 0.82)
  }

  /** Needle terms planted in turn 0 of convs 0..NumNeedles-1: unique
    * rare terms with controlled overlap (needleN + a shared tail).
    */
  def needleSuffix(conv: Long): String =
    if (conv < NumNeedles) s" needle${conv}alpha needle${conv}beta needleshared"
    else ""

  def text(seed: Long, conv: Long, turn: Int): String = {
    val n = turnLen(seed, conv, turn)
    val sb = new StringBuilder(n * 7)
    var k = 0
    while (k < n) {
      if (k > 0) sb.append(' ')
      sb.append(tokenAt(seed, conv, turn, k))
      k += 1
    }
    if (turn == 0) sb.append(needleSuffix(conv))
    sb.toString
  }

  private val roles = Array("user", "assistant", "system", "tool")
  private val tools = Array("bash", "read", "write", "grep", "web")

  def roleOf(seed: Long, conv: Long, turn: Int): String =
    if (turn == 0) "user"
    else {
      val r = nonNeg(h(seed, conv, 4, turn, 0)) % 10
      if (r == 0) "system" else if (r <= 2) "tool"
      else if (r % 2 == 0) "assistant" else "user"
    }

  def toolOf(seed: Long, conv: Long, turn: Int): String = {
    val role = roleOf(seed, conv, turn)
    val hv = nonNeg(h(seed, conv, 5, turn, 0))
    if (role == "tool") tools((hv % tools.length).toInt)
    else if (hv % 8 == 0) tools(((hv >>> 13) % tools.length).toInt)
    else ""
  }

  def tsOf(conv: Long, turn: Int): Timestamp =
    new Timestamp(BaseEpochMs + conv * 3600000L + turn * 60000L)

  def convId(conv: Long): String = f"c$conv%08d"

  def turnRow(seed: Long, conv: Long, turn: Int): Turn =
    Turn(convId(conv), turn, roleOf(seed, conv, turn),
      text(seed, conv, turn), toolOf(seed, conv, turn), tsOf(conv, turn))

  /** Distributed corpus: one task row per conversation, expanded to
    * turns — pure per-conv function, so any partitioning yields the
    * same rows.
    */
  def corpus(spark: SparkSession, nConvs: Long, seed: Long = 42L): Dataset[Turn] = {
    import spark.implicits._
    spark.range(nConvs).flatMap { conv =>
      val n = turnsPerConv(seed, conv)
      (0 until n).map(t => turnRow(seed, conv, t))
    }
  }

  /** Driver-local corpus for the single-threaded oracle and unit tests. */
  def localCorpus(nConvs: Long, seed: Long = 42L): IndexedSeq[Turn] =
    (0L until nConvs).flatMap { conv =>
      (0 until turnsPerConv(seed, conv)).map(t => turnRow(seed, conv, t))
    }
}
