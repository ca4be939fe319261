package graft.api

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport, DateTimeUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.unsafe.types.UTF8String

import graft.index.SegmentIO
import graft.index.SegmentIO.IndexedTurn
import graft.model._
import graft.query.{Rerank, ShardSearch}
import graft.tokenize.Tokenizer

/** Query-side facade mirroring the reference's
  * `SemanticSearchEngine.search` lifecycle (`src/search_engine.py:141-360`;
  * SURVEY §3.1):
  *
  *   parse → dictionary lookup (the resident dictionary) → routed
  *   per-shard block-max WAND / posting intersection → top-k' merge →
  *   doc-store fetch of the hit set (the resident doc-store rows) →
  *   residual filters (ts range / role / tool,
  *   applied post-retrieval with 5x over-fetch exactly like the
  *   reference, `src/search_engine.py:198-212,247-289`) → proximity
  *   rerank → truncate k → 4-dp score rounding (`:281`) → keyword
  *   boost/penalize rescoring (`:362-461`) → match statistics
  *   (`:324-339`).
  *
  * A search runs ONE Spark job: the routed fan-out, a pre-planned
  * `runJob` of at most `defaultParallelism` tasks that visit exactly
  * the routed shards, each running the [[graft.query.ShardSearch]]
  * kernel over its executor's generation-keyed resident copy of its
  * shards; the driver merges the per-task top-k lists (see [[fanOut]]).
  * The snapshot, plan, kernel and merge are the ones
  * [[graft.query.LocalIndex]] runs in process. Everything around it is
  * bounded (at most MaxTopK candidates), so, as in the reference, it
  * runs in process: the dictionary and the doc-store rows come from
  * `SegmentIO`'s resident cache ([[SegmentIO.residentDict]],
  * [[SegmentIO.residentDocs]]), filled on first use and kept across
  * queries like the reference's in-RAM index and id map
  * (`src/search_engine.py:48-70`), so a warm search reads no file; and
  * filters, rerank, rounding and boost are plain Scala with the
  * semantics of the equivalent Spark column expressions (null fields,
  * `lower`, `round`, `pow`, sort order) — a planned query per search
  * would cost more than all of this work for ≤ MaxTopK rows.
  */
class SearchEngine(spark: SparkSession, indexDir: String) {
  import spark.implicits._
  import ShardSearch.Snapshot

  val MaxTopK = 10000 // reference MAX_TOP_K, config/config.py:271
  val OverFetchFactor = 5 // reference search_k = top_k * 5

  private def snapshot(): Snapshot = ShardSearch.snapshot(indexDir)
  def stats: SegmentIO.IndexStats = snapshot().stats

  /** The shard set a query fans out to: exactly the shards
    * [[retrieve]]'s tasks visit, packed into at most
    * `defaultParallelism` tasks ([[fanOut]]). Exposed for routing
    * tests (SearchPathSpec's fan-out test checks rare-vs-dense routing
    * at a shard count above the core count with it).
    */
  def routedShards(queryText: String, conjunctive: Boolean = false): Array[Int] =
    ShardSearch.plan(snapshot(), queryText, 0, 0.0, conjunctive).fold(Array.empty[Int])(_._2)

  /** Retrieval core: BM25 top-k as (doc_id, score) — exact scores,
    * no rounding (rounding is an output-boundary contract only) —
    * ordered (score desc, doc_id asc). Schema: `doc_id` bigint and
    * `score` double, both non-null.
    *
    * The search job runs when this is called, not at the DataFrame's
    * first action: the result is a local relation over the collected
    * hits, so acting on it runs no further job.
    */
  def retrieve(
      queryText: String,
      k: Int,
      minScore: Double = 0.0,
      conjunctive: Boolean = false): DataFrame =
    topHits(snapshot(), queryText, k, minScore, conjunctive).toSeq.toDF("doc_id", "score")

  /** Round half-up to 4 dp — the output contract of the reference
    * result row (`src/search_engine.py:281`), as Spark's `round()`
    * does it ([[SearchEngine.roundHalfUp]]).
    */
  def round4(x: Double): Double = SearchEngine.roundHalfUp(x, 4)

  /** BM25 top-k as (doc_id, exact score): the merge
    * ([[ShardSearch.merge]]) of the search's one Spark job, [[fanOut]].
    */
  private def topHits(s: Snapshot, queryText: String, k: Int, minScore: Double,
      conjunctive: Boolean): Array[(Long, Double)] = {
    val kk = math.min(k, MaxTopK)
    ShardSearch.merge(fanOut(queryText, kk, minScore, conjunctive, s).map(_._2), kk)
  }

  /** The search's one Spark job: one `(shards visited, top-k)` per
    * task, in partition order, so the shards concatenate to `routed`.
    *
    * Shard fan-out with NO scan stage and NO shuffle: the routed shards
    * are packed into `P = min(routed, defaultParallelism)` tasks, each
    * a contiguous ascending slice of `routed`, and a task runs
    * [[ShardSearch.Task]] — [[ShardSearch.searchShards]] over its slice,
    * the slice's shards in ascending order into one heap, over its
    * executor's resident copy of each — the Lucene shard-replica serving
    * model. A warm task runs WAND only, and the driver merges ≤ P lists.
    * The resident copy is keyed by the generation this query was planned
    * under, so no task serves a shard as it was before a mutation the
    * plan has seen. The task ships just the [[ShardSearch.Query]] (the
    * present terms' (idf, bound), not their routing lists) and the
    * snapshot; the result handler stores each task's result at its
    * partition index.
    *
    * The job is a pre-planned `runJob` over an RDD, not a Dataset:
    * planning, optimizing and code-generating a Dataset per query cost
    * more than the tasks' own work, and a Dataset form without the sort
    * and limit (`spark.range.flatMap` plus a driver merge) measured no
    * faster — the planning cost lives in the Dataset itself. Tasks are
    * capped at the core count because scheduling a task costs more than
    * a warm shard's WAND.
    */
  private[graft] def fanOut(queryText: String, k: Int, minScore: Double,
      conjunctive: Boolean, s: Snapshot = snapshot()): Array[ShardSearch.Task.Result] =
    ShardSearch.plan(s, queryText, k, minScore, conjunctive) match {
      case Some((q, routed)) if routed.nonEmpty =>
        val sc = spark.sparkContext
        val rdd = sc.parallelize(routed.toSeq, math.min(routed.length, sc.defaultParallelism))
        val out = new Array[ShardSearch.Task.Result](rdd.getNumPartitions)
        // The handler overload with a named task class, not
        // `runJob(rdd, Iterator => U)`: that overload wraps the function
        // in a lambda of SparkContext's, and cleaning the wrapper
        // ASM-parses SparkContext.class (~200 KB) on every search. On
        // perfbench `serve` (4 cores, 10 alternating pairs) the search
        // p50 went 14.4 -> 9.5 ms, and a bare 4-task job 6.3 -> 3.8 ms.
        sc.runJob(rdd, new ShardSearch.Task(q, s), rdd.partitions.indices,
          (i: Int, r: ShardSearch.Task.Result) => out(i) = r)
        out
      case _ => Array.empty
    }

  /** A bounded hit set with its doc-store rows, in hit order, from the
    * hit shards' resident rows ([[SegmentIO.residentDocs]]) under the
    * search's generation. A hit with no doc-store row is dropped, as an
    * inner join drops it.
    */
  private def withDocs(s: Snapshot, hits: Array[(Long, Double)]): Array[(IndexedTurn, Double)] =
    hits.flatMap { case (d, sc) =>
      SegmentIO.residentDocs(indexDir, s.gen, (d / s.stats.docsPerShard).toInt).get(d).map(_ -> sc)
    }

  /** Index-backed BM25 top-k as (caller-keyed id, exact score) — the
    * serving-side retriever for hybrid fusion ([[graft.ops.Hybrid]]
    * step 1) and any consumer keyed by an id recoverable from conv_id
    * (e.g. a documents corpus indexed via `Corpus.documentsAsTurns`,
    * inverted by `Corpus.docIdFromConv`). Routed WAND retrieve
    * (rank-and-score-identical to the exhaustive oracle —
    * EngineParitySpec, HybridServeSpec), then the bounded hit set maps
    * internal→caller ids through the doc store ([[withDocs]]). Ordered
    * (score desc, id asc); scores exact (rounding is an output-boundary
    * contract).
    *
    * @param idFromConv maps the segment's conv_id back to the caller's
    *                   id space
    */
  def retrieveMapped(
      queryText: String,
      k: Int,
      idFromConv: String => Long,
      minScore: Double = 0.0,
      conjunctive: Boolean = false): Array[(Long, Double)] = {
    val s = snapshot()
    withDocs(s, topHits(s, queryText, k, minScore, conjunctive))
      .map { case (d, sc) => (idFromConv(d.conv_id), sc) }
      .sortBy { case (id, sc) => (-sc, id) }
  }

  def search(spec: QuerySpec): SearchResponse = {
    val t0 = System.nanoTime()
    // validation-mode preset (reference config/config.py:282-287)
    val k = if (spec.validationMode) 5000 else spec.topK
    val minScore = if (spec.validationMode) 0.0 else spec.minScore
    val hasResidual = spec.tsAfter.nonEmpty || spec.tsBefore.nonEmpty ||
      spec.roles.nonEmpty || spec.tools.nonEmpty
    // over-fetch policy Q3 (reference src/search_engine.py:198-212);
    // reranking widens the candidate pool and drops the threshold to 0
    // (reference :208 and F1)
    val kPrime = math.min(
      if (hasResidual || spec.rerank) k * OverFetchFactor else k, MaxTopK)
    val effMinScore = if (spec.rerank) 0.0 else minScore

    val s = snapshot()
    val candidates = withDocs(s, topHits(s, spec.text, kPrime, effMinScore, spec.conjunctive))
    val rows = SearchEngine.rank(spec, k, candidates, SearchEngine.semantics(spark))

    val includeSet = spec.includeKeys.toSet
    val ms =
      if (includeSet.nonEmpty) {
        val found = rows.map(h => (h.conv_id, h.turn_idx)).toSet
        val matched = (found intersect includeSet).size.toLong
        val missed = (includeSet diff found).size.toLong
        val newCand = (found diff includeSet).size.toLong
        Some(MatchStats(matched, missed, newCand, includeSet.size.toLong,
          round4(matched.toDouble / includeSet.size)))
      } else None

    SearchResponse(spec.text, rows.length, rows.toIndexedSeq, ms,
      (System.nanoTime() - t0) / 1e6)
  }
}

object SearchEngine {

  /** The session settings that Spark's expressions consult and the
    * plain-Scala path must follow: ICU vs JVM case mapping in `lower`,
    * and whether `size(null)` is -1 or null.
    */
  private[graft] final case class Semantics(icuLower: Boolean, legacySizeOfNull: Boolean)

  private[graft] def semantics(spark: SparkSession): Semantics = {
    def flag(key: String) = spark.conf.get(key).toBoolean
    Semantics(flag(SQLConf.ICU_CASE_MAPPINGS_ENABLED.key),
      flag(SQLConf.LEGACY_SIZE_OF_NULL.key) && !flag(SQLConf.ANSI_ENABLED.key))
  }

  /** Round half-up at `scale` decimal places exactly as Spark's
    * `round` rounds a double: through `BigDecimal.valueOf` (the
    * shortest decimal that reads back as x), not x's exact binary
    * expansion — so 0.33335 rounds to 0.3334. NaN and infinities pass
    * through.
    */
  def roundHalfUp(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else JBigDecimal.valueOf(x).setScale(scale, RoundingMode.HALF_UP).doubleValue()

  /** Spark's `lower` of a UTF8_BINARY string. */
  private def lower(s: String, icu: Boolean): UTF8String =
    CollationSupport.Lower.exec(UTF8String.fromString(s),
      CollationFactory.UTF8_BINARY_COLLATION_ID, icu)

  private def lowerTerms(terms: Seq[String]): Seq[UTF8String] =
    terms.map(_.toLowerCase.trim).filter(_.nonEmpty).map(UTF8String.fromString)

  /** Keyword boost/penalize rescoring — exact port of the reference's
    * diminishing-returns formula (`src/search_engine.py:420-444`):
    * adj = score ± w * min(matches,3) * 0.7^max(0, matches-1), where a
    * match is a term (lower-cased, trimmed, empty ones dropped) found
    * in Spark's `lower` of the document text; a null text matches
    * nothing.
    */
  def keywordScore(
      score: Double,
      text: String,
      boostTerms: Seq[String],
      penalizeTerms: Seq[String],
      boostWeight: Double,
      penaltyWeight: Double,
      icuLower: Boolean = true): Double = {
    val (b, p) = (lowerTerms(boostTerms), lowerTerms(penalizeTerms))
    if (b.isEmpty && p.isEmpty) return score
    val lowered = if (text == null) null else lower(text, icuLower)
    def adjustment(terms: Seq[UTF8String], w: Double): Double = {
      val m = if (lowered == null) 0 else terms.count(lowered.contains)
      if (m > 0) w * math.min(m, 3).toDouble * StrictMath.pow(0.7, (m - 1).toDouble)
      else 0.0
    }
    score + adjustment(b, boostWeight) - adjustment(p, penaltyWeight)
  }

  /** A candidate on its way through [[rank]]; `rerankKey` is
    * round(rerank_score, 3).
    */
  private final case class Ranked(doc: IndexedTurn, score: Double, rerankKey: Double)

  private val byScore: Ordering[Ranked] = (a, b) => {
    val c = ShardSearch.compareScores(b.score, a.score)
    if (c != 0) c else java.lang.Long.compare(a.doc.doc_id, b.doc.doc_id)
  }
  private val byRerank: Ordering[Ranked] = (a, b) => {
    val c = ShardSearch.compareScores(b.rerankKey, a.rerankKey)
    if (c != 0) c else byScore.compare(a, b)
  }

  /** Post-retrieval over (doc-store row, exact score) candidates:
    * residual filters, rerank, truncation to k, rounding, boost and
    * the final order, each with the semantics of the equivalent Spark
    * column expression (a null ts/role/tool fails its filter; `round`
    * is [[roundHalfUp]]), so results equal a DataFrame formulation of
    * the same steps bit for bit.
    */
  private[graft] def rank(
      spec: QuerySpec,
      k: Int,
      candidates: Array[(IndexedTurn, Double)],
      sem: Semantics): Array[SearchHit] = {
    // residual filters F2/F3 — post-retrieval, like the reference;
    // timestamps compare as Spark's micros
    val after = spec.tsAfter.map(DateTimeUtils.fromJavaTimestamp)
    val before = spec.tsBefore.map(DateTimeUtils.fromJavaTimestamp)
    val roles = spec.roles.map(r => UTF8String.fromString(r.toLowerCase)).toSet
    val tools = spec.tools.map(t => UTF8String.fromString(t.toLowerCase)).toSet
    def inSet(set: Set[UTF8String], v: String) =
      set.isEmpty || (v != null && set(lower(v, sem.icuLower)))
    val kept = candidates.filter { case (d, _) =>
      val ts = if (d.ts == null) None else Some(DateTimeUtils.fromJavaTimestamp(d.ts))
      after.forall(a => ts.exists(_ >= a)) && before.forall(b => ts.exists(_ <= b)) &&
        inSet(roles, d.role) && inSet(tools, d.tool)
    }

    // secondary rerank Q7 (proximity bonus) reorders the over-fetched
    // candidates BEFORE truncation (reference src/reranker.py:316-318)
    val qTerms = if (spec.rerank) Tokenizer.tokenize(spec.text).toSet else Set.empty[String]
    val reranked = qTerms.nonEmpty
    val scored = kept.map { case (d, s) =>
      Ranked(d, s,
        if (reranked) roundHalfUp(Rerank.rerankScore(s, d.text, qTerms, sem.legacySizeOfNull), 3)
        else 0.0)
    }

    // truncate to k (Q5), THEN round to 4 dp (F6) and boost (Q8) —
    // the reference's exact staging (SURVEY §3.1 ordering contract)
    val truncated = scored.sorted(if (reranked) byRerank else byScore).take(k)
    val boosted = truncated.map { r =>
      r.copy(score = keywordScore(roundHalfUp(r.score, 4), r.doc.text, spec.boostTerms,
        spec.penalizeTerms, spec.boostWeight, spec.penaltyWeight, sem.icuLower))
    }

    // final ordering: boost re-sorts by adjusted score (reference
    // :457); otherwise rerank order survives (reference :316-318),
    // its ties now broken by the rounded score
    val includeSet = spec.includeKeys.toSet
    val finalOrder =
      if (reranked && spec.boostTerms.isEmpty && spec.penalizeTerms.isEmpty) byRerank
      else byScore
    boosted.sorted(finalOrder).map { r =>
      val d = r.doc
      SearchHit(d.doc_id, d.conv_id, d.turn_idx, d.role, d.tool, d.ts, r.score,
        includeSet.contains((d.conv_id, d.turn_idx)))
    }
  }
}
