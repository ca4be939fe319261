package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.SearchEngine
import graft.index.{IndexBuilder, SegmentIO}
import graft.model.QuerySpec
import graft.ops.{AsofJoin, Corpus, Dedup, EntityResolution, Hashing, HeavyHitters, Hybrid, Multimodal, Pack, RangeJoin, Sampling, Similarity, TextOps}
import graft.query.OracleEngine
import graft.tokenize.Tokenizer

/** Driver contract (see the builder prompt + SURVEY.md §2 inventory).
  *
  * Each `queries` entry is a Spark implementation of one operator
  * family; `oracleSql` holds the equivalent DuckDB SQL over the same
  * parquet tables. Convention: every query's FINAL row order is
  * canonical (sorted by its key columns), and floating-point outputs
  * are rounded at the output boundary (4 dp for BM25 scores — the
  * reference's contract, `src/search_engine.py:281`), so the driver's
  * hash compare is insensitive to engine-internal ordering.
  */
object SparkEntry {

  // ---------------- shared helpers ----------------

  /** One temp root per JVM for the query-side indexes, deleted at exit.
    * Each index is built at most once per (kind, sfDir) in this
    * process, into its own fresh dir under the root, so a dir is only
    * ever read by the code that wrote it: nothing is reused across
    * processes, and a schema change needs no version key.
    */
  private lazy val queryRoot: Path = {
    val root = Files.createTempDirectory("graft-q")
    sys.addShutdownHook(IndexBuilder.deleteRecursively(root))
    root
  }
  private val queryIndexes = mutable.Map[(String, String), String]()
  private def queryIndex(kind: String, sfDir: String)(build: String => Unit): String =
    queryIndexes.synchronized {
      queryIndexes.getOrElseUpdate((kind, sfDir), {
        val dir = Files.createTempDirectory(queryRoot, kind).toString
        build(dir)
        dir
      })
    }

  /** BM25 segment over the transcripts, shared by the engine-backed
    * queries.
    */
  private def indexFor(spark: SparkSession, sfDir: String): String =
    queryIndex("idx", sfDir) { dir =>
      // postingsGroups=4: per-shard-group commit ON in the production
      // path (2 shards/group) — bounds postings re-work after a crash
      // to one group; measured fixed cost ~0.5s/extra wave at this SF
      IndexBuilder.build(spark, Corpus.transcripts(spark, sfDir), dir,
        IndexBuilder.Config(blockSize = 32, numShards = 8, numPartitions = 8,
          postingsGroups = 4))
    }

  // SearchEngine holds no state (a search reads the generation-keyed
  // resident segment), so each call gets one over its caller's session
  private def engine(spark: SparkSession, sfDir: String): SearchEngine =
    new SearchEngine(spark, indexFor(spark, sfDir))

  /** BM25 segment over the DOCUMENTS table (hybrid fusion's keyword
    * side) — same builder as the transcript index. Internal doc ids map
    * back to original doc_ids via [[Corpus.docIdFromConv]].
    */
  private def docsIndexFor(spark: SparkSession, sfDir: String): String =
    queryIndex("didx", sfDir) { dir =>
      IndexBuilder.build(spark, Corpus.documentsAsTurns(spark, sfDir), dir,
        IndexBuilder.Config(blockSize = 32, numShards = 4, numPartitions = 4,
          postingsGroups = 1))
    }

  /** Index-backed BM25 top-N over documents as (orig doc_id, exact
    * score) rows — [[SearchEngine.retrieveMapped]] (the library's
    * serving-side hybrid retriever) against the documents segment,
    * keys inverted via [[Corpus.docIdFromConv]].
    */
  private def docsBm25TopN(
      spark: SparkSession, sfDir: String, queryText: String, n: Int): Array[(Long, Double)] =
    new SearchEngine(spark, docsIndexFor(spark, sfDir))
      .retrieveMapped(queryText, n, Corpus.docIdFromConv)

  /** Persisted IVF ANN index over the embeddings table (q_ann_ivf's
    * serving side + hybrid's semantic retriever): inverted lists
    * partitioned by cid + centroid table.
    */
  private val IvfStride = 25L
  private def ivfFor(spark: SparkSession, sfDir: String): String =
    queryIndex("ivf", sfDir) { dir =>
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      Similarity.ivfWrite(emb, col("vec_id"), col("embedding"), IvfStride, dir)
    }

  /** Append-path IVF gate fixture: a persisted index built over the
    * corpus MINUS a deterministic holdout (vec_id ≡ 7 mod 10), then
    * [[Similarity.ivfAppend]]ed with the holdout. Post-append lists
    * are content-equal to a full build because per-id assignment is
    * independent rows and the holdout contains no centroid ids
    * (stride multiples 25k mod 10 ∈ {0, 5}, never 7) — so the DuckDB
    * twin replays assignment over the UNION corpus against the same
    * stored-stride centroids. The second append call must observe 0
    * fresh rows (idempotent re-append), asserted at build time: the
    * gate thereby exercises append + idempotency + serve end-to-end,
    * not just PipelineOpsSpec.
    */
  private def ivfAppendedFor(spark: SparkSession, sfDir: String): String =
    queryIndex("ivfapp", sfDir) { dir =>
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val holdout = pmod(col("vec_id"), lit(10)) === 7
      Similarity.ivfWrite(emb.filter(!holdout),
        col("vec_id"), col("embedding"), IvfStride, dir)
      val n1 = Similarity.ivfAppend(spark, dir, emb.filter(holdout),
        col("vec_id"), col("embedding"))
      val n2 = Similarity.ivfAppend(spark, dir, emb.filter(holdout),
        col("vec_id"), col("embedding"))
      require(n1 > 0 && n2 == 0,
        s"ivfAppend gate fixture: first append=$n1 (want >0), re-append=$n2 (want 0)")
    }

  /** Builds the per-sfDir query-side indexes (transcript BM25 segment,
    * documents BM25 segment, persisted IVF, appended-IVF fixture) —
    * no-ops once built in this process — so harnesses keep the
    * one-time builds out of per-query timings.
    */
  def warmQueryIndex(spark: SparkSession, sfDir: String): Unit = {
    indexFor(spark, sfDir)
    docsIndexFor(spark, sfDir)
    ivfFor(spark, sfDir)
    ivfAppendedFor(spark, sfDir)
    ()
  }

  /** [[SearchEngine.search]]'s hits as canonical (conv_id, turn_idx,
    * score) rows ordered by key: the keys come from the hits' resident
    * doc-store rows, the score is the hit's 4-dp output score.
    */
  private def searchHits(spark: SparkSession, sfDir: String, spec: QuerySpec): DataFrame = {
    import spark.implicits._
    engine(spark, sfDir).search(spec).hits.map(h => (h.conv_id, h.turn_idx, h.score))
      .toDF("conv_id", "turn_idx", "score").orderBy("conv_id", "turn_idx")
  }

  // ---- DuckDB BM25 oracle SQL builder (same math as graft.query.Bm25:
  // fold order fixed by `sum(... ORDER BY term)`, k1=1.2 b=0.75) ----

  private def sqlList(terms: Seq[String]): String =
    terms.map(t => s"'$t'").mkString("(", ",", ")")

  /** CTEs: t (transcripts) → toks → stats → tf (query terms only) →
    * dfreq → scored(conv_id, turn_idx, score, nm).
    */
  private def bm25Ctes(terms: Seq[String]): String = {
    s"""WITH ${Corpus.transcriptsCte},
       |toks AS (
       |  SELECT conv_id, turn_idx,
       |         ${Tokenizer.duckdbTokensSql("text")} AS tk
       |  FROM t),
       |d AS (SELECT conv_id, turn_idx, len(tk) AS dl, tk FROM toks),
       |stats AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM d),
       |tf AS (
       |  SELECT conv_id, turn_idx, dl, term, count(*)::INT AS tf
       |  FROM (SELECT conv_id, turn_idx, dl, unnest(tk) AS term FROM d)
       |  WHERE term IN ${sqlList(terms)}
       |  GROUP BY conv_id, turn_idx, dl, term),
       |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT tf.conv_id, tf.turn_idx,
       |         sum(ln((s.n - f.df + 0.5) / (f.df + 0.5) + 1.0) *
       |             (tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl)))
       |             ORDER BY tf.term) AS score,
       |         count(*) AS nm
       |  FROM tf JOIN dfreq f USING (term), stats s
       |  GROUP BY tf.conv_id, tf.turn_idx)""".stripMargin
  }

  private def bm25TopkSql(terms: Seq[String], k: Int, conjunctive: Boolean = false): String = {
    val cond = if (conjunctive) s"WHERE nm = ${terms.length}" else ""
    s"""${bm25Ctes(terms)},
       |topk AS (SELECT * FROM scored $cond
       |         ORDER BY score DESC, conv_id, turn_idx LIMIT $k)
       |SELECT conv_id, turn_idx, round(score, 4) AS score FROM topk
       |ORDER BY conv_id, turn_idx""".stripMargin
  }

  // ---------------- driver contract ----------------

  /** Flagship: BM25 top-10 over the sf0.001 transcript corpus via the
    * full engine (index build + block-max WAND).
    */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    searchHits(spark, sfDir, QuerySpec("vector window stream", topK = 10))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- retrieval core (SURVEY §2.4): engine = index + WAND ----
    "q_bm25_topk" -> ((s, dir) =>
      searchHits(s, dir, QuerySpec("vector window stream", topK = 10))),
    "q_bm25_topk_large" -> ((s, dir) =>
      searchHits(s, dir, QuerySpec("merge join customer batch", topK = 50))),
    "q_bm25_and" -> ((s, dir) =>
      searchHits(s, dir, QuerySpec("merge sort join", topK = 15, conjunctive = true))),
    "q_bm25_minscore" -> ((s, dir) =>
      searchHits(s, dir, QuerySpec("hash scan", topK = 100, minScore = 0.5))),
    // Q7: secondary proximity rerank over the over-fetched candidates
    "q_bm25_reranked" -> ((s, dir) => {
      val qText = "table scan merge"
      val top = engine(s, dir).retrieve(qText, 50)
      val docs = SegmentIO.readDocs(s, indexFor(s, dir))
      val joined = docs.join(broadcast(top), "doc_id")
      graft.query.Rerank(joined, qText)
        .limit(10)
        .select(col("conv_id"), col("turn_idx"),
          round(col("score"), 4).as("score"),
          round(col("rerank_score"), 3).as("rerank"))
        .orderBy("conv_id", "turn_idx")
    }),
    // DataFrame oracle path (Q2 exhaustive scan analog)
    "q_bm25_oracle_df" -> ((s, dir) => {
      OracleEngine.topK(s, Corpus.transcripts(s, dir), "slow query filter", 20,
        statsKey = Some(dir))
        .select(col("conv_id"), col("turn_idx"), round(col("score"), 4).as("score"))
        .orderBy("conv_id", "turn_idx")
    }),
    // full lifecycle: over-fetch + residual filters (F2/F3) + truncate
    "q_bm25_filtered" -> ((s, dir) =>
      searchHits(s, dir, QuerySpec("data table row", topK = 10,
        roles = Seq("user", "assistant"),
        tsAfter = Some(java.sql.Timestamp.from(
          java.time.Instant.parse("2026-01-01T00:01:00Z")))))),
    // keyword boost/penalize rescoring (Q8, exact reference formula)
    "q_bm25_boosted" -> ((s, dir) =>
      searchHits(s, dir, QuerySpec("group agg window", topK = 15,
        boostTerms = Seq("vector"), penalizeTerms = Seq("slow")))),
    // ---- corpus statistics (A1/A2) ----
    "q_corpus_stats" -> ((s, dir) => {
      val toks = Corpus.transcripts(s, dir)
        .select(col("conv_id"), size(Tokenizer.tokensCol(col("text"))).as("dl"))
      toks.agg(
        count(lit(1)).as("num_docs"),
        countDistinct(col("conv_id")).as("num_convs"),
        sum(col("dl")).cast("long").as("total_tokens"),
        round(sum(col("dl")) / count(lit(1)), 6).as("avgdl"))
    }),
    "q_df_cf" -> ((s, dir) => {
      val terms = Seq("spark", "vector", "merge", "window", "dup")
      Corpus.transcripts(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          explode(Tokenizer.tokensCol(col("text"))).as("term"))
        .filter(col("term").isin(terms: _*))
        .groupBy(col("term"))
        .agg(countDistinct(col("conv_id"), col("turn_idx")).as("df"),
          count(lit(1)).as("cf"))
        .orderBy("term")
    }),
    // per-role aggregation over the derived transcript table
    "q_role_stats" -> ((s, dir) =>
      Corpus.transcripts(s, dir)
        .groupBy(col("role"))
        .agg(count(lit(1)).as("n_turns"),
          sum(length(col("text"))).cast("long").as("n_chars"),
          countDistinct(col("conv_id")).as("n_convs"))
        .orderBy("role")),
    // ---- dedup: exact (hash groupBy) over documents ----
    "q_dedup_exact" -> ((s, _dir) => {
      val docs = s.read.parquet(s"${_dir}/documents.parquet")
      docs.groupBy(md5(col("text")).as("text_hash"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep_doc_id"))
        .filter(col("n") > 1)
        .orderBy("text_hash")
    }),
    // ---- text analysis: token counting + quality scoring ----
    "q_token_stats" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(col("doc_id"),
        size(Tokenizer.tokensCol(col("text"))).cast("long").as("n_tokens"),
        size(array_distinct(Tokenizer.tokensCol(col("text")))).cast("long").as("n_distinct"))
        .filter(col("doc_id") < 100)
        .orderBy("doc_id")
    }),
    "q_token_counts" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") < 100)
      docs.select(col("doc_id"),
        TextOps.wsTokenCount(col("text")).as("n_ws"),
        TextOps.bpeishTokenCount(col("text")).as("n_bpeish"))
        .orderBy("doc_id")
    }),
    "q_quality" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") < 100)
      TextOps.qualityMetrics(docs, col("doc_id"), col("text"))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),
    "q_fingerprint" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .groupBy(col("fp")).agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_doc"))
        .filter(col("n") > 1).orderBy("fp")
    }),
    // ---- dedup: MinHash+LSH, SimHash, n-gram Jaccard ----
    "q_minhash_lsh" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Dedup.minhashDedup(docs, col("doc_id"), col("text"),
        shingleSize = 2, numHashes = 16, bands = 4, tau = 0.2)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),
    "q_simhash" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") < 50)
      Dedup.simhash(docs, col("doc_id"), col("text"))
        .withColumnRenamed("id", "doc_id").orderBy("doc_id")
    }),
    // SimHash neighbor join: banded bit-chunk candidates + exact
    // Hamming verify. maxDist(3) < bands(4) makes the banding lossless,
    // so the DuckDB oracle can brute-force all pairs and must agree
    // exactly.
    "q_simhash_pairs" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") < 300)
      Dedup.simhashPairs(docs, col("doc_id"), col("text"), maxDist = 3, bands = 4)
        .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
        .orderBy("id_a", "id_b")
    }),
    "q_ngram_jaccard" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") < 200)
      Dedup.ngramJaccardJoin(docs, col("doc_id"), col("text"), n = 2, tau = 0.15)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),
    // ---- similarity search over embeddings ----
    "q_ann_cosine" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.cosineTopK(emb, col("vec_id"), col("embedding"), probeId = 0L, k = 10)
        .select(col("id").as("vec_id"), round(col("cos"), 6).as("cos"))
        .orderBy("vec_id")
    }),
    "q_knn_join" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.knnJoin(emb, col("vec_id"), col("embedding"), probeMaxId = 5L, k = 3)
        .select(col("pid"), col("id").as("vec_id"), col("rank"),
          round(col("cos"), 6).as("cos"))
        .orderBy("pid", "rank")
    }),
    // hybrid keyword+semantic fusion (the reference's roadmap item):
    // BM25 top-N and cosine top-N lists full-outer joined, min-max
    // normalized per side, fused = alpha*bm25 + (1-alpha)*cos.
    // Keyword side = the routed WAND index over documents
    // (rank-and-score-identical to the exhaustive oracle the DuckDB
    // twin replays — HybridSpec asserts the swap bit-exactly); the
    // per-query plan touches only routed posting shards + the bounded
    // top lists, never a corpus-sized tokenize+score
    "q_hybrid_fusion" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Hybrid.fuse(s,
        docsBm25TopN(s, dir, "spark window vector merge", n = 50),
        Hybrid.cosineTopN(emb, col("vec_id"), col("embedding"), probeId = 7L, n = 50),
        alpha = 0.6, k = 20)
        .select(col("id").as("doc_id"),
          round(col("bm25_norm"), 6).as("bm25_norm"),
          round(col("cos_norm"), 6).as("cos_norm"),
          round(col("fused"), 6).as("fused"))
        .orderBy("doc_id")
    }),
    // full production serving stack: WAND keyword top-N fused with the
    // PERSISTED-IVF semantic top-N (nProbe routed inverted lists with
    // a static cid partition filter — no brute-force corpus sweep on
    // either side)
    "q_hybrid_ivf" -> ((s, dir) => {
      val probes = s.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") === 7L)
        .select(col("vec_id").as("pid"), col("embedding").as("pvec"))
      val vRows = Similarity.ivfTopKPruned(s, ivfFor(s, dir), probes,
        nProbe = 4, k = 50)
        .select(col("id"), col("cos"))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
        .sortBy { case (id, c) => (-c, id) }
      Hybrid.fuse(s,
        docsBm25TopN(s, dir, "spark window vector merge", n = 50),
        vRows, alpha = 0.6, k = 20)
        .select(col("id").as("doc_id"),
          round(col("bm25_norm"), 6).as("bm25_norm"),
          round(col("cos_norm"), 6).as("cos_norm"),
          round(col("fused"), 6).as("fused"))
        .orderBy("doc_id")
    }),
    // IVF coarse-quantizer ANN over the PERSISTED index (built once
    // per sfDir like the posting segment): probes route to nProbe
    // inverted lists via a static cid IN (...) partition filter —
    // the scan prunes non-probed list directories at planning time.
    // The assignment sweep (corpus × centroids argmax) was paid at
    // ivfWrite time, never per query.
    "q_ann_ivf" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val probes = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("pid"), col("embedding").as("pvec"))
      Similarity.ivfTopKPruned(s, ivfFor(s, dir), probes, nProbe = 4, k = 10)
        .select(col("pid"), col("id").as("vec_id"), col("rank"),
          round(col("cos"), 6).as("cos"))
        .orderBy("pid", "rank")
    }),
    // IVF incremental append, gated end-to-end: the fixture index was
    // built WITHOUT the vec_id ≡ 7 (mod 10) holdout and then
    // ivfAppend'ed with it (re-append asserted a no-op at build time);
    // probes include an appended id (7, 17), and the DuckDB twin
    // replays assignment over the UNION corpus — a lost or duplicated
    // append hash-mismatches
    "q_ann_ivf_append" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val probes = emb.filter(col("vec_id").isin(2L, 7L, 17L))
        .select(col("vec_id").as("pid"), col("embedding").as("pvec"))
      Similarity.ivfTopKPruned(s, ivfAppendedFor(s, dir), probes, nProbe = 4, k = 10)
        .select(col("pid"), col("id").as("vec_id"), col("rank"),
          round(col("cos"), 6).as("cos"))
        .orderBy("pid", "rank")
    }),
    // multi-table banded LSH ANN with bucket-size caps — the 10^9-
    // vector shape (recall stacked across tables, pair space bounded
    // per bucket, hot buckets dropped before the join)
    "q_ann_lsh_multi" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.lshCosinePairsMulti(emb, col("vec_id"), col("embedding"),
        dim = 64, tables = 4, planesPerTable = 6, tau = 0.4, maxBucketSize = 200)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
        .orderBy("id_a", "id_b")
    }),
    "q_lsh_buckets" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      emb.select(Similarity.lshBucket(col("embedding"), dim = 64, planes = 8).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),
    // ---- relational operator inventory (SURVEY §2.1-2.7) ----
    // J1/S7: top-k by measure + broadcast metadata join
    "q_topk_meta_join" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val top = orders.orderBy(desc("o_totalprice"), asc("o_orderkey")).limit(20)
      top.join(broadcast(cust), top("o_custkey") === cust("c_custkey"))
        .select(col("o_orderkey"), col("c_name"), round(col("o_totalprice"), 2).as("total"))
        .orderBy("o_orderkey")
    }),
    // J2/O2: semi/anti-join membership flags. One LEFT join against
    // the distinct order keys classifies every customer as
    // with/without in a single pass (r6, guide §2.4): the former
    // semi+anti pair pasted the orders subplan into two joins and
    // needed a full-outer merge of the two rollups — 10 exchanges →
    // 4, and segments with only one class fall out as natural zeros
    // instead of the na.fill
    "q_semi_anti" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val okeys = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_custkey")).distinct()
      cust.join(okeys, cust("c_custkey") === okeys("o_custkey"), "left")
        .groupBy("c_mktsegment")
        .agg(sum(when(col("o_custkey").isNotNull, 1L).otherwise(0L)).as("with_orders"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("without_orders"))
        .orderBy("c_mktsegment")
    }),
    // J3/S11: export join with default fill (screening-decision analog)
    "q_screening_export" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet").filter(col("o_orderkey") <= 200)
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_orderkey")).agg(max(col("l_returnflag")).as("decision"))
      orders.join(li, orders("o_orderkey") === li("l_orderkey"), "left")
        .select(col("o_orderkey"),
          coalesce(col("decision"), lit("Not Screened")).as("decision"),
          col("o_orderstatus"))
        .orderBy("o_orderkey")
    }),
    // J4: fuzzy word-overlap similarity join (reference app.py:876-896:
    // overlap = |A∩B|/|A| >= 0.6 with >= 3 matching meaningful words).
    // Shared-token equi-join prefilter, NOT a cross join: only pairs
    // with >=1 common token are ever materialized (lossless here since
    // the predicate requires inter >= 3), so the plan scales with the
    // token-match fan-out instead of |A|x|B|.
    "q_fuzzy_overlap_join" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      def tk(c: org.apache.spark.sql.Column) =
        array_distinct(Tokenizer.tokensCol(c))
      val a = docs.filter(col("doc_id") < 25)
        .select(col("doc_id").as("id_a"), tk(col("text")).as("tk_a"))
      val b = docs.filter(col("doc_id") >= 25 && col("doc_id") < 50)
        .select(col("doc_id").as("id_b"), tk(col("text")).as("tk_b"))
      // both sides are 25-doc slices: broadcast hints pin the joins to
      // BHJ at plan time instead of paying shuffle map stages that AQE
      // would only convert after materializing them (guide §3.1)
      val inter = a.select(col("id_a"), explode(col("tk_a")).as("tok"))
        .join(broadcast(b.select(col("id_b"), explode(col("tk_b")).as("tok"))), "tok")
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
      inter.join(broadcast(a.select(col("id_a"), size(col("tk_a")).as("sz_a"))), "id_a")
        .withColumn("overlap", col("inter").cast("double") / col("sz_a"))
        .filter(col("inter") >= 3 && col("overlap") >= 0.6)
        .select(col("id_a"), col("id_b"), col("inter").cast("long").as("inter"),
          round(col("overlap"), 6).as("overlap"))
        .orderBy("id_a", "id_b")
    }),
    // entity-resolution cascade (reference app.py:694-782) over
    // citations that carry no DOI, author or year: parse citation
    // strings (app.py:530-567 field regexes), then run the five-stage
    // cascade with those keys empty, so its DOI and author+year stages
    // match nothing and exact-id -> normalized-title ->
    // fuzzy-token-overlap remain, each stage consuming only what
    // earlier stages missed. Citations are synthesized
    // deterministically from the documents table: group A (qid%3==0)
    // keeps its true id, groups B/C get a corrupt id; group B quotes
    // the exact title (uppercased — exercises normalization); group C
    // quotes an offset slice (only the fuzzy stage can match it).
    "q_entity_resolution" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") < 60)
      val noKeys = Seq("doi_key", "author_key", "year").map(_ -> lit("")).toMap
      val cit = docs.select(col("doc_id").as("qid"),
        concat(lit("PMID: "),
          when(col("doc_id") % 3 === 0, (col("doc_id") + 1000000).cast("string"))
            .otherwise(lit("8888888")),
          lit(". \""),
          when(col("doc_id") % 3 === 2, substring(col("text"), 21, 100))
            .otherwise(upper(substring(col("text"), 1, 80))),
          lit("\" (2021)")).as("citation"))
      // localCheckpoint: the cascade references each input in several
      // stage subplans — un-materialized, the scan + citation-regexp
      // parse + tokenize would be pasted into every copy (the r5 plan
      // re-scanned documents.parquet per stage). Materializing the
      // bounded parsed/catalog projections once is guide §3.3's
      // truncate-the-plan move, and the same thing a production
      // pipeline does with a parsed-citation table.
      val parsed = cit
        .select(col("qid"), EntityResolution.parseCitation(col("citation")).as("p"))
        .select(col("qid"),
          col("p.ref_id").as("exact_key"),
          EntityResolution.normKey(col("p.title")).as("norm_key"),
          EntityResolution.tokenSet(col("p.title")).as("tk"))
        .localCheckpoint(true)
        .withColumns(noKeys)
      // 60-row catalog: the broadcast hint propagates through the
      // cascade's projections/filters and pins every catalog-side join
      // to BHJ at plan time (guide §3.1) — caller-side knowledge, the
      // operator itself stays shuffle-capable for big catalogs
      val catalog = broadcast(docs.select(col("doc_id").as("cid"),
        (col("doc_id") + 1000000).cast("string").as("exact_key"),
        EntityResolution.normKey(substring(col("text"), 1, 80)).as("norm_key"),
        EntityResolution.tokenSet(col("text")).as("tk"))
        .localCheckpoint(true)
        .withColumns(noKeys))
      EntityResolution.resolveCascadeFull(parsed, catalog, minInter = 3, minOverlap = 0.4)
        .select(col("qid"), col("cid"), col("method"),
          round(col("score"), 6).as("score"))
        .orderBy("qid")
    }),
    // J4 full: five-stage cascade — citations constructed so each
    // stage is the ONLY one that can resolve its rows: m0 exact PMID,
    // m1 DOI only, m2 exact title, m3 fuzzy title, m4 author+year.
    // The author+year rows split three ways: doc_id%10==4 cites a BARE
    // last name (no " B") — resolvable only through the token-
    // containment author key, never prefix equality; %20==9
    // low-overlap title that fails the fuzzy stage's inter>=3 floor
    // but passes the author+year 0.3 overlap; %20==19 a garbage title
    // failing BOTH overlap tests — resolves only via the reference's
    // unique-candidate fallback (which applies even when a title
    // exists, app.py `if not found and len(rows) == 1`)
    "q_entity_resolution_full" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") < 60)
      val m = col("doc_id") % 5
      val rawToks = Tokenizer.tokensCol(col("text"))
      val titleExpr =
        when(m === 2, upper(substring(col("text"), 1, 80)))
          .when(m === 3, substring(col("text"), 21, 100))
          .when(col("doc_id") % 20 === 19, lit("qqaa qqbb qqcc qqdd"))
          .when(col("doc_id") % 10 === 9,
            concat(concat_ws(" ", slice(rawToks, 1, 2)), lit(" zzaa zzbb zzcc zzdd")))
          .otherwise(lit(""))
      val quoted = when(length(titleExpr) > 0,
        concat(lit(". \""), titleExpr, lit("\""))).otherwise(lit(""))
      val pmid = when(m === 0, (col("doc_id") + 1000000).cast("string"))
        .otherwise(lit("8888888"))
      val doiPart = when(m === 1,
        concat(lit(", doi:10.1000/d"), col("doc_id").cast("string")))
        .otherwise(lit(""))
      val authorPart = when(col("doc_id") % 10 === 4,
        concat(lit("Author"), col("doc_id").cast("string"), lit(". PMID: ")))
        .otherwise(concat(lit("Author"), col("doc_id").cast("string"), lit(" B. PMID: ")))
      val cit = docs.select(col("doc_id").as("qid"),
        concat(authorPart,
          pmid, doiPart, quoted, lit(" (2021)")).as("citation"))
      // localCheckpoint + broadcast hint: same rationale as
      // q_entity_resolution — the five-stage cascade pasted the
      // documents scan + parse into ~18 subplan copies in the r5 plan
      val parsed = cit
        .select(col("qid"), EntityResolution.parseCitation(col("citation")).as("p"))
        .select(col("qid"),
          col("p.ref_id").as("exact_key"),
          EntityResolution.normDoi(col("p.doi")).as("doi_key"),
          EntityResolution.normKey(col("p.title")).as("norm_key"),
          EntityResolution.normKey(substring(col("p.authors"), 1, 30)).as("author_key"),
          col("p.year").as("year"),
          EntityResolution.tokenSet(col("p.title")).as("tk"))
        .localCheckpoint(true)
      val catalog = broadcast(docs.select(col("doc_id").as("cid"),
        (col("doc_id") + 1000000).cast("string").as("exact_key"),
        EntityResolution.normDoi(
          concat(lit("10.1000/d"), col("doc_id").cast("string"))).as("doi_key"),
        EntityResolution.normKey(substring(col("text"), 1, 80)).as("norm_key"),
        EntityResolution.normKey(
          concat(lit("Author"), col("doc_id").cast("string"), lit(" B"))).as("author_key"),
        lit("2021").as("year"),
        EntityResolution.tokenSet(col("text")).as("tk"))
        .localCheckpoint(true))
      EntityResolution.resolveCascadeFull(parsed, catalog)
        .select(col("qid"), col("cid"), col("method"),
          round(col("score"), 6).as("score"))
        .orderBy("qid")
    }),
    // F4: review-exclusion predicate (keyword markers, prefix window)
    "q_exclusion_filter" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.filter(!(contains(substring(col("text"), 1, 200), lit("dup")) ||
          contains(col("text"), lit("stream"))))
        .groupBy("source").agg(count(lit(1)).as("kept"))
        .orderBy("source")
    }),
    // window functions: per-group top-n ranking
    "q_window_rank" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      orders.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("o_orderpriority"), col("rank"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("total"))
        .orderBy("o_orderpriority", "rank")
    }),
    // sessionization: 30-min-gap sessions via lag + running sum
    "q_sessionize" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val withGap = ev.withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1L)
            .otherwise(0L))
      withGap.withColumn("session_id", sum(col("new_session")).over(byUser))
        .groupBy("user_id")
        .agg(max(col("session_id")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),
    // tumbling time-window aggregation
    "q_event_windows" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      ev.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .select(col("w.start").as("hour"), col("event_type"), col("n"), col("sum_value"))
        .orderBy("hour", "event_type")
    }),
    // O1/O3: union + intersect/except set semantics. INTERSECT /
    // EXCEPT / UNION-DISTINCT over two filtered projections of the
    // same table are per-key membership predicates, so one
    // groupBy(custkey) computing both membership flags replaces the
    // three set operators (r6, guide §2.4): the former plan scanned
    // orders 6x and paid a distinct-style exchange pair per set op
    // (12 exchanges, 7 jobs); this is one scan + one aggregation —
    // and the single-pass shape is also the 100 TB plan. Set
    // semantics preserved exactly: SQL INTERSECT/EXCEPT/UNION are
    // DISTINCT by definition, and `both + hi_only + ...` arithmetic
    // over membership flags is the same cardinality algebra.
    "q_set_ops" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val flags = orders
        .groupBy(col("o_custkey"))
        .agg(max(when(col("o_totalprice") > 300000, 1L).otherwise(0L)).as("hi"),
          max(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("ur"))
      flags.agg(
        sum(when(col("hi") === 1L && col("ur") === 1L, 1L).otherwise(0L)).as("both"),
        sum(when(col("hi") === 1L && col("ur") === 0L, 1L).otherwise(0L)).as("hi_only"),
        sum(when(col("hi") === 1L || col("ur") === 1L, 1L).otherwise(0L))
          .as("union_distinct"))
    }),
    // scalar functions: regex extraction + JSON field access
    "q_scalar_funcs" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet").filter(col("event_id") < 100)
      ev.select(col("event_id"),
        regexp_extract(col("event_type"), "^([a-z]+)", 1).as("etype"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        translate(upper(col("event_type")), "_", " ").as("norm"))
        .orderBy("event_id")
    }),
    // S8: LIKE/pattern scan
    "q_like_scan" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.filter(col("text").contains("vector window") ||
          col("text").startsWith("the fast"))
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")
    }),
    // S4 date assembly: month-name map + zero-padded part join +
    // to_date (the reference's pub_date construction,
    // src/pubmed_downloader.py:252-270: month map, lpad, assembly)
    "q_date_assembly" -> ((s, dir) => {
      val monthNames = Seq("January", "February", "March", "April", "May",
        "June", "July", "August", "September", "October", "November", "December")
      val ev = s.read.parquet(s"$dir/events.parquet").filter(col("event_id") < 200)
        // month NAME via literal array (locale-independent), like the
        // reference's textual month fields
        .withColumn("mname",
          element_at(array(monthNames.map(lit): _*), month(col("ts"))))
      val mnum = monthNames.zipWithIndex.foldLeft(lit(0)) { case (acc, (n, i)) =>
        when(col("mname") === n, lit(i + 1)).otherwise(acc)
      }
      ev.select(col("event_id"), col("mname"),
        to_date(concat(
          year(col("ts")).cast("string"), lit("-"),
          lpad(mnum.cast("string"), 2, "0"), lit("-"),
          lpad(dayofmonth(col("ts")).cast("string"), 2, "0"))).as("assembled"))
        .orderBy("event_id")
    }),
    // A4 score statistics: deterministic (sorted-fold) average over
    // the scored candidate set, plus min/max
    "q_score_stats" -> ((s, dir) => {
      val scored = OracleEngine.topK(s, Corpus.transcripts(s, dir),
        "vector window stream", k = 500, statsKey = Some(dir))
      scored.agg(
        count(lit(1)).as("n"),
        round(min(col("score")), 4).as("min_s"),
        round(max(col("score")), 4).as("max_s"),
        round(
          aggregate(array_sort(collect_list(round(col("score"), 6))),
            lit(0.0), (a, x) => a + x) / count(lit(1)), 4).as("avg_s"))
    }),
    // date bucketing
    "q_date_ops" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.groupBy(date_trunc("month", col("l_shipdate")).as("ship_month"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 4).as("qty"))
        .orderBy("ship_month")
    }),
    // Q9: recall/match statistics against a known-relevant set
    "q_recall_stats" -> ((s, dir) => {
      import s.implicits._
      val included = Seq(("c00000000", 1), ("c00000001", 2), ("c00000062", 3),
        ("c00000040", 0), ("c00000055", 5))
      val resp = engine(s, dir).search(QuerySpec("vector window stream", topK = 10,
        includeKeys = included))
      val st = resp.stats.get
      Seq((st.matched, st.missed, st.newCandidates, st.recall))
        .toDF("matched", "missed", "new_candidates", "recall")
    }),
    // S12: template-formatted citation-style text export
    "q_ris_export" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") < 20)
      docs.select(col("doc_id"),
        concat(lit("TY  - DOC | ID  - "), col("doc_id"),
          lit(" | LA  - "), col("lang"),
          lit(" | SRC - "), col("source"),
          lit(" | N1  - "), substring(col("text"), 1, 40),
          lit(" | ER  -")).as("record"))
        .orderBy("doc_id")
    }),
    // S12 repeated tags: one AU line per author-analog (reference
    // src/search_engine.py:535 authors.split('; ') → per-author
    // `AU  -` lines). explode(split(...)) fans the multi-valued field
    // into rows; the per-doc record re-aggregates in record order via
    // array_sort over (pos, value) structs — deterministic across the
    // shuffle boundary, the at-scale shape of repeated-tag export.
    "q_ris_export_multi" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") < 20)
      val multi = concat_ws("; ", col("source"), col("lang"),
        concat(lit("grp"), (col("doc_id") % 3).cast("string")))
      val au = docs
        .select(col("doc_id"), posexplode(split(multi, "; ")).as(Seq("pos", "au")))
        .groupBy("doc_id")
        .agg(concat_ws("\n",
          transform(array_sort(collect_list(struct(col("pos"), col("au")))),
            x => concat(lit("AU  - "), x.getField("au")))).as("au_block"))
      docs.join(au, "doc_id")
        .select(col("doc_id"),
          concat(lit("TY  - DOC\nID  - "), col("doc_id"),
            lit("\n"), col("au_block"),
            lit("\nN1  - "), substring(col("text"), 1, 40),
            lit("\nER  - ")).as("record"))
        .orderBy("doc_id")
    }),
    // S13: found/not-found comparison cross-tab against an included set
    "q_comparison_export" -> ((s, dir) => {
      import s.implicits._
      val included = Seq(("c00000000", 1), ("c00000001", 2), ("c00000062", 3),
        ("c00000040", 0), ("c00000055", 5)).toDF("conv_id", "turn_idx")
      val top = searchHits(s, dir, QuerySpec("vector window stream", topK = 10))
      included.join(top, Seq("conv_id", "turn_idx"), "left")
        .select(col("conv_id"), col("turn_idx"),
          when(col("score").isNotNull, lit("found")).otherwise(lit("not_found"))
            .as("status"),
          coalesce(col("score"), lit(-1.0)).as("score"))
        .orderBy("conv_id", "turn_idx")
    }),
    // J5: missed-doc diagnosis — below-threshold vs outside-top-k
    "q_missed_doc_classifier" -> ((s, dir) => {
      import s.implicits._
      val included = Seq(("c00000000", 1), ("c00000001", 2), ("c00000062", 3),
        ("c00000040", 0)).toDF("conv_id", "turn_idx")
      // the diagnosis needs each included doc's score and ONE bit of
      // its global rank (> 10 or not) — "rank > 10" is exactly "not in
      // the top 10", so a TakeOrdered(10) membership branch replaces
      // the former global-sort + zipWithIndex job chain (r2), which
      // sorted and materialized a 100k-row ranking to read 4 rows of it
      val scored = OracleEngine.scoreAll(s, Corpus.transcripts(s, dir),
        "data table row", minScore = 0.0, statsKey = Some(dir))
        .select(col("conv_id"), col("turn_idx"), col("score"))
      val top10 = scored
        .orderBy(desc("score"), asc("conv_id"), asc("turn_idx")).limit(10)
        .select(col("conv_id"), col("turn_idx"), lit(1).as("in_top"))
      included.join(scored, Seq("conv_id", "turn_idx"), "left")
        .join(top10, Seq("conv_id", "turn_idx"), "left")
        .select(col("conv_id"), col("turn_idx"),
          when(col("score").isNull, lit("no_term_match"))
            .when(col("score") < 0.3, lit("below_threshold"))
            .when(col("in_top").isNull, lit("outside_topk"))
            .otherwise(lit("retrieved")).as("diagnosis"))
        .orderBy("conv_id", "turn_idx")
    }),
    // S7: point / IN-list metadata lookup
    "q_point_lookup" -> ((s, dir) =>
      Corpus.transcripts(s, dir)
        .filter(col("conv_id").isin("c00000002", "c00000007") &&
          col("turn_idx").isin(0, 1, 2))
        .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy("conv_id", "turn_idx")),
    // Q11: validation-mode preset (tau=0, k=5000)
    "q_validation_mode" -> ((s, dir) => {
      import s.implicits._
      val resp = engine(s, dir).search(QuerySpec("hash scan", topK = 3,
        minScore = 5.0, validationMode = true))
      Seq((resp.totalResults.toLong,
        resp.hits.map(_.score).max, resp.hits.map(_.score).min))
        .toDF("n", "max_score", "min_score")
    }),
    // language-ID classifier cross-tab: actual lang column vs the
    // marker-word classifier's prediction, over the WHOLE table (any
    // per-doc disagreement between engines shifts a count)
    "q_lang_id" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(col("lang"), TextOps.langIdCol(col("text")).as("pred_lang"))
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_lang")
    }),
    // per-language quality rollup (lang-ID + quality scoring combo)
    "q_lang_quality" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val q = TextOps.qualityMetrics(docs, col("doc_id"), col("text"))
      docs.select(col("doc_id").as("id"), col("lang"))
        .join(q, "id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          round(avg(col("stopword_ratio")), 6).as("avg_stop"),
          round(avg(col("mean_word_len")), 6).as("avg_wlen"),
          sum(col("n_ws_tokens")).cast("long").as("total_tokens"))
        .orderBy("lang")
    }),
    // ---- multimodal: binary payload plumbing + stubbed decode ----
    "q_media_features" -> ((s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") < 60)
        .select(col("doc_id").as("id"), col("text").as("payload"))
      val media = Multimodal.synthesize(docs).as[Multimodal.MediaRow]
      Multimodal.extractFeatures(s, media)
        .select(col("media_id"), col("modality"), col("n_bytes"),
          round(col("byte_entropy"), 6).as("entropy"),
          round(col("mean_byte"), 6).as("mean_byte"),
          col("frames_sampled"))
        .orderBy("media_id")
    }),
    // ---- training-pipeline ops: sketch / split / packing / near-dup ----
    // KMV distinct-count sketch (native TypedImperativeAggregate,
    // bounded k-long state per group, map-side partial merge) next to
    // the exact countDistinct it approximates at 100 TB
    "q_kmv_distinct" -> ((s, dir) => {
      val k = KmvK
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(col("lang"),
          explode(split(lower(col("text")), Tokenizer.SplitPattern)).as("term"))
        .filter(length(col("term")) >= Tokenizer.MinLen)
        .select(col("lang"), Hashing.hash32(col("term")).as("h"))
        .groupBy("lang")
        .agg(countDistinct(col("h")).as("exact_distinct"),
          graft.functions.KmvSketch.mins(col("h"), k).as("mins"))
        .select(col("lang"), col("exact_distinct"),
          size(col("mins")).cast("long").as("n_mins"),
          when(size(col("mins")) >= k, element_at(col("mins"), k)).as("kth"),
          round(graft.functions.KmvSketch.estimate(col("mins"), k), 6)
            .as("kmv_est"))
        .orderBy("lang")
    }),
    // deterministic hash-split: train/val/test assignment is a pure
    // function of (salt, doc_id) — reproducible at any scale and
    // stable under appends/repartitioning
    "q_train_split" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(col("lang"),
          Sampling.splitAssign(col("doc_id"), trainBp = 9000, valBp = 500)
            .as("split"),
          col("n_chars"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("n_chars"))
        .orderBy("lang", "split")
    }),
    // sequence packing: fixed-token-budget bins over the id-ordered
    // doc stream via the two-level distributed prefix sum (no global
    // single-partition window)
    "q_pack_sequences" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // chunkSize 512 (vs the 2^20 production default) so the gate
      // exercises the REAL multi-chunk two-level prefix sum — output
      // is chunkSize-invariant (PipelineOpsSpec pins it)
      Pack.binSummary(
        Pack.packSequences(docs, col("doc_id"),
          TextOps.wsTokenCount(col("text")), budget = PackBudget,
          chunkSize = 512))
        .orderBy("bin")
    }),
    // heavy hitters: top-5 most frequent (stop-filtered) terms per
    // language — per-stratum top-k ranking, the "what dominates each
    // slice" corpus-analysis op; ties break (cf desc, term asc)
    "q_heavy_hitters" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val tf = docs.select(col("lang"),
          explode(Tokenizer.tokensCol(col("text"))).as("term"))
        .groupBy(col("lang"), col("term"))
        .agg(count(lit(1)).as("cf"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(desc("cf"), asc("term"))
      tf.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
        .select(col("lang"), col("rank"), col("term"), col("cf"))
        .orderBy("lang", "rank")
    }),
    // sketched heavy hitters beside the exact path (the q_kmv_distinct
    // pattern): count-min bucket pre-aggregation bounds the first
    // exchange to `buckets` rows per language, prunes sub-support
    // buckets (one-sided error: no false negatives), and only then
    // counts candidate terms exactly — the (lang, term) shuffle never
    // carries the vocabulary's long tail. ub = the sketch's
    // upper bound (bucket count) next to the exact cf.
    "q_heavy_hitters_sketch" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // NOT materialized: sketchTopK traverses the exploded token
      // relation twice, but a localCheckpoint of the exploded rows
      // measured SLOWER than the recompute on this VM (fresh-page
      // faults — the same persist-vs-recompute trap as the minhash
      // shingle relation, memory/vm-performance-traps); recompute wins
      // here exactly as the HeavyHitters scaladoc's tradeoff note says
      val terms = docs.select(col("lang"),
        explode(Tokenizer.tokensCol(col("text"))).as("term"))
      HeavyHitters.sketchTopK(terms, col("lang"), col("term"),
        buckets = HhBuckets, support = HhSupport, k = 5)
        .select(col("stratum").as("lang"), col("rank"), col("term"),
          col("cf"), col("ub"))
        .orderBy("lang", "rank")
    }),
    // per-stratum mixture sampling: language-balanced keep fractions,
    // deterministic per (salt, doc_id) — the pretraining data-mixture
    // primitive (downsample over-represented langs, keep rare whole)
    "q_mixture_sample" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(col("lang"),
          Sampling.mixtureSample(col("doc_id"), col("lang"), MixtureBp).as("keep"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy("lang")
    }),
    // end-to-end training-data pipeline showcase — the ops composing
    // as a user would chain them: quality gate → fingerprint near-dup
    // removal (keep lowest doc_id) → deterministic train split →
    // token-budget sequence packing. Every stage is one of the
    // library's gate-proven operators; the oracle replays the whole
    // chain in one SQL statement.
    "q_pipeline_e2e" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val base = docs.select(col("doc_id"), col("text"),
        TextOps.wsTokenCount(col("text")).as("n"))
      val q = base.filter(col("n") >= 10)
      // keep-lowest-id per fingerprint as ONE window (r6, guide §2.4):
      // the former groupBy(fp).min + left_semi join pasted the
      // quality-gated subplan (scan + tokenize + count) into both join
      // sides and paid two exchanges; row_number over (fp, doc_id) is
      // one exchange, doc_id unique so rank 1 is the same survivor set
      val wFp = org.apache.spark.sql.expressions.Window
        .partitionBy(TextOps.fingerprint(col("text"))).orderBy(col("doc_id"))
      val deduped = q.withColumn("rnfp", row_number().over(wFp))
        .filter(col("rnfp") === 1).drop("rnfp")
      val train = deduped.filter(
        Sampling.splitAssign(col("doc_id"), 9000, 500) === "train")
      Pack.binSummary(Pack.packSequences(train, col("doc_id"), col("n"),
          budget = PackBudget, chunkSize = 512))
        .orderBy("bin")
    }),
    // embedding-cosine near-dup: LSH-bucketed pair generation + greedy
    // keep-lowest-id dedup policy over the verified pairs
    "q_embed_neardup" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Dedup.embeddingNearDup(emb, col("vec_id"), col("embedding"),
          dim = 64, tables = 4, planesPerTable = 6, tau = 0.4,
          maxBucketSize = 200)
        .select(col("doc_id"), col("keep_id"), col("n_smaller"),
          round(col("max_cos"), 6).as("max_cos"))
        .orderBy("doc_id")
    }),
    // transitive near-dup clusters over the SAME verified LSH pairs:
    // bounded-round min-label propagation (cluster = min id of the
    // connected component) — the group-id complement to
    // q_embed_neardup's greedy drop policy; the DuckDB twin computes
    // the closure with a recursive CTE instead
    "q_embed_clusters" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val pairs = Similarity.lshCosinePairsMulti(emb, col("vec_id"),
        col("embedding"), dim = 64, tables = 4, planesPerTable = 6,
        tau = 0.4, maxBucketSize = 200)
      Dedup.clusterIds(pairs).orderBy("id")
    }),
    // as-of join (most recent click at or before each purchase, per
    // user) — union-scan plan, one shuffle, zero pair explosion;
    // DuckDB twin is a native ASOF LEFT JOIN
    "q_asof_join" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"), col("value").as("click_value"))
      AsofJoin.asofJoin(purchases, clicks, Seq("user_id"), "ts", "click_ts")
        .select(col("user_id"), col("purchase_id"), col("click_id"),
          col("click_value"),
          // events ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP
          // (session TZ is UTC, so the cast is the identity epoch)
          (unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("click_ts").cast("timestamp"))).as("lag_us"))
        .orderBy("user_id", "purchase_id")
    }),
    // forward as-of with tolerance: the first error at-or-after each
    // purchase, nulled when farther than 2 hours — merge_asof's
    // direction+tolerance surface over the same union-scan plan
    "q_asof_forward" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"),
          col("ts").as("error_ts"))
      AsofJoin.asofJoin(purchases, errors, Seq("user_id"), "ts", "error_ts",
          direction = "forward", toleranceUs = Some(7200000000L))
        .select(col("user_id"), col("purchase_id"), col("error_id"),
          (unix_micros(col("error_ts").cast("timestamp")) -
            unix_micros(col("ts").cast("timestamp"))).as("gap_us"))
        .orderBy("user_id", "purchase_id")
    }),
    // range join (attribution: clicks inside the hour before each
    // purchase) — bucketed point-in-interval equi-join, no per-key
    // cartesian; click values summed as exact integer cents
    "q_range_join" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          (col("ts") - expr("INTERVAL 1 HOUR")).as("w_start"),
          col("ts").as("w_end"))
      RangeJoin.pointInInterval(clicks, purchases, Seq("user_id"),
          "click_ts", "w_start", "w_end", bucketWidthSec = 3600L)
        .groupBy("user_id", "purchase_id")
        .agg(count(lit(1)).as("n_clicks"),
          (sum(round(col("value") * 100).cast("long")) / lit(100.0))
            .as("click_value_sum"))
        .orderBy("user_id", "purchase_id")
    }),
    // Gopher-style repetition quality metrics over documents
    "q_repetition" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextOps.repetitionMetrics(docs, col("doc_id"), col("text"))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),
    // PII redaction + per-rule counts. The synthetic docs carry no
    // PII, so each doc is first augmented with a deterministic
    // PII-shaped suffix (same CASE in the oracle) — the query tests
    // the scrub machinery, not the fixture's innocence
    "q_redact" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val aug = docs.select(col("doc_id"),
        concat(col("text"), expr(RedactSuffixCase)).as("t"))
      aug.select(
        Seq(col("doc_id"), md5(TextOps.redact(col("t"))).as("redacted_md5")) ++
          TextOps.piiCounts(col("t")): _*)
        .orderBy("doc_id")
    }),
    // per-language EXACT length quantiles (discrete: the value whose
    // rank is ceil(q·n) under (n_tokens, doc_id) order — well-defined,
    // interpolation-free, so both engines agree bit-exactly). Exact
    // per-stratum quantiles cost one sort per stratum; at 10^12 docs
    // use the sampled/sketched path (hashSample + this, or
    // percentile_approx) — same exact-beside-sketch split as
    // q_heavy_hitters / q_kmv_distinct.
    "q_length_quantiles" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val base = docs.select(col("lang"), col("doc_id"),
        TextOps.wsTokenCount(col("text")).as("n_tokens"))
      val byLang = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("n_tokens"), col("doc_id"))
      val ranked = base
        .withColumn("rn", row_number().over(byLang))
        .withColumn("cnt", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("lang")))
      import s.implicits._
      val quantiles = Seq(0.5, 0.9, 0.99).toDF("q")
      ranked.join(broadcast(quantiles),
          col("rn") === ceil(col("q") * col("cnt")))
        .select(col("lang"), col("q"), col("n_tokens"))
        .orderBy("lang", "q")
    }),
    // sliding-window chunking (size 32 words, overlap 8)
    "q_chunks" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextOps.slidingChunks(docs, col("doc_id"), col("text"),
          size = ChunkSize, overlap = ChunkOverlap)
        .select(col("id").as("doc_id"), col("chunk_idx"), col("chunk_words"),
          md5(col("chunk")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    })
  )

  /** Deterministic PII-shaped augmentation for q_redact (SQL CASE —
    * valid in both engines verbatim).
    */
  private val RedactSuffixCase =
    "CASE doc_id % 3 " +
      "WHEN 0 THEN ' contact ops-team@example.com or 10.20.30.40' " +
      "WHEN 1 THEN ' call +1 555-123-4567 ref 99887766554' " +
      "ELSE ' order 1234567 pending' END"
  /** q_chunks window geometry (step 24). */
  private val ChunkSize = 32
  private val ChunkOverlap = 8

  /** KMV sketch size for q_kmv_distinct (64 → ~12.5% stderr). */
  private val KmvK = 64
  /** Token budget per packed bin for q_pack_sequences. */
  private val PackBudget = 2048L
  /** Per-language keep fractions (basis points) for q_mixture_sample;
    * es is deliberately absent → kept at 0 (allowlist semantics).
    */
  private val MixtureBp =
    Map("en" -> 2500, "de" -> 10000, "fr" -> 7500, "zh" -> 5000)

  /** q_heavy_hitters_sketch parameters: 16 buckets over a ~30-term
    * vocabulary forces hash collisions (ub > cf rows visible in the
    * output) while support=100 keeps every language stratum
    * non-degenerate at both gate SFs; pruning behavior over a
    * long-tail vocabulary is pinned by HeavyHittersSpec instead.
    */
  private val HhBuckets = 16
  private val HhSupport = 100L

  // tokens with length filter only (the dedup/fingerprint paths do
  // not stop-word-filter, matching Dedup.shingles / TextOps.fingerprint);
  // built from the Tokenizer constants so the contract has one source
  private val tkLenSql = Tokenizer.duckdbTokensLenOnlySql("text")

  private def minhashLshSql(n: Int, tau: Double): String = {
    val mins = (0 until 16)
      .map(i => s"min(${Hashing.minhashPermSql(i, "sh")}) AS mh$i").mkString(",\n    ")
    val bandSelects = (0 until 4).map { b =>
      val cols = (b * 4 until (b + 1) * 4).map(i => s"mh$i::VARCHAR").mkString(" || ',' || ")
      s"SELECT id, $b AS band, ${Hashing.hash32Sql(s"($cols)")} AS bucket FROM sig"
    }.mkString("\n  UNION ALL ")
    val shingleExpr =
      s"""unnest(list_transform(range(0, len(tk) - ${n - 1}),
         |    i -> ${(0 until n).map(j => s"tk[i+${j + 1}]").mkString(" || ' ' || ")}))""".stripMargin
    s"""WITH tk0 AS (SELECT doc_id AS id, $tkLenSql AS tk FROM documents),
       |tk AS (SELECT id, tk FROM tk0 WHERE len(tk) >= $n),
       |sh AS (SELECT DISTINCT id, ${Hashing.hash32Sql("shingle")} AS sh
       |       FROM (SELECT id, $shingleExpr AS shingle FROM tk)),
       |sig AS (SELECT id,
       |    $mins
       |  FROM sh GROUP BY id),
       |bk AS ($bandSelects),
       |cand AS (SELECT DISTINCT l.id AS id_a, r.id AS id_b
       |         FROM bk l JOIN bk r ON l.band = r.band AND l.bucket = r.bucket
       |              AND l.id < r.id),
       |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
       |inter AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
       |  WHERE (a.id, b.id) IN (SELECT (id_a, id_b) FROM cand)
       |  GROUP BY 1, 2),
       |jac AS (
       |  SELECT i.id_a, i.id_b,
       |         i.inter::DOUBLE / (sa.sz + sb.sz - i.inter) AS jaccard
       |  FROM inter i JOIN sizes sa ON i.id_a = sa.id
       |       JOIN sizes sb ON i.id_b = sb.id)
       |SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM jac
       |WHERE jaccard >= $tau ORDER BY id_a, id_b""".stripMargin
  }

  /** CTEs `tf`, `sums`, `sig(id, simhash)` for docs matching pred. */
  private def simhashSigCtes(pred: String): String = {
    val sums = (0 until 32).map(bit =>
      s"sum(CASE WHEN (h >> $bit) % 2 = 1 THEN tf ELSE -tf END) AS s$bit")
      .mkString(",\n    ")
    val sig = (0 until 32)
      .map(bit => s"CASE WHEN s$bit > 0 THEN ${1L << bit} ELSE 0 END")
      .mkString(" + ")
    s"""WITH tf AS (
       |  SELECT doc_id AS id, term, count(*) AS tf, ${Hashing.hash32Sql("term")} AS h
       |  FROM (SELECT doc_id, unnest($tkLenSql) AS term FROM documents WHERE $pred)
       |  GROUP BY doc_id, term),
       |sums AS (SELECT id, $sums FROM tf GROUP BY id),
       |sig AS (SELECT id, ($sig)::BIGINT AS simhash FROM sums)""".stripMargin
  }

  private def simhashSql: String =
    s"""${simhashSigCtes("doc_id < 50")}
       |SELECT id AS doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin

  /** Brute-force all-pairs Hamming join — exact twin of the banded
    * Spark plan because maxDist < bands makes the banding lossless.
    */
  private def simhashPairsSql(maxDist: Int): String =
    s"""${simhashSigCtes("doc_id < 300")}
       |SELECT a.id AS id_a, b.id AS id_b,
       |       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
       |FROM sig a JOIN sig b ON a.id < b.id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxDist
       |ORDER BY id_a, id_b""".stripMargin

  private def ngramJaccardSql(n: Int, tau: Double, maxDf: Int): String =
    s"""WITH tk AS (SELECT doc_id AS id, $tkLenSql AS tk FROM documents WHERE doc_id < 200),
       |sh0 AS (SELECT DISTINCT id, ${Hashing.hash32Sql("shingle")} AS sh FROM (
       |  SELECT id, unnest(list_transform(range(0, len(tk) - ${n - 1}),
       |    i -> ${(0 until n).map(j => s"tk[i+${j + 1}]").mkString(" || ' ' || ")})) AS shingle
       |  FROM tk WHERE len(tk) >= $n)),
       |rare AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= $maxDf),
       |shf AS (SELECT id, sh FROM sh0 WHERE sh IN (SELECT sh FROM rare)),
       |sizes AS (SELECT id, count(*) AS sz FROM sh0 GROUP BY id),
       |inter AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
       |  FROM shf a JOIN shf b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2),
       |jac AS (
       |  SELECT i.id_a, i.id_b,
       |         i.inter::DOUBLE / (sa.sz + sb.sz - i.inter) AS jaccard
       |  FROM inter i JOIN sizes sa ON i.id_a = sa.id
       |       JOIN sizes sb ON i.id_b = sb.id)
       |SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM jac
       |WHERE jaccard >= $tau ORDER BY id_a, id_b""".stripMargin

  /** DuckDB cosine over two list expressions — same double promotion
    * and left-to-right fold as [[graft.functions.VectorMath.cosine]],
    * so scores hash-match bit-for-bit.
    */
  private def cosExpr(x: String, y: String) =
    s"""list_dot_product($x::DOUBLE[], $y::DOUBLE[]) /
       |(sqrt(list_dot_product($x::DOUBLE[], $x::DOUBLE[])) *
       | sqrt(list_dot_product($y::DOUBLE[], $y::DOUBLE[])))""".stripMargin

  private val cosSql = cosExpr("a.embedding", "b.embedding")

  /** Hybrid-fusion oracle skeleton: exhaustive BM25 over `documents`
    * (top-50 by score desc, doc_id), a caller-supplied semantic-side
    * CTE chain ending in `vtop(doc_id, cos)` (top-50 by cos desc,
    * doc_id), per-side min-max normalization, α=0.6 fusion, top-20 by
    * (fused desc, doc_id). The Spark side serves BM25 from the WAND
    * index — rank-and-score-identical to this exhaustive replay
    * (HybridSpec), which is the point of the twin.
    */
  private def hybridFusionSql(vtopCtes: String): String = {
    val terms = Tokenizer.tokenize("spark window vector merge").distinct.sorted.toSeq
    s"""WITH toks AS (
       |  SELECT doc_id, ${Tokenizer.duckdbTokensSql("text")} AS tk
       |  FROM documents),
       |d AS (SELECT doc_id, len(tk) AS dl, tk FROM toks),
       |stats AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM d),
       |tf AS (
       |  SELECT doc_id, dl, term, count(*)::INT AS tf
       |  FROM (SELECT doc_id, dl, unnest(tk) AS term FROM d)
       |  WHERE term IN ${sqlList(terms)}
       |  GROUP BY doc_id, dl, term),
       |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT tf.doc_id,
       |         sum(ln((s.n - f.df + 0.5) / (f.df + 0.5) + 1.0) *
       |             (tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl)))
       |             ORDER BY tf.term) AS score
       |  FROM tf JOIN dfreq f USING (term), stats s
       |  GROUP BY tf.doc_id),
       |bmtop AS (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 50),
       |$vtopCtes,
       |mm AS (SELECT (SELECT min(score) FROM bmtop) AS bmin,
       |              (SELECT max(score) FROM bmtop) AS bmax,
       |              (SELECT min(cos) FROM vtop) AS cmin,
       |              (SELECT max(cos) FROM vtop) AS cmax),
       |fz AS (
       |  SELECT doc_id,
       |         CASE WHEN b.score IS NULL THEN 0.0::DOUBLE
       |              WHEN m.bmax > m.bmin THEN (b.score - m.bmin) / (m.bmax - m.bmin)
       |              ELSE 1.0::DOUBLE END AS bm25_norm,
       |         CASE WHEN v.cos IS NULL THEN 0.0::DOUBLE
       |              WHEN m.cmax > m.cmin THEN (v.cos - m.cmin) / (m.cmax - m.cmin)
       |              ELSE 1.0::DOUBLE END AS cos_norm
       |  FROM bmtop b FULL OUTER JOIN vtop v USING (doc_id), mm m),
       |res AS (
       |  SELECT doc_id, bm25_norm, cos_norm,
       |         0.6::DOUBLE * bm25_norm + 0.4::DOUBLE * cos_norm AS fused
       |  FROM fz ORDER BY fused DESC, doc_id LIMIT 20)
       |SELECT doc_id, round(bm25_norm, 6) AS bm25_norm,
       |       round(cos_norm, 6) AS cos_norm, round(fused, 6) AS fused
       |FROM res ORDER BY doc_id""".stripMargin
  }

  private def lshBucketSql(dim: Int, planes: Int): String = {
    val bits = (0 until planes).map { j =>
      s"""CASE WHEN list_dot_product(embedding::DOUBLE[],
         |  list_transform(range(0, $dim),
         |    d -> ((1103515245 * (${j.toLong * dim} + d) + 12345) % 65536)::DOUBLE / 65536.0 - 0.5)
         |  ) > 0 THEN ${1L << j} ELSE 0 END""".stripMargin
    }.mkString(" + ")
    s"($bits)::BIGINT"
  }

  /** Bucket for multi-table LSH: table t uses plane indices
    * t*planes .. t*planes+planes-1 (independent plane sets).
    */
  private def lshTableBucketSql(dim: Int, t: Int, planes: Int): String = {
    val bits = (0 until planes).map { j =>
      val g = t * planes + j
      s"""CASE WHEN list_dot_product(embedding::DOUBLE[],
         |  list_transform(range(0, $dim),
         |    d -> ((1103515245 * (${g.toLong * dim} + d) + 12345) % 65536)::DOUBLE / 65536.0 - 0.5)
         |  ) > 0 THEN ${1L << j} ELSE 0 END""".stripMargin
    }.mkString(" + ")
    s"($bits)::BIGINT"
  }

  /** Shared multi-table LSH pair CTEs ending in `res(id_a, id_b, cos)`
    * — the twin of [[graft.ops.Similarity.lshCosinePairsMulti]]'s
    * candidate generation, used by both the pair query and the
    * embedding near-dup rollup.
    */
  private def lshPairsCtes(dim: Int, tables: Int, planes: Int,
      maxBucket: Int): String = {
    val ent = (0 until tables).map(t =>
      s"SELECT vec_id AS id, $t AS tbl, ${lshTableBucketSql(dim, t, planes)} AS bucket FROM embeddings")
      .mkString("\n  UNION ALL ")
    s"""WITH ent AS ($ent),
       |ok AS (SELECT tbl, bucket FROM ent GROUP BY 1, 2
       |       HAVING count(*) <= $maxBucket),
       |pr AS (SELECT * FROM ent WHERE (tbl, bucket) IN (SELECT (tbl, bucket) FROM ok)),
       |cand AS (SELECT DISTINCT l.id AS id_a, r.id AS id_b
       |         FROM pr l JOIN pr r
       |           ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.id < r.id),
       |res AS (
       |  SELECT id_a, id_b, $cosSql AS cos
       |  FROM cand JOIN embeddings a ON a.vec_id = id_a
       |       JOIN embeddings b ON b.vec_id = id_b)""".stripMargin
  }

  /** IVF probe replay (assignment → routing → rank) over the FULL
    * embeddings table with the stored-stride centroids — the one twin
    * for both the plain persisted index (q_ann_ivf) and the
    * append-fixture index (q_ann_ivf_append, whose post-append lists
    * are content-equal to a full build by construction).
    */
  private def annIvfSql(probeWhere: String): String =
    s"""WITH cents AS (
       |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
       |  WHERE vec_id % 25 = 0),
       |asg AS (
       |  SELECT id, cid FROM (
       |    SELECT a.vec_id AS id, c.cid,
       |           row_number() OVER (PARTITION BY a.vec_id
       |             ORDER BY ${cosExpr("a.embedding", "c.cvec")} DESC, c.cid) AS rn
       |    FROM embeddings a CROSS JOIN cents c) WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS pid, embedding AS pvec FROM embeddings
       |  WHERE $probeWhere),
       |pl AS (
       |  SELECT pid, cid FROM (
       |    SELECT p.pid, c.cid,
       |           row_number() OVER (PARTITION BY p.pid
       |             ORDER BY ${cosExpr("p.pvec", "c.cvec")} DESC, c.cid) AS rn
       |    FROM probes p CROSS JOIN cents c) WHERE rn <= 4),
       |cand AS (
       |  SELECT pl.pid, asg.id, ${cosExpr("e.embedding", "p.pvec")} AS cos
       |  FROM asg JOIN pl ON asg.cid = pl.cid
       |       JOIN embeddings e ON e.vec_id = asg.id
       |       JOIN probes p ON p.pid = pl.pid
       |  WHERE asg.id <> pl.pid),
       |ranked AS (
       |  SELECT pid, id, cos,
       |         row_number() OVER (PARTITION BY pid ORDER BY cos DESC, id) AS rank
       |  FROM cand)
       |SELECT pid, id AS vec_id, rank::INT AS rank, round(cos, 6) AS cos
       |FROM ranked WHERE rank <= 10 ORDER BY pid, rank""".stripMargin

  private def annLshMultiSql(dim: Int, tables: Int, planes: Int,
      tau: Double, maxBucket: Int): String =
    s"""${lshPairsCtes(dim, tables, planes, maxBucket)}
       |SELECT id_a, id_b, round(cos, 6) AS cos FROM res
       |WHERE cos >= $tau ORDER BY id_a, id_b""".stripMargin

  /** Greedy keep-lowest-id near-dup rollup over the verified LSH
    * pairs (twin of [[graft.ops.Dedup.embeddingNearDup]]).
    */
  private def embedNearDupSql(dim: Int, tables: Int, planes: Int,
      tau: Double, maxBucket: Int): String =
    s"""${lshPairsCtes(dim, tables, planes, maxBucket)}
       |SELECT id_b AS doc_id, min(id_a) AS keep_id, count(*) AS n_smaller,
       |       round(max(cos), 6) AS max_cos
       |FROM res WHERE cos >= $tau
       |GROUP BY id_b ORDER BY doc_id""".stripMargin

  /** Transitive-closure twin of [[graft.ops.Dedup.clusterIds]] over
    * the verified LSH pairs: a recursive CTE enumerates (id,
    * reachable) over the symmetric edge relation to a fixpoint
    * (UNION dedups), then min(reachable) per id IS the component
    * minimum — an independent formulation of the closure the Spark
    * side reaches by min-label propagation.
    */
  private def embedClustersSql(dim: Int, tables: Int, planes: Int,
      tau: Double, maxBucket: Int): String =
    s"""${lshPairsCtes(dim, tables, planes, maxBucket).replaceFirst("^WITH ", "WITH RECURSIVE ")},
       |p AS (SELECT id_a, id_b FROM res WHERE cos >= $tau),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p
       |      UNION ALL SELECT id_b, id_a FROM p),
       |reach AS (
       |  SELECT src AS id, src AS r FROM e
       |  UNION
       |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src)
       |SELECT id, min(r) AS cluster FROM reach GROUP BY id ORDER BY id""".stripMargin

  def oracleSql: Map[String, String] = {
    val stop = Tokenizer.stopListSql
    Map(
      "q_token_counts" ->
        """SELECT doc_id,
          |  len(list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0))::BIGINT AS n_ws,
          |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))::BIGINT AS n_bpeish
          |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,
      "q_quality" ->
        s"""WITH w AS (
           |  SELECT doc_id,
           |         text,
           |         list_filter(regexp_split_to_array(text, '\\s+'), t -> length(t) > 0) AS ws
           |  FROM documents WHERE doc_id < 100)
           |SELECT doc_id,
           |  length(text)::BIGINT AS n_chars,
           |  len(ws)::BIGINT AS n_ws_tokens,
           |  round(len(list_filter(ws, t -> lower(t) IN $stop))::DOUBLE /
           |        greatest(len(ws), 1), 6) AS stopword_ratio,
           |  round(length(regexp_replace(text, '[^A-Z]', '', 'g'))::DOUBLE /
           |        greatest(length(text), 1), 6) AS upper_ratio,
           |  round(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))::DOUBLE /
           |        greatest(length(text), 1), 6) AS punct_ratio,
           |  round(list_sum(list_transform(ws, t -> length(t)))::DOUBLE /
           |        greatest(len(ws), 1), 6) AS mean_word_len
           |FROM w ORDER BY doc_id""".stripMargin,
      "q_fingerprint" ->
        s"""WITH fp AS (
           |  SELECT doc_id,
           |         md5(array_to_string(list_sort(list_distinct($tkLenSql)), ' ')) AS fp
           |  FROM documents)
           |SELECT fp, count(*) AS n, min(doc_id) AS min_doc FROM fp
           |GROUP BY fp HAVING count(*) > 1 ORDER BY fp""".stripMargin,
      "q_topk_meta_join" ->
        """WITH top AS (SELECT * FROM orders
          |            ORDER BY o_totalprice DESC, o_orderkey LIMIT 20)
          |SELECT o_orderkey, c_name, round(o_totalprice, 2) AS total
          |FROM top JOIN customer ON o_custkey = c_custkey
          |ORDER BY o_orderkey""".stripMargin,
      "q_semi_anti" ->
        """WITH w AS (
          |  SELECT c_mktsegment, count(*) AS with_orders FROM customer
          |  WHERE c_custkey IN (SELECT o_custkey FROM orders) GROUP BY 1),
          |wo AS (
          |  SELECT c_mktsegment, count(*) AS without_orders FROM customer
          |  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders) GROUP BY 1)
          |SELECT coalesce(w.c_mktsegment, wo.c_mktsegment) AS c_mktsegment,
          |       coalesce(with_orders, 0) AS with_orders,
          |       coalesce(without_orders, 0) AS without_orders
          |FROM w FULL JOIN wo ON w.c_mktsegment = wo.c_mktsegment
          |ORDER BY c_mktsegment""".stripMargin,
      "q_screening_export" ->
        """SELECT o_orderkey,
          |       coalesce(d.decision, 'Not Screened') AS decision,
          |       o_orderstatus
          |FROM orders LEFT JOIN (
          |  SELECT l_orderkey, max(l_returnflag) AS decision
          |  FROM lineitem GROUP BY 1) d ON o_orderkey = d.l_orderkey
          |WHERE o_orderkey <= 200 ORDER BY o_orderkey""".stripMargin,
      "q_fuzzy_overlap_join" -> {
        val tkDistinct = s"list_distinct(${Tokenizer.duckdbTokensSql("text")})"
        s"""WITH a AS (SELECT doc_id AS id_a, $tkDistinct AS tk_a
           |           FROM documents WHERE doc_id < 25),
           |b AS (SELECT doc_id AS id_b, $tkDistinct AS tk_b
           |      FROM documents WHERE doc_id >= 25 AND doc_id < 50),
           |j AS (
           |  SELECT id_a, id_b, len(list_intersect(tk_a, tk_b)) AS inter,
           |         len(list_intersect(tk_a, tk_b))::DOUBLE / len(tk_a) AS overlap
           |  FROM a CROSS JOIN b)
           |SELECT id_a, id_b, inter::BIGINT AS inter, round(overlap, 6) AS overlap
           |FROM j WHERE inter >= 3 AND overlap >= 0.6
           |ORDER BY id_a, id_b""".stripMargin
      },
      "q_exclusion_filter" ->
        """SELECT source, count(*) AS kept FROM documents
          |WHERE NOT (contains(substr(text, 1, 200), 'dup') OR contains(text, 'stream'))
          |GROUP BY source ORDER BY source""".stripMargin,
      "q_window_rank" ->
        """WITH r AS (
          |  SELECT o_orderpriority, o_orderkey, o_totalprice,
          |         row_number() OVER (PARTITION BY o_orderpriority
          |                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
          |  FROM orders)
          |SELECT o_orderpriority, rank::INT AS rank, o_orderkey,
          |       round(o_totalprice, 2) AS total
          |FROM r WHERE rank <= 3 ORDER BY o_orderpriority, rank""".stripMargin,
      "q_sessionize" ->
        """WITH g AS (
          |  SELECT user_id, event_id, ts,
          |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
          |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
          |                OR floor(epoch(ts))::BIGINT -
          |                   floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)))::BIGINT > 1800
          |              THEN 1 ELSE 0 END AS new_session
          |  FROM events),
          |s AS (
          |  SELECT user_id,
          |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |                                ROWS UNBOUNDED PRECEDING) AS session_id
          |  FROM g)
          |SELECT user_id, max(session_id)::BIGINT AS n_sessions,
          |       count(*) AS n_events
          |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin,
      "q_event_windows" ->
        """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
          |       round(sum(value), 4) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
      "q_set_ops" ->
        """WITH hi AS (SELECT o_custkey FROM orders WHERE o_totalprice > 300000),
          |urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
          |SELECT
          |  (SELECT count(*) FROM (SELECT * FROM hi INTERSECT SELECT * FROM urgent)) AS both,
          |  (SELECT count(*) FROM (SELECT * FROM hi EXCEPT SELECT * FROM urgent)) AS hi_only,
          |  (SELECT count(DISTINCT o_custkey) FROM (SELECT * FROM hi UNION ALL SELECT * FROM urgent)) AS union_distinct""".stripMargin,
      "q_scalar_funcs" ->
        """SELECT event_id,
          |       regexp_extract(event_type, '^([a-z]+)', 1) AS etype,
          |       json_extract_string(props, '$.k')::BIGINT AS k,
          |       translate(upper(event_type), '_', ' ') AS norm
          |FROM events WHERE event_id < 100 ORDER BY event_id""".stripMargin,
      "q_like_scan" ->
        """SELECT lang, count(*) AS n FROM documents
          |WHERE contains(text, 'vector window') OR text LIKE 'the fast%'
          |GROUP BY lang ORDER BY lang""".stripMargin,
      "q_date_assembly" -> {
        val monthNames = Seq("January", "February", "March", "April", "May",
          "June", "July", "August", "September", "October", "November", "December")
        val mcase = monthNames.zipWithIndex
          .map { case (n, i) => s"WHEN '$n' THEN ${i + 1}" }
          .mkString("CASE monthname(ts) ", " ", " END")
        s"""SELECT event_id, monthname(ts) AS mname,
           |  (year(ts)::VARCHAR || '-' ||
           |   lpad(($mcase)::VARCHAR, 2, '0') || '-' ||
           |   lpad(day(ts)::VARCHAR, 2, '0'))::DATE AS assembled
           |FROM events WHERE event_id < 200 ORDER BY event_id""".stripMargin
      },
      "q_score_stats" ->
        s"""${bm25Ctes(Seq("stream", "vector", "window"))},
           |topk AS (SELECT * FROM scored
           |         ORDER BY score DESC, conv_id, turn_idx LIMIT 500)
           |SELECT count(*) AS n,
           |       round(min(score), 4) AS min_s,
           |       round(max(score), 4) AS max_s,
           |       round(sum(round(score, 6) ORDER BY round(score, 6))
           |             / count(*), 4) AS avg_s
           |FROM topk""".stripMargin,
      "q_date_ops" ->
        """SELECT date_trunc('month', l_shipdate) AS ship_month, count(*) AS n,
          |       round(sum(l_quantity), 4) AS qty
          |FROM lineitem GROUP BY 1 ORDER BY ship_month""".stripMargin,
      "q_recall_stats" ->
        s"""${bm25Ctes(Seq("stream", "vector", "window"))},
           |topk AS (SELECT conv_id, turn_idx FROM scored
           |         ORDER BY score DESC, conv_id, turn_idx LIMIT 10),
           |inc(conv_id, turn_idx) AS (VALUES
           |  ('c00000000', 1), ('c00000001', 2), ('c00000062', 3),
           |  ('c00000040', 0), ('c00000055', 5)),
           |m AS (SELECT count(*) AS matched FROM inc
           |      WHERE (conv_id, turn_idx) IN (SELECT (conv_id, turn_idx) FROM topk)),
           |nw AS (SELECT count(*) AS new_candidates FROM topk
           |       WHERE (conv_id, turn_idx) NOT IN (SELECT (conv_id, turn_idx) FROM inc))
           |SELECT m.matched, (5 - m.matched) AS missed, nw.new_candidates,
           |       round(m.matched::DOUBLE / 5, 4) AS recall
           |FROM m, nw""".stripMargin,
      "q_bm25_reranked" ->
        s"""${bm25Ctes(Seq("merge", "scan", "table"))},
           |topkp AS (SELECT conv_id, turn_idx, score FROM scored
           |          ORDER BY score DESC, conv_id, turn_idx LIMIT 50),
           |cand AS (
           |  SELECT p.conv_id, p.turn_idx, p.score,
           |         len(list_filter(range(1, len(d.tk)),
           |           i -> list_contains(['merge','scan','table'], d.tk[i])
           |            AND list_contains(['merge','scan','table'], d.tk[i+1]))) AS pairs
           |  FROM topkp p JOIN d USING (conv_id, turn_idx)),
           |rr AS (SELECT conv_id, turn_idx, score,
           |              score + 0.1 * least(pairs, 5) AS rrs FROM cand),
           |top AS (SELECT * FROM rr
           |        ORDER BY round(rrs, 3) DESC, score DESC, conv_id, turn_idx
           |        LIMIT 10)
           |SELECT conv_id, turn_idx, round(score, 4) AS score,
           |       round(rrs, 3) AS rerank
           |FROM top ORDER BY conv_id, turn_idx""".stripMargin,
      "q_ris_export" ->
        """SELECT doc_id,
          |  'TY  - DOC | ID  - ' || doc_id || ' | LA  - ' || lang ||
          |  ' | SRC - ' || source || ' | N1  - ' || substr(text, 1, 40) ||
          |  ' | ER  -' AS record
          |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin,
      // the oracle computes the expected multi-line record directly
      // (the Spark side is what exercises the explode/re-agg shape)
      "q_ris_export_multi" ->
        """SELECT doc_id,
          |  'TY  - DOC' || chr(10) || 'ID  - ' || doc_id || chr(10) ||
          |  'AU  - ' || source || chr(10) ||
          |  'AU  - ' || lang || chr(10) ||
          |  'AU  - grp' || (doc_id % 3)::VARCHAR || chr(10) ||
          |  'N1  - ' || substr(text, 1, 40) || chr(10) ||
          |  'ER  - ' AS record
          |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin,
      "q_comparison_export" ->
        s"""${bm25Ctes(Seq("stream", "vector", "window"))},
           |topk AS (SELECT conv_id, turn_idx, score FROM scored
           |         ORDER BY score DESC, conv_id, turn_idx LIMIT 10),
           |inc(conv_id, turn_idx) AS (VALUES
           |  ('c00000000', 1), ('c00000001', 2), ('c00000062', 3),
           |  ('c00000040', 0), ('c00000055', 5))
           |SELECT i.conv_id, i.turn_idx,
           |       CASE WHEN k.score IS NOT NULL THEN 'found' ELSE 'not_found' END AS status,
           |       coalesce(round(k.score, 4), -1.0) AS score
           |FROM inc i LEFT JOIN topk k USING (conv_id, turn_idx)
           |ORDER BY conv_id, turn_idx""".stripMargin,
      "q_missed_doc_classifier" ->
        s"""${bm25Ctes(Seq("data", "row", "table"))},
           |ranked AS (
           |  SELECT conv_id, turn_idx, score,
           |         row_number() OVER (ORDER BY score DESC, conv_id, turn_idx) AS rank
           |  FROM scored),
           |inc(conv_id, turn_idx) AS (VALUES
           |  ('c00000000', 1), ('c00000001', 2), ('c00000062', 3), ('c00000040', 0))
           |SELECT i.conv_id, i.turn_idx,
           |       CASE WHEN r.score IS NULL THEN 'no_term_match'
           |            WHEN r.score < 0.3 THEN 'below_threshold'
           |            WHEN r.rank > 10 THEN 'outside_topk'
           |            ELSE 'retrieved' END AS diagnosis
           |FROM inc i LEFT JOIN ranked r USING (conv_id, turn_idx)
           |ORDER BY conv_id, turn_idx""".stripMargin,
      "q_point_lookup" ->
        s"""WITH ${Corpus.transcriptsCte}
           |SELECT conv_id, turn_idx, role, tool, length(text)::BIGINT AS n_chars
           |FROM t WHERE conv_id IN ('c00000002', 'c00000007')
           |  AND turn_idx IN (0, 1, 2)
           |ORDER BY conv_id, turn_idx""".stripMargin,
      "q_validation_mode" ->
        s"""${bm25Ctes(Seq("hash", "scan"))},
           |topk AS (SELECT * FROM scored
           |         ORDER BY score DESC, conv_id, turn_idx LIMIT 5000)
           |SELECT count(*) AS n, max(round(score, 4)) AS max_score,
           |       min(round(score, 4)) AS min_score
           |FROM topk""".stripMargin,
      "q_lang_quality" -> (
        """WITH w AS (
          |  SELECT doc_id, lang,
          |         list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS ws
          |  FROM documents),
          |m AS (
          |  SELECT doc_id, lang,
          |    round(len(list_filter(ws, t -> lower(t) IN """.stripMargin +
        Tokenizer.stopListSql +
        """))::DOUBLE / greatest(len(ws), 1), 6) AS stopword_ratio,
          |    round(list_sum(list_transform(ws, t -> length(t)))::DOUBLE /
          |          greatest(len(ws), 1), 6) AS mean_word_len,
          |    len(ws) AS n_ws_tokens
          |  FROM w)
          |SELECT lang, count(*) AS n,
          |       round(avg(stopword_ratio), 6) AS avg_stop,
          |       round(avg(mean_word_len), 6) AS avg_wlen,
          |       sum(n_ws_tokens)::BIGINT AS total_tokens
          |FROM m GROUP BY lang ORDER BY lang""".stripMargin),
      "q_entity_resolution" -> {
        val tkOf = (e: String) => s"list_distinct(${Tokenizer.duckdbTokensSql(e)})"
        val normOf = (e: String) =>
          s"trim(regexp_replace(lower($e), '[^a-z0-9]+', ' ', 'g'))"
        s"""WITH docs AS (SELECT * FROM documents WHERE doc_id < 60),
           |cit AS (
           |  SELECT doc_id AS qid,
           |    'PMID: ' ||
           |    CASE WHEN doc_id % 3 = 0 THEN (doc_id + 1000000)::VARCHAR
           |         ELSE '8888888' END ||
           |    '. "' ||
           |    CASE WHEN doc_id % 3 = 2 THEN substr(text, 21, 100)
           |         ELSE upper(substr(text, 1, 80)) END ||
           |    '" (2021)' AS citation
           |  FROM docs),
           |parsed AS (
           |  SELECT qid,
           |    regexp_extract(citation, '\\b(\\d{6,10})\\b', 1) AS exact_key,
           |    ${normOf("""regexp_extract(citation, '"([^"]+)"', 1)""")} AS norm_key,
           |    ${tkOf("""regexp_extract(citation, '"([^"]+)"', 1)""")} AS tk
           |  FROM cit),
           |cat AS (
           |  SELECT doc_id AS cid, (doc_id + 1000000)::VARCHAR AS exact_key,
           |    ${normOf("substr(text, 1, 80)")} AS norm_key,
           |    ${tkOf("text")} AS tk
           |  FROM docs),
           |s1 AS (
           |  SELECT qid, min(cid) AS cid FROM parsed q JOIN cat c USING (exact_key)
           |  WHERE length(exact_key) > 0 GROUP BY qid),
           |r1 AS (SELECT * FROM parsed WHERE qid NOT IN (SELECT qid FROM s1)),
           |s2 AS (
           |  SELECT qid, min(cid) AS cid FROM r1 q JOIN cat c USING (norm_key)
           |  WHERE length(norm_key) > 0 GROUP BY qid),
           |r2 AS (SELECT * FROM r1 WHERE qid NOT IN (SELECT qid FROM s2)),
           |qtok AS (SELECT qid, len(tk) AS qsz, unnest(tk) AS tok FROM r2),
           |ctok AS (SELECT cid, unnest(tk) AS tok FROM cat),
           |ov AS (
           |  SELECT qid, qsz, cid, count(*) AS inter,
           |         count(*)::DOUBLE / qsz AS overlap
           |  FROM qtok JOIN ctok USING (tok) GROUP BY qid, qsz, cid),
           |s3 AS (
           |  SELECT qid, cid, overlap FROM (
           |    SELECT qid, cid, overlap,
           |           row_number() OVER (PARTITION BY qid
           |                              ORDER BY overlap DESC, cid) AS rn
           |    FROM ov WHERE inter >= 3 AND overlap >= 0.4) WHERE rn = 1),
           |res AS (
           |  SELECT qid, cid, 'exact_id' AS method, 1.0::DOUBLE AS score FROM s1
           |  UNION ALL SELECT qid, cid, 'norm_key', 1.0::DOUBLE FROM s2
           |  UNION ALL SELECT qid, cid, 'fuzzy_overlap', overlap FROM s3)
           |SELECT qid, cid, method, round(score, 6) AS score FROM res
           |ORDER BY qid""".stripMargin
      },
      "q_entity_resolution_full" -> {
        val tkOf = (e: String) => s"list_distinct(${Tokenizer.duckdbTokensSql(e)})"
        val rawTkOf = (e: String) => Tokenizer.duckdbTokensSql(e)
        val normOf = (e: String) =>
          s"trim(regexp_replace(lower($e), '[^a-z0-9]+', ' ', 'g'))"
        s"""WITH docs AS (SELECT * FROM documents WHERE doc_id < 60),
           |cit AS (
           |  SELECT doc_id AS qid,
           |    'Author' || doc_id::VARCHAR ||
           |    CASE WHEN doc_id % 10 = 4 THEN '. PMID: '
           |         ELSE ' B. PMID: ' END ||
           |    CASE WHEN doc_id % 5 = 0 THEN (doc_id + 1000000)::VARCHAR
           |         ELSE '8888888' END ||
           |    CASE WHEN doc_id % 5 = 1
           |         THEN ', doi:10.1000/d' || doc_id::VARCHAR ELSE '' END ||
           |    CASE WHEN doc_id % 5 = 2
           |           THEN '. "' || upper(substr(text, 1, 80)) || '"'
           |         WHEN doc_id % 5 = 3
           |           THEN '. "' || substr(text, 21, 100) || '"'
           |         WHEN doc_id % 20 = 19
           |           THEN '. "qqaa qqbb qqcc qqdd"'
           |         WHEN doc_id % 10 = 9
           |           THEN '. "' || array_to_string((${rawTkOf("text")})[1:2], ' ') ||
           |                ' zzaa zzbb zzcc zzdd"'
           |         ELSE '' END ||
           |    ' (2021)' AS citation
           |  FROM docs),
           |parsed AS (
           |  SELECT qid,
           |    regexp_extract(citation, '\\b(\\d{6,10})\\b', 1) AS exact_key,
           |    lower(trim(regexp_extract(citation, '\\b(10\\.\\d{3,6}/[^\\s,;]+)', 1))) AS doi_key,
           |    ${normOf("""regexp_extract(citation, '"([^"]+)"', 1)""")} AS norm_key,
           |    ${normOf("""substr(regexp_extract(citation, '^([^.]+)\.', 1), 1, 30)""")} AS author_key,
           |    regexp_extract(citation, '\\(((?:19|20)\\d{2})\\)', 1) AS year,
           |    ${tkOf("""regexp_extract(citation, '"([^"]+)"', 1)""")} AS tk
           |  FROM cit),
           |cat AS (
           |  SELECT doc_id AS cid, (doc_id + 1000000)::VARCHAR AS exact_key,
           |    lower(trim('10.1000/d' || doc_id::VARCHAR)) AS doi_key,
           |    ${normOf("substr(text, 1, 80)")} AS norm_key,
           |    ${normOf("'Author' || doc_id::VARCHAR || ' B'")} AS author_key,
           |    '2021' AS year,
           |    ${tkOf("text")} AS tk
           |  FROM docs),
           |s1 AS (
           |  SELECT qid, min(cid) AS cid FROM parsed q JOIN cat c USING (exact_key)
           |  WHERE length(exact_key) > 0 GROUP BY qid),
           |r1 AS (SELECT * FROM parsed WHERE qid NOT IN (SELECT qid FROM s1)),
           |s2 AS (
           |  SELECT qid, min(cid) AS cid FROM r1 q JOIN cat c USING (doi_key)
           |  WHERE length(doi_key) > 0 GROUP BY qid),
           |r2 AS (SELECT * FROM r1 WHERE qid NOT IN (SELECT qid FROM s2)),
           |s3 AS (
           |  SELECT qid, min(cid) AS cid FROM r2 q JOIN cat c USING (norm_key)
           |  WHERE length(norm_key) > 0 GROUP BY qid),
           |r3 AS (SELECT * FROM r2 WHERE qid NOT IN (SELECT qid FROM s3)),
           |qtok AS (SELECT qid, len(tk) AS qsz, unnest(tk) AS tok FROM r3),
           |ctok AS (SELECT cid, unnest(tk) AS tok FROM cat),
           |ov4 AS (
           |  SELECT qid, qsz, cid, count(*) AS inter,
           |         count(*)::DOUBLE / qsz AS overlap
           |  FROM qtok JOIN ctok USING (tok) GROUP BY qid, qsz, cid),
           |s4 AS (
           |  SELECT qid, cid, overlap FROM (
           |    SELECT qid, cid, overlap,
           |           row_number() OVER (PARTITION BY qid
           |                              ORDER BY overlap DESC, cid) AS rn
           |    FROM ov4 WHERE inter >= 3 AND overlap >= 0.4) WHERE rn = 1),
           |r4 AS (SELECT * FROM r3 WHERE qid NOT IN (SELECT qid FROM s4)),
           |ay AS (
           |  -- token-boundary containment (every citation-author token
           |  -- appears in the catalog author) = the twin of the Spark
           |  -- side's lname-routed equi-join + subset verify
           |  SELECT q.qid, c.cid,
           |         CASE WHEN len(q.tk) > 0
           |              THEN len(list_intersect(q.tk, c.tk))::DOUBLE / len(q.tk)
           |              ELSE 0.0 END AS ov,
           |         len(q.tk) AS qsz,
           |         count(*) OVER (PARTITION BY q.qid) AS ncand
           |  FROM r4 q JOIN cat c
           |    ON q.year = c.year
           |   AND len(list_filter(str_split(q.author_key, ' '),
           |         t -> NOT list_contains(str_split(c.author_key, ' '), t))) = 0
           |  WHERE length(q.author_key) > 0 AND length(q.year) > 0
           |    AND length(c.author_key) > 0),
           |s5 AS (
           |  SELECT qid, cid, ov FROM (
           |    SELECT qid, cid, ov,
           |           row_number() OVER (PARTITION BY qid
           |                              ORDER BY ov DESC, cid) AS rn
           |    FROM ay WHERE (qsz > 0 AND ov >= 0.3) OR ncand = 1)
           |  WHERE rn = 1),
           |res AS (
           |  SELECT qid, cid, 'exact_id' AS method, 1.0::DOUBLE AS score FROM s1
           |  UNION ALL SELECT qid, cid, 'doi', 1.0::DOUBLE FROM s2
           |  UNION ALL SELECT qid, cid, 'norm_key', 1.0::DOUBLE FROM s3
           |  UNION ALL SELECT qid, cid, 'fuzzy_overlap', overlap FROM s4
           |  UNION ALL SELECT qid, cid, 'author_year', ov FROM s5)
           |SELECT qid, cid, method, round(score, 6) AS score FROM res
           |ORDER BY qid""".stripMargin
      },
      "q_lang_id" -> {
        // marker lists generated from TextOps.LangMarkers so the two
        // engines can never drift; tie-break = (score, lang) max, i.e.
        // ORDER BY score DESC, lang DESC — identical to Spark's
        // greatest() over (score, lang) structs
        val scoreSelects = TextOps.LangMarkers.toSeq.sortBy(_._1).map { case (lang, ms) =>
          val lst = ms.map(m => s"'$m'").mkString("[", ",", "]")
          s"""SELECT doc_id, lang, '$lang' AS pl,
             |  len(list_filter(ws, t -> list_contains($lst, t))) AS score FROM w""".stripMargin
        }.mkString("\n  UNION ALL ")
        s"""WITH w AS (
           |  SELECT doc_id, lang,
           |         regexp_split_to_array(lower(text), '[^\\p{L}]+') AS ws
           |  FROM documents),
           |sc AS ($scoreSelects),
           |best AS (
           |  SELECT doc_id, lang, pl, score,
           |         row_number() OVER (PARTITION BY doc_id
           |                            ORDER BY score DESC, pl DESC) AS rn
           |  FROM sc)
           |SELECT lang,
           |       CASE WHEN score > 0 THEN pl ELSE 'und' END AS pred_lang,
           |       count(*) AS n
           |FROM best WHERE rn = 1
           |GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin
      },
      "q_minhash_lsh" -> minhashLshSql(2, 0.2),
      "q_simhash" -> simhashSql,
      "q_simhash_pairs" -> simhashPairsSql(3),
      "q_ngram_jaccard" -> ngramJaccardSql(2, 0.15, 1000),
      "q_ann_cosine" ->
        s"""WITH probe AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
           |scored AS (
           |  SELECT a.vec_id, $cosSql AS cos
           |  FROM embeddings a, (SELECT 0 AS vid, embedding FROM probe) b
           |  WHERE a.vec_id <> 0),
           |topk AS (SELECT * FROM scored ORDER BY cos DESC, vec_id LIMIT 10)
           |SELECT vec_id, round(cos, 6) AS cos FROM topk ORDER BY vec_id""".stripMargin,
      "q_knn_join" ->
        s"""WITH scored AS (
           |  SELECT b.vec_id AS pid, a.vec_id AS vec_id, $cosSql AS cos
           |  FROM embeddings a JOIN embeddings b
           |    ON b.vec_id < 5 AND a.vec_id <> b.vec_id),
           |ranked AS (
           |  SELECT pid, vec_id, cos,
           |         row_number() OVER (PARTITION BY pid ORDER BY cos DESC, vec_id) AS rank
           |  FROM scored)
           |SELECT pid, vec_id, rank::INT AS rank, round(cos, 6) AS cos FROM ranked
           |WHERE rank <= 3 ORDER BY pid, rank""".stripMargin,
      "q_lsh_buckets" ->
        s"""SELECT ${lshBucketSql(64, 8)} AS bucket, count(*) AS n
           |FROM embeddings GROUP BY 1 ORDER BY bucket""".stripMargin,
      // both hybrid twins share one fusion skeleton; they differ only
      // in the semantic-side vtop CTE (brute-force vs IVF-routed)
      "q_hybrid_fusion" -> hybridFusionSql(
        s"""vtop AS (
           |  SELECT a.vec_id AS doc_id, ${cosExpr("a.embedding", "p.pvec")} AS cos
           |  FROM embeddings a,
           |       (SELECT embedding AS pvec FROM embeddings WHERE vec_id = 7) p
           |  WHERE a.vec_id <> 7
           |  ORDER BY cos DESC, doc_id LIMIT 50)""".stripMargin),
      "q_hybrid_ivf" -> hybridFusionSql(
        s"""cents AS (
           |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
           |  WHERE vec_id % 25 = 0),
           |asg AS (
           |  SELECT id, cid FROM (
           |    SELECT a.vec_id AS id, c.cid,
           |           row_number() OVER (PARTITION BY a.vec_id
           |             ORDER BY ${cosExpr("a.embedding", "c.cvec")} DESC, c.cid) AS rn
           |    FROM embeddings a CROSS JOIN cents c) WHERE rn = 1),
           |hprobes AS (
           |  SELECT vec_id AS pid, embedding AS pvec FROM embeddings
           |  WHERE vec_id = 7),
           |hpl AS (
           |  SELECT pid, cid FROM (
           |    SELECT p.pid, c.cid,
           |           row_number() OVER (PARTITION BY p.pid
           |             ORDER BY ${cosExpr("p.pvec", "c.cvec")} DESC, c.cid) AS rn
           |    FROM hprobes p CROSS JOIN cents c) WHERE rn <= 4),
           |vtop AS (
           |  SELECT asg.id AS doc_id, ${cosExpr("e.embedding", "p.pvec")} AS cos
           |  FROM asg JOIN hpl ON asg.cid = hpl.cid
           |       JOIN embeddings e ON e.vec_id = asg.id
           |       JOIN hprobes p ON p.pid = hpl.pid
           |  WHERE asg.id <> hpl.pid
           |  ORDER BY cos DESC, doc_id LIMIT 50)""".stripMargin),
      "q_ann_ivf" -> annIvfSql("vec_id < 3"),
      // same skeleton over the UNION corpus: the appended fixture's
      // lists must be content-equal to a full build (holdout has no
      // centroid ids), so only the probe set differs
      "q_ann_ivf_append" -> annIvfSql("vec_id IN (2, 7, 17)"),
      "q_ann_lsh_multi" -> annLshMultiSql(64, 4, 6, 0.4, 200),
      "q_embed_neardup" -> embedNearDupSql(64, 4, 6, 0.4, 200),
      "q_embed_clusters" -> embedClustersSql(64, 4, 6, 0.4, 200),
      // KMV replay: the k smallest distinct hashes per group are a
      // deterministic set, so ORDER BY h + row_number reproduces the
      // sketch exactly; estimate arithmetic mirrors KmvSketch.estimate
      "q_kmv_distinct" ->
        s"""WITH tk AS (
           |  SELECT lang, unnest($tkLenSql) AS term FROM documents),
           |h AS (SELECT DISTINCT lang, ${Hashing.hash32Sql("term")} AS h FROM tk),
           |r AS (SELECT lang, h,
           |        row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
           |      FROM h),
           |ag AS (
           |  SELECT lang,
           |         count(*) AS exact_distinct,
           |         count(*) FILTER (WHERE rn <= $KmvK) AS n_mins,
           |         max(h) FILTER (WHERE rn <= $KmvK) AS kth0
           |  FROM r GROUP BY lang)
           |SELECT lang, exact_distinct, n_mins,
           |       CASE WHEN n_mins >= $KmvK THEN kth0 END AS kth,
           |       round(CASE WHEN n_mins < $KmvK THEN n_mins::DOUBLE
           |                  ELSE ${(KmvK - 1).toDouble * 4294967296.0} / kth0 END, 6)
           |         AS kmv_est
           |FROM ag ORDER BY lang""".stripMargin,
      "q_pipeline_e2e" ->
        s"""WITH base AS (
           |  SELECT doc_id, text,
           |         len(list_filter(regexp_split_to_array(text, '\\s+'),
           |             t -> length(t) > 0))::BIGINT AS n
           |  FROM documents),
           |q AS (SELECT * FROM base WHERE n >= 10),
           |keep AS (
           |  SELECT min(doc_id) AS doc_id FROM q
           |  GROUP BY md5(array_to_string(list_sort(list_distinct($tkLenSql)), ' '))),
           |dd AS (SELECT doc_id, n FROM q
           |       WHERE doc_id IN (SELECT doc_id FROM keep)),
           |tr AS (SELECT doc_id, n FROM dd
           |       WHERE (${Sampling.splitAssignSql("doc_id", 9000, 500)}) = 'train'),
           |c AS (SELECT doc_id, n,
           |        (sum(n) OVER (ORDER BY doc_id
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n)::BIGINT
           |          AS gstart
           |      FROM tr),
           |b AS (SELECT doc_id, n, (gstart // $PackBudget)::BIGINT AS bin FROM c)
           |SELECT bin, count(*) AS n_docs, sum(n)::BIGINT AS n_tokens,
           |       min(doc_id) AS first_id, max(doc_id) AS last_id
           |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
      "q_heavy_hitters" ->
        s"""WITH tk AS (
           |  SELECT lang, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term
           |  FROM documents),
           |tf AS (SELECT lang, term, count(*) AS cf FROM tk GROUP BY lang, term),
           |r AS (SELECT lang, term, cf,
           |        row_number() OVER (PARTITION BY lang ORDER BY cf DESC, term) AS rank
           |      FROM tf)
           |SELECT lang, rank::INT AS rank, term, cf FROM r WHERE rank <= 5
           |ORDER BY lang, rank""".stripMargin,
      // sketch replay: HeavyHitters.sketchTopKSql is the Scala op's
      // engine-portable SQL twin (one source for both forms)
      "q_heavy_hitters_sketch" ->
        s"""WITH tk AS (
           |  SELECT lang AS stratum, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term
           |  FROM documents),
           |${HeavyHitters.sketchTopKSql(HhBuckets, HhSupport)}
           |SELECT stratum AS lang, rank::INT AS rank, term, cf, ub
           |FROM rk WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,
      "q_mixture_sample" ->
        s"""WITH s AS (
           |  SELECT lang,
           |         (${Sampling.mixtureSampleSql("doc_id", "lang", MixtureBp)}) AS keep
           |  FROM documents)
           |SELECT lang, count(*) AS n_total,
           |       sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept
           |FROM s GROUP BY lang ORDER BY lang""".stripMargin,
      "q_train_split" ->
        s"""WITH s AS (
           |  SELECT lang, ${Sampling.splitAssignSql("doc_id", 9000, 500)} AS split,
           |         n_chars
           |  FROM documents)
           |SELECT lang, split, count(*) AS n, sum(n_chars)::BIGINT AS n_chars
           |FROM s GROUP BY lang, split ORDER BY lang, split""".stripMargin,
      // global-window replay of the two-level prefix sum (identical by
      // associativity; the Spark side never runs this single-partition
      // shape)
      "q_pack_sequences" ->
        s"""WITH t AS (
           |  SELECT doc_id,
           |         len(list_filter(regexp_split_to_array(text, '\\s+'),
           |             t -> length(t) > 0))::BIGINT AS n
           |  FROM documents),
           |c AS (SELECT doc_id, n,
           |        (sum(n) OVER (ORDER BY doc_id
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n)::BIGINT
           |          AS gstart
           |      FROM t),
           |b AS (SELECT doc_id, n, (gstart // $PackBudget)::BIGINT AS bin FROM c)
           |SELECT bin, count(*) AS n_docs, sum(n)::BIGINT AS n_tokens,
           |       min(doc_id) AS first_id, max(doc_id) AS last_id
           |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
      "q_media_features" ->
        """WITH m AS (
          |  SELECT doc_id AS media_id,
          |         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
          |         text,
          |         CASE WHEN doc_id % 3 <> 0 THEN (doc_id % 100 + 1) * 250 ELSE 0 END AS duration_ms
          |  FROM documents WHERE doc_id < 60),
          |chars AS (
          |  SELECT media_id, ascii(c) AS byte, count(*) AS cnt
          |  FROM (SELECT media_id, unnest(regexp_extract_all(text, '.')) AS c FROM m)
          |  GROUP BY 1, 2),
          |tot AS (SELECT media_id, sum(cnt) AS n, sum(byte * cnt) AS bsum FROM chars GROUP BY 1),
          |ent AS (
          |  SELECT c.media_id,
          |         -sum((c.cnt::DOUBLE / t.n) * ln(c.cnt::DOUBLE / t.n) / ln(2.0)
          |              ORDER BY c.byte) AS entropy
          |  FROM chars c JOIN tot t USING (media_id) GROUP BY c.media_id)
          |SELECT m.media_id, m.modality, t.n::BIGINT AS n_bytes,
          |       round(e.entropy, 6) AS entropy,
          |       round(t.bsum::DOUBLE / t.n, 6) AS mean_byte,
          |       (CASE WHEN m.modality = 'image' THEN 1
          |             ELSE greatest(1, m.duration_ms // 1000) END)::INT AS frames_sampled
          |FROM m JOIN tot t USING (media_id) JOIN ent e USING (media_id)
          |ORDER BY media_id""".stripMargin,
      "q_bm25_topk" -> bm25TopkSql(Seq("stream", "vector", "window"), 10),
      "q_bm25_topk_large" -> bm25TopkSql(Seq("batch", "customer", "join", "merge"), 50),
      "q_bm25_and" -> bm25TopkSql(Seq("join", "merge", "sort"), 15, conjunctive = true),
      "q_bm25_minscore" ->
        s"""${bm25Ctes(Seq("hash", "scan"))},
           |topk AS (SELECT * FROM scored WHERE score >= 0.5
           |         ORDER BY score DESC, conv_id, turn_idx LIMIT 100)
           |SELECT conv_id, turn_idx, round(score, 4) AS score FROM topk
           |ORDER BY conv_id, turn_idx""".stripMargin,
      "q_bm25_oracle_df" -> bm25TopkSql(Seq("filter", "query", "slow"), 20),
      "q_bm25_filtered" ->
        s"""${bm25Ctes(Seq("data", "row", "table"))},
           |topkp AS (SELECT * FROM scored
           |          ORDER BY score DESC, conv_id, turn_idx LIMIT 50),
           |filt AS (
           |  SELECT p.* FROM topkp p JOIN t USING (conv_id, turn_idx)
           |  WHERE lower(t.role) IN ('user','assistant')
           |    AND t.ts >= TIMESTAMP '2026-01-01 00:01:00'),
           |topk AS (SELECT * FROM filt
           |         ORDER BY score DESC, conv_id, turn_idx LIMIT 10)
           |SELECT conv_id, turn_idx, round(score, 4) AS score FROM topk
           |ORDER BY conv_id, turn_idx""".stripMargin,
      "q_bm25_boosted" ->
        s"""${bm25Ctes(Seq("agg", "group", "window"))},
           |topk AS (SELECT * FROM scored
           |         ORDER BY score DESC, conv_id, turn_idx LIMIT 15),
           |adj AS (
           |  SELECT k.conv_id, k.turn_idx,
           |    round(k.score, 4)
           |    + (CASE WHEN contains(lower(t.text), 'vector')
           |            THEN 0.15 * 1 * power(0.7, 0) ELSE 0.0 END)
           |    - (CASE WHEN contains(lower(t.text), 'slow')
           |            THEN 0.15 * 1 * power(0.7, 0) ELSE 0.0 END) AS score
           |  FROM topk k JOIN t USING (conv_id, turn_idx))
           |SELECT conv_id, turn_idx, score FROM adj
           |ORDER BY conv_id, turn_idx""".stripMargin,
      "q_corpus_stats" ->
        s"""WITH ${Corpus.transcriptsCte},
           |d AS (
           |  SELECT conv_id, len(${Tokenizer.duckdbTokensSql("text")}) AS dl
           |  FROM t)
           |SELECT count(*) AS num_docs, count(DISTINCT conv_id) AS num_convs,
           |       sum(dl)::BIGINT AS total_tokens,
           |       round(sum(dl)::DOUBLE / count(*), 6) AS avgdl
           |FROM d""".stripMargin,
      "q_df_cf" ->
        s"""WITH ${Corpus.transcriptsCte},
           |tok AS (
           |  SELECT conv_id, turn_idx,
           |         unnest(${Tokenizer.duckdbTokensSql("text")}) AS term
           |  FROM t)
           |SELECT term, count(DISTINCT (conv_id, turn_idx)) AS df, count(*) AS cf
           |FROM tok WHERE term IN ('spark','vector','merge','window','dup')
           |GROUP BY term ORDER BY term""".stripMargin,
      "q_role_stats" ->
        s"""WITH ${Corpus.transcriptsCte}
           |SELECT role, count(*) AS n_turns,
           |       sum(length(text))::BIGINT AS n_chars,
           |       count(DISTINCT conv_id) AS n_convs
           |FROM t GROUP BY role ORDER BY role""".stripMargin,
      "q_dedup_exact" ->
        """SELECT md5(text) AS text_hash, count(*) AS n, min(doc_id) AS keep_doc_id
          |FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY text_hash""".stripMargin,
      "q_token_stats" ->
        s"""WITH tok AS (
           |  SELECT doc_id, ${Tokenizer.duckdbTokensSql("text")} AS tk
           |  FROM documents WHERE doc_id < 100)
           |SELECT doc_id, len(tk) AS n_tokens, len(list_distinct(tk)) AS n_distinct
           |FROM tok ORDER BY doc_id""".stripMargin,
      // the as-of twin is DuckDB's NATIVE operator — an independent
      // implementation, not a replay of the union-scan plan
      "q_asof_join" ->
        """WITH p AS (SELECT user_id, event_id AS purchase_id, ts
          |           FROM events WHERE event_type = 'purchase'),
          |c AS (SELECT user_id, event_id AS click_id, ts AS click_ts,
          |             value AS click_value
          |      FROM events WHERE event_type = 'click')
          |SELECT p.user_id, p.purchase_id, c.click_id, c.click_value,
          |       epoch_us(p.ts) - epoch_us(c.click_ts) AS lag_us
          |FROM p ASOF LEFT JOIN c
          |  ON p.user_id = c.user_id AND p.ts >= c.click_ts
          |ORDER BY p.user_id, p.purchase_id""".stripMargin,
      // forward ASOF (ON l.ts <= r.ts picks the nearest FOLLOWING
      // row); the tolerance null-out replays as a CASE over the gap
      "q_asof_forward" ->
        """WITH p AS (SELECT user_id, event_id AS purchase_id, ts
          |           FROM events WHERE event_type = 'purchase'),
          |e AS (SELECT user_id, event_id AS error_id, ts AS error_ts
          |      FROM events WHERE event_type = 'error')
          |SELECT p.user_id, p.purchase_id,
          |       CASE WHEN epoch_us(e.error_ts) - epoch_us(p.ts) <= 7200000000
          |            THEN e.error_id END AS error_id,
          |       CASE WHEN epoch_us(e.error_ts) - epoch_us(p.ts) <= 7200000000
          |            THEN epoch_us(e.error_ts) - epoch_us(p.ts) END AS gap_us
          |FROM p ASOF LEFT JOIN e
          |  ON p.user_id = e.user_id AND p.ts <= e.error_ts
          |ORDER BY 1, 2""".stripMargin,
      // plain inequality join (fine at oracle scale; the Spark side
      // is the bucketed plan); cents sum keeps float addition exact
      "q_range_join" ->
        """WITH c AS (SELECT user_id, event_id AS click_id, ts AS click_ts, value
          |           FROM events WHERE event_type = 'click'),
          |p AS (SELECT user_id, event_id AS purchase_id, ts
          |      FROM events WHERE event_type = 'purchase')
          |SELECT p.user_id, p.purchase_id, count(*) AS n_clicks,
          |       (sum(CAST(round(c.value * 100) AS BIGINT))::DOUBLE / 100.0::DOUBLE)
          |         AS click_value_sum
          |FROM p JOIN c ON p.user_id = c.user_id
          |  AND c.click_ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      // repetition metrics: same one-explode + windows construction;
      // generate_subscripts is 1-based vs posexplode's 0-based pos —
      // a constant shift that cancels in the islands grouping key
      "q_repetition" ->
        s"""WITH w AS (
           |  SELECT doc_id, unnest(arr) AS tok, generate_subscripts(arr, 1) AS pos
           |  FROM (SELECT doc_id, ${TextOps.repetitionWordsSql("text")} AS arr
           |        FROM documents)),
           |en AS (
           |  SELECT doc_id, pos, tok,
           |         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt,
           |         pos - row_number() OVER (PARTITION BY doc_id, tok ORDER BY pos)
           |           AS isl
           |  FROM w),
           |ta AS (
           |  SELECT doc_id, sum(cf)::BIGINT AS n_tokens,
           |         count(*) AS n_distinct, max(cf) AS top_cf
           |  FROM (SELECT doc_id, tok, count(*) AS cf FROM en GROUP BY 1, 2)
           |  GROUP BY 1),
           |ba AS (
           |  SELECT doc_id, max(bcf) AS top_bigram_cf
           |  FROM (SELECT doc_id, tok, nxt, count(*) AS bcf FROM en
           |        WHERE nxt IS NOT NULL GROUP BY 1, 2, 3)
           |  GROUP BY 1),
           |ra AS (
           |  SELECT doc_id, max(run) AS max_run
           |  FROM (SELECT doc_id, tok, isl, count(*) AS run FROM en GROUP BY 1, 2, 3)
           |  GROUP BY 1)
           |SELECT d.doc_id,
           |       coalesce(ta.n_tokens, 0)::BIGINT AS n_tokens,
           |       CASE WHEN ta.n_tokens > 0
           |            THEN round(ta.n_distinct::DOUBLE / ta.n_tokens::DOUBLE, 6)
           |            ELSE 0.0 END AS distinct_ratio,
           |       CASE WHEN ta.n_tokens > 0
           |            THEN round(ta.top_cf::DOUBLE / ta.n_tokens::DOUBLE, 6)
           |            ELSE 0.0 END AS top_token_fraction,
           |       CASE WHEN ta.n_tokens > 1
           |            THEN round(ba.top_bigram_cf::DOUBLE /
           |                       (ta.n_tokens - 1)::DOUBLE, 6)
           |            ELSE 0.0 END AS top_bigram_fraction,
           |       coalesce(ra.max_run, 0)::BIGINT AS max_run
           |FROM documents d
           |LEFT JOIN ta USING (doc_id) LEFT JOIN ba USING (doc_id)
           |LEFT JOIN ra USING (doc_id)
           |ORDER BY doc_id""".stripMargin,
      // redaction replay: TextOps.redactSql/piiCountsSql are the
      // Scala rules' engine-portable SQL twins (one source, RE2-safe
      // patterns, 'g' flag per the DuckDB replace-all gotcha)
      "q_redact" ->
        s"""WITH a AS (
           |  SELECT doc_id, text || $RedactSuffixCase AS t FROM documents)
           |SELECT doc_id, md5(${TextOps.redactSql("t")}) AS redacted_md5,
           |       ${TextOps.piiCountsSql("t").mkString(",\n       ")}
           |FROM a ORDER BY doc_id""".stripMargin,
      // discrete-quantile replay: identical rank arithmetic (ceil of
      // q·n over the same (n_tokens, doc_id) order) — no interpolation
      // anywhere, so the values are corpus elements, compared exactly
      "q_length_quantiles" ->
        """WITH b AS (
          |  SELECT lang, doc_id,
          |         len(list_filter(regexp_split_to_array(text, '\s+'),
          |             t -> length(t) > 0))::BIGINT AS n_tokens
          |  FROM documents),
          |r AS (
          |  SELECT lang, n_tokens,
          |         row_number() OVER (PARTITION BY lang
          |                            ORDER BY n_tokens, doc_id) AS rn,
          |         count(*) OVER (PARTITION BY lang) AS cnt
          |  FROM b),
          |q AS (SELECT unnest([0.5, 0.9, 0.99]) AS q)
          |SELECT r.lang, q.q::DOUBLE AS q, r.n_tokens
          |FROM r, q WHERE r.rn = ceil(q.q * r.cnt)
          |ORDER BY 1, 2""".stripMargin,
      // chunking replay: same word split (repetitionWordsSql), same
      // exact integer window arithmetic; list slices clamp at the
      // array end in both engines
      "q_chunks" -> {
        val step = ChunkSize - ChunkOverlap
        s"""WITH w AS (
           |  SELECT doc_id, ${TextOps.repetitionWordsSql("text")} AS arr
           |  FROM documents),
           |n AS (SELECT doc_id, arr, len(arr)::BIGINT AS n FROM w
           |      WHERE len(arr) > 0),
           |c AS (SELECT doc_id, arr,
           |        unnest(generate_series(0,
           |          (greatest(n - $ChunkSize, 0) + ${step - 1}) // $step))
           |          AS chunk_idx
           |      FROM n)
           |SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
           |       len(arr[(chunk_idx*$step+1):(chunk_idx*$step+$ChunkSize)])::BIGINT
           |         AS chunk_words,
           |       md5(array_to_string(
           |         arr[(chunk_idx*$step+1):(chunk_idx*$step+$ChunkSize)], ' '))
           |         AS chunk_md5
           |FROM c ORDER BY doc_id, chunk_idx""".stripMargin
      }
    )
  }
}
