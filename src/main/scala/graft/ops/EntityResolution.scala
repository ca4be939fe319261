package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tokenize.Tokenizer

/** Entity-resolution cascade (reference `app.py:694-782`): match a
  * pasted/parsed citation against the canonical corpus by trying
  * progressively fuzzier keys, each stage consuming only the rows the
  * previous stages failed to match. [[resolveCascadeFull]] is the one
  * cascade: exact id, normalized DOI, normalized title, fuzzy token
  * overlap, author + year. A caller without some key passes it empty
  * (`''`), and the stages keyed on it match nothing.
  *
  * The overlap stages are shared-token EQUI-JOIN prefilters (explode
  * distinct tokens, join on token) — never a cross join — so the pair
  * space scales with token-match fan-out, not |Q|x|C|. Every stage
  * picks exactly one best match per query row deterministically.
  */
object EntityResolution {

  /** Reference-string field extraction (reference `app.py:530-567`):
    * numeric id (6-10 digits), DOI-shaped token, parenthesized year,
    * quoted title, leading author segment (text before the first
    * period — the reference's `authors` field from pasted citation
    * lines). Missing fields extract as ''.
    */
  def parseCitation(c: Column): Column = struct(
    regexp_extract(c, "\\b(\\d{6,10})\\b", 1).as("ref_id"),
    regexp_extract(c, "\\b(10\\.\\d{3,6}/[^\\s,;]+)", 1).as("doi"),
    regexp_extract(c, "\\(((?:19|20)\\d{2})\\)", 1).as("year"),
    regexp_extract(c, "\"([^\"]+)\"", 1).as("title"),
    regexp_extract(c, "^([^.]+)\\.", 1).as("authors"))

  /** Normalized DOI key (reference `app.py:707-710`: strip + lower;
    * the `doi:` prefix strip is already done by [[parseCitation]]'s
    * extraction regex, which starts matching at `10.`).
    */
  def normDoi(c: Column): Column = lower(trim(c))

  /** Engine-portable string normalization for the title and author keys. */
  def normKey(c: Column): Column =
    trim(regexp_replace(lower(c), "[^a-z0-9]+", " "))

  /** Distinct meaningful tokens for the overlap stages (4 and 5). */
  def tokenSet(c: Column): Column = array_distinct(Tokenizer.tokensCol(c))

  /** Full five-stage cascade — the reference's complete fallback chain
    * (`app.py:694-782`):
    *
    *   1. exact id        — PMID equality (`:698-704`)
    *   2. normalized DOI  — equi-join on [[normDoi]] keys (`:706-717`)
    *   3. exact norm title— equi-join on [[normKey]] keys (`:723-729`)
    *   4. fuzzy title     — token-overlap >= `minOverlap` (0.4,
    *                        `:731-748`), equi-join prefilter on shared
    *                        tokens (never a cross join)
    *   5. author + year   — reference `:751-782`: pub_year equality
    *                        plus an authors containment match
    *                        (`authors LIKE '%prefix%'`), then either a
    *                        title token overlap >= `ayOverlap` (0.3,
    *                        `:770-775`) or a UNIQUE (author, year)
    *                        candidate (`:777-780` — the reference
    *                        applies this fallback whenever no row
    *                        passed the overlap test, INCLUDING when a
    *                        title exists but scored below 0.3).
    *                        Containment is realized at TOKEN
    *                        granularity so the stage stays an
    *                        equi-join at scale: candidates route on
    *                        the citation author's last-name token
    *                        (equi-join against the catalog author's
    *                        exploded token set), then verify that ALL
    *                        citation-author tokens appear in the
    *                        catalog author ("van der berg" matches
    *                        catalog "van der berg j", and a bare
    *                        last-name citation matches its fuller
    *                        catalog form — prefix-key equality is a
    *                        special case, so this strictly widens
    *                        toward the reference's LIKE). Two
    *                        deliberate divergences, both documented:
    *                        containment is token-boundary (the
    *                        reference's LIKE also matches inside a
    *                        token, e.g. 'berg' in 'bergman'), and the
    *                        first-10-words cap on the overlap sets (a
    *                        SQLite-era micro-optimization) is dropped —
    *                        overlap is pair-local array_intersect over
    *                        the full distinct-token sets, never a
    *                        second join.
    *
    * @param queries (qid, exact_key, doi_key, norm_key, author_key,
    *                year, tk)
    * @param catalog (cid, exact_key, doi_key, norm_key, author_key,
    *                year, tk)
    * @return (qid, cid, method, score), one row per matched query
    */
  def resolveCascadeFull(
      queries: DataFrame,
      catalog: DataFrame,
      minInter: Int = 3,
      minOverlap: Double = 0.4,
      ayOverlap: Double = 0.3): DataFrame = {
    val q = queries.select(col("qid"), col("exact_key"), col("doi_key"),
      col("norm_key"), col("author_key"), col("year"), col("tk"))
    val c = catalog.select(col("cid"),
      col("exact_key").as("c_exact"), col("doi_key").as("c_doi"),
      col("norm_key").as("c_norm"), col("author_key").as("c_author"),
      col("year").as("c_year"), col("tk").as("c_tk"))

    // Plan shape: chaining an anti-join between every stage reads
    // nicely but executes terribly — each stage's subplan is pasted
    // into BOTH the final union and every later residual, so stage 1
    // re-executes ~5×, the exploding token join 2×, and the five
    // pickOne windows + four anti-join barriers serialize the whole
    // cascade. Residual semantics only need the SET of already-matched
    // qids, and "earliest stage wins" is expressible as one window:
    //
    //   - the three KEY stages (exact id, DOI, norm title — cheap hash
    //     equi-joins) run over the FULL query set, each row tagged with
    //     its stage priority;
    //   - ONE anti-join against their matched-qid union shields the
    //     two expensive stages (token-overlap explode, author+year),
    //     which stay residual-narrow — at scale most citations resolve
    //     on a key and must never reach the token explode;
    //   - ONE row_number window over the union picks, per qid, the
    //     earliest stage and within it that stage's own best-candidate
    //     order (key stages: min cid; overlap stages: max overlap,
    //     then min cid).
    //
    // Result-identical to the chained formulation (a later-stage match
    // for an early-matched qid is produced and then out-prioritized,
    // never emitted), with 1 barrier instead of 4 and no subplan
    // recompute.
    def keyStage(qKey: String, cKey: String, method: String, stage: Int): DataFrame =
      q.filter(length(col(qKey)) > 0)
        .join(c.filter(length(col(cKey)) > 0), col(qKey) === col(cKey))
        .select(col("qid"), col("cid"), lit(method).as("method"),
          lit(1.0).as("score"), lit(stage).as("stage"))

    val s1 = keyStage("exact_key", "c_exact", "exact_id", 1)
    val s2 = keyStage("doi_key", "c_doi", "doi", 2)
    val s3 = keyStage("norm_key", "c_norm", "norm_key", 3)
    val keyQids = s1.select("qid").unionByName(s2.select("qid"))
      .unionByName(s3.select("qid"))
    val r3 = q.join(keyQids, Seq("qid"), "left_anti")

    // stage 4: fuzzy token overlap with equi-join prefilter
    val qTok = r3.select(col("qid"), size(col("tk")).as("qsz"),
      explode(col("tk")).as("tok"))
    val cTok = c.select(col("cid"), explode(col("c_tk")).as("tok"))
    val s4 = qTok.join(cTok, "tok")
      .groupBy(col("qid"), col("qsz"), col("cid"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("overlap", col("inter").cast("double") / col("qsz"))
      .filter(col("inter") >= minInter && col("overlap") >= minOverlap)
      .select(col("qid"), col("cid"), lit("fuzzy_overlap").as("method"),
        col("overlap").as("score"), lit(4).as("stage"))

    // stage 5: token-granular author containment + year equi-join.
    // Candidates route on the citation's LONGEST author token (longest
    // = rarest proxy: initials like "j"/"b" are drawn from a ~26-value
    // alphabet and would fan the equi-join out to every catalog row
    // sharing the initial+year; a surname-length token keeps the join
    // selective) against the catalog author's exploded tokens — an
    // equi-join, never a LIKE cross join — then a pair-local subset
    // verify keeps only rows where EVERY citation-author token appears
    // in the catalog author: the token-boundary realization of the
    // reference's `authors LIKE '%prefix%'`. The routing-token choice
    // cannot change RESULTS (the subset verify requires every q token
    // in c, so any q token is a sound routing key — the longest is
    // just the cheapest); prefix-key equality is a special case of the
    // subset, so no separate equality join is needed. Runs on the key
    // residual r3, not "r4" — a qid matched by stage 4 also produces
    // its stage-5 candidates here, but the priority window drops them,
    // and the per-qid candidate count (`ncand`) is a property of the
    // containment join alone, identical either way.
    val qAy = r3.filter(length(col("author_key")) > 0 && length(col("year")) > 0)
      .withColumn("q_atoks", split(col("author_key"), " "))
      // max over (length, token) structs: longest token, ties broken
      // lexicographically — deterministic
      .withColumn("q_rtok",
        expr("array_max(transform(q_atoks, t -> struct(length(t) AS l, t AS t))).t"))
    val cAy = c.filter(length(col("c_author")) > 0)
      .withColumn("c_atoks", split(col("c_author"), " "))
    val ayCand = qAy
      .join(cAy.withColumn("c_atok", explode(col("c_atoks"))),
        col("q_rtok") === col("c_atok") && col("year") === col("c_year"))
      .filter(forall(col("q_atoks"), t => array_contains(col("c_atoks"), t)))
      // a duplicated token in the catalog author would emit the pair
      // twice through the explode — ncand counts candidate PAIRS
      .dropDuplicates("qid", "cid")
    val s5 = ayCand
      .withColumn("ov",
        when(size(col("tk")) > 0,
          size(array_intersect(col("tk"), col("c_tk")))
            .cast("double") / size(col("tk")))
          .otherwise(lit(0.0)))
      .withColumn("ncand", count(lit(1)).over(Window.partitionBy(col("qid"))))
      // the reference's fallback order: overlap >= tau when a title
      // exists, OTHERWISE (no title, or no row passed the overlap) a
      // unique candidate matches (`if not found and len(rows) == 1`)
      .filter(
        (size(col("tk")) > 0 && col("ov") >= ayOverlap) || col("ncand") === 1)
      .select(col("qid"), col("cid"), lit("author_year").as("method"),
        col("ov").as("score"), lit(5).as("stage"))

    val w = Window.partitionBy(col("qid"))
      .orderBy(col("stage").asc, col("score").desc, col("cid").asc)
    s1.unionByName(s2).unionByName(s3).unionByName(s4).unionByName(s5)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("qid"), col("cid"), col("method"), col("score"))
  }
}
