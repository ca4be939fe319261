package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sketched per-stratum heavy hitters: count-min-style bucket
  * pre-aggregation with candidate pruning — the frequency-sketch
  * sibling of [[graft.functions.KmvSketch]]'s distinct-count sketch
  * (the same exact-beside-sketch pattern as q_kmv_distinct).
  *
  * The exact formulation (q_heavy_hitters) shuffles every distinct
  * (stratum, term) pair; at 100 TB the vocabulary's long tail — not
  * the heavy terms — dominates that exchange. The sketch bounds it:
  *
  *   1. bucket = hash32(term) mod `buckets`. Per-(stratum, bucket)
  *      counts partial-aggregate map-side, so the first exchange
  *      carries at most `buckets` rows per stratum REGARDLESS of
  *      vocabulary size.
  *   2. Bucket counts only over-count a term (hash collisions add,
  *      never subtract — the count-min one-sided-error guarantee), so
  *      every term with cf ≥ `support` lives in a bucket with count ≥
  *      support. Buckets below support prune with NO false negatives.
  *   3. Exact counts run only for occurrences routed (via a broadcast
  *      semi-join on the surviving bucket ids) to heavy buckets: the
  *      (stratum, term) exchange now carries the heavy candidates and
  *      their bucket-colliders, not the whole vocabulary.
  *   4. Per-stratum top-k by (cf desc, term asc) over terms with
  *      cf ≥ support, the sketch's upper bound (`ub` = the term's
  *      bucket count) carried beside the exact count.
  *
  * Unlike SpaceSaving/Misra-Gries — whose merged state depends on
  * arrival order — every step is a SUM over a fixed hash, so the
  * result is deterministic, partition-invariant, and replayable by
  * the DuckDB oracle (Hashing.hash32 is the engine-portable pair).
  *
  * Scale notes: `terms` is traversed twice (the sketch pass and the
  * candidate pass) — at 100 TB materialize the exploded token
  * relation once (same guidance as Pack's count table) or accept the
  * recompute; the surviving-bucket table is at most strata × buckets
  * rows and broadcasts. Size `buckets` ≫ k · strata so heavy buckets
  * stay rare; collisions only widen the candidate set (step 3), never
  * corrupt a count.
  */
object HeavyHitters {

  /** @param terms   one row per term OCCURRENCE
    * @param stratum grouping column (e.g. language)
    * @param term    term column
    * @return (stratum, term, cf, ub, rank): exact count, sketch upper
    *         bound, rank 1..k per stratum by (cf desc, term asc);
    *         only terms with cf ≥ support appear
    */
  def sketchTopK(
      terms: DataFrame,
      stratum: Column,
      term: Column,
      buckets: Int,
      support: Long,
      k: Int): DataFrame = {
    val t = terms.select(stratum.as("stratum"), term.as("term"),
      pmod(Hashing.hash32(term), lit(buckets.toLong)).as("bucket"))
    // step 1-2: bounded sketch pass — ≤ buckets rows per stratum
    // cross the wire (map-side partial aggregation; asserted
    // mechanically by PlanShapeSpec)
    val heavy = t.groupBy(col("stratum"), col("bucket"))
      .agg(count(lit(1)).as("ub"))
      .filter(col("ub") >= support)
    // step 3: only occurrences routed to surviving buckets reach the
    // exact (stratum, term) aggregation; ub is constant per term
    // (a term has one bucket), max() just realizes that
    val cand = t.join(broadcast(heavy), Seq("stratum", "bucket"))
      .groupBy(col("stratum"), col("term"))
      .agg(count(lit(1)).as("cf"), max(col("ub")).as("ub"))
      .filter(col("cf") >= support)
    val w = Window.partitionBy(col("stratum")).orderBy(desc("cf"), asc("term"))
    cand.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** DuckDB replay of [[sketchTopK]] over a (stratum, term) CTE named
    * `tk`, ending in a ranked CTE `rk` (the caller applies its own
    * `rank <= k` cut) — exposed beside the Scala form so the
    * engine-portable pair changes together (same rule as
    * Hashing/Sampling/KmvSketch).
    */
  def sketchTopKSql(buckets: Int, support: Long): String =
    s"""b AS (SELECT stratum, term,
       |             ${Hashing.hash32Sql("term")} % $buckets AS bucket
       |      FROM tk),
       |hv AS (SELECT stratum, bucket, count(*) AS ub FROM b
       |       GROUP BY stratum, bucket HAVING count(*) >= $support),
       |cf AS (SELECT b.stratum, b.term, count(*) AS cf, max(hv.ub) AS ub
       |       FROM b JOIN hv ON b.stratum = hv.stratum AND b.bucket = hv.bucket
       |       GROUP BY b.stratum, b.term HAVING count(*) >= $support),
       |rk AS (SELECT stratum, term, cf, ub,
       |              row_number() OVER (PARTITION BY stratum
       |                                 ORDER BY cf DESC, term) AS rank
       |       FROM cf)""".stripMargin
}
