package graft.ops

import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Turn

/** Deterministic derivation of the north-rule transcript table
  * (conv_id, turn_idx, role, text, tool, ts) from the driver-provided
  * `documents.parquet` — expressed with the SAME arithmetic in Spark
  * and in the DuckDB oracle CTE so the two engines see identical
  * corpora (8 turns per conversation, role/tool cycles, 1-second ts
  * steps from a fixed epoch).
  */
object Corpus {

  def transcripts(spark: SparkSession, sfDir: String): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(
        concat(lit("c"), lpad(expr("doc_id div 8").cast("string"), 8, "0")).as("conv_id"),
        (col("doc_id") % 8).cast("int").as("turn_idx"),
        expr("CASE doc_id % 4 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' " +
          "WHEN 2 THEN 'system' ELSE 'tool' END").as("role"),
        col("text"),
        expr("CASE doc_id % 7 WHEN 0 THEN 'bash' WHEN 1 THEN 'read' " +
          "WHEN 2 THEN 'grep' ELSE '' END").as("tool"),
        expr("timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id)").as("ts"))
      .as[Turn]
  }

  /** Documents table as a one-turn-per-doc transcript corpus — the
    * input for building a BM25 segment over `documents` (the keyword
    * side of hybrid fusion). conv_id zero-pads doc_id so the builder's
    * (conv_id, turn_idx) sort rank is MONOTONE in doc_id: an engine
    * hit maps back to its original doc_id by parsing the suffix, and
    * the engine's tie order (score desc, internal id asc) coincides
    * with the oracle's (score desc, doc_id asc). 19 digits covers the
    * full non-negative Long range (Long.MaxValue has 19 digits; lpad
    * TRUNCATES over-length input, so an under-sized pad would
    * silently collide ids). Precondition: doc_id >= 0 — a '-' sign
    * would break both the zero-pad ordering and the suffix parse.
    */
  def documentsAsTurns(spark: SparkSession, sfDir: String): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(
        concat(lit("d"), lpad(col("doc_id").cast("string"), 19, "0")).as("conv_id"),
        lit(0).as("turn_idx"),
        lit("doc").as("role"),
        col("text"),
        lit("").as("tool"),
        expr("timestamp'2026-01-01 00:00:00'").as("ts"))
      .as[Turn]
  }

  /** Inverse of [[documentsAsTurns]]'s key mapping, for a bounded hit
    * set mapped back through the segment docs table. Column form and
    * plain-Scala form (the serving path's), kept equal.
    */
  def docIdFromConv(convId: Column): Column =
    substring(convId, 2, 19).cast("long")
  def docIdFromConv(convId: String): Long =
    convId.slice(1, 20).toLong

  /** DuckDB CTE computing the identical table from `documents`. */
  val transcriptsCte: String =
    """t AS (
      |  SELECT 'c' || lpad(CAST(doc_id // 8 AS VARCHAR), 8, '0') AS conv_id,
      |         CAST(doc_id % 8 AS INT) AS turn_idx,
      |         CASE doc_id % 4 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
      |              WHEN 2 THEN 'system' ELSE 'tool' END AS role,
      |         text,
      |         CASE doc_id % 7 WHEN 0 THEN 'bash' WHEN 1 THEN 'read'
      |              WHEN 2 THEN 'grep' ELSE '' END AS tool,
      |         TIMESTAMP '2026-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND AS ts
      |  FROM documents
      |)""".stripMargin
}
