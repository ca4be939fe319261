package graft.query

/** BM25 scoring, k1=1.2 b=0.75 per BASELINE.json:north_rule.
  *
  * idf = ln((N - df + 0.5) / (df + 0.5) + 1)        (Lucene/Robertson)
  * tfN = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
  * score(doc, q) = Σ_terms idf(t) * tfN(t, doc), summed in
  * lexicographic term order (fixed fold order => bit-reproducible;
  * SURVEY.md §7.5).
  */
object Bm25 {
  val K1 = 1.2
  val B = 0.75

  def idf(numDocs: Long, df: Long): Double =
    // StrictMath, not math.log: Spark's `log` column expression (the
    // oracle-DF path) is StrictMath-pinned, and HotSpot's Math.log
    // intrinsic may differ from it by 1 ulp — which would break the
    // engine-vs-DataFrame-oracle bit-parity HybridServeSpec asserts.
    // StrictMath is also the right call at scale: fdlibm-pinned
    // results are identical on every executor JVM/architecture,
    // where the intrinsic is platform-dependent.
    StrictMath.log((numDocs - df + 0.5) / (df + 0.5) + 1.0)

  def tfNorm(tf: Int, dl: Int, avgdl: Double): Double =
    tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))

  /** Upper bound of a term's score from avgdl-independent (max_tf,
    * min_dl) metadata: tfNorm is increasing in tf and decreasing in
    * dl, so tfNorm(max_tf, min_dl) >= tfNorm(tf_i, dl_i) for every
    * member doc i — a safe WAND bound under any avgdl.
    */
  def boundScore(idfV: Double, maxTf: Int, minDl: Int, avgdl: Double): Double =
    idfV * tfNorm(maxTf, minDl, avgdl)
}
