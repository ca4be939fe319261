package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData

/** Tight-loop vector kernels behind the Catalyst expressions in
  * [[VectorExpressions]]. A plain companion CLASS exists so the
  * object methods get true static forwarders — generated code calls
  * `graft.functions.VectorMath.cosine(...)` directly.
  *
  * Why not `functions.aggregate`/`zip_with`: Catalyst higher-order
  * functions evaluate one interpreted lambda dispatch PER ARRAY
  * ELEMENT and disable whole-stage codegen for their stage — measured
  * seconds per query for the 4×6×64 LSH projection at just 2k vectors
  * (CLAUDE.md "Known VM traps"). These loops do the same math (same
  * fold order, so results are bit-identical) at ~ns per element.
  */
class VectorMath
object VectorMath {

  /** True if any element slot is null. The HOF formulations these
    * kernels replaced (and the DuckDB oracle's list arithmetic)
    * propagate a null ELEMENT to a null result; `getFloat` on a null
    * slot would instead read 0.0f and produce a concrete wrong
    * number, so the expressions null out such rows before calling the
    * kernels (see [[VectorExpressions]]).
    */
  def hasNullElement(a: ArrayData): Boolean = {
    val n = a.numElements()
    var i = 0
    while (i < n) { if (a.isNullAt(i)) return true; i += 1 }
    false
  }

  /** cos(a,b) = dot/(|a|·|b|), each accumulator folded sequentially —
    * bit-identical to the former HOF formulation
    * dot(a,b)/(sqrt(dot(a,a))*sqrt(dot(b,b))).
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      d += x * y; na += x * x; nb += y * y
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Driver-side overload over plain float arrays — IDENTICAL fold to
    * the ArrayData kernel above (same ops, same order, so results are
    * bit-equal), for bounded routing computations that run on the
    * driver (IVF probe→centroid ranking over a collected √n centroid
    * table) instead of paying a Spark job.
    */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      d += x * y; na += x * x; nb += y * y
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Per-table random-hyperplane LSH buckets. Table t's bucket packs
    * `planes` sign bits of projections onto deterministic pseudo-
    * random planes, global plane index g = t*planes + j:
    *
    *   plane(g)[d] = ((1103515245*(g*dim+d) + 12345) % 65536)/65536 - 0.5
    *
    * Exactly the DuckDB oracle's `list_transform(range(0,dim), ...)`
    * formula (`SparkEntry.lshTableBucketSql`); projection folds in d
    * order, so buckets are engine-portable.
    */
  def lshBuckets(vec: ArrayData, dim: Int, tables: Int, planes: Int): ArrayData = {
    val n = math.min(dim, vec.numElements())
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var j = 0
      while (j < planes) {
        val g = t.toLong * planes + j
        var proj = 0.0
        var d = 0
        while (d < n) {
          val c = ((1103515245L * (g * dim + d) + 12345L) % 65536L).toDouble / 65536.0 - 0.5
          proj += vec.getFloat(d).toDouble * c
          d += 1
        }
        if (proj > 0) bucket += (1L << j)
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
