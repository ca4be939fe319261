package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftExtensions

/** SQL-surface registration of the native vector kernels
  * (functions/GraftExtensions): `cosine_sim` and `lsh_buckets` must be
  * callable from `spark.sql` and agree with the Column API
  * (VectorExpressions), which the rest of the suite already proves
  * against the DuckDB oracle.
  *
  * Extensions only apply at session construction, so this suite builds
  * its own session over the shared SparkContext (clearing the default
  * session first — getOrCreate would otherwise return the extension-less
  * shared one) and restores the shared session afterAll.
  */
class ExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var ext: SparkSession = _

  override def beforeAll(): Unit = {
    SparkSpec.session // ensure the shared context exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    ext = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }

  override def afterAll(): Unit =
    try {
      SparkSession.setDefaultSession(SparkSpec.session)
      SparkSession.setActiveSession(SparkSpec.session)
    } finally super.afterAll()

  test("cosine_sim is callable from SQL and matches the exact value") {
    val r = ext.sql(
      """SELECT cosine_sim(cast(array(1.0, 2.0, 2.0) as array<float>),
        |                  cast(array(2.0, 4.0, 4.0) as array<float>)) AS c,
        |       cosine_sim(cast(array(1.0, 0.0) as array<float>),
        |                  cast(array(0.0, 1.0) as array<float>)) AS o,
        |       cosine_sim(cast(null as array<float>),
        |                  cast(array(1.0) as array<float>)) AS n
        |""".stripMargin).collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
    assert(r.isNullAt(2))
  }

  test("lsh_buckets from SQL agrees with the Column API") {
    import graft.functions.VectorExpressions
    import org.apache.spark.sql.functions._

    val sqlRow = ext.sql(
      """SELECT lsh_buckets(cast(array(0.3, -1.2, 0.7, 2.1) as array<float>),
        |                   4, 4, 6) AS b""".stripMargin)
      .collect()(0).getSeq[Long](0)

    val df = ext.createDataFrame(Seq(Tuple1(Array(0.3f, -1.2f, 0.7f, 2.1f))))
      .toDF("v")
    val colRow = df.select(VectorExpressions.lshBuckets(col("v"), 4, 4, 6).as("b"))
      .collect()(0).getSeq[Long](0)

    assert(sqlRow == colRow)
    assert(sqlRow.length == 4)
    // each table's bucket packs `planes` hyperplane sign bits
    sqlRow.foreach(b => assert(b >= 0L && b < (1L << 6)))
  }

  test("cosine_sim pins inputs to array<float>: double arrays cast, never read as raw floats") {
    // the kernel reads 4-byte floats positionally; before inputTypes
    // were declared, an array<double> passed analysis unchanged and
    // the kernel read garbage half-words under codegen. With
    // ImplicitCastInputTypes the analyzer now inserts an explicit
    // array<double> → array<float> cast, so the value is correct.
    val r = ext.sql(
      """SELECT cosine_sim(cast(array(1.0, 2.0, 2.0) as array<double>),
        |                  cast(array(2.0, 4.0, 4.0) as array<double>)) AS c""".stripMargin)
      .collect()(0).getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("kmv_sketch is callable from SQL as a grouped aggregate") {
    // 100 rows, 10 distinct values, k=4 → the 4 smallest distinct
    val r = ext.sql(
      """SELECT kmv_sketch(id % 10, 4) AS m FROM range(100)""")
      .collect()(0).getSeq[Long](0)
    assert(r == Seq(0L, 1L, 2L, 3L))
    // grouped: per-group sketches stay independent
    val g = ext.sql(
      """SELECT id % 2 AS grp, kmv_sketch(id, 3) AS m
        |FROM range(20) GROUP BY 1 ORDER BY 1""".stripMargin)
      .collect().map(row => (row.getLong(0), row.getSeq[Long](1)))
    assert(g.toSeq == Seq((0L, Seq(0L, 2L, 4L)), (1L, Seq(1L, 3L, 5L))))
  }

  test("lsh_buckets rejects a non-literal shape argument") {
    val e = intercept[Exception] {
      ext.sql("SELECT lsh_buckets(cast(array(1.0) as array<float>), 1, 1, id) FROM range(1)").collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }
}
