package graft

import org.apache.spark.sql.SparkSessionExtensions

/** The extensions entry point injects the full function set. A second
  * SparkSession with different extensions can't be created inside this
  * shared-session test JVM, so the injection itself is exercised against a
  * fresh SparkSessionExtensions and each builder is evaluated through the
  * already-registered SQL path (same builder lambdas). */
class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("injects the VectorFunctions set plus topk_ids and bloom_might_contain") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw; builders enumerated below
    val fns = new GraftExtensions().functions
    // derived, not hand-kept: every function `VectorFunctions.register`
    // registers, plus the two registered elsewhere
    assert(fns.map(_._1).sorted ===
      (graft.functions.VectorFunctions.builders.map(_._1) ++
        Seq("bloom_might_contain", "topk_ids")).sorted)
    assert(fns.map(_._1).toSet.size === fns.size)
    Seq("nearest_code", "top_cells", "pq_lut", "mat_vec", "mmr_select",
      "barrier").foreach(n => assert(fns.exists(_._1 == n), n))
    // builders produce resolvable expressions
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    val arr = Literal.create(ArrayData.toArrayData(Array(1.0f, 0.0f)),
      ArrayType(FloatType, containsNull = false))
    val cos = fns.find(_._1 == "cosine_sim").get._3(Seq(arr, arr))
    assert(cos.eval(null) === 1.0)
  }

  test("functions resolve in plain SQL after registration") {
    graft.functions.VectorFunctions.register(spark)
    graft.functions.TopKAggregate.register(spark)
    val got = spark.sql(
      """SELECT round(cosine_sim(array(1.0f, 0.0f), array(1.0f, 0.0f)), 6) AS c,
        |       topk_ids(id, s, 1) AS t
        |FROM VALUES (1L, 0.9D), (2L, 0.1D) AS v(id, s)
        |GROUP BY 1""".stripMargin)
      .as[(Double, Seq[Long])].head
    assert(got === ((1.0, Seq(1L))))
  }
}
