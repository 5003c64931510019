package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Kernels vs hand-computed values, incl. the reference's edge semantics
  * (similarity.ts): euclideanSim = 1/(1+dist), cosine null → −1 via the
  * OrNeg1 wrapper, zero-norm → NaN. */
class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private def row(a: Seq[Float], b: Seq[Float]) =
    Seq((a, b)).toDF("a", "b")

  test("dot product matches hand computation") {
    val d = row(Seq(1f, 2f, 3f), Seq(4f, 5f, 6f))
      .select(dotProduct($"a", $"b")).head.getDouble(0)
    assert(d === 32.0)
  }

  test("cosine of identical unit vectors is 1; orthogonal is 0") {
    assert(row(Seq(1f, 0f), Seq(1f, 0f))
      .select(cosineSim($"a", $"b")).head.getDouble(0) === 1.0)
    assert(row(Seq(1f, 0f), Seq(0f, 1f))
      .select(cosineSim($"a", $"b")).head.getDouble(0) === 0.0)
  }

  test("cosine general value") {
    // cos((1,2,3),(4,5,6)) = 32 / (sqrt(14)*sqrt(77))
    val expected = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    val got = row(Seq(1f, 2f, 3f), Seq(4f, 5f, 6f))
      .select(cosineSim($"a", $"b")).head.getDouble(0)
    assert(math.abs(got - expected) < 1e-12)
  }

  test("euclidean distance and similarity (1/(1+d), similarity.ts:36-41)") {
    val df = row(Seq(0f, 0f), Seq(3f, 4f))
    assert(df.select(euclideanDist($"a", $"b")).head.getDouble(0) === 5.0)
    assert(df.select(euclideanSim($"a", $"b")).head.getDouble(0) === 1.0 / 6.0)
  }

  test("null vector: standard null propagation; OrNeg1 restores -1 compat") {
    val df = Seq((Some(Seq(1f, 0f)), Option.empty[Seq[Float]]))
      .toDF("a", "b")
    assert(df.select(cosineSim($"a", $"b")).head.isNullAt(0))
    assert(df.select(cosineSimOrNeg1($"a", $"b")).head.getDouble(0) === -1.0)
  }

  test("zero-norm vector yields NaN (reference divides by zero likewise)") {
    val got = row(Seq(0f, 0f), Seq(1f, 0f))
      .select(cosineSim($"a", $"b")).head.getDouble(0)
    assert(got.isNaN)
  }

  test("interpreted eval matches codegen result") {
    val df = row(Seq(0.1f, 0.2f, 0.7f), Seq(0.3f, 0.4f, 0.3f))
    val viaCodegen = df.select(cosineSim($"a", $"b")).head.getDouble(0)
    val a = Seq(0.1f, 0.2f, 0.7f); val b = Seq(0.3f, 0.4f, 0.3f)
    val (dot, na, nb) = a.zip(b).foldLeft((0.0, 0.0, 0.0)) {
      case ((d, x, y), (p, q)) =>
        (d + p.toDouble * q.toDouble, x + p.toDouble * p.toDouble,
          y + q.toDouble * q.toDouble)
    }
    assert(viaCodegen === dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  test("SQL registration: expr('cosine_sim(a,b)') works") {
    val got = row(Seq(1f, 0f), Seq(1f, 0f))
      .selectExpr("cosine_sim(a, b) AS c").head.getDouble(0)
    assert(got === 1.0)
  }

  test("type check rejects non-float arrays") {
    val err = intercept[Exception] {
      Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
        .select(expr("cosine_sim(a, b)")).head
    }
    assert(err.getMessage.toLowerCase.contains("array"))
  }

  test("top_cells SQL literals are shape-checked at analysis time: " +
      "negative p and mistyped cents fail loudly, not in codegen") {
    val df = Seq(Tuple1(Seq(1f, 0f))).toDF("v")
    // negative p: would allocate new double[take] with take < 0 inside
    // generated code — must be an analysis error instead
    val e1 = intercept[Exception] {
      df.selectExpr(
        "top_cells(v, array(array(1.0f, 0.0f)), array(0), -1)").head
    }
    assert(e1.getMessage.contains("non-negative"))
    // mistyped cents (double arrays): ClassCastException in codegen
    // before the check
    val e2 = intercept[Exception] {
      df.selectExpr(
        "top_cells(v, array(array(1.0d, 0.0d)), array(0), 1)").head
    }
    assert(e2.getMessage.contains("ARRAY"))
    // well-typed call still serves
    val ok = df.selectExpr(
      "top_cells(v, array(array(1.0f, 0.0f), array(0.0f, 1.0f)), " +
        "array(7, 9), 1)").head.getSeq[Int](0)
    assert(ok === Seq(7))
  }

  test("nearest_code SQL literals are shape-checked at analysis time") {
    val df = Seq((0, Seq(1f, 0f))).toDF("s", "v")
    val e = intercept[Exception] {
      // ids as strings: must fail analysis, not cast inside codegen
      df.selectExpr("nearest_code(s, v, array(array(array(1.0f, 0.0f))), " +
        "array(array('x')), 'euclidean')").head
    }
    assert(e.getMessage.contains("ARRAY"))
    val ok = df.selectExpr(
      "nearest_code(s, v, array(array(array(0.0f, 1.0f), " +
        "array(1.0f, 0.0f))), array(array(4, 6)), 'euclidean')")
      .head.getInt(0)
    assert(ok === 6)
  }

  // --- pq_lut: the ADC lookup-table kernel --------------------------------

  /** The long-form LUT formulation the kernel replaced: explode each row
    * to its m sub-slices, join the (sub, code, centroid) codebook,
    * quantize, and regroup through array_sort(collect_list(struct)). */
  private def longFormLut(rows: org.apache.spark.sql.DataFrame,
      books: org.apache.spark.sql.DataFrame, m: Int, subLen: Int,
      metric: String): Map[Long, Seq[Double]] = {
    def q8(c: org.apache.spark.sql.Column) =
      floor(c * lit(100000000.0) + lit(0.5)).cast("double") /
        lit(100000000.0)
    val score = if (metric == "dot") dotProduct _ else euclideanDist _
    rows.select($"id", explode(sequence(lit(0), lit(m - 1))).as("sub"),
        $"vec")
      .select($"id", $"sub",
        slice($"vec", $"sub" * subLen + 1, lit(subLen)).as("qsub"))
      .join(broadcast(books), Seq("sub"))
      .select($"id", $"sub", $"code",
        q8(score($"qsub", $"centroid")).as("d"))
      .groupBy($"id")
      .agg(transform(array_sort(collect_list(struct($"sub", $"code",
        $"d"))), e => e.getField("d")).as("lut"))
      .as[(Long, Seq[Double])].collect().toMap
  }

  /** Seeded (id, vec) rows of `dim` floats plus an all-zero vector, and
    * a RAGGED codebook: sub 1 holds only the even codes of `ksub`. */
  private def lutFixture(seed: Long, dim: Int, m: Int, subLen: Int,
      ksub: Int) = {
    val rnd = new scala.util.Random(seed)
    val vecs = (0 until 12).map(i => (i.toLong,
      Seq.fill(dim)((rnd.nextGaussian() * 3).toFloat))) :+
      (99L, Seq.fill(dim)(0f))
    val entries = for {
      s <- 0 until m; c <- 0 until ksub if s != 1 || c % 2 == 0
    } yield (s, c, Seq.fill(subLen)((rnd.nextGaussian() * 3).toFloat))
    val books = Seq.tabulate(m)(s =>
      entries.filter(_._1 == s).sortBy(_._2).map(_._3))
    // repartitioned: a projection straight over a local relation is
    // folded by the optimizer's interpreted evaluation, never codegen'd
    (vecs.toDF("id", "vec").repartition(2),
      entries.toDF("sub", "code", "centroid"), books)
  }

  private def bits(xs: Seq[Double]): Seq[Long] =
    xs.map(java.lang.Double.doubleToRawLongBits)

  test("pq_lut is bit-identical to the exploded LUT it replaced: raw and " +
      "residual vectors, a ragged book, a zero vector, both metrics, " +
      "codegen and interpreted") {
    // dim 20 over m = 3 × subLen 7: the last sub-slice clips to 6 floats
    val (m, subLen, ksub) = (3, 7, 5)
    for (seed <- Seq(7L, 8L, 9L)) {
      val (raw, cbDf, books) = lutFixture(seed, dim = 20, m, subLen, ksub)
      val shift = Seq.tabulate(20)(i => (i % 5).toFloat * 0.37f)
      // the residual path's input: zip_with float subtraction
      val residual = raw.select($"id", zip_with($"vec", typedlit(shift),
        (x, y) => x - y).as("vec"))
      for (rows <- Seq(raw, residual); metric <- Seq("euclidean", "dot")) {
        val want = longFormLut(rows, cbDf, m, subLen, metric)
        assert(want(99L).length === 2 * ksub + (ksub + 1) / 2)
        def kernel() = rows.select($"id",
            pqLut($"vec", books, subLen, metric).as("lut"))
          .as[(Long, Seq[Double])].collect().toMap
        val viaCodegen = kernel()
        val codegenOn = spark.conf.get("spark.sql.codegen.wholeStage")
        val interpreted =
          try {
            spark.conf.set("spark.sql.codegen.wholeStage", "false")
            spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
            kernel()
          } finally {
            spark.conf.set("spark.sql.codegen.wholeStage", codegenOn)
            spark.conf.unset("spark.sql.codegen.factoryMode")
          }
        for (got <- Seq(viaCodegen, interpreted)) {
          assert(got.keySet === want.keySet)
          want.foreach { case (id, lut) =>
            assert(bits(got(id)) === bits(lut),
              s"seed $seed $metric id $id: ${got(id)} vs $lut")
          }
        }
      }
    }
  }

  test("pq_lut hand values: clipped slices, ragged books, 8-dp rounding") {
    val df = Seq(Tuple1(Seq(3f, 4f, 1f))).toDF("v")
    val books = Seq(Seq(Seq(0f, 0f), Seq(3f, 4f)), Seq(Seq(1f, 2f)))
    // sub 0 = (3, 4): distances 5, 0; sub 1 = (1) clipped: |1 - 1| = 0
    assert(df.select(pqLut($"v", books, 2, "euclidean")).head
      .getSeq[Double](0) === Seq(5.0, 0.0, 0.0))
    // dot: 0, 25; sub 1 over the shorter length: 1·1
    assert(df.select(pqLut($"v", books, 2, "dot")).head
      .getSeq[Double](0) === Seq(0.0, 25.0, 1.0))
    // √2 quantizes to 8 dp
    val r = Seq(Tuple1(Seq(1f, 1f))).toDF("v")
      .select(pqLut($"v", Seq(Seq(Seq(0f, 0f))), 2, "euclidean")).head
      .getSeq[Double](0)
    assert(r === Seq(1.41421356))
    // null vector: null LUT
    assert(Seq(Tuple1(Option.empty[Seq[Float]])).toDF("v")
      .select(pqLut($"v", books, 2, "dot")).head.isNullAt(0))
  }

  test("pq_lut SQL literals are shape-checked at analysis time") {
    val df = Seq((Seq(1f, 0f), 2)).toDF("v", "n")
    val book = "array(array(array(1.0f, 0.0f)))"
    def rejects(call: String, needle: String): Unit = {
      val e = intercept[Exception] { df.selectExpr(call).head }
      assert(e.getMessage.contains(needle), e.getMessage)
    }
    // non-literal books / subLen / metric
    rejects("pq_lut(v, array(array(v)), 2, 'dot')", "literals")
    rejects(s"pq_lut(v, $book, n, 'dot')", "literals")
    rejects(s"pq_lut(v, $book, 2, cast(n AS string))", "literals")
    // mis-shaped books (doubles), subLen (negative, bigint), metric
    rejects("pq_lut(v, array(array(array(1.0d, 0.0d))), 2, 'dot')",
      "ARRAY")
    rejects(s"pq_lut(v, $book, -1, 'dot')", "non-negative")
    rejects(s"pq_lut(v, $book, 2L, 'dot')", "INT")
    rejects(s"pq_lut(v, $book, 2, 'cosine')", "euclidean|dot")
    rejects(s"pq_lut(v, $book, 2)", "4 arguments")
    rejects(s"pq_lut(array(1.0d), $book, 2, 'dot')", "ARRAY<FLOAT>")
    // well-typed call serves
    assert(df.selectExpr(s"pq_lut(v, $book, 2, 'dot')").head
      .getSeq[Double](0) === Seq(1.0))
  }
}
