package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The native vector kernels must be bit-identical to their
  * higher-order-function baselines (same double accumulation order), in both
  * interpreted and whole-stage-codegen paths. */
class VectorFunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def randVecs(n: Int, dim: Int, seed: Long): Seq[(Long, Seq[Float])] = {
    val rnd = new java.util.Random(seed)
    (0 until n).map(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
  }

  test("native cosine == higher-order-function cosine, bit-exact") {
    val df = randVecs(50, 64, 1).toDF("id", "a")
      .crossJoin(randVecs(3, 64, 2).toDF("id2", "b"))
    val got = df.select(
      VectorFunctions.cosineFast($"a", $"b").as("fast"),
      VectorOps.cosine($"a", $"b").as("base"))
      .as[(Double, Double)].collect()
    got.foreach { case (fast, base) =>
      assert(java.lang.Double.doubleToLongBits(fast) ==
        java.lang.Double.doubleToLongBits(base))
    }
  }

  test("native cosine survives codegen (filter + projection pipeline)") {
    val df = randVecs(100, 16, 3).toDF("id", "a")
    val n = df.crossJoin(randVecs(1, 16, 4).toDF("id2", "b"))
      .filter(VectorFunctions.cosineFast($"a", $"b") > -1.5)
      .count()
    assert(n == 100)
  }

  test("degenerate inputs yield NULL, never NaN or a truncated score") {
    val rows = Seq(
      (1L, Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f)),   // dim mismatch
      (2L, Seq(0.0f, 0.0f), Seq(1.0f, 2.0f)),          // zero norm
      (3L, Seq(1.0f, 2.0f), Seq(1.0f, 2.0f)))          // fine
      .toDF("id", "a", "b")
    val got = rows.select($"id",
      VectorFunctions.cosineFast($"a", $"b").as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L).isEmpty, "dimension mismatch must be NULL")
    assert(got(2L).isEmpty, "zero-norm must be NULL, not NaN")
    assert(got(3L).exists(v => math.abs(v - 1.0) < 1e-12))
    // and NULL drops out of descending top-k instead of ranking first
    val ranked = rows.select($"id", VectorFunctions.cosineFast($"a", $"b").as("c"))
      .orderBy($"c".desc_nulls_last).collect()
    assert(ranked.head.getLong(0) == 3L)
  }

  test("a NULL array element yields NULL in both forms (no zero-read)") {
    val rows = Seq(
      (1L, Seq(Option(1.0f), None), Seq(Option(1.0f), Option(2.0f))),
      (2L, Seq(Option(1.0f), Option(2.0f)), Seq(Option(1.0f), Option(2.0f))))
      .toDF("id", "a", "b")
    val got = rows.select($"id",
      VectorFunctions.cosineFast($"a", $"b").as("fast"),
      VectorOps.cosine($"a", $"b").as("base")).collect()
      .map(r => r.getLong(0) -> (r.isNullAt(1), r.isNullAt(2))).toMap
    assert(got(1L) == (true, true), "null element must null BOTH forms")
    assert(got(2L) == (false, false))
  }

  test("native inner product == higher-order-function dot, bit-exact") {
    val df = randVecs(50, 64, 5).toDF("id", "a")
      .crossJoin(randVecs(3, 64, 6).toDF("id2", "b"))
    val got = df.select(
      VectorFunctions.innerProductFast($"a", $"b").as("fast"),
      VectorOps.dot($"a", $"b").as("base"))
      .as[(Double, Double)].collect()
    got.foreach { case (fast, base) =>
      assert(java.lang.Double.doubleToLongBits(fast) ==
        java.lang.Double.doubleToLongBits(base))
    }
  }

  test("inner product null contract: dim mismatch and null element → NULL") {
    val rows = Seq(
      (1L, Seq(Option(1.0f), Option(2.0f)), Seq(Option(1.0f), Option(2.0f), Option(3.0f))),
      (2L, Seq(Option(1.0f), None), Seq(Option(1.0f), Option(2.0f))),
      (3L, Seq(Option(1.0f), Option(2.0f)), Seq(Option(3.0f), Option(4.0f))))
      .toDF("id", "a", "b")
    val got = rows.select($"id",
      VectorFunctions.innerProductFast($"a", $"b").as("ip"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L).isEmpty, "dimension mismatch must be NULL")
    assert(got(2L).isEmpty, "null element must be NULL")
    assert(got(3L).contains(11.0))
  }

  test("shared kernel contract: each kernel == its higher-order baseline, bit-exact, codegen and interpreted") {
    import org.apache.spark.sql.{Column, Row}
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.types.{ArrayType, FloatType, StringType, StructField, StructType}
    def sqDist(a: Column, b: Column): Column = aggregate(
      zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)
    val kernels: Seq[(String, (Column, Column) => Column, (Column, Column) => Column)] = Seq(
      ("cosine_similarity", VectorFunctions.cosineFast, VectorOps.cosine),
      ("inner_product", VectorFunctions.innerProductFast, VectorOps.dot),
      ("squared_distance", VectorFunctions.squaredDistanceFast, sqDist))
    val rows: Seq[(String, Seq[java.lang.Float], Seq[java.lang.Float])] = Seq(
      ("ordinary", Seq(1.5f, -2.0f, 0.25f), Seq(0.5f, 4.0f, -1.0f)),
      ("dimension mismatch", Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f)),
      ("NULL element", Seq(1.0f, null), Seq(1.0f, 2.0f)),
      ("zero norm", Seq(0.0f, 0.0f), Seq(1.0f, 2.0f)),
      ("empty", Seq(), Seq()))
    val modes = Seq(
      "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
      "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    // results keyed by row name; None = NULL, else the double's bits
    def results(q: org.apache.spark.sql.DataFrame) =
      q.collect().map(r => r.getString(0) ->
          (if (r.isNullAt(1)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(1)))))
        .toMap
    def withConfs[T](confs: Seq[(String, String)])(body: => T): T = {
      val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    for ((mode, confs) <- modes; containsNull <- Seq(false, true)) withConfs(confs) {
      val schema = StructType(Seq(StructField("name", StringType),
        StructField("a", ArrayType(FloatType, containsNull)),
        StructField("b", ArrayType(FloatType, containsNull))))
      // an RDD source keeps the projection out of local-relation folding,
      // so the kernel runs in the mode under test
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
        rows.filter { case (_, a, b) => containsNull || !(a ++ b).contains(null) }
          .map { case (n, a, b) => Row(n, a, b) }, 1), schema)
      for ((name, fast, base) <- kernels) {
        val what = s"$name, $mode, containsNull=$containsNull"
        val native = df.select($"name", fast($"a", $"b"))
        assert(native.queryExecution.executedPlan
          .find(_.isInstanceOf[WholeStageCodegenExec]).isDefined == (mode == "codegen"), what)
        val got = results(native)
        assert(got.size == (if (containsNull) 5 else 4), what)
        val want = results(df.select($"name", base($"a", $"b")))
        assert(got == want, what)
        assert(got("dimension mismatch").isEmpty, what)
      }
    }
  }

  test("MIPS augmentation preserves inner-product order under cosine") {
    // [w·x, sqrt(M²−‖w·x‖²)] vs [q, 0]: cosine = ⟨q,w·x⟩/(‖q‖·M), so the
    // cosine ranking over augmented vectors must equal the raw-IP ranking
    // — the reduction q277's LSH bucketing rests on.
    val vecs = randVecs(40, 16, 7)
    val q = randVecs(1, 16, 8).head._2
    val w = vecs.map { case (id, _) => 1.0 + (id % 7) * 0.1 }
    val wx = vecs.zip(w).map { case ((id, v), wi) => (id, v.map(x => (x * wi).toFloat)) }
    val m2 = wx.map(_._2.map(x => x.toDouble * x).sum).max
    val ipOrder = wx.map { case (id, v) =>
      (id, v.zip(q).map { case (x, y) => x.toDouble * y.toDouble }.sum)
    }.sortBy(-_._2).map(_._1)
    val cosOrder = wx.map { case (id, v) =>
      val n2 = v.map(x => x.toDouble * x).sum
      val aug = v.map(_.toDouble) :+ math.sqrt(math.max(m2 - n2, 0.0))
      val qa = q.map(_.toDouble) :+ 0.0
      val ip = aug.zip(qa).map { case (x, y) => x * y }.sum
      val cos = ip / (math.sqrt(aug.map(x => x * x).sum) * math.sqrt(qa.map(x => x * x).sum))
      (id, cos)
    }.sortBy(-_._2).map(_._1)
    assert(ipOrder == cosOrder)
  }

  test("known value: cosine of identical vectors is 1.0") {
    val v = Seq(1.0f, 2.0f, 3.0f)
    val got = Seq((v, v)).toDF("a", "b")
      .select(VectorFunctions.cosineFast($"a", $"b")).as[Double].collect().head
    assert(math.abs(got - 1.0) < 1e-15)
  }
}
