package graft.ml

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.functions.VectorFunctions

class ProductQuantizerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("PQ codes are m small ints and ADC recall beats chance on a clustered corpus") {
    val corpus = ClusteredCorpus(spark).select("vec_id", "label", "embedding").cache()
    val m = 4; val k = 16
    val model = ProductQuantizer.fit(corpus, "vec_id", "embedding",
      dim = 64, m = m, k = k, iters = 3)
    assert(model.codebooks.size == m)
    assert(model.codebooks.forall(cb => cb.size == k && cb.forall(_.length == 16)))

    val codes = ProductQuantizer.encode(corpus, "vec_id", "embedding", model).cache()
    // every vector compresses to exactly m codes in [0, k)
    val bad = codes.filter(size(col("codes")) =!= m ||
      exists(col("codes"), c => c < 0 || c >= k)).count()
    assert(bad == 0, s"$bad malformed code rows")

    val queryIds = (0 until 10).map(_ * 50L) // one query per generating cluster
    val q = corpus.filter(col("vec_id").isin(queryIds: _*))
    val tabs = ProductQuantizer.adcTables(q, "vec_id", "embedding", model)
    val pq = ProductQuantizer.search(codes, "vec_id", tabs, 10)
      .select("qid", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

    // exact L2 brute-force ground truth (same metric PQ approximates)
    val qe = q.select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("dsq"), col("vec_id"))
    val exact = broadcast(qe).join(corpus, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        VectorFunctions.squaredDistanceFast(col("qe"), col("embedding")).as("dsq"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select("qid", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

    val recall = queryIds.map(qid =>
      (pq(qid) intersect exact(qid)).size / 10.0).sum / queryIds.size
    info(s"PQ ADC recall@10 on clustered corpus = $recall")
    // PQ's contract is coarse structure, not intra-cluster micro-ranking:
    // every member of a tight cluster quantizes to (nearly) the same code
    // word, so ADC distances tie within the cluster and the top-10 cut
    // falls to the deterministic id tie-break — element-level recall
    // degenerates toward the in-cluster random rate (10/49 ≈ 0.2) BY
    // CONSTRUCTION on this corpus, while cluster-level precision stays
    // perfect. Assert both at the level each is meaningful: recall clears
    // the 10/99 chance floor, and precision@10 (fraction of PQ answers in
    // the query's generating cluster — what an IVF+PQ system routes by)
    // is near-perfect.
    assert(recall >= 0.2, s"PQ recall@10 $recall under the in-cluster tie floor")
    val precision = queryIds.map(qid =>
      pq(qid).count(_ / 50 == qid / 50) / 10.0).sum / queryIds.size
    info(s"PQ in-cluster precision@10 = $precision")
    assert(precision >= 0.9, s"PQ in-cluster precision@10 $precision under 0.9")

    // top-1 sanity: the nearest PQ neighbor shares the query's generating
    // cluster (labels are vec_id / 50 by construction)
    val top1 = ProductQuantizer.search(codes, "vec_id", tabs, 1)
      .select("qid", "vec_id").collect()
    val sameCluster = top1.count(r => r.getLong(0) / 50 == r.getLong(1) / 50)
    assert(sameCluster >= 9, s"only $sameCluster/10 top-1 in-cluster")
    codes.unpersist(); corpus.unpersist()
  }

  test("corpus smaller than k trains a short codebook and still encodes") {
    import spark.implicits._
    val tiny = (0 until 6).map(i =>
      (i.toLong, Array.fill(8)(i.toFloat + 1).toSeq))
      .toDF("vec_id", "embedding")
      .selectExpr("vec_id", "cast(embedding as array<float>) as embedding")
    val model = ProductQuantizer.fit(tiny, "vec_id", "embedding",
      dim = 8, m = 2, k = 16, iters = 2)
    assert(model.codebooks.forall(_.size == 6),
      s"6-vector corpus must seed 6 codes, got ${model.codebooks.map(_.size)}")
    val codes = ProductQuantizer.encode(tiny, "vec_id", "embedding", model)
    assert(codes.count() == 6)
  }

  test("PQ fits a bit-identical model on the smoke corpus") {
    val e = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val model = ProductQuantizer.fit(e, "vec_id", "embedding", dim = 64, m = 4,
      k = 16, iters = 3)
    assert(ModelBits(model.codebooks) == "ef84eb44c3ab4608")
  }

  test("squared-distance kernel: NULL on dim mismatch, matches double math") {
    import spark.implicits._
    val df = Seq(
      (Array(1f, 2f, 3f), Array(1f, 2f, 3f)),
      (Array(0f, 0f, 0f), Array(3f, 4f, 0f))
    ).toDF("a", "b")
    val got = df.select(VectorFunctions.squaredDistanceFast(col("a"), col("b"))
      .as("d")).as[Double].collect().toSeq
    assert(got == Seq(0.0, 25.0))
    val mismatch = Seq((Array(1f, 2f), Array(1f, 2f, 3f))).toDF("a", "b")
      .select(VectorFunctions.squaredDistanceFast(col("a"), col("b")).as("d"))
      .collect()
    assert(mismatch.head.isNullAt(0), "dim mismatch must be NULL")
  }
}
