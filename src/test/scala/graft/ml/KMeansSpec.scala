package graft.ml

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Shared deterministic mixture-of-Gaussians corpus: `nClusters` centers on
  * the unit sphere in `dim` dimensions (near-orthogonal at dim=64), points =
  * center + small noise. Cross-cluster cosine ≈ 0, within-cluster ≈ 1, so
  * nearest-neighbor structure is unambiguous — the corpus that makes recall
  * and purity assertions NON-vacuous (the synthetic parquet corpus is
  * isotropic-random: sign-LSH's worst case, where recall can only equal the
  * probed fraction).
  */
object ClusteredCorpus {
  def apply(spark: org.apache.spark.sql.SparkSession, nClusters: Int = 10,
      perCluster: Int = 50, dim: Int = 64, noise: Double = 0.08,
      seed: Long = 7L): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centers = Array.fill(nClusters)(unit(Array.fill(dim)(rnd.nextGaussian())))
    val rows = for {
      c <- 0 until nClusters
      i <- 0 until perCluster
    } yield {
      val v = centers(c).map(x => (x + noise * rnd.nextGaussian()).toFloat)
      (c.toLong * perCluster + i, c, v.toSeq)
    }
    rows.toDF("vec_id", "label", "embedding")
      .selectExpr("vec_id", "label", "cast(embedding as array<float>) as embedding")
  }
}

/** Bit digest of fitted codebooks, books(sub)(code): SHA-256 over each
  * codebook's size and every float's raw bits, in order (first 8 bytes).
  * The fits are bit-stable from run to run, so a pinned digest moves only
  * when seeding, assignment or the update's arithmetic changes. */
object ModelBits {
  def apply(books: Seq[Seq[Array[Float]]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    books.foreach { b =>
      md.update(BigInt(b.size).toByteArray)
      b.foreach { c =>
        val bb = java.nio.ByteBuffer.allocate(4 * c.length)
        c.foreach(f => bb.putInt(java.lang.Float.floatToRawIntBits(f)))
        md.update(bb.array())
      }
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}

class KMeansSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("k-means recovers well-separated clusters with high purity") {
    val corpus = ClusteredCorpus(spark).cache()
    val cents = KMeans.fit(corpus, "vec_id", "embedding", k = 16, iters = 5)
    assert(cents.size == 16 && cents.forall(_.length == 64))
    val cdf = KMeans.centroidsDF(spark, cents)
    val assigned = KMeans.assign(corpus, "vec_id", "embedding", cdf)
      .join(corpus.select("vec_id", "label"), "vec_id")
    // purity: every learned cluster is dominated by one generating label
    val byCid = assigned.groupBy("cid", "label").count()
      .collect().groupBy(_.getInt(0))
    val purity = byCid.values.map { rows =>
      val total = rows.map(_.getLong(2)).sum.toDouble
      rows.map(_.getLong(2)).max / total
    }
    val meanPurity =
      byCid.values.flatMap(rows => rows.map(_.getLong(2))).sum.toDouble match {
        case n => purity.zip(byCid.values.map(_.map(_.getLong(2)).sum)).map {
          case (p, cnt) => p * cnt
        }.sum / n
      }
    info(s"weighted purity = $meanPurity over ${byCid.size} non-empty clusters")
    assert(meanPurity >= 0.95,
      s"k=16 over 10 separated clusters must be label-homogeneous, got $meanPurity")
    // every point sits near its centroid — per-dim noise 0.08 over 64 dims
    // puts the expected point-to-center cosine at 1/sqrt(1+.64^2) ≈ 0.84
    val meanSim = assigned.agg(org.apache.spark.sql.functions.avg("sim"))
      .collect()(0).getDouble(0)
    info(s"mean assignment cosine = $meanSim")
    assert(meanSim >= 0.8, s"mean assignment cosine $meanSim")
  }

  test("k-means and the IMI half codebooks fit bit-identical models on the smoke corpus") {
    val e = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    assert(ModelBits(Seq(KMeans.fit(e, "vec_id", "embedding", k = 16, iters = 3)))
      == "3612a5b964caaae8")
    val halves = KMeans.subVectors(e, "vec_id", "embedding", m = 2, subDim = 32)
    assert(ModelBits(KMeans.fitSubspaces(halves, "vec_id", m = 2, k = 8, iters = 3,
      KMeans.Cosine).codebooks) == "07f6abdf04cd5fa1")
  }
}
