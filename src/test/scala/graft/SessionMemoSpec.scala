package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{KMeans, ProductQuantizer}
import graft.queries.{DedupQueries, TextModels}

/** Pins the session-memo key rule for every memo user (the k-means fit
  * behind KMeans.fit, ProductQuantizer.fit and the IMI halves,
  * TextModels.bigramCounts, DedupQueries.ngramPairs):
  * a result memoized for one input is never served for another. The
  * inputs are chosen so that their canonical plans print the same string:
  * two corpora of the same schema read from different paths, one path
  * rewritten in place, and constructed (LocalRelation) or checkpointed
  * (LogicalRDD) frames with different data. Each result served without a
  * clear must equal the result computed right after
  * Graft.clearSessionMemos(). */
class SessionMemoSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val base = "/root/testdata/sf0.001"
  val other = "/root/testdata/sf0.01"

  /** A memo user: the table it reads and its result in comparable form. */
  private final case class User(name: String, table: String,
      run: DataFrame => Seq[Seq[Any]])

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  private val users = Seq(
    User("KMeans.fit", "embeddings",
      e => KMeans.fit(e, "vec_id", "embedding", 4, 2).map(_.toSeq)),
    User("ProductQuantizer.fit", "embeddings",
      e => ProductQuantizer.fit(e, "vec_id", "embedding", dim = 64, m = 4,
        k = 4, iters = 2).codebooks.flatten.map(_.toSeq)),
    User("KMeans.fitSubspaces (IMI halves)", "embeddings",
      e => KMeans.fitSubspaces(KMeans.subVectors(e, "vec_id", "embedding", 2, 32),
        "vec_id", 2, 4, 2, KMeans.Cosine).codebooks.flatten.map(_.toSeq)),
    User("TextModels.bigramCounts", "documents",
      d => rows(TextModels.bigramCounts(d))),
    User("DedupQueries.ngramPairs", "documents",
      d => rows(DedupQueries.ngramPairs(d, 0.7))))

  /** Equal up to float summation order (fits average partial sums). */
  private def same(a: Seq[Seq[Any]], b: Seq[Seq[Any]]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.size == y.size && x.zip(y).forall {
        case (p: Float, q: Float) => math.abs(p - q) <= 1e-5f
        case (p, q) => p == q
      }
    }

  /** From an empty memo, runs every user on `first`, then `between`, then
    * every user on `second` without clearing, and checks each second result against the
    * one computed after a clear. */
  private def noStaleHit(first: String => DataFrame,
      second: String => DataFrame, between: () => Unit = () => ()): Unit = {
    Graft.clearSessionMemos()
    val firsts = users.map(u => u.run(first(u.table)))
    between()
    val seconds = users.map(u => u.run(second(u.table)))
    Graft.clearSessionMemos()
    val fresh = users.map(u => u.run(second(u.table)))
    users.indices.foreach { i =>
      assert(!same(firsts(i), fresh(i)),
        s"${users(i).name}: the two inputs must give different results")
      assert(same(seconds(i), fresh(i)),
        s"${users(i).name}: served the first input's result for the second")
    }
  }

  test("a result for one corpus is not served for another of the same schema") {
    noStaleHit(t => Tables.load(spark, base, t), t => Tables.load(spark, other, t))
  }

  test("a corpus rewritten in place misses the memo") {
    val dir = Files.createTempDirectory("session-memo")
    def place(sf: String): Unit = Seq("embeddings", "documents").foreach { t =>
      Files.copy(Paths.get(s"$sf/$t.parquet"), dir.resolve(s"$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val load = (t: String) => Tables.load(spark, dir.toString, t)
    place(base)
    noStaleHit(load, load, () => place(other))
  }

  test("a repeated call over the same files hits the memo") {
    Graft.clearSessionMemos()
    val e = Tables.load(spark, base, "embeddings")
    val docs = Tables.load(spark, base, "documents")
    val cents = KMeans.fit(e, "vec_id", "embedding", 4, 2)
    assert(KMeans.fit(Tables.load(spark, base, "embeddings"),
      "vec_id", "embedding", 4, 2) eq cents)
    val pq = ProductQuantizer.fit(e, "vec_id", "embedding", dim = 64, m = 4,
      k = 4, iters = 2)
    assert(ProductQuantizer.fit(Tables.load(spark, base, "embeddings"),
      "vec_id", "embedding", dim = 64, m = 4, k = 4, iters = 2) eq pq)
    DedupQueries.ngramPairs(docs, 0.7).collect()
    val c0 = DedupQueries.minerPrepCalls.get()
    DedupQueries.ngramPairs(Tables.load(spark, base, "documents"), 0.7).collect()
    assert(DedupQueries.minerPrepCalls.get() == c0)
  }

  test("constructed and checkpointed corpora bypass the memo") {
    import spark.implicits._
    def vecs(seed: Int): DataFrame = {
      val r = new scala.util.Random(seed)
      (0 until 32).map(i => (i.toLong, Array.fill(64)(r.nextFloat() - 0.5f)))
        .toDF("vec_id", "embedding")
    }
    def docs(ids: (Long, Long), text: String): DataFrame =
      Seq((ids._1, "en", text.length, text), (ids._2, "en", text.length, text))
        .toDF("doc_id", "lang", "n_chars", "text")
    def corpus(seed: Int, ids: (Long, Long), text: String)(t: String): DataFrame =
      if (t == "embeddings") vecs(seed) else docs(ids, text)
    val a = corpus(1, (1L, 2L), "aaaaaaaaaabbbbbbbbbbccccc") _
    val b = corpus(2, (10L, 20L), "zzzzzzzzzzyyyyyyyyyyxxxxx") _
    noStaleHit(a, b)
    noStaleHit(t => a(t).localCheckpoint(), t => b(t).localCheckpoint())
  }
}
