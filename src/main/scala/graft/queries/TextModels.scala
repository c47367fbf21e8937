package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared language-model state for the text-scoring queries. The
  * lang-conditional char-bigram counts are bounded model state (langs ×
  * alphabet² rows — the KMeans-centroid size class, never corpus-sized),
  * fit deterministically from the corpus: q130 and q166 train the
  * IDENTICAL model over the same documents table, so the counts are
  * memoized through [[graft.SessionMemo]]. */
object TextModels {

  /** (doc_id, lang, c1, c2) — one row per adjacent char pair of
    * lowercase text. Corpus-sized: NOT cached; callers stream it. Char
    * array once + element_at, never per-position substr (O(n²)/doc). */
  def charBigrams(docs: DataFrame): DataFrame =
    graft.queries.fanOutIfNarrow(docs.filter(length(col("text")) >= 2))
      // Fan out the DOCS before the per-char explode — CONDITIONALLY
      // (round-16 verdict #2): the one-file gate fixture scans as a single
      // partition, and everything below here is narrow (explode +
      // broadcast joins + partial agg), so without the exchange the whole
      // ~n_chars-per-doc expansion runs on ONE core (round-16: q166's
      // scoring pass); a multi-file production corpus that already scans
      // wide keeps its layout and ships no text payload. Each doc's
      // bigrams stay inside one task, so per-doc aggregation order — and
      // every downstream float — is unchanged.
      .select(col("doc_id"), col("lang"),
        array_remove(split(lower(col("text")), ""), "").as("cs"))
      .select(col("doc_id"), col("lang"),
        explode(transform(sequence(lit(1), size(col("cs")) - 1),
          i => struct(element_at(col("cs"), i).as("c1"),
            element_at(col("cs"), i + 1).as("c2")))).as("bg"))
      .select(col("doc_id"), col("lang"),
        col("bg.c1").as("c1"), col("bg.c2").as("c2"))

  /** Fitted LM: (lang, c1, c2, n2) counts, memoized as driver-side
    * tuples and rebuilt into a fresh local frame per call. */
  def bigramCounts(docs: DataFrame): DataFrame = {
    val rows = graft.SessionMemo("TextModels.bigramCounts", docs)(
      charBigrams(docs).groupBy("lang", "c1", "c2")
        .agg(count(lit(1)).as("n2"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSeq)
    val spark = docs.sparkSession
    import spark.implicits._
    rows.toDF("lang", "c1", "c2", "n2")
  }

  /** Per-doc mean bigram log-probability under [[bigramCounts]], rounded
    * 4 dp (the cross-engine float grid): (doc_id, lang, n_bigrams, mlp).
    * `scoreDocs` lets callers score a slice while the LM trains on the
    * full corpus (the q130 shape). */
  def meanLogProb(docs: DataFrame, scoreDocs: DataFrame): DataFrame = {
    val lm2 = bigramCounts(docs)
    val lm1 = lm2.groupBy("lang", "c1").agg(sum("n2").as("n1"))
    charBigrams(scoreDocs)
      .join(broadcast(lm2), Seq("lang", "c1", "c2"))
      .join(broadcast(lm1), Seq("lang", "c1"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(col("n2").cast("double") / col("n1"))), 4).as("mlp"))
  }
}
