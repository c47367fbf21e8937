package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-analysis operators for large-scale training-data curation, round 8
  * additions to SURVEY.md §7.4: exact-substring dedup with maximal-run
  * merging (the ExactSubstr pass of Lee et al. 2021, which span COUNTING —
  * q106 — approximates but cannot delimit), hybrid lexical+dense retrieval
  * fusion (RRF), character-entropy and charset-mix quality signals,
  * CCNet-style perplexity bucketing, and Jensen–Shannon source drift.
  *
  * Determinism: integer cores everywhere (counts, ranks, positions); every
  * double either derives from one division of exact integers (bit-identical
  * across engines) or is rounded at 4–6 dp after a sum whose cross-engine
  * association noise is orders below the grid (the q87/q124/q130 precedent).
  */
object CorpusQueries {

  /** The q106/q153 injected prefix-partial corpus, as SQL — src0 plus
    * 200-char-prefix copies under doc_id+2^40. */
  private val d2Sql =
    """d2 AS (
      |  SELECT doc_id, text FROM documents WHERE source = 'src0'
      |  UNION ALL
      |  SELECT doc_id + 1099511627776,
      |         substr(text, 1, 200) || ' tail' || CAST(doc_id AS VARCHAR)
      |  FROM documents WHERE source = 'src0')""".stripMargin

  /** q162's core, reusable by the spec: from a (doc_id, i, n_tokens, h)
    * window-hash frame, keep windows whose hash occurs in ≥2 distinct docs,
    * merge overlapping/adjacent survivors ([i, i+width−1] intervals) into
    * maximal runs via a per-doc running-max gaps-and-islands window, and
    * aggregate per doc: run count, tokens covered, coverage fraction. Only
    * docs with at least one duplicated run appear. */
  def duplicateRuns(sp: DataFrame, width: Int = 16): DataFrame = {
    val dup = sp.groupBy("h").agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2).select("h")
    val hit = sp.join(dup, "h")
    val wPrev = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("doc_id").orderBy("i")
    hit
      .withColumn("brk",
        when(max(col("i") + (width - 1)).over(wPrev) >= col("i") - 1, 0)
          .otherwise(1))
      .withColumn("g", sum("brk").over(wRun))
      .groupBy("doc_id", "g")
      .agg(min("i").as("st"), (max(col("i")) + (width - 1)).as("en"),
        max("n_tokens").as("nt"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_runs"),
        sum(col("en") - col("st") + 1).cast("long").as("dup_tokens"),
        max("nt").cast("long").as("n_tokens"),
        round(sum(col("en") - col("st") + 1).cast("double") / max("nt"), 6)
          .as("dup_frac"))
  }

  /** One (doc, word) row per DISTINCT lowercase space-token — the shared
    * tokenize for q163/q167. Checkpointed: both consumers fan out of it. */
  private def distinctWords(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
        explode(array_distinct(filter(split(lower(col("text")), " "),
          w => w =!= ""))).as("word"))
      .localCheckpoint(true)

  /** q175's count-min sketch, reusable by SketchSpec on adversarial
    * (collision-forcing) shapes: from exact per-word counts, build the
    * depth×width counter array and return per-word CMS estimates.
    * Output: (word, cnt, est) — est = min over depths of the word's
    * bucket counter; est >= cnt always (the CMS one-sided guarantee:
    * every probed counter contains the word's own full count). */
  def cmsEstimates(wc: DataFrame, depth: Int = 4, width: Int = 1024,
      targets: Option[DataFrame] = None): DataFrame = {
    val probes = wc.select(col("word"), col("cnt"),
        explode(array((0 until depth).map(dep =>
          struct(lit(dep).as("depth"),
            pmod(xxhash64(col("word"), lit(dep)), lit(width))
              .as("bucket"))): _*)).as("db"))
      .select(col("word"), col("cnt"), col("db.depth").as("depth"),
        col("db.bucket").as("bucket"))
      .localCheckpoint(true)
    // sketch build folds EVERY word's count; the probe side optionally
    // narrows to the target words (at scale: probe 20 rows, not |vocab|)
    val sketch = probes.groupBy("depth", "bucket").agg(sum("cnt").as("bcnt"))
    val probe = targets.fold(probes)(tg =>
      probes.join(broadcast(tg.select("word")), Seq("word"), "left_semi"))
    probe.join(sketch, Seq("depth", "bucket"))
      .groupBy("word", "cnt").agg(min("bcnt").as("est"))
  }

  /** q176's per-document novelty core, reusable by CorpusSpec on
    * handcrafted corpora: distinct trigram shingles per doc, first-seen
    * via a min() window PARTITIONED by gram, folded to (doc_id, n_grams,
    * n_new). Docs with fewer than 3 tokens drop (no shingles). */
  def noveltyPerDoc(docs: DataFrame): DataFrame = {
    // token array in its OWN projection: with `w` inline, codegen
    // re-evaluates the split() for every element_at reference — 3·(n−2)
    // splits per doc, measured 12× slower (5.0 s → 0.4 s)
    val w = col("w")
    val grams3 = when(size(w) >= 3,
      array_distinct(transform(sequence(lit(1), size(w) - 2),
        i => concat_ws(" ", element_at(w, i), element_at(w, i + 1),
          element_at(w, i + 2))))).otherwise(array().cast("array<string>"))
    val g = docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .select(col("doc_id"), explode(grams3).as("gram"))
    val wg = Window.partitionBy("gram")
    g.withColumn("first_doc", min("doc_id").over(wg))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
          .as("n_new"))
  }

  val defs: Seq[QueryDef] = Seq(

    // Exact-substring dedup (ExactSubstr, Lee et al. 2021 "Deduplicating
    // Training Data Makes Language Models Better"): find every MAXIMAL
    // duplicated token run — not just count duplicated windows (q106) —
    // by merging overlapping/adjacent duplicated 16-token windows into
    // islands per document. The suffix-array of the paper is a single-node
    // structure; the distributed shape is this window-hash equi-join (the
    // scale path: hashes shuffle-join, never a pair object) followed by a
    // per-document interval merge — a gaps-and-islands running-max window
    // PARTITIONED by doc, so it distributes like the corpus does. Output:
    // per doc with any duplicated run, the run count, tokens covered, and
    // coverage fraction — exactly what the removal pass would cut.
    QueryDef.sql(
      "q162_substring_dedup",
      s"""WITH $d2Sql,
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM d2),
        |sp AS (SELECT doc_id, i, len(w) AS n_tokens,
        |              md5(array_to_string(list_slice(w, i, i + 15), ' ')) AS h
        |       FROM toks, unnest(generate_series(1, len(w) - 15)) AS t(i)),
        |dup AS (SELECT h FROM sp GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |hit AS (SELECT s.doc_id, s.i, s.n_tokens FROM sp s JOIN dup d ON s.h = d.h),
        |isl AS (SELECT doc_id, i, n_tokens,
        |               CASE WHEN max(i + 15) OVER (PARTITION BY doc_id ORDER BY i
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |                      >= i - 1
        |                    THEN 0 ELSE 1 END AS brk
        |        FROM hit),
        |grp AS (SELECT doc_id, i, n_tokens,
        |               sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS g
        |        FROM isl),
        |runs AS (SELECT doc_id, g, min(i) AS st, max(i) + 15 AS en,
        |                max(n_tokens) AS n_tokens
        |         FROM grp GROUP BY doc_id, g)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_runs,
        |       CAST(sum(en - st + 1) AS BIGINT) AS dup_tokens,
        |       CAST(max(n_tokens) AS BIGINT) AS n_tokens,
        |       round(CAST(sum(en - st + 1) AS DOUBLE) / max(n_tokens), 6)
        |         AS dup_frac
        |FROM runs
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // one tokenize+hash pass feeds both the dup-hash build and the hit
      // join (same checkpoint discipline as q106's spanFrame)
      val sp = DedupQueries.partialCopyCorpus(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("w"),
          explode(when(size(col("w")) >= 16,
              sequence(lit(1), size(col("w")) - 15))
            .otherwise(array().cast("array<int>"))).as("i"))
        .select(col("doc_id"), col("i"), size(col("w")).as("n_tokens"),
          md5(array_join(slice(col("w"), col("i"), lit(16)), " ")
            .cast("binary")).as("h"))
        .localCheckpoint(true)
      duplicateRuns(sp).orderBy("doc_id")
    },

    // Reciprocal-rank fusion of lexical and dense retrieval — the standard
    // hybrid-search combiner (Cormack et al. 2009): each of 3 query docs
    // gets a sparse ranking (distinct-token Jaccard against the corpus,
    // query side broadcast through an inverted word equi-join — fan-out
    // bounded by query vocabulary, the 100 TB path) and a dense ranking
    // (exact cosine top-k; at scale the IVF list variants q84/q158 slot in
    // here unchanged since RRF only consumes ranks), fused by
    // Σ 1/(60+rank) over the two top-20 lists. Rank arithmetic is exact
    // integer→rational, so the fused scores are bit-identical across
    // engines; ties break on id.
    QueryDef.sql(
      "q163_rrf_fusion",
      """WITH dw AS (SELECT doc_id, unnest(list_distinct(list_filter(
        |                     string_split(lower(text), ' '), w -> w <> '')))
        |                     AS word
        |            FROM documents),
        |qw AS (SELECT doc_id AS qid, word FROM dw WHERE doc_id IN (0, 1, 2)),
        |dn AS (SELECT doc_id, count(*) AS nd FROM dw GROUP BY doc_id),
        |qn AS (SELECT qid, count(*) AS nq FROM qw GROUP BY qid),
        |inter AS (SELECT q.qid, d.doc_id, count(*) AS ni
        |          FROM qw q JOIN dw d USING (word)
        |          WHERE d.doc_id <> q.qid GROUP BY q.qid, d.doc_id),
        |sr AS (SELECT qid, doc_id,
        |              CAST(ni AS DOUBLE) / (nq + nd - ni) AS jacc
        |       FROM inter JOIN qn USING (qid) JOIN dn USING (doc_id)),
        |srk AS (SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
        |                 ORDER BY jacc DESC, doc_id) AS rs
        |        FROM sr),
        |dns AS (SELECT q.vec_id AS qid, e.vec_id AS doc_id,
        |               CAST(list_cosine_similarity(q.embedding, e.embedding)
        |                 AS DOUBLE) AS c
        |        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        |        WHERE q.vec_id IN (0, 1, 2)),
        |drk AS (SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
        |                 ORDER BY c DESC, doc_id) AS rd
        |        FROM dns),
        |fused AS (SELECT coalesce(s.qid, d.qid) AS qid,
        |                 coalesce(s.doc_id, d.doc_id) AS id, s.rs, d.rd,
        |                 coalesce(CAST(1.0 AS DOUBLE) / (60 + s.rs), 0)
        |                   + coalesce(CAST(1.0 AS DOUBLE) / (60 + d.rd), 0)
        |                   AS rrf
        |          FROM (SELECT * FROM srk WHERE rs <= 20) s
        |          FULL JOIN (SELECT * FROM drk WHERE rd <= 20) d
        |            ON s.qid = d.qid AND s.doc_id = d.doc_id),
        |ranked AS (SELECT qid, id, rs, rd, rrf,
        |                  row_number() OVER (PARTITION BY qid
        |                    ORDER BY rrf DESC, id) AS rank
        |           FROM fused)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, id,
        |       CAST(rs AS BIGINT) AS rs, CAST(rd AS BIGINT) AS rd,
        |       round(rrf, 6) AS rrf
        |FROM ranked WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val dw = distinctWords(t(s, d, "documents")).drop("source")
      val qw = dw.filter(col("doc_id").isin(0L, 1L, 2L))
        .withColumnRenamed("doc_id", "qid")
      val dn = dw.groupBy("doc_id").agg(count(lit(1)).as("nd"))
      val qn = qw.groupBy("qid").agg(count(lit(1)).as("nq"))
      val inter = broadcast(qw).join(dw, "word")
        .filter(col("doc_id") =!= col("qid"))
        .groupBy("qid", "doc_id").agg(count(lit(1)).as("ni"))
      // jacc = one division of exact integers — bit-identical across
      // engines, so rank order (jacc DESC, doc_id) can never diverge
      val sr = inter.join(broadcast(qn), "qid").join(dn, "doc_id")
        .select(col("qid"), col("doc_id"),
          (col("ni").cast("double") / (col("nq") + col("nd") - col("ni")))
            .as("jacc"))
      val srk = sr.withColumn("rs", row_number().over(
          Window.partitionBy("qid").orderBy(col("jacc").desc, col("doc_id"))))
        .filter(col("rs") <= 20)
        .select(col("qid"), col("doc_id").as("id"), col("rs"))
      val drk = SimilarityQueries
        .bruteTopK(t(s, d, "embeddings"), Seq(0L, 1L, 2L), 20)
        .select(col("qid"), col("vec_id").as("id"), col("rank").as("rd"))
      srk.join(drk, Seq("qid", "id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60) + col("rs")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rd")), lit(0.0)))
        .withColumn("rank", row_number().over(
          Window.partitionBy("qid").orderBy(col("rrf").desc, col("id"))))
        .filter(col("rank") <= 10)
        .select(col("qid"), col("rank").cast("long").as("rank"), col("id"),
          col("rs").cast("long").as("rs"), col("rd").cast("long").as("rd"),
          round(col("rrf"), 6).as("rrf"))
        .orderBy("qid", "rank")
    },

    // Character-distribution Shannon entropy per document — the
    // compressibility-proxy quality signal (low-entropy docs are repeated
    // boilerplate / padding; Gopher and FineWeb both gate on it). One
    // narrow char-explode, one per-doc aggregate: distributes like the
    // corpus, no join wider than (doc → its own chars).
    QueryDef.sql(
      "q164_char_entropy",
      """WITH ch AS (SELECT doc_id, substring(lower(text), i, 1) AS c
        |            FROM documents,
        |                 unnest(generate_series(1, length(text))) AS t(i)
        |            WHERE length(text) >= 1),
        |cnt AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(n) AS l, count(*) AS n_distinct
        |        FROM cnt GROUP BY 1)
        |SELECT doc_id, CAST(l AS BIGINT) AS n_chars_lc,
        |       CAST(n_distinct AS BIGINT) AS n_distinct,
        |       round(-sum((CAST(n AS DOUBLE) / l) * ln(CAST(n AS DOUBLE) / l)),
        |             4) AS entropy
        |FROM cnt JOIN tot USING (doc_id)
        |GROUP BY doc_id, l, n_distinct
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // char array once + explode — the q130 idiom (per-position substr is
      // O(n²) per document in Spark's UTF8String)
      val cnt = t(s, d, "documents")
        .filter(length(col("text")) >= 1)
        .select(col("doc_id"),
          explode(array_remove(split(lower(col("text")), ""), "")).as("c"))
        .groupBy("doc_id", "c").agg(count(lit(1)).as("n"))
      val tot = cnt.groupBy("doc_id")
        .agg(sum("n").as("l"), count(lit(1)).as("n_distinct"))
      val p = col("n").cast("double") / col("l")
      cnt.join(tot, "doc_id")
        .groupBy("doc_id", "l", "n_distinct")
        .agg(round(-sum(p * log(p)), 4).as("entropy"))
        .select(col("doc_id"), col("l").cast("long").as("n_chars_lc"),
          col("n_distinct").cast("long").as("n_distinct"), col("entropy"))
        .orderBy("doc_id")
    },

    // Charset-mix profile per (source, lang): alpha/digit/space/other
    // character fractions via length-difference counting — the script-mix
    // spam signal (a "lang=en" slice that is 40 % digits is a table dump,
    // not prose). All-integer sums, one division each at the end: every
    // output double is exact-integer arithmetic → bit-stable across
    // engines with no rounding leeway needed beyond 4 dp.
    QueryDef.sql(
      "q165_charset_profile",
      """WITH f AS (SELECT source, lang, length(text) AS n,
        |    length(text) - length(regexp_replace(lower(text), '[a-z]', '', 'g'))
        |      AS n_alpha,
        |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |      AS n_digit,
        |    length(text) - length(regexp_replace(text, ' ', '', 'g'))
        |      AS n_space
        |  FROM documents WHERE length(text) >= 1)
        |SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       round(CAST(sum(n_alpha) AS DOUBLE) / sum(n), 4) AS alpha_frac,
        |       round(CAST(sum(n_digit) AS DOUBLE) / sum(n), 4) AS digit_frac,
        |       round(CAST(sum(n_space) AS DOUBLE) / sum(n), 4) AS space_frac,
        |       round(CAST(sum(n - n_alpha - n_digit - n_space) AS DOUBLE)
        |             / sum(n), 4) AS other_frac
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val f = t(s, d, "documents")
        .filter(length(col("text")) >= 1)
        .select(col("source"), col("lang"), length(col("text")).as("n"),
          (length(col("text")) -
            length(regexp_replace(lower(col("text")), "[a-z]", "")))
            .as("n_alpha"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[0-9]", ""))).as("n_digit"),
          (length(col("text")) -
            length(regexp_replace(col("text"), " ", ""))).as("n_space"))
      f.groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          round(sum("n_alpha").cast("double") / sum("n"), 4).as("alpha_frac"),
          round(sum("n_digit").cast("double") / sum("n"), 4).as("digit_frac"),
          round(sum("n_space").cast("double") / sum("n"), 4).as("space_frac"),
          round(sum(col("n") - col("n_alpha") - col("n_digit") - col("n_space"))
            .cast("double") / sum("n"), 4).as("other_frac"))
        .orderBy("source", "lang")
    },

    // CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    // document against the per-language char-bigram LM (q130's model, here
    // over the FULL corpus), then split each language into head/middle/tail
    // terciles by mean log-probability. Per-doc scores round at 4 dp BEFORE
    // ranking so both engines order identical values. The tercile is NOT a
    // per-lang ntile window (5 fat groups = 5 reducers at 100 TB): it is
    // groupedRanks — ranks within (lang, score-bucket) sub-windows plus a
    // per-lang prefix-sum over one row per bucket — composed with the exact
    // ntile sizing arithmetic, so the oracle's ntile(3) reproduces exactly.
    QueryDef.sql(
      "q166_perplexity_buckets",
      """WITH big AS (
        |  SELECT doc_id, lang, substring(lower(text), i, 1) AS c1,
        |         substring(lower(text), i + 1, 1) AS c2
        |  FROM documents, unnest(generate_series(1, length(text) - 1)) AS t(i)
        |  WHERE length(text) >= 2),
        |lm2 AS (SELECT lang, c1, c2, count(*) AS n2 FROM big GROUP BY 1, 2, 3),
        |lm1 AS (SELECT lang, c1, sum(n2) AS n1 FROM lm2 GROUP BY 1, 2),
        |mlp AS (SELECT b.doc_id, b.lang,
        |               round(avg(ln(CAST(n2 AS DOUBLE) / n1)), 4) AS mlp
        |        FROM big b JOIN lm2 USING (lang, c1, c2)
        |        JOIN lm1 USING (lang, c1)
        |        GROUP BY 1, 2),
        |bk AS (SELECT lang, mlp,
        |              ntile(3) OVER (PARTITION BY lang
        |                             ORDER BY mlp DESC, doc_id) AS bucket
        |       FROM mlp)
        |SELECT lang, CAST(bucket AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       round(avg(mlp), 4) AS mean_mlp,
        |       round(min(mlp), 4) AS min_mlp,
        |       round(max(mlp), 4) AS max_mlp
        |FROM bk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      // LM fit is memoized model state (TextModels) — q130 trains the same
      // counts; within a bench pass only the scoring explode runs here
      val mlp = TextModels.meanLogProb(docs, docs).drop("n_bigrams")
      // ntile(3) per lang without per-lang single-reducer sorts: ranks
      // within (lang, floor(-mlp·4)) sub-buckets + per-lang offsets
      val ranked = groupedRanks(mlp, Seq("lang"),
        bucket = floor(col("mlp") * -4),
        sortCols = Seq((col("mlp") * -1).asc, col("doc_id").asc))
      ranked.withColumn("bucket", ntileFromRank(3))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("mlp"), 4).as("mean_mlp"),
          round(min("mlp"), 4).as("min_mlp"),
          round(max("mlp"), 4).as("max_mlp"))
        .orderBy("lang", "bucket")
    },

    // Winnowing fingerprint selection (Schleimer et al. 2003, the MOSS
    // scheme): from each document's 4-token-gram hash stream, every
    // w=4-hash sliding window contributes its MINIMUM hash; the distinct
    // selected positions are the document's fingerprints. Guarantees any
    // shared run of >= w+k-1 tokens shares a fingerprint, at expected
    // density 2/(w+1) — the sampling layer that makes q162-style substring
    // dedup affordable at 100 TB (probe the index with ~0.4 of the grams
    // instead of all of them). Argmin-with-position ties resolve through
    // the (hash, position) string concat — md5 hex is fixed-width and the
    // position zero-padded, so lexicographic min IS the (h, i) min in both
    // engines, no argmin window needed. Per-doc windows: distributes like
    // the corpus.
    QueryDef.sql(
      "q168_winnowing",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |              FROM documents),
        |gr AS (SELECT doc_id, i,
        |              md5(array_to_string(list_slice(w, i, i + 3), ' ')) AS h
        |       FROM toks, unnest(generate_series(1, len(w) - 3)) AS t(i)),
        |keyed AS (SELECT doc_id, i,
        |                 h || '#' || lpad(CAST(i AS VARCHAR), 8, '0') AS hk
        |          FROM gr),
        |win AS (SELECT doc_id, i,
        |               min(hk) OVER (PARTITION BY doc_id ORDER BY i
        |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn,
        |               lead(i, 3) OVER (PARTITION BY doc_id ORDER BY i)
        |                 AS i_end
        |        FROM keyed),
        |sel AS (SELECT DISTINCT doc_id,
        |               CAST(substr(mn, 34, 8) AS BIGINT) AS fp_pos
        |        FROM win WHERE i_end IS NOT NULL),
        |n AS (SELECT doc_id, count(*) AS n_grams FROM gr GROUP BY doc_id)
        |SELECT n.doc_id, CAST(n.n_grams AS BIGINT) AS n_grams,
        |       CAST(count(s.fp_pos) AS BIGINT) AS n_fp,
        |       round(CAST(count(s.fp_pos) AS DOUBLE) / n.n_grams, 6)
        |         AS density
        |FROM n LEFT JOIN sel s ON n.doc_id = s.doc_id
        |GROUP BY n.doc_id, n.n_grams
        |ORDER BY n.doc_id""".stripMargin) { (s, d) =>
      val gr = t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("w"),
          explode(when(size(col("w")) >= 4,
              sequence(lit(1), size(col("w")) - 3))
            .otherwise(array().cast("array<int>"))).as("i"))
        .select(col("doc_id"), col("i"),
          md5(array_join(slice(col("w"), col("i"), lit(4)), " ")
            .cast("binary")).as("h"))
        .localCheckpoint(true)
      val wWin = Window.partitionBy("doc_id").orderBy("i")
      val sel = gr
        .withColumn("hk",
          concat(col("h"), lit("#"), lpad(col("i").cast("string"), 8, "0")))
        .withColumn("mn", min("hk").over(wWin.rowsBetween(0, 3)))
        .withColumn("i_end", lead(col("i"), 3).over(wWin))
        .filter(col("i_end").isNotNull)
        .select(col("doc_id"),
          substring(col("mn"), 34, 8).cast("long").as("fp_pos"))
        .distinct()
      val n = gr.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      n.join(sel, Seq("doc_id"), "left")
        .groupBy("doc_id", "n_grams")
        .agg(count(col("fp_pos")).as("n_fp"),
          round(count(col("fp_pos")).cast("double") / col("n_grams"), 6)
            .as("density"))
        .select(col("doc_id"), col("n_grams").cast("long").as("n_grams"),
          col("n_fp"), col("density"))
        .orderBy("doc_id")
    },

    // Zipf rank–frequency fit per source: least-squares slope of
    // ln(freq) on ln(rank) over each source's top-100 words, plus r².
    // Natural text sits near slope −1; a source drifting toward 0 is
    // boilerplate-flooded, one diving past −1.5 is vocabulary-collapsed —
    // the distribution-health screen run before mixing (q73/q148 upstream).
    // Closed-form normal equations over 100 exact-integer-derived points:
    // every input to the sums is engine-identical, the sums round at 4 dp.
    // The per-source ranking window is vocab-sized (Zipf-small), never
    // corpus-sized.
    QueryDef.sql(
      "q169_zipf_fit",
      """WITH pw AS (SELECT source, unnest(list_filter(
        |                     string_split(lower(text), ' '), w -> w <> ''))
        |                     AS word
        |            FROM documents),
        |fr AS (SELECT source, word, count(*) AS n FROM pw GROUP BY 1, 2),
        |rk AS (SELECT source, n,
        |              row_number() OVER (PARTITION BY source
        |                ORDER BY n DESC, word) AS r
        |       FROM fr),
        |pts AS (SELECT source, ln(CAST(r AS DOUBLE)) AS x,
        |               ln(CAST(n AS DOUBLE)) AS y
        |        FROM rk WHERE r <= 100),
        |sums AS (SELECT source, count(*) AS m, sum(x) AS sx, sum(y) AS sy,
        |                sum(x * x) AS sxx, sum(y * y) AS syy,
        |                sum(x * y) AS sxy
        |         FROM pts GROUP BY source)
        |SELECT source, CAST(m AS BIGINT) AS n_points,
        |       round((m * sxy - sx * sy) / (m * sxx - sx * sx), 4) AS slope,
        |       round((sy - sx * (m * sxy - sx * sy) / (m * sxx - sx * sx)) / m,
        |             4) AS intercept,
        |       round((m * sxy - sx * sy) * (m * sxy - sx * sy) /
        |             ((m * sxx - sx * sx) * (m * syy - sy * sy)), 4) AS r2
        |FROM sums ORDER BY source""".stripMargin) { (s, d) =>
      val fr = t(s, d, "documents")
        .select(col("source"),
          explode(filter(split(lower(col("text")), " "), w => w =!= ""))
            .as("word"))
        .groupBy("source", "word").agg(count(lit(1)).as("n"))
      val rk = fr.withColumn("r", row_number().over(
          Window.partitionBy("source").orderBy(col("n").desc, col("word"))))
        .filter(col("r") <= 100)
      val pts = rk.select(col("source"),
        log(col("r").cast("double")).as("x"), log(col("n").cast("double")).as("y"))
      val sums = pts.groupBy("source").agg(count(lit(1)).as("m"),
        sum("x").as("sx"), sum("y").as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"), sum(col("x") * col("y")).as("sxy"))
      val slopeNum = col("m") * col("sxy") - col("sx") * col("sy")
      val slopeDen = col("m") * col("sxx") - col("sx") * col("sx")
      sums.select(col("source"), col("m").cast("long").as("n_points"),
          round(slopeNum / slopeDen, 4).as("slope"),
          round((col("sy") - col("sx") * slopeNum / slopeDen) / col("m"), 4)
            .as("intercept"),
          round(slopeNum * slopeNum /
            (slopeDen * (col("m") * col("syy") - col("sy") * col("sy"))), 4)
            .as("r2"))
        .orderBy("source")
    },

    // Corpus diversity via distinct-n-gram precision (the deterministic
    // core of Self-BLEU, Zhu et al. 2018): for each scored document, the
    // fraction of its distinct uni-/bi-grams that also occur in ANY other
    // document — high overlap = derivative, low-diversity corpus. "Occurs
    // elsewhere" reduces to n-gram document-frequency >= 2 (a gram of doc d
    // with df=1 can only be d's own), so the whole metric is one gram->df
    // aggregate joined back to the scored slice: no doc-pair object, the
    // 100 TB diversity-report shape. All-integer counts, one division.
    QueryDef.sql(
      "q171_ngram_diversity",
      """WITH toks AS (SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |                       w -> w <> '') AS w
        |              FROM documents),
        |u1 AS (SELECT DISTINCT doc_id, unnest(w) AS g FROM toks),
        |u2 AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS g
        |       FROM toks, unnest(generate_series(1, len(w) - 1)) AS t(i)),
        |df1 AS (SELECT g, count(*) AS df FROM u1 GROUP BY g),
        |df2 AS (SELECT g, count(*) AS df FROM u2 GROUP BY g),
        |p1 AS (SELECT u1.doc_id, count(*) AS n1,
        |              sum(CASE WHEN df1.df >= 2 THEN 1 ELSE 0 END) AS h1
        |       FROM u1 JOIN df1 USING (g) WHERE u1.doc_id < 50
        |       GROUP BY u1.doc_id),
        |p2 AS (SELECT u2.doc_id, count(*) AS n2,
        |              sum(CASE WHEN df2.df >= 2 THEN 1 ELSE 0 END) AS h2
        |       FROM u2 JOIN df2 USING (g) WHERE u2.doc_id < 50
        |       GROUP BY u2.doc_id)
        |SELECT doc_id, CAST(n1 AS BIGINT) AS n1, CAST(h1 AS BIGINT) AS h1,
        |       CAST(n2 AS BIGINT) AS n2, CAST(h2 AS BIGINT) AS h2,
        |       round(sqrt((CAST(h1 AS DOUBLE) / n1) *
        |                  (CAST(h2 AS DOUBLE) / n2)), 6) AS overlap2
        |FROM p1 JOIN p2 USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = t(s, d, "documents")
        .select(col("doc_id"),
          filter(split(lower(col("text")), " "), w => w =!= "").as("w"))
        .localCheckpoint(true)  // one tokenize feeds both gram orders
      val u1 = toks.select(col("doc_id"), explode(col("w")).as("g")).distinct()
      val u2 = toks
        .select(col("doc_id"), col("w"),
          explode(when(size(col("w")) >= 2,
              sequence(lit(1), size(col("w")) - 1))
            .otherwise(array().cast("array<int>"))).as("i"))
        .select(col("doc_id"),
          concat_ws(" ", element_at(col("w"), col("i")),
            element_at(col("w"), col("i") + 1)).as("g"))
        .distinct()
      def prec(u: DataFrame, n: String, h: String): DataFrame = {
        val df = u.groupBy("g").agg(count(lit(1)).as("df"))
        u.filter(col("doc_id") < 50).join(df, "g")
          .groupBy("doc_id")
          .agg(count(lit(1)).as(n),
            sum(when(col("df") >= 2, 1).otherwise(0)).as(h))
      }
      prec(u1, "n1", "h1").join(prec(u2, "n2", "h2"), "doc_id")
        .select(col("doc_id"), col("n1"), col("h1"), col("n2"), col("h2"),
          round(sqrt((col("h1").cast("double") / col("n1")) *
            (col("h2").cast("double") / col("n2"))), 6).as("overlap2"))
        .orderBy("doc_id")
    },

    // k-anonymity audit over quasi-identifiers — the privacy screen a
    // dataset release runs: every (lang, source, length-bucket) cell with
    // fewer than k=5 members is a re-identification risk (its members are
    // distinguishable by attributes alone). Pure groupBy on derived keys;
    // all-integer. At 100 TB the cell count is bounded by the QI domain,
    // not the corpus.
    QueryDef.sql(
      "q172_k_anonymity",
      """WITH cells AS (SELECT lang, source,
        |                      CAST(n_chars // 50 AS BIGINT) AS len_bucket,
        |                      count(*) AS k
        |               FROM documents GROUP BY 1, 2, 3)
        |SELECT lang, source, len_bucket, CAST(k AS BIGINT) AS k,
        |       (k < 5) AS risky
        |FROM cells
        |ORDER BY lang, source, len_bucket""".stripMargin) { (s, d) =>
      t(s, d, "documents")
        .groupBy(col("lang"), col("source"),
          floor(col("n_chars") / 50).cast("long").as("len_bucket"))
        .agg(count(lit(1)).as("k"))
        .select(col("lang"), col("source"), col("len_bucket"), col("k"),
          (col("k") < 5).as("risky"))
        .orderBy("lang", "source", "len_bucket")
    },

    // Jensen–Shannon divergence of unigram word distributions between every
    // source pair — the DISTRIBUTIONAL drift signal complementing q157's
    // set-overlap (two sources can share 100 % of vocabulary yet weight it
    // completely differently; JSD sees that, Jaccard cannot). Disjoint-mass
    // terms fold into ½·ln2·(2 − Σp − Σq) over the SHARED-word join only,
    // so no full-outer explosion: the join is (word → sources²)-bounded,
    // Zipf-small per word, never corpus-quadratic.
    QueryDef.sql(
      "q167_js_divergence",
      """WITH toks AS (SELECT source, unnest(list_filter(
        |                       string_split(lower(text), ' '), w -> w <> ''))
        |                       AS word
        |              FROM documents),
        |pw AS (SELECT source, word, count(*) AS n FROM toks GROUP BY 1, 2),
        |pn AS (SELECT source, sum(n) AS tn FROM pw GROUP BY 1),
        |p AS (SELECT source, word, CAST(n AS DOUBLE) / tn AS p
        |      FROM pw JOIN pn USING (source)),
        |j AS (SELECT a.source AS s1, b.source AS s2,
        |             sum(0.5 * a.p * ln(2 * a.p / (a.p + b.p))
        |                 + 0.5 * b.p * ln(2 * b.p / (a.p + b.p))) AS core,
        |             sum(a.p) AS pa, sum(b.p) AS pb
        |      FROM p a JOIN p b ON a.word = b.word AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT s1, s2, round(core + 0.5 * ln(2) * (2 - pa - pb), 4) AS jsd
        |FROM j ORDER BY s1, s2""".stripMargin) { (s, d) =>
      val pw = t(s, d, "documents")
        .select(col("source"),
          explode(filter(split(lower(col("text")), " "), w => w =!= ""))
            .as("word"))
        .groupBy("source", "word").agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
      val pn = pw.groupBy("source").agg(sum("n").as("tn"))
      val p = pw.join(broadcast(pn), "source")
        .select(col("source"), col("word"),
          (col("n").cast("double") / col("tn")).as("p"))
      val a = p.select(col("source").as("s1"), col("word"), col("p").as("pa"))
      val b = p.select(col("source").as("s2"), col("word"), col("p").as("pb"))
      a.join(b, Seq("word")).filter(col("s1") < col("s2"))
        .groupBy("s1", "s2")
        .agg(sum(lit(0.5) * col("pa") *
            log(lit(2) * col("pa") / (col("pa") + col("pb"))) +
          lit(0.5) * col("pb") *
            log(lit(2) * col("pb") / (col("pa") + col("pb")))).as("core"),
          sum("pa").as("pa"), sum("pb").as("pb"))
        .select(col("s1"), col("s2"),
          round(col("core") +
            lit(0.5) * log(lit(2.0)) * (lit(2.0) - col("pa") - col("pb")), 4)
            .as("jsd"))
        .orderBy("s1", "s2")
    },

    // Count-min-sketch heavy hitters: the streaming-sketch answer to "what
    // are the hottest words" when an exact word groupBy is unaffordable or
    // the stream is unbounded. The sketch is depth×width = 4×1024 counters
    // REGARDLESS of corpus size — that fixed footprint is the whole point
    // at 100 TB (mergeable across executors: counter-wise sum, exactly how
    // the groupBy partial-aggregates here). Bound-oracle (the q10/q58/q75
    // sketch pattern): DuckDB recomputes the exact top-20 rows; two audit
    // flags pin the sketch's contract on the Spark side — overest_ok (CMS
    // NEVER underestimates: each probed counter contains the word's own
    // full count, a deterministic one-sided-error guarantee) and err_ok
    // (max overestimate over the top-20 ≤ N/256, i.e. 4× the expected
    // N/1024 single-row collision mass; the min-over-4-depths estimate
    // sits far below that, while a broken hash, bucket map, or min-fold
    // pushes the error toward ~N and still fails). Data-adaptive bound:
    // scales with the corpus, so the flag is stable at every sf.
    QueryDef.sql(
      "q175_cms_heavy_hitters",
      """WITH w AS (SELECT unnest(list_filter(string_split(lower(text), ' '),
        |                                     x -> x <> '')) AS word
        |           FROM documents),
        |     c AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
        |     r AS (SELECT word, cnt,
        |                  row_number() OVER (ORDER BY cnt DESC, word) AS rank
        |           FROM c)
        |SELECT rank, word, cnt, TRUE AS overest_ok, TRUE AS err_ok
        |FROM r WHERE rank <= 20
        |ORDER BY rank""".stripMargin) { (s, d) =>
      val cmsW = 1024
      val docs = t(s, d, "documents")
      // exact per-word counts: needed for the top-20 rows anyway, and the
      // sketch build folds them (sum of pre-counted words == sum of raw
      // occurrences, with |vocab| rows instead of N entering the explode)
      val wc = docs.select(
          explode(filter(split(lower(col("text")), " "), x => x =!= ""))
            .as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true)
      val top = wc.orderBy(col("cnt").desc, col("word")).limit(20)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("cnt").desc, col("word"))))
        .localCheckpoint(true)
      val est = cmsEstimates(wc, depth = 4, width = cmsW,
        targets = Some(top))
      val n = wc.agg(sum("cnt").cast("double").as("n"))
      val flags = est.crossJoin(broadcast(n))
        .agg(expr("bool_and(est >= cnt)").as("overest_ok"),
          (max(col("est") - col("cnt")).cast("double") <= max(col("n")) / 256)
            .as("err_ok"))
      top.crossJoin(broadcast(flags))
        .select(col("rank"), col("word"), col("cnt"),
          col("overest_ok"), col("err_ok"))
        .orderBy("rank")
    },

    // Corpus novelty curve: for each doc_id decile (in ingestion order),
    // what fraction of its distinct trigram shingles had never been seen
    // in any earlier document? The memorization/diversity signal a crawl
    // pipeline watches to decide when additional data stops adding new
    // content (novelty decays as the corpus saturates). Shapes: one gram
    // explode, first-seen via min() window PARTITIONED by gram (shuffles
    // on the gram key, never a pair object), per-doc fold, then an
    // all-integer decile from doc_id against the max id — no ntile, no
    // unpartitioned window, no second pass over text. Exact oracle:
    // counts and one exact-integer division per output row.
    QueryDef.sql(
      "q176_novelty_curve",
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |           FROM documents),
        |     g AS (SELECT doc_id,
        |                  unnest(list_distinct(list_transform(
        |                    generate_series(1, len(w) - 2),
        |                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])))
        |                    AS gram
        |           FROM t WHERE len(w) >= 3),
        |     f AS (SELECT doc_id,
        |                  min(doc_id) OVER (PARTITION BY gram) AS first_doc
        |           FROM g),
        |     p AS (SELECT doc_id, count(*) AS n_grams,
        |                  sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
        |                    AS n_new
        |           FROM f GROUP BY doc_id),
        |     m AS (SELECT max(doc_id) AS mx FROM documents)
        |SELECT (p.doc_id * 10) // (m.mx + 1) AS decile,
        |       count(*) AS n_docs,
        |       CAST(sum(p.n_grams) AS BIGINT) AS n_grams,
        |       CAST(sum(p.n_new) AS BIGINT) AS new_grams,
        |       round(CAST(sum(p.n_new) AS DOUBLE) / sum(p.n_grams), 6)
        |         AS novelty
        |FROM p, m
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val per = noveltyPerDoc(docs)
      val mx = docs.agg(max("doc_id").as("mx"))
      per.crossJoin(broadcast(mx))
        .groupBy(expr("doc_id * 10 div (mx + 1)").as("decile"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_grams").as("n_grams"),
          sum("n_new").as("new_grams"),
          round(sum("n_new").cast("double") / sum("n_grams"), 6)
            .as("novelty"))
        .orderBy("decile")
    },

    // Intra-document repetition profile — the Gopher-family quality
    // signal q92's rule set reads per document, here aggregated into the
    // per-source repetition report a curation run reviews: the share of a
    // doc's word-3-grams that are repeats (1 − distinct/total), averaged
    // and maxed per source, plus a count of heavy repeaters (> 20 %).
    // One explode → one (doc, gram) aggregate → one source rollup; the
    // shares are exact-integer ratios divided once and rounded.
    QueryDef.sql(
      "q258_intradoc_repetition",
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w
        |              FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, source,
        |             array_to_string(list_slice(w, i, i + 2), ' ') AS gram
        |      FROM toks,
        |           unnest(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)),
        |per AS (SELECT doc_id, source, count(*) AS n,
        |               count(DISTINCT gram) AS nd
        |        FROM g GROUP BY 1, 2)
        |SELECT source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       round(avg(1.0 - nd * 1.0 / n), 6) AS avg_rep_share,
        |       round(max(1.0 - nd * 1.0 / n), 6) AS max_rep_share,
        |       CAST(count(CASE WHEN 1.0 - nd * 1.0 / n > 0.2 THEN 1 END)
        |            AS BIGINT) AS n_heavy_rep
        |FROM per GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val per = t(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("source"), col("w"),
          explode(sequence(lit(1), greatest(size(col("w")) - 2, lit(1))))
            .as("i"))
        .select(col("doc_id"), col("source"),
          array_join(slice(col("w"), col("i"), lit(3)), " ").as("gram"))
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("n"), countDistinct("gram").as("nd"))
      val share = lit(1.0) - col("nd") * lit(1.0) / col("n")
      per.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(share), 6).as("avg_rep_share"),
          round(max(share), 6).as("max_rep_share"),
          count(when(share > 0.2, 1)).as("n_heavy_rep"))
        .orderBy("source")
    },

    // Heaps'-law vocabulary-growth fit: V(N) ≈ K·N^β over the corpus's
    // word-3-gram vocabulary — the corpus-linguistics exponent that
    // predicts how the TOKENIZER vocabulary (q120/q252) and dedup gram
    // space (q41/q43) will grow with another 10× of data. Cumulative
    // token/vocab curves come from a first-seen reduction (each gram
    // charges its MIN doc) plus the q113 bucket-decomposed prefix sum —
    // per-bucket cumsums with a tiny offsets window, never an
    // unpartitioned data-sized window. The log-log OLS runs on 50
    // evenly-sampled curve points; ln() terms round at 10 dp (q143
    // discipline) so the slope is hash-stable.
    QueryDef.sql(
      "q275_heaps_law",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |              FROM documents WHERE text IS NOT NULL),
        |tok AS (
        |  SELECT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS g
        |  FROM toks,
        |       unnest(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)),
        |ntok AS (SELECT doc_id, count(*) AS nt FROM tok GROUP BY 1),
        |firstw AS (SELECT g, min(doc_id) AS d0 FROM tok GROUP BY 1),
        |newv AS (SELECT d0 AS doc_id, count(*) AS nv FROM firstw GROUP BY 1),
        |cum AS (
        |  SELECT n.doc_id,
        |         sum(n.nt) OVER (ORDER BY n.doc_id) AS cum_tokens,
        |         sum(coalesce(v.nv, 0)) OVER (ORDER BY n.doc_id) AS cum_vocab
        |  FROM ntok n LEFT JOIN newv v ON n.doc_id = v.doc_id),
        |pts AS (
        |  SELECT CAST(round(ln(CAST(cum_tokens AS DOUBLE)), 10)
        |              AS DECIMAL(18,10)) AS x,
        |         CAST(round(ln(CAST(cum_vocab AS DOUBLE)), 10)
        |              AS DECIMAL(18,10)) AS y
        |  FROM cum WHERE doc_id % 10 = 9),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |              CAST(sum(x) AS DOUBLE) AS sx,
        |              CAST(sum(y) AS DOUBLE) AS sy,
        |              CAST(sum(x*y) AS DOUBLE) AS sxy,
        |              CAST(sum(x*x) AS DOUBLE) AS sxx
        |       FROM pts)
        |SELECT CAST(n AS BIGINT) AS n_points,
        |       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
        |         AS heaps_beta,
        |       round(exp((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
        |                        * sx) / n), 6) AS heaps_k
        |FROM st""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val tok = t(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("w"),
          explode(sequence(lit(1), greatest(size(col("w")) - 2, lit(1))))
            .as("i"))
        .select(col("doc_id"),
          array_join(slice(col("w"), col("i"), lit(3)), " ").as("g"))
        .localCheckpoint(true) // token counts AND first-seen read it
      val ntok = tok.groupBy("doc_id").agg(count(lit(1)).as("nt"))
      val newv = tok.groupBy("g").agg(min("doc_id").as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("nv"))
      // q113 decomposition for the two prefix sums: per-bucket cumsums +
      // a bucket-frame offsets window (one row per doc_id/500 bucket)
      val per = ntok.join(newv, Seq("doc_id"), "left")
        .select(col("doc_id"), col("nt"),
          coalesce(col("nv"), lit(0L)).as("nv"),
          floor(col("doc_id") / 500).as("__b"))
      val wIn = Window.partitionBy("__b").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wOff = Window.orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = per.groupBy("__b")
        .agg(sum("nt").as("bt"), sum("nv").as("bv"))
        .withColumn("__offT", coalesce(sum("bt").over(wOff), lit(0L)))
        .withColumn("__offV", coalesce(sum("bv").over(wOff), lit(0L)))
        .select(col("__b").as("__b_o"), col("__offT"), col("__offV"))
      val cum = per
        .withColumn("ct", sum("nt").over(wIn))
        .withColumn("cv", sum("nv").over(wIn))
        .join(broadcast(offsets), col("__b") === col("__b_o"))
        .select(col("doc_id"),
          (col("__offT") + col("ct")).as("cum_tokens"),
          (col("__offV") + col("cv")).as("cum_vocab"))
      // 10dp points sum EXACTLY as DECIMAL(18,10) (products exact at
      // (37,20)) — double sums are order-dependent, and the sf1 sweep
      // caught the two engines' accumulation orders rounding heaps_k
      // apart at the 6th decimal (round-11 finding).
      val dec10 = org.apache.spark.sql.types.DecimalType(18, 10)
      val pts = cum.filter(col("doc_id") % 10 === 9)
        .select(round(log(col("cum_tokens").cast("double")), 10)
          .cast(dec10).as("x"),
          round(log(col("cum_vocab").cast("double")), 10)
            .cast(dec10).as("y"))
      val st = pts.agg(count(lit(1)).cast("double").as("n"),
        sum("x").cast("double").as("sx"), sum("y").cast("double").as("sy"),
        sum(col("x") * col("y")).cast("double").as("sxy"),
        sum(col("x") * col("x")).cast("double").as("sxx"))
      val beta = (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))
      st.select(col("n").cast("long").as("n_points"),
        round(beta, 6).as("heaps_beta"),
        round(exp((col("sy") - beta * col("sx")) / col("n")), 6).as("heaps_k"))
    },

    // Rank-biased overlap (Webber et al. 2010, truncated RBO@20, p=0.9)
    // between q163's two retrieval views — the sparse Jaccard ranking and
    // the dense cosine ranking — per query doc: the top-weighted
    // list-agreement score that tells a hybrid-search owner whether the
    // two retrievers even agree before fusing them (RRF fuses; RBO
    // audits). Agreement at depth d reduces to counting items whose
    // max(rs, rd) ≤ d, so the whole statistic runs on the ≤20-items-per-
    // query intersection frame against a 20-row depth grid; the geometric
    // weights (1−p)·p^(d−1)/d are precomputed in Scala and shipped to
    // BOTH engines as integer 1e-12-unit literals (the q296 discount
    // discipline), making the weighted sum an exact BIGINT dot product.
    QueryDef.sql(
      "q313_rbo",
      s"""WITH dw AS (SELECT doc_id, unnest(list_distinct(list_filter(
        |                     string_split(lower(text), ' '), w -> w <> '')))
        |                     AS word
        |            FROM documents),
        |qw AS (SELECT doc_id AS qid, word FROM dw WHERE doc_id IN (0, 1, 2)),
        |dn AS (SELECT doc_id, count(*) AS nd FROM dw GROUP BY doc_id),
        |qn AS (SELECT qid, count(*) AS nq FROM qw GROUP BY qid),
        |inter AS (SELECT q.qid, d.doc_id, count(*) AS ni
        |          FROM qw q JOIN dw d USING (word)
        |          WHERE d.doc_id <> q.qid GROUP BY q.qid, d.doc_id),
        |sr AS (SELECT qid, doc_id,
        |              CAST(ni AS DOUBLE) / (nq + nd - ni) AS jacc
        |       FROM inter JOIN qn USING (qid) JOIN dn USING (doc_id)),
        |srk AS (SELECT qid, doc_id AS id, row_number() OVER (
        |                 PARTITION BY qid ORDER BY jacc DESC, doc_id) AS rs
        |        FROM sr),
        |dns AS (SELECT q.vec_id AS qid, e.vec_id AS id,
        |               CAST(list_cosine_similarity(q.embedding, e.embedding)
        |                 AS DOUBLE) AS c
        |        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        |        WHERE q.vec_id IN (0, 1, 2)),
        |drk AS (SELECT qid, id, row_number() OVER (PARTITION BY qid
        |                 ORDER BY c DESC, id) AS rd
        |        FROM dns),
        |bo AS (SELECT s.qid, greatest(s.rs, d.rd) AS m
        |         FROM (SELECT * FROM srk WHERE rs <= 20) s
        |         JOIN (SELECT * FROM drk WHERE rd <= 20) d
        |           ON s.qid = d.qid AND s.id = d.id),
        |qg AS (SELECT q.qid, w.d, w.w12
        |       FROM (VALUES (0), (1), (2)) q(qid) CROSS JOIN ${RboExprs.wt}),
        |cd AS (SELECT g.qid, g.d, g.w12, CAST(count(b.m) AS BIGINT) AS c
        |       FROM qg g LEFT JOIN bo b ON b.qid = g.qid AND b.m <= g.d
        |       GROUP BY 1, 2, 3),
        |res AS (SELECT qid, CAST(sum(c * w12) AS BIGINT) AS r12
        |        FROM cd GROUP BY 1),
        |ov AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_common
        |       FROM bo GROUP BY 1)
        |SELECT CAST(res.qid AS BIGINT) AS qid,
        |       coalesce(ov.n_common, 0) AS n_common,
        |       round(CAST(res.r12 AS DOUBLE) / 1e12, 6) AS rbo20
        |FROM res LEFT JOIN ov ON res.qid = ov.qid
        |ORDER BY qid""".stripMargin) { (s, d) =>
      val dw = distinctWords(t(s, d, "documents")).drop("source")
      val qw = dw.filter(col("doc_id").isin(0L, 1L, 2L))
        .withColumnRenamed("doc_id", "qid")
      val dn = dw.groupBy("doc_id").agg(count(lit(1)).as("nd"))
      val qn = qw.groupBy("qid").agg(count(lit(1)).as("nq"))
      val inter = broadcast(qw).join(dw, "word")
        .filter(col("doc_id") =!= col("qid"))
        .groupBy("qid", "doc_id").agg(count(lit(1)).as("ni"))
      val sr = inter.join(broadcast(qn), "qid").join(dn, "doc_id")
        .select(col("qid"), col("doc_id"),
          (col("ni").cast("double") / (col("nq") + col("nd") - col("ni")))
            .as("jacc"))
      val srk = sr.withColumn("rs", row_number().over(
          Window.partitionBy("qid").orderBy(col("jacc").desc, col("doc_id"))))
        .filter(col("rs") <= 20)
        .select(col("qid"), col("doc_id").as("id"), col("rs"))
      val drk = SimilarityQueries
        .bruteTopK(t(s, d, "embeddings"), Seq(0L, 1L, 2L), 20)
        .select(col("qid"), col("vec_id").as("id"), col("rank").as("rd"))
      val both = srk.join(drk, Seq("qid", "id"))
        .select(col("qid"), greatest(col("rs"), col("rd")).as("m"))
        .localCheckpoint(true) // ≤20 rows/query; depth grid + overlap
      val qg = s.range(0, 3).select(col("id").as("qid"))
        .crossJoin(broadcast(s.createDataFrame(RboExprs.weights)
          .toDF("d", "w12")))
      val cd = qg.join(broadcast(both.withColumnRenamed("qid", "bqid")),
          col("bqid") === col("qid") && col("m") <= col("d"), "left")
        .groupBy("qid", "d", "w12").agg(count(col("m")).as("c"))
      val res = cd.groupBy("qid").agg(sum(col("c") * col("w12")).as("r12"))
      val ov = both.groupBy("qid").agg(count(lit(1)).as("n_common"))
      res.join(ov, Seq("qid"), "left")
        .select(col("qid").cast("long").as("qid"),
          coalesce(col("n_common"), lit(0L)).as("n_common"),
          round(col("r12").cast("double") / 1e12, 6).as("rbo20"))
        .orderBy("qid")
    }
  )

  /** q313's truncated-RBO weights (1−p)·p^(d−1)/d at p=0.9, d=1..20,
    * floored once in Scala to integer 1e-12 units and shipped to BOTH
    * engines (the q296 discount-literal discipline) so the weighted
    * agreement sum is an exact integer dot product in each. */
  private object RboExprs {
    private val p = 0.9
    val weights: Seq[(Int, Long)] = (1 to 20).map { dd =>
      (dd, math.floor((1 - p) * math.pow(p, dd - 1) / dd * 1e12).toLong)
    }
    /** DuckDB VALUES rendering of the weight table. */
    val wt: String = "(VALUES " +
      weights.map { case (dd, w) => s"($dd, ${w}::BIGINT)" }
        .mkString(", ") + ") w(d, w12)"
  }
}
