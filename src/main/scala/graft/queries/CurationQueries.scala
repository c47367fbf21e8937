package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.RangeJoin

/** Data-curation operators a large-scale training pipeline needs beyond the
  * reference's own surface (SURVEY.md §7.4): interval joins, PII redaction,
  * benchmark-contamination screening, boilerplate detection, and
  * source-mixture sampling. All deterministic and oracle-checked.
  */
object CurationQueries {

  /** Email/phone patterns restricted to syntax Java regex and RE2 (DuckDB)
    * interpret identically: character classes, +, bounded repeats. */
  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"

  /** The production bloom contamination screen: the benchmark gram set is
    * compressed into a driver-held bloom filter (Spark's own
    * BloomFilterAggregate shipped as a literal) and the membership probe is
    * a pure narrow scan — no gram-level join at all. One-sided error (false
    * positives only), so the screen errs toward flagging — the safe
    * direction for decontamination. Approximate, so it is not a gate row
    * itself: its honesty (no false negatives, bounded FP rate) is proven by
    * the flag-bearing audit q89 and by BloomScreenSpec; its plan shape
    * (might_contain as a predicate, zero gram joins) is PlanSpec-pinned. */
  /** (doc_id, source, g): the distinct trigram-shingle set per document —
    * the shared tokenize for the q71/q89/bloomScreen contamination family.
    * The token array gets its OWN projection before the gram transform:
    * with the split() inline, codegen re-evaluates it for every
    * element_at reference — 3·(n−2) splits per doc, measured 10×+ slower
    * (the q176 finding: 5.0 s → 0.4 s on the same shape). */
  private def gramSets(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = col("w")
    val grams3 = when(size(w) >= 3,
      array_distinct(transform(sequence(lit(1), size(w) - 2),
        i => concat_ws(" ", element_at(w, i), element_at(w, i + 1),
          element_at(w, i + 2))))).otherwise(array().cast("array<string>"))
    docs.select(col("doc_id"), col("source"),
        split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("source"), grams3.as("g"))
  }

  def bloomScreen(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val docs = t(s, d, "documents")
    val sh = gramSets(docs)
    val bloom = sh.filter(col("doc_id") % 100 === 0)
      .select(explode(col("g")).as("gram")).distinct()
      .agg(org.apache.spark.sql.graftx.BloomFilterFunctions
        .bloomAgg(col("gram"), expectedItems = 200000L, numBits = 2000000L)
        .as("bf"))
      .head().getAs[Array[Byte]](0)
    val flagged = sh.filter(col("doc_id") % 100 =!= 0)
      .select(col("doc_id"), explode(col("g")).as("gram"))
      .filter(org.apache.spark.sql.graftx.BloomFilterFunctions
        .mightContain(bloom, col("gram")))
      .select("doc_id").distinct()
    docs.filter(col("doc_id") % 100 =!= 0)
      .join(flagged.withColumn("hit", lit(1)), Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(col("hit")).as("n_flagged"),
        round(count(col("hit")).cast("double") / count(lit(1)), 6).as("rate"))
      .orderBy("source")
  }

  val defs: Seq[QueryDef] = Seq(

    // Interval (range) join: events inside the 10-minute window opened by
    // each error event — a pure non-equi join, planned as a bucketed
    // equi-join (RangeJoin) instead of the O(n·m) nested loop Catalyst
    // would pick for the raw predicate. LEFT-completed so empty windows
    // surface as 0.
    QueryDef.sql(
      "q69_range_join",
      """WITH i AS (SELECT event_id, ts FROM events WHERE event_type = 'error'),
        |     c AS (SELECT i.event_id AS incident_id, count(*) AS n
        |           FROM i JOIN events e
        |             ON e.ts > i.ts AND e.ts <= i.ts + INTERVAL 10 MINUTE
        |           GROUP BY 1)
        |SELECT i.event_id AS incident_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_in_window
        |FROM i LEFT JOIN c ON c.incident_id = i.event_id
        |ORDER BY incident_id""".stripMargin) { (s, d) =>
      val winUs = 600L * 1000 * 1000 // 10 minutes in epoch micros
      val ev = t(s, d, "events")
      val incidents = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("incident_id"),
          unix_micros(col("ts")).as("lo_us"),
          (unix_micros(col("ts")) + winUs).as("hi_us"))
      val points = ev.select(col("event_id"), unix_micros(col("ts")).as("p_us"))
      val counts = RangeJoin.pointInInterval(
          incidents, "lo_us", "hi_us", points, "p_us", bucketWidth = winUs)
        .groupBy("incident_id")
        .agg(count(lit(1)).as("n"))
      incidents.select("incident_id")
        .join(counts, Seq("incident_id"), "left")
        .select(col("incident_id"),
          coalesce(col("n"), lit(0L)).as("n_in_window"))
        .orderBy("incident_id")
    },

    // The same interval join written NAIVELY — a raw non-equi predicate —
    // and planned by the injected optimizer rule (graftx.RangeJoinRewrite)
    // instead of the hand-built RangeJoin: the engine's automatic-planning
    // path, oracle-checked against the identical SQL as q69. The width
    // conf is set AFTER the Tables.load above it (every load resets it to
    // 0 via Graft.confs), so it is live exactly for this query's plan.
    QueryDef.sql(
      "q99_auto_range_join",
      """WITH i AS (SELECT event_id, ts FROM events WHERE event_type = 'error'),
        |     c AS (SELECT i.event_id AS incident_id, count(*) AS n
        |           FROM i JOIN events e
        |             ON e.ts > i.ts AND e.ts <= i.ts + INTERVAL 10 MINUTE
        |           GROUP BY 1)
        |SELECT i.event_id AS incident_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_in_window
        |FROM i LEFT JOIN c ON c.incident_id = i.event_id
        |ORDER BY incident_id""".stripMargin) { (s, d) =>
      val winUs = 600L * 1000 * 1000
      val ev = t(s, d, "events")
      s.conf.set(org.apache.spark.sql.graftx.RangeJoinRewrite.WidthConf,
        winUs.toString)
      val incidents = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("incident_id"),
          unix_micros(col("ts")).as("lo_us"),
          (unix_micros(col("ts")) + winUs).as("hi_us"))
      val points = ev.select(col("event_id"), unix_micros(col("ts")).as("p_us"))
      val counts = points.join(incidents,
          col("p_us") > col("lo_us") && col("p_us") <= col("hi_us"))
        .groupBy("incident_id")
        .agg(count(lit(1)).as("n"))
      incidents.select("incident_id")
        .join(counts, Seq("incident_id"), "left")
        .select(col("incident_id"),
          coalesce(col("n"), lit(0L)).as("n_in_window"))
        .orderBy("incident_id")
    },

    // PII redaction: scrub emails/phones before a corpus ships to training.
    // The synthetic corpus carries no PII, so a deterministic contact line
    // is appended per doc and then redacted — verifying detection AND
    // replacement against the oracle byte-for-byte. One narrow pass, no
    // shuffle until the final sort.
    QueryDef.sql(
      "q70_pii_redact",
      s"""WITH aug AS (
         |  SELECT doc_id,
         |         text || ' contact user' || doc_id ||
         |         '@example.org or +1-555-' ||
         |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
         |  FROM documents)
         |SELECT doc_id,
         |       CAST(len(regexp_extract_all(t, '$EmailRe')) AS BIGINT) AS n_emails,
         |       CAST(len(regexp_extract_all(t, '$PhoneRe')) AS BIGINT) AS n_phones,
         |       regexp_replace(regexp_replace(t, '$EmailRe', '[EMAIL]', 'g'),
         |                      '$PhoneRe', '[PHONE]', 'g') AS redacted
         |FROM aug
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val aug = concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.org or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      t(s, d, "documents")
        .select(col("doc_id"), aug.as("t"))
        .select(col("doc_id"),
          regexp_count(col("t"), lit(EmailRe)).cast("long").as("n_emails"),
          regexp_count(col("t"), lit(PhoneRe)).cast("long").as("n_phones"),
          regexp_replace(regexp_replace(col("t"), lit(EmailRe), lit("[EMAIL]")),
            lit(PhoneRe), lit("[PHONE]")).as("redacted"))
        .orderBy("doc_id")
    },

    // Benchmark-contamination screen: docs sharing a word 3-gram with the
    // held-out set (doc_id % 100 = 0) are flagged; rate per source. Scale
    // shape: the BENCHMARK shingle set is the small side — broadcast
    // semi-join against it, so the corpus is never shuffled, only scanned.
    QueryDef.sql(
      "q71_contamination",
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w
        |              FROM documents),
        |     sh AS (SELECT doc_id, source,
        |                   list_distinct(list_transform(
        |                     generate_series(1, len(w) - 2),
        |                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
        |            FROM toks),
        |     bench AS (SELECT DISTINCT unnest(g) AS gram FROM sh
        |               WHERE doc_id % 100 = 0),
        |     cand AS (SELECT doc_id, source, unnest(g) AS gram FROM sh
        |              WHERE doc_id % 100 <> 0),
        |     hit AS (SELECT DISTINCT c.doc_id FROM cand c
        |             JOIN bench b ON c.gram = b.gram)
        |SELECT d.source,
        |       count(*) AS n_docs,
        |       count(h.doc_id) AS n_contaminated,
        |       round(count(h.doc_id)::DOUBLE / count(*), 6) AS rate
        |FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id
        |WHERE d.doc_id % 100 <> 0
        |GROUP BY d.source
        |ORDER BY d.source""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val sh = gramSets(docs)
      val bench = sh.filter(col("doc_id") % 100 === 0)
        .select(explode(col("g")).as("gram")).distinct()
      val hits = sh.filter(col("doc_id") % 100 =!= 0)
        .select(col("doc_id"), explode(col("g")).as("gram"))
        .join(broadcast(bench), Seq("gram"), "left_semi")
        .select("doc_id").distinct()
      docs.filter(col("doc_id") % 100 =!= 0)
        .join(hits.withColumn("hit", lit(1)), Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(col("hit")).as("n_contaminated"),
          round(count(col("hit")).cast("double") / count(lit(1)), 6).as("rate"))
        .orderBy("source")
    },

    // Bloom-filter contamination screen, gate-checked in its flag-bearing
    // audit form (the q10/q58/q75 bound-oracle pattern): q71's exact
    // semi-join screen and the bloom screen run over ONE checkpointed
    // tokenize pass and the query emits the exact per-source contamination
    // counts — DuckDB recomputes those — plus two audit flags the oracle
    // pins TRUE: no_fn_ok (the bloom missed zero truly-contaminated docs —
    // the one-sided-error contract that makes the screen safe for
    // decontamination) and fp_ok (bloom over-flagging stays under 35 % of
    // clean docs; per-doc FP compounds over ~30 gram probes at ~1 %/probe,
    // and a broken or mis-sized filter flags ~100 %). The PRODUCTION shape
    // — the pure narrow-scan might_contain probe with no gram join, the
    // form that survives a benchmark set too large to broadcast (10⁸ grams
    // ≈ a ~120 MB bloom at 10 bits/item vs a multi-GB broadcast set) — is
    // `CurationQueries.bloomScreen`, PlanSpec-pinned and exercised by
    // BloomScreenSpec; this gate row is the audit that proves that shape
    // honest end-to-end.
    QueryDef.sql(
      "q89_bloom_contamination",
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w
        |              FROM documents),
        |     sh AS (SELECT doc_id, source,
        |                   list_distinct(list_transform(
        |                     generate_series(1, len(w) - 2),
        |                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
        |            FROM toks),
        |     bench AS (SELECT DISTINCT unnest(g) AS gram FROM sh
        |               WHERE doc_id % 100 = 0),
        |     cand AS (SELECT doc_id, source, unnest(g) AS gram FROM sh
        |              WHERE doc_id % 100 <> 0),
        |     hit AS (SELECT DISTINCT c.doc_id FROM cand c
        |             JOIN bench b ON c.gram = b.gram)
        |SELECT d.source,
        |       count(*) AS n_docs,
        |       count(h.doc_id) AS n_contaminated,
        |       round(count(h.doc_id)::DOUBLE / count(*), 6) AS rate,
        |       TRUE AS no_fn_ok,
        |       TRUE AS fp_ok
        |FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id
        |WHERE d.doc_id % 100 <> 0
        |GROUP BY d.source
        |ORDER BY d.source""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      // one tokenize pass: the (doc, gram-set) frame feeds the benchmark
      // set, the bloom build, and both candidate screens
      val sh = gramSets(docs).localCheckpoint(true)
      val bench = sh.filter(col("doc_id") % 100 === 0)
        .select(explode(col("g")).as("gram")).distinct()
        .localCheckpoint(true)
      val bloom = bench
        .agg(org.apache.spark.sql.graftx.BloomFilterFunctions
          .bloomAgg(col("gram"), expectedItems = 200000L, numBits = 2000000L)
          .as("bf"))
        .head().getAs[Array[Byte]](0)
      // BOTH screens in one pass over the exploded gram frame: the exact
      // hit is a broadcast mark-join (not a semi — the row must survive to
      // carry its bloom probe too) and the bloom probe is a filter-free
      // column; one groupBy(doc_id) then reduces each doc to its two
      // flags. This replaces the previous two distinct+join passes (two
      // shuffles of the widest frame in the query) with a single shuffle,
      // and the gram frame no longer needs checkpointing — it has exactly
      // one consumer now.
      val perDoc = sh.filter(col("doc_id") % 100 =!= 0)
        .select(col("doc_id"), explode(col("g")).as("gram"))
        .join(broadcast(bench.withColumn("bm", lit(1))), Seq("gram"), "left")
        .select(col("doc_id"), col("bm"),
          org.apache.spark.sql.graftx.BloomFilterFunctions
            .mightContain(bloom, col("gram")).cast("int").as("fl0"))
        .groupBy("doc_id")
        .agg(max(col("bm")).as("ex"), max(col("fl0")).as("fl"))
      sh.filter(col("doc_id") % 100 =!= 0).select("doc_id", "source")
        .join(perDoc, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(col("ex")).as("n_contaminated"),
          round(count(col("ex")).cast("double") / count(lit(1)), 6).as("rate"),
          (count(when(col("ex") === 1 && col("fl") =!= 1, 1)) === 0)
            .as("no_fn_ok"),
          (count(when(col("ex").isNull && col("fl") === 1, 1))
            <= greatest(count(when(col("ex").isNull, 1)), lit(1L)) * 0.35)
            .as("fp_ok"))
        .orderBy("source")
    },

    // URL canonicalization + dedup — the FIRST dedup pass of every web
    // corpus pipeline (C4, RefinedWeb, Dolma all dedup by canonical URL
    // before touching content): lowercase, strip scheme and leading www.,
    // drop tracking parameters (utm_*/fbclid/gclid) while KEEPING
    // meaningful ones, trim dangling ?/& and the trailing slash — then one
    // hash groupBy on the canonical form, min-id survivor. The synthetic
    // corpus has no URL column, so URLs are INJECTED deterministically
    // from (source, doc_id) with mixed case, tracking params, and
    // trailing-slash variants (the q128 planted-signal discipline: both
    // engines recompute the injection, so the canonicalizer is what's
    // actually under test — a missed rule splits a group and shifts the
    // counts). Pure string ops + one groupBy: at 100 TB this is a narrow
    // scan and a 16-byte-key aggregate, the cheapest dedup there is.
    QueryDef.sql(
      "q152_url_dedup",
      """WITH u AS (
        |  SELECT doc_id, source,
        |         'HTTPS://WWW.' || source || '.Example.COM/Docs/' ||
        |         CAST(doc_id % 37 AS VARCHAR) ||
        |         CASE WHEN doc_id % 3 = 0
        |              THEN '?utm_source=feed&page=' || CAST(doc_id % 7 AS VARCHAR)
        |              ELSE '' END ||
        |         CASE WHEN doc_id % 3 <> 0 AND doc_id % 5 = 0
        |              THEN '/' ELSE '' END AS raw
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source,
        |         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |           regexp_replace(lower(raw),
        |             '^https?://', '', 'g'),
        |             '^www\.', '', 'g'),
        |             '(utm_[a-z]+|fbclid|gclid)=[^&]*&?', '', 'g'),
        |             '[?&]+$', '', 'g'),
        |             '/$', '', 'g') AS cu
        |  FROM u),
        |g AS (SELECT source, cu, count(*) AS n, min(doc_id) AS keep
        |      FROM c GROUP BY source, cu)
        |SELECT source,
        |       CAST(sum(n) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_urls,
        |       CAST(sum(n - 1) AS BIGINT) AS n_dup_docs,
        |       round(sum(n - 1)::DOUBLE / sum(n), 6) AS dup_rate
        |FROM g GROUP BY source
        |ORDER BY source""".stripMargin) { (s, d) =>
      val raw = concat(
        lit("HTTPS://WWW."), col("source"), lit(".Example.COM/Docs/"),
        (col("doc_id") % 37).cast("string"),
        when(col("doc_id") % 3 === 0,
          concat(lit("?utm_source=feed&page="), (col("doc_id") % 7).cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 3 =!= 0 && col("doc_id") % 5 === 0, lit("/"))
          .otherwise(lit("")))
      // same five rules, same order (scheme -> www -> tracking params ->
      // dangling separators -> trailing slash); Spark regexp_replace is
      // global by default, matching the oracle's 'g'
      val cu = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(lower(raw),
          "^https?://", ""),
          "^www\\.", ""),
          "(utm_[a-z]+|fbclid|gclid)=[^&]*&?", ""),
          "[?&]+$", ""),
          "/$", "")
      t(s, d, "documents")
        .select(col("doc_id"), col("source"), cu.as("cu"))
        .groupBy("source", "cu")
        .agg(count(lit(1)).as("n"), min("doc_id").as("keep"))
        .groupBy("source")
        .agg(sum("n").as("n_docs"),
          count(lit(1)).as("n_urls"),
          sum(col("n") - 1).as("n_dup_docs"),
          round((sum(col("n") - 1)).cast("double") / sum("n"), 6).as("dup_rate"))
        .orderBy("source")
    },

    // Boilerplate / repetition scoring: share of repeated word bigrams per
    // doc — the intra-document cousin of corpus dedup (crawled boilerplate
    // repeats navigation text). Pure per-row array math, zero shuffle
    // before the final sort.
    QueryDef.sql(
      "q72_boilerplate",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |     bg AS (SELECT doc_id,
        |                   list_transform(generate_series(1, len(w) - 1),
        |                                  i -> w[i] || ' ' || w[i+1]) AS g
        |            FROM toks)
        |SELECT doc_id,
        |       CAST(len(g) AS BIGINT) AS n_bigrams,
        |       CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
        |       round(1.0 - len(list_distinct(g))::DOUBLE / len(g), 6) AS rep_ratio
        |FROM bg
        |WHERE len(g) > 0
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // token array projected first — see gramSets on the split-inlining
      val w = col("w")
      val bigrams = transform(sequence(lit(1), size(w) - 1),
        i => concat_ws(" ", element_at(w, i), element_at(w, i + 1)))
      t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(w) >= 2)
        .select(col("doc_id"), bigrams.as("g"))
        .select(col("doc_id"),
          size(col("g")).cast("long").as("n_bigrams"),
          size(array_distinct(col("g"))).cast("long").as("n_distinct"),
          round(lit(1.0) - size(array_distinct(col("g"))).cast("double")
            / size(col("g")), 6).as("rep_ratio"))
        .orderBy("doc_id")
    },

    // Batch-parity check for the STREAMING interval join: the exact same
    // operator (StreamingAnalytics.purchaseViewJoin — watermarks are
    // no-ops in batch) against a plain SQL formulation. The MemoryStream
    // spec pins the streaming semantics; this pins the join's relational
    // correctness under the oracle.
    QueryDef.sql(
      "q74_stream_join_parity",
      """SELECT p.event_id AS purchase_id, v.event_id AS view_id,
        |       p.user_id
        |FROM events p JOIN events v
        |  ON p.event_type = 'purchase' AND v.event_type = 'view'
        | AND p.user_id = v.user_id
        | AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
        |ORDER BY purchase_id, view_id""".stripMargin) { (s, d) =>
      graft.streaming.StreamingAnalytics.purchaseViewJoin(t(s, d, "events"))
        .select(col("purchase_id"), col("view_id"), col("user_id"))
        .orderBy("purchase_id", "view_id")
    },

    // The LEFT OUTER form of the same streaming operator: purchases with
    // no preceding same-user view survive with NULL view columns — the
    // unattributed-conversion rows q74's inner join drops. Null ordering
    // is pinned explicitly (Spark defaults nulls-first, DuckDB nulls-last).
    QueryDef.sql(
      "q125_stream_outer_parity",
      """SELECT p.event_id AS purchase_id, v.event_id AS view_id,
        |       p.user_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id
        | AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
        |ORDER BY purchase_id, view_id NULLS LAST""".stripMargin) { (s, d) =>
      graft.streaming.StreamingAnalytics.purchaseViewOuterJoin(t(s, d, "events"))
        .select(col("purchase_id"), col("view_id"), col("user_id"))
        .orderBy(col("purchase_id"), col("view_id").asc_nulls_last)
    },

    // Batch parity for the streaming WINDOWED AGGREGATION — the third
    // streaming operator gated under the oracle (q74/q125 pin the interval
    // joins): StreamingAnalytics.windowedCounts, watermark a no-op in
    // batch, against a plain date_trunc GROUP BY. The tumbling-window
    // assignment (Spark's window() vs DuckDB's date_trunc on the hour
    // grid) must land every event in the same bucket; value sums round
    // at 6 dp over identical per-bucket membership (the house float
    // discipline for non-money doubles). StreamingAnalyticsSpec pins the
    // streaming semantics (late-data drop, watermark advance) that batch
    // cannot express.
    QueryDef.sql(
      "q185_stream_window_parity",
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |       count(*) AS n,
        |       round(sum(value), 6) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin) { (s, d) =>
      graft.streaming.StreamingAnalytics.windowedCounts(t(s, d, "events"))
        .select(col("window_start"), col("event_type"), col("n"),
          round(col("sum_value"), 6).as("sum_value"))
        .orderBy("window_start", "event_type")
    },

    // Batch parity for the streaming DEDUP operator — the fourth streaming
    // op gated under the oracle (q74/q125 interval joins, q185 windowed
    // agg): StreamingAnalytics.dedupWithinWatermark, whose batch semantics
    // collapse to exact dropDuplicates (the watermark horizon only bounds
    // STATE in streaming; it never changes which rows survive, provided
    // re-deliveries arrive within the horizon). The events table is
    // duplicate-free by construction, so re-deliveries are injected first —
    // every third event re-appears — and the survivor counts must equal a
    // plain DISTINCT ON (event_id). StreamingAnalyticsSpec pins the
    // streaming-only semantics (state eviction past the watermark).
    QueryDef.sql(
      "q195_stream_dedup_parity",
      """WITH dup AS (SELECT * FROM events
        |             UNION ALL
        |             SELECT * FROM events WHERE event_id % 3 = 0),
        |     ded AS (SELECT DISTINCT ON (event_id) * FROM dup)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       round(sum(value), 6) AS sum_value
        |FROM ded GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val ev = t(s, d, "events")
      val dup = ev.unionByName(ev.filter(col("event_id") % 3 === 0))
      graft.streaming.StreamingAnalytics
        .dedupWithinWatermark(dup, Seq("event_id"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("sum_value"))
        .orderBy("event_type")
    },

    // Value-based RANGE window frame: each order aggregated with every
    // order of the same customer within ±30 DAYS of it — the frame is
    // defined by the ORDER-BY VALUE, not row offsets (q15 covers ROWS
    // frames; sliding time windows need RANGE). Exact integer counts +
    // decimal-cast money keep the oracle hash-stable.
    QueryDef.sql(
      "q82_range_frame",
      """SELECT o_custkey, o_orderkey,
        |       count(*) OVER w AS n_nearby,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) OVER w AS DOUBLE)
        |         AS sum_nearby
        |FROM orders
        |WHERE o_custkey <= 300
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
        |             RANGE BETWEEN INTERVAL 30 DAYS PRECEDING
        |                       AND INTERVAL 30 DAYS FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      // NTZ → epoch seconds via TIMESTAMP (session is pinned UTC, so the
      // rebase is identity); ANSI forbids a direct NTZ→BIGINT cast
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey")
        .orderBy(unix_seconds(col("o_orderdate").cast("timestamp")))
        .rangeBetween(-30L * 86400, 30L * 86400)
      t(s, d, "orders")
        .filter(col("o_custkey") <= 300)
        .select(col("o_custkey"), col("o_orderkey"),
          count(lit(1)).over(w).as("n_nearby"),
          sum(col("o_totalprice")
            .cast(org.apache.spark.sql.types.DecimalType(28, 4))).over(w)
            .cast("double").as("sum_nearby"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // Edit-distance fuzzy matching: spelling-variant detection over the
    // token vocabulary (the curation step that catches OCR/typo variants
    // exact dedup misses). The clean synthetic vocabulary has no natural
    // variants, so each 4+-char token contributes a deterministic
    // one-edit mutant ('x' + tail) — the same injection technique as
    // q70's PII. Candidate generation is a deletion-neighborhood
    // EQUI-join: every token emits itself plus its |tok| one-deletion
    // variants as join keys, and any pair at Levenshtein distance <= 1
    // shares at least one key (substitution: both delete the differing
    // position; insert/delete: the longer's deletion IS the shorter).
    // Candidates are linear in the vocabulary (|tok|+1 keys each), never
    // the O(|V|^2) nested loop a raw non-equi predicate would plan —
    // pinned by PlanSpec. The oracle keeps the naive formulation, which
    // is fine for DuckDB at oracle scale and proves set equality.
    QueryDef.sql(
      "q83_fuzzy_match",
      """WITH base AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
        |              FROM documents),
        |     v AS (SELECT tok FROM base
        |           UNION
        |           SELECT 'x' || substring(tok, 2) FROM base
        |           WHERE length(tok) >= 4)
        |SELECT a.tok AS tok_a, b.tok AS tok_b,
        |       CAST(levenshtein(a.tok, b.tok) AS BIGINT) AS dist
        |FROM v a JOIN v b
        |  ON a.tok < b.tok
        | AND abs(length(a.tok) - length(b.tok)) <= 1
        |WHERE levenshtein(a.tok, b.tok) <= 1
        |ORDER BY tok_a, tok_b""".stripMargin) { (s, d) =>
      val base = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("tok")).distinct()
      val v = base.unionByName(
        base.filter(length(col("tok")) >= 4)
          .select(concat(lit("x"), expr("substring(tok, 2)")).as("tok")))
        .distinct()
      // tok itself + one-deletion variants; dist<=1 pairs share a key
      val tok = col("tok")
      val delNeighborhood = array_union(
        array(tok),
        when(length(tok) >= 1,
          transform(sequence(lit(1), length(tok)),
            i => concat(tok.substr(lit(1), i - 1),
              tok.substr(i + 1, length(tok) - i))))
          .otherwise(array().cast("array<string>")))
      val keyed = v.select(tok, explode(delNeighborhood).as("k"))
      keyed.as("a").join(keyed.as("b"),
          col("a.k") === col("b.k") && col("a.tok") < col("b.tok"))
        .select(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
        .distinct() // a pair can share several keys
        .withColumn("dist", levenshtein(col("tok_a"), col("tok_b")))
        .filter(col("dist") <= 1)
        .select(col("tok_a"), col("tok_b"), col("dist").cast("long").as("dist"))
        .orderBy("tok_a", "tok_b")
    },

    // Jaro-Winkler vocabulary similarity: the standard short-string fuzzy
    // measure (names, typo variants, OCR noise) that q83's Levenshtein
    // misses — transposition-heavy noise scores far closer under JW.
    // Spark has no built-in, so this rides the native codegen expression
    // graftx.JaroWinkler, pinned char-for-char to DuckDB's
    // jaro_winkler_similarity semantics (empty→0, window floor at 0,
    // boost only above the 0.7 threshold — JaroWinklerSpec holds the
    // boundary cases). The pair frame is the distinct-token vocabulary
    // self-joined under broadcast — Zipf-bounded (|V|² on ~31 tokens
    // here; at 100 TB a frequency cap keeps |V| bounded), never the
    // corpus. Ordering uses the ROUNDED score in both engines so the
    // top-20 cut is tie-stable.
    QueryDef.sql(
      "q191_jaro_winkler",
      """WITH w AS (SELECT DISTINCT
        |             unnest(string_split(trim(regexp_replace(regexp_replace(
        |               lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |               ' +', ' ', 'g')), ' ')) AS tok
        |           FROM documents WHERE text IS NOT NULL)
        |SELECT a.tok AS w1, b.tok AS w2,
        |       round(jaro_winkler_similarity(a.tok, b.tok), 6) AS jw
        |FROM w a JOIN w b ON a.tok < b.tok
        |WHERE a.tok <> '' AND b.tok <> ''
        |ORDER BY jw DESC, w1, w2
        |LIMIT 20""".stripMargin) { (s, d) =>
      val vocab = t(s, d, "documents").filter(col("text").isNotNull)
        .select(explode(split(normText(col("text")), " ")).as("tok"))
        .filter(col("tok") =!= "").distinct()
      vocab.select(col("tok").as("w1"))
        .join(broadcast(vocab.select(col("tok").as("w2"))),
          col("w1") < col("w2"))
        .select(col("w1"), col("w2"),
          round(org.apache.spark.sql.graftx.JaroWinklerFn
            .jaroWinkler(col("w1"), col("w2")), 6).as("jw"))
        .orderBy(col("jw").desc, col("w1"), col("w2"))
        .limit(20)
    },

    // Golden-record survivorship: after fuzzy grouping, each entity group
    // elects ONE canonical row by explicit policy (longest text wins, ties
    // to lowest doc_id) and MERGES the rest's metadata (member count,
    // source spread, total chars absorbed) — the step after q90's dedup
    // that master-data pipelines actually ship. One groupBy on the
    // normalized key; the argmax rides max_by-style struct ordering
    // expressed as a window so the policy is explicit and engine-stable.
    QueryDef.sql(
      "q215_golden_record",
      """WITH g AS (
        |  SELECT trim(regexp_replace(regexp_replace(lower(text),
        |           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS k,
        |         doc_id, source, n_chars
        |  FROM (SELECT * FROM documents
        |        UNION ALL
        |        SELECT doc_id + 1099511627776, upper(text) || ' !!', lang,
        |               source, n_chars + 3
        |        FROM documents)),
        |     ranked AS (
        |  SELECT k, doc_id, source, n_chars,
        |         row_number() OVER (PARTITION BY k
        |           ORDER BY n_chars DESC, doc_id) AS rn,
        |         count(*) OVER (PARTITION BY k) AS n_members,
        |         sum(n_chars) OVER (PARTITION BY k) AS sum_chars
        |  FROM g)
        |SELECT CAST(count(*) AS BIGINT) AS n_entities,
        |       CAST(sum(n_members) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN n_members > 1 THEN n_members - 1 ELSE 0 END)
        |            AS BIGINT) AS n_absorbed,
        |       CAST(min(doc_id) AS BIGINT) AS min_survivor,
        |       CAST(sum(sum_chars) AS BIGINT) AS total_chars
        |FROM ranked WHERE rn = 1""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val dup = docs.select("doc_id", "source", "n_chars", "text")
        .unionByName(docs.select((col("doc_id") + 1099511627776L).as("doc_id"),
          col("source"), (col("n_chars") + 3).as("n_chars"),
          concat(upper(col("text")), lit(" !!")).as("text")))
      val g = dup.select(normText(col("text")).as("k"),
        col("doc_id"), col("source"), col("n_chars"))
      val wk = org.apache.spark.sql.expressions.Window.partitionBy("k")
      val ranked = g
        .withColumn("rn", row_number().over(
          wk.orderBy(col("n_chars").desc, col("doc_id"))))
        .withColumn("n_members", count(lit(1)).over(wk))
        .withColumn("sum_chars", sum("n_chars").over(wk))
      ranked.filter(col("rn") === 1)
        .agg(count(lit(1)).as("n_entities"),
          sum("n_members").as("n_rows"),
          sum(when(col("n_members") > 1, col("n_members") - 1).otherwise(0L))
            .as("n_absorbed"),
          min("doc_id").as("min_survivor"),
          sum("sum_chars").as("total_chars"))
    },

    // Training-mixture sampling: per-source rates (the data-mixing knob of
    // every pre-training run), selected by a deterministic md5 split so the
    // sample is reproducible across engines, runs, and cluster sizes — the
    // q55 split technique generalized to per-stratum rates.
    QueryDef.sql(
      "q73_data_mix",
      """WITH rated AS (
        |  SELECT source, doc_id,
        |         CASE source WHEN 'src0' THEN '80' WHEN 'src1' THEN '40'
        |                     ELSE '1a' END AS cut,
        |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h
        |  FROM documents)
        |SELECT source,
        |       count(*) AS n_total,
        |       count(CASE WHEN h < cut THEN 1 END) AS n_sampled,
        |       round(count(CASE WHEN h < cut THEN 1 END)::DOUBLE / count(*), 6)
        |         AS realized_rate
        |FROM rated
        |GROUP BY source
        |ORDER BY source""".stripMargin) { (s, d) =>
      val h = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
      val cut = when(col("source") === "src0", "80")
        .when(col("source") === "src1", "40").otherwise("1a")
      val sampled = when(h < cut, 1)
      t(s, d, "documents")
        .select(col("source"), sampled.as("s"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_total"),
          count(col("s")).as("n_sampled"),
          round(count(col("s")).cast("double") / count(lit(1)), 6)
            .as("realized_rate"))
        .orderBy("source")
    },

    // Repetition signals (the Gopher-style rep-filters): per-document
    // duplicate-token fraction and most-frequent-adjacent-bigram count,
    // flagged with integer-only comparisons so both engines agree exactly.
    // Scale shape: one narrow tokenize pass; the bigram count aggregates
    // per (doc, bigram) with map-side partials — never a corpus-wide
    // vocabulary structure, so it parallelizes by document.
    QueryDef.sql(
      "q92_repetition",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |              FROM documents),
        |     base AS (SELECT doc_id, len(w) AS n_tokens,
        |                     len(list_distinct(w)) AS n_distinct, w
        |              FROM toks),
        |     bg AS (SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg
        |            FROM base, unnest(generate_series(1, len(w) - 1)) AS t(i)
        |            WHERE n_tokens >= 2),
        |     bgc AS (SELECT doc_id, max(c) AS max_bigram
        |             FROM (SELECT doc_id, bg, count(*) AS c
        |                   FROM bg GROUP BY doc_id, bg) g
        |             GROUP BY doc_id)
        |SELECT b.doc_id,
        |       CAST(b.n_tokens AS BIGINT) AS n_tokens,
        |       CAST(b.n_distinct AS BIGINT) AS n_distinct,
        |       CAST(coalesce(c.max_bigram, 0) AS BIGINT) AS max_bigram,
        |       ((b.n_tokens - b.n_distinct) * 2 > b.n_tokens
        |        OR coalesce(c.max_bigram, 0) * 10 > b.n_tokens) AS repetitive
        |FROM base b LEFT JOIN bgc c USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
      val base = docs.select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        size(array_distinct(col("w"))).cast("long").as("n_distinct"),
        col("w"))
      val maxBg = base.filter(col("n_tokens") >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(w) - 1)," +
            " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
          .as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max("c").as("max_bigram"))
      base.join(maxBg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          coalesce(col("max_bigram"), lit(0L)).as("max_bigram"),
          ((col("n_tokens") - col("n_distinct")) * 2 > col("n_tokens") ||
            coalesce(col("max_bigram"), lit(0L)) * 10 > col("n_tokens"))
            .as("repetitive"))
        .orderBy("doc_id")
    },

    // The composed curation pipeline in one plan — normalize → quality
    // gate → dedup survivor → per-source mix sample — reported as a
    // per-source funnel (raw → quality → unique → sampled), all integer
    // counts. This is the end-to-end shape a training-data run executes;
    // every stage reuses a verified primitive (q90's normalization, q62's
    // token gate, q40's min-id survivor, q73's md5-cut sampling), and the
    // whole composite stays one declarative plan: narrow per-doc passes,
    // then two aggregations on (source[, norm]) — no stage materializes.
    // Noisy duplicates are injected (q90's construction) so the dedup
    // stage visibly collapses the corpus.
    QueryDef.sql(
      "q98_curation_pipeline",
      """WITH d2 AS (SELECT doc_id, source, text FROM documents
        |            UNION ALL
        |            SELECT doc_id + 1099511627776, source, upper(text) || ' !!'
        |            FROM documents),
        |     n AS (SELECT doc_id, source,
        |                  trim(regexp_replace(regexp_replace(lower(text),
        |                       '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        |           FROM d2),
        |     qual AS (SELECT * FROM n
        |              WHERE len(string_split(norm, ' ')) >= 20),
        |     surv AS (SELECT source, min(doc_id) AS keep_id
        |              FROM qual GROUP BY source, norm),
        |     samp AS (SELECT source, keep_id,
        |                     CASE WHEN substr(md5(CAST(keep_id AS VARCHAR)), 1, 2)
        |                          < (CASE source WHEN 'src0' THEN '80'
        |                                         WHEN 'src1' THEN '40'
        |                                         ELSE '1a' END)
        |                          THEN 1 END AS s
        |              FROM surv)
        |SELECT r.source, r.n_raw, q.n_quality, u.n_unique, u.n_sampled
        |FROM (SELECT source, count(*) AS n_raw FROM d2 GROUP BY source) r
        |JOIN (SELECT source, count(*) AS n_quality FROM qual GROUP BY source) q
        |  USING (source)
        |JOIN (SELECT source, count(*) AS n_unique, count(s) AS n_sampled
        |      FROM samp GROUP BY source) u USING (source)
        |ORDER BY r.source""".stripMargin) { (s, d) =>
      val d2 = withNoisyCopies(
        t(s, d, "documents").select("doc_id", "source", "text"))
      val n = d2.select(col("doc_id"), col("source"),
        normText(col("text")).as("norm"))
      val qual = n.filter(size(split(col("norm"), " ")) >= 20)
      val surv = qual.groupBy("source", "norm")
        .agg(min("doc_id").as("keep_id"))
      val cut = when(col("source") === "src0", "80")
        .when(col("source") === "src1", "40").otherwise("1a")
      val samp = surv.select(col("source"),
        when(substring(md5(col("keep_id").cast("string").cast("binary")),
          1, 2) < cut, 1).as("s"))
      val raw = d2.groupBy("source").agg(count(lit(1)).as("n_raw"))
      val nQual = qual.groupBy("source").agg(count(lit(1)).as("n_quality"))
      val uniq = samp.groupBy("source")
        .agg(count(lit(1)).as("n_unique"), count(col("s")).as("n_sampled"))
      raw.join(nQual, "source").join(uniq, "source")
        .select("source", "n_raw", "n_quality", "n_unique", "n_sampled")
        .orderBy("source")
    },

    // PII detection + redaction — the curation step every training-data
    // pipeline runs before anything ships: find emails / phone numbers /
    // IPv4 addresses, count them per source, and REDACT them to typed
    // placeholders, with an audit that re-scans the redacted text and
    // proves zero survivors. The synthetic corpus contains no PII, so the
    // query INJECTS deterministic PII inline (doc_id-keyed appends, the
    // withNoisyCopies discipline — identical expression in both engines)
    // and the detector must find exactly what was planted. Regexes stay
    // in the Java∩RE2 common subset (char classes, {n,m}, +) so Spark's
    // java.util.regex and the oracle's RE2 agree. One narrow projection →
    // per-source aggregate; codegen'd regexp_* in the scan stage, no
    // UDFs, no shuffle beyond the 20-group rollup.
    QueryDef.sql(
      "q251_pii_redact",
      """WITH aug AS (
        |  SELECT doc_id, source,
        |         text
        |         || CASE WHEN doc_id % 7 = 0
        |                 THEN ' contact user' || doc_id || '@example.com now'
        |                 ELSE '' END
        |         || CASE WHEN doc_id % 11 = 0
        |                 THEN ' call +1-555-'
        |                      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |                 ELSE '' END
        |         || CASE WHEN doc_id % 13 = 0
        |                 THEN ' from 192.168.' || (doc_id % 256) || '.'
        |                      || ((doc_id * 7) % 256)
        |                 ELSE '' END AS text
        |  FROM documents WHERE text IS NOT NULL),
        |det AS (
        |  SELECT doc_id, source,
        |         len(regexp_extract_all(text,
        |             '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[a-z]{2,}')) AS n_email,
        |         len(regexp_extract_all(text, '\+1-555-[0-9]{4}')) AS n_phone,
        |         len(regexp_extract_all(text,
        |             '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ip,
        |         regexp_replace(regexp_replace(regexp_replace(text,
        |           '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |           '\+1-555-[0-9]{4}', '<PHONE>', 'g'),
        |           '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g')
        |           AS red
        |  FROM aug)
        |SELECT source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_email) AS BIGINT) AS n_emails,
        |       CAST(sum(n_phone) AS BIGINT) AS n_phones,
        |       CAST(sum(n_ip) AS BIGINT) AS n_ips,
        |       CAST(count(CASE WHEN n_email + n_phone + n_ip > 0 THEN 1 END)
        |            AS BIGINT) AS n_pii_docs,
        |       CAST(count(CASE WHEN
        |              len(regexp_extract_all(red,
        |                  '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[a-z]{2,}'))
        |            + len(regexp_extract_all(red, '\+1-555-[0-9]{4}'))
        |            + len(regexp_extract_all(red,
        |                  '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) = 0
        |            THEN 1 END) AS BIGINT) AS n_clean_after
        |FROM det GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val emailRe = """[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[a-z]{2,}"""
      val phoneRe = """\+1-555-[0-9]{4}"""
      val ipRe = """[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"""
      val aug = t(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          concat(col("text"),
            when(col("doc_id") % 7 === 0,
              concat(lit(" contact user"), col("doc_id").cast("string"),
                lit("@example.com now"))).otherwise(""),
            when(col("doc_id") % 11 === 0,
              concat(lit(" call +1-555-"),
                lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
              .otherwise(""),
            when(col("doc_id") % 13 === 0,
              concat(lit(" from 192.168."), (col("doc_id") % 256).cast("string"),
                lit("."), ((col("doc_id") * 7) % 256).cast("string")))
              .otherwise("")).as("text"))
      val det = aug.select(col("source"),
        size(regexp_extract_all(col("text"), lit(emailRe), lit(0))).as("n_email"),
        size(regexp_extract_all(col("text"), lit(phoneRe), lit(0))).as("n_phone"),
        size(regexp_extract_all(col("text"), lit(ipRe), lit(0))).as("n_ip"),
        regexp_replace(regexp_replace(regexp_replace(col("text"),
          emailRe, "<EMAIL>"), phoneRe, "<PHONE>"), ipRe, "<IP>").as("red"))
      det.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_email").as("n_emails"),
          sum("n_phone").as("n_phones"),
          sum("n_ip").as("n_ips"),
          count(when(col("n_email") + col("n_phone") + col("n_ip") > 0, 1))
            .as("n_pii_docs"),
          count(when(
            size(regexp_extract_all(col("red"), lit(emailRe), lit(0)))
              + size(regexp_extract_all(col("red"), lit(phoneRe), lit(0)))
              + size(regexp_extract_all(col("red"), lit(ipRe), lit(0))) === 0,
            1)).as("n_clean_after"))
        .orderBy("source")
    },

    // Greedy maximum-coverage corpus selection (the submodular data-
    // selection primitive behind facility-location / coverage-based
    // subset curation): pick 5 documents that together cover the most
    // distinct word-3-shingles, one greedy round at a time (marginal
    // gain = shingles not yet covered; classic (1−1/e) guarantee). Each
    // round is two ANTI joins on the skinny distinct (doc, shingle)
    // frame + one count aggregate — linear passes, never a doc×doc
    // object. The per-round winner is ONE row collected to the driver
    // (the KMeans-centroid bounded-model-state pattern); ties break to
    // the smallest doc_id in both engines. The oracle unrolls the same
    // 5 rounds as CTEs, so the greedy trace is exact.
    QueryDef.sql(
      "q256_greedy_coverage", {
        // Oracle rounds restructured for real-sf1 feasibility (round-11
        // verdict #1): `sh` is MATERIALIZED once (the previous NOT-IN
        // subquery peels re-inlined the shingle explode per round and
        // spilled >37 GB), each round's covered-shingle set is its own
        // materialized cumulative table (cheap: `sh` filtered by <=4 doc
        // ids), and the NOT IN becomes an ANTI JOIN on the covered set.
        val parts = new scala.collection.mutable.ArrayBuffer[String]
        parts += """p1 AS MATERIALIZED (
                   |  SELECT doc_id, cnt AS gain FROM (
                   |    SELECT doc_id, count(*) AS cnt,
                   |           row_number() OVER (ORDER BY count(*) DESC, doc_id) AS rn
                   |    FROM sh GROUP BY doc_id) WHERE rn = 1)""".stripMargin
        for (j <- 2 to 5) {
          val prevPicked = (1 until j).map(i => s"SELECT doc_id FROM p$i")
            .mkString(" UNION ALL ")
          parts += s"""cov${j - 1} AS MATERIALIZED (
                      |  SELECT DISTINCT h FROM sh
                      |  WHERE doc_id IN ($prevPicked))""".stripMargin
          parts += s"""p$j AS MATERIALIZED (
                      |  SELECT doc_id, cnt AS gain FROM (
                      |    SELECT s.doc_id, count(*) AS cnt,
                      |           row_number() OVER (ORDER BY count(*) DESC, s.doc_id) AS rn
                      |    FROM sh s
                      |    ANTI JOIN cov${j - 1} c ON s.h = c.h
                      |    WHERE s.doc_id NOT IN ($prevPicked)
                      |    GROUP BY s.doc_id) WHERE rn = 1)""".stripMargin
        }
        val sel = (1 to 5).map(i =>
          s"SELECT $i AS round, doc_id, CAST(gain AS BIGINT) AS gain FROM p$i")
          .mkString(" UNION ALL ")
        s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
           |              FROM documents WHERE text IS NOT NULL),
           |sh AS MATERIALIZED (
           |       SELECT DISTINCT doc_id,
           |              md5(array_to_string(list_slice(w, i, i + 2), ' ')) AS h
           |       FROM toks,
           |            unnest(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)),
           |${parts.mkString(",\n")}
           |SELECT * FROM ($sel) ORDER BY round""".stripMargin
      }) { (s, d) =>
      val sh = fanOutIfNarrow(t(s, d, "documents")
        .filter(col("text").isNotNull))
        // fan out before the shingle explode+md5 — CONDITIONALLY
        // (round-16 verdict #2): the one-file fixture scans as ONE
        // partition and everything up to the distinct() is narrow —
        // single-threaded otherwise (round-16); an already-wide corpus
        // keeps its layout. Feeds a distinct, so row order is irrelevant
        // to the result.
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("w"),
          explode(sequence(lit(1), greatest(size(col("w")) - 2, lit(1))))
            .as("i"))
        .select(col("doc_id"),
          md5(array_join(slice(col("w"), col("i"), lit(3)), " ")
            .cast("binary")).as("h"))
        .distinct()
        .localCheckpoint(true) // every greedy round anti-joins it twice
      var picks = Seq.empty[(Int, Long, Long)]
      var j = 1
      var exhausted = false
      // LAZY-GREEDY fusion (round-16 verdict #3: five sequential
      // anti-join + argmax driver jobs were the bench's slowest query).
      // Marginal gains are monotone non-increasing as coverage grows, so
      // a doc's TOTAL shingle count upper-bounds its gain in every round:
      // if the best candidate's gain among the top-K totals beats the
      // (K+1)-th total (the "rest bound"), no excluded doc can win that
      // round — the argmax is provably global, and all five rounds run on
      // the driver over TWO jobs (top-(K+1) totals + the K docs' shingle
      // sets, K × shingles/doc rows — bounded model state, like the BPE
      // merge table). Tie-breaks replicate the oracle exactly: (gain
      // desc, doc_id asc), and a rest doc can only tie at gain ==
      // restBound, where the (K+1)-th row's doc_id (min id at that
      // count) decides. Any unprovable round falls back to the exact
      // per-round distributed jobs below — a wrong K costs time, never
      // correctness.
      val K = 64
      val top = sh.groupBy("doc_id").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("doc_id")).limit(K + 1).collect()
      val (cand0, rest) = top.splitAt(K)
      val restBound = rest.headOption.map(_.getLong(1)).getOrElse(0L)
      val restMinId = rest.headOption.map(_.getLong(0)).getOrElse(Long.MaxValue)
      if (cand0.nonEmpty) {
        val candIds = cand0.map(_.getLong(0))
        val sets: Map[Long, Array[String]] = sh
          .filter(col("doc_id").isin(candIds.toIndexedSeq: _*)).collect()
          .groupBy(_.getLong(0)).map { case (id, rs) =>
            id -> rs.map(_.getString(1))
          }
        val covered = new scala.collection.mutable.HashSet[String]
        var provable = true
        while (j <= 5 && !exhausted && provable) {
          val pickedIds = picks.map(_._2).toSet
          var bestId = Long.MaxValue
          var bestGain = 0L
          candIds.foreach { id =>
            if (!pickedIds.contains(id)) {
              var g = 0L
              sets(id).foreach(h => if (!covered.contains(h)) g += 1)
              if (g > bestGain || (g == bestGain && g > 0 && id < bestId)) {
                bestGain = g; bestId = id
              }
            }
          }
          // global-argmax proof: strictly beat every excluded doc's upper
          // bound, or tie it with the smaller doc_id
          if (bestGain > restBound ||
              (bestGain == restBound && bestGain > 0 && bestId < restMinId)) {
            picks :+= ((j, bestId, bestGain))
            sets(bestId).foreach(covered += _)
            j += 1
          } else if (bestGain == 0 && rest.isEmpty) {
            // no candidate has an uncovered shingle and no doc exists
            // outside the window: the oracle's trailing rounds are empty
            exhausted = true
          } else provable = false
        }
      }
      while (j <= 5 && !exhausted) {
        val pickedIds = picks.map(_._2)
        val cand =
          if (pickedIds.isEmpty) sh
          else sh
            .filter(!col("doc_id").isin(pickedIds: _*))
            .join(sh.filter(col("doc_id").isin(pickedIds: _*))
                .select("h").distinct(),
              Seq("h"), "left_anti")
        // headOption, not head(): a tiny corpus can run out of uncovered
        // shingles (or docs) before round 5 — emit the rounds obtained,
        // matching the oracle's empty trailing-round CTEs.
        cand.groupBy("doc_id").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("doc_id")).limit(1)
          .collect().headOption match { // 1-row bounded model state
          case Some(top) => picks :+= ((j, top.getLong(0), top.getLong(1)))
          case None => exhausted = true
        }
        j += 1
      }
      import s.implicits._
      picks.toDF("round", "doc_id", "gain")
        .select(col("round").cast("int").as("round"), col("doc_id"),
          col("gain"))
        .orderBy("round")
    },

    // Curation ROI curve: n-gram coverage of a held-out slice as a
    // function of how much of the quality-ranked corpus you keep — the
    // "is the top 30 % enough" read before a filtering cut. Held-out =
    // every 97th doc; the rest rank into 10 quality deciles (n_chars
    // desc — the q136 quality stand-in) via the partitioned
    // globalRanks/ntileFromRank pair, so decile assignment is exact and
    // never single-reducer. Each held-out bigram gets the MIN decile
    // that contains it (one groupBy — the q198-safe order: validity
    // never depends on a join); the 10-point curve is then a broadcast
    // ≤11-row count frame joined to the cut grid. Exact integers up to
    // the one coverage division per cut.
    QueryDef.sql(
      "q302_coverage_curve",
      """WITH ev AS (SELECT doc_id, lower(text) AS text FROM documents
        |            WHERE doc_id % 97 = 0),
        |tr AS (SELECT doc_id, lower(text) AS text, n_chars FROM documents
        |       WHERE doc_id % 97 <> 0),
        |td AS (SELECT doc_id, text,
        |              ntile(10) OVER (ORDER BY n_chars DESC, doc_id)
        |                AS dec
        |       FROM tr),
        |tw AS (SELECT dec, string_split(text, ' ') AS w FROM td),
        |tb AS (SELECT w[i] || ' ' || w[i+1] AS bg, min(dec) AS md
        |       FROM tw, unnest(generate_series(1, len(w) - 1)) AS t(i)
        |       WHERE w[i] <> '' AND w[i+1] <> ''
        |       GROUP BY bg),
        |ew AS (SELECT string_split(text, ' ') AS w FROM ev),
        |eb AS (SELECT DISTINCT w[i] || ' ' || w[i+1] AS bg
        |       FROM ew, unnest(generate_series(1, len(w) - 1)) AS t(i)
        |       WHERE w[i] <> '' AND w[i+1] <> ''),
        |jn AS (SELECT coalesce(tb.md, 11) AS md FROM eb
        |       LEFT JOIN tb USING (bg)),
        |cn AS (SELECT md, CAST(count(*) AS BIGINT) AS c FROM jn GROUP BY md),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_eval FROM cn),
        |grid AS (SELECT unnest(generate_series(1, 10)) AS cut)
        |SELECT CAST(grid.cut AS BIGINT) AS cut_decile, tot.n_eval
        |         AS n_eval_bigrams,
        |       CAST(coalesce(sum(CASE WHEN cn.md <= grid.cut THEN cn.c END),
        |                     0) AS BIGINT) AS n_covered,
        |       round(coalesce(sum(CASE WHEN cn.md <= grid.cut THEN cn.c END),
        |                      0) / CAST(tot.n_eval AS DOUBLE), 6) AS coverage
        |FROM grid CROSS JOIN tot CROSS JOIN cn
        |GROUP BY grid.cut, tot.n_eval
        |ORDER BY cut_decile""".stripMargin) { (s, d) =>
      def bigrams(df: org.apache.spark.sql.DataFrame,
          keep: Seq[org.apache.spark.sql.Column]) =
        df.select(keep :+ split(lower(col("text")), " ").as("w"): _*)
          .select(keep :+ posexplode(
            expr("slice(w, 1, greatest(size(w) - 1, 0))")).as(Seq("i", "u"))
            :+ col("w"): _*)
          .select(keep :+ concat(col("u"), lit(" "),
            element_at(col("w"), col("i") + 2)).as("bg")
            :+ col("u") :+ element_at(col("w"), col("i") + 2).as("v2"): _*)
          .filter(col("u") =!= "" && col("v2") =!= "")
          .select(keep :+ col("bg"): _*)
      val docs = t(s, d, "documents")
      val ev = docs.filter(pmod(col("doc_id"), lit(97L)) === 0)
      val tr = docs.filter(pmod(col("doc_id"), lit(97L)) =!= 0)
      val td = globalRanks(tr.select(col("doc_id"), col("text"),
          col("n_chars")),
          -expr("n_chars div 100"), Seq(col("n_chars").desc, col("doc_id")))
        .withColumn("dec", ntileFromRank(10))
      val tb = bigrams(td, Seq(col("dec")))
        .groupBy("bg").agg(min("dec").as("md"))
      val eb = bigrams(ev, Seq.empty).distinct()
      val cn = eb.join(tb, Seq("bg"), "left")
        .select(coalesce(col("md"), lit(11L)).as("md"))
        .groupBy("md").agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // grid fan-out + total both read it
      val tot = cn.agg(sum("c").as("n_eval"))
      s.range(1, 11).select(col("id").as("cut_decile"))
        .crossJoin(broadcast(tot)).crossJoin(broadcast(cn))
        .groupBy(col("cut_decile"), col("n_eval").as("n_eval_bigrams"))
        .agg(coalesce(sum(when(col("md") <= col("cut_decile"), col("c"))),
          lit(0L)).as("n_covered"))
        .select(col("cut_decile"), col("n_eval_bigrams"), col("n_covered"),
          round(col("n_covered") / col("n_eval_bigrams").cast("double"), 6)
            .as("coverage"))
        .orderBy("cut_decile")
    },

    // Unicode NFC canonicalization — the step BEFORE every fingerprint:
    // the same visible text arrives from the web precomposed (é = U+00E9)
    // and decomposed (e + U+0301), and without NFC the exact-hash, MinHash,
    // and n-gram layers all see distinct documents. Spark ships no
    // normalization function, so this is a native codegen Catalyst
    // expression (graftx.UnicodeNormalize wrapping java.text.Normalizer —
    // UAX #15, the same algorithm as DuckDB's utf8proc-backed
    // nfc_normalize; normalization is covered by Unicode's stability
    // policy, so the engines agree regardless of UCD vintage). The corpus
    // is ASCII, so each doc gets a deterministic decomposed tail cycling
    // composition, canonical REORDERING (dot-below ccc=220 must sort
    // before acute ccc=230), an already-composed no-op, and a
    // double-diacritic compose. Gate columns: codepoint counts before and
    // after, the normalized string itself, and its md5 — so a single
    // wrong composition, a missed reorder, or UTF-8 re-encode drift
    // breaks the hash. Scale shape: pure per-row projection inside one
    // WholeStageCodegen span (the kernel is a static call with an
    // isNormalized ASCII fast path), no shuffle before the final sort.
    QueryDef.sql(
      "q335_nfc_normalize",
      """WITH rawt AS (
        |  SELECT doc_id, substr(text, 1, 16) ||
        |    CASE doc_id % 4
        |      WHEN 0 THEN chr(101) || chr(769) || chr(803)
        |      WHEN 1 THEN chr(65) || chr(778)
        |      WHEN 2 THEN chr(233)
        |      ELSE chr(111) || chr(770) || chr(769) END AS raw
        |  FROM documents)
        |SELECT doc_id, CAST(length(raw) AS BIGINT) AS n_raw,
        |       CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_norm,
        |       nfc_normalize(raw) AS norm,
        |       md5(nfc_normalize(raw)) AS fp
        |FROM rawt ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.graftx.UnicodeNormalizeFn.unicodeNormalize
      t(s, d, "documents")
        .select(col("doc_id"),
          concat(substring(col("text"), 1, 16),
            element_at(array(
              lit("e\u0301\u0323"), // acute BEFORE dot-below: must reorder
              lit("A\u030A"),       // composes to U+00C5
              lit("\u00E9"),        // already composed: identity fast path
              lit("o\u0302\u0301")), // composes to U+1ED1
              (col("doc_id") % 4 + 1).cast("int"))).as("raw"))
        .select(col("doc_id"), length(col("raw")).cast("long").as("n_raw"),
          unicodeNormalize(col("raw")).as("norm"))
        .select(col("doc_id"), col("n_raw"),
          length(col("norm")).cast("long").as("n_norm"), col("norm"),
          md5(col("norm").cast("binary")).as("fp"))
        .orderBy("doc_id")
    }
  )
}
