package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Table-maintenance operators a lakehouse pipeline runs daily: CDC
  * changelog application (MERGE-style upsert/delete) and one-pass data
  * profiling. Both fully oracle-checked.
  */
object MaintenanceQueries {

  val defs: Seq[QueryDef] = Seq(

    // CDC apply: a changelog (here: orders as change events on customer,
    // status 'P' = tombstone, else upsert of the balance) is first reduced
    // to its latest change per key — one window over the natural
    // (event-time, sequence) order — then MERGEd into the snapshot with a
    // single full-outer equi-join. 100 TB shape: both sides shuffle once on
    // the key (sort-merge), the changelog compaction reuses the same
    // partitioning, and no driver-side row handling anywhere. This is the
    // batch-parity form of the streaming upsert sink.
    QueryDef.sql(
      "q101_cdc_upsert",
      """WITH ch AS (
        |  SELECT o_custkey, o_totalprice,
        |         CASE WHEN o_orderstatus = 'P' THEN 'D' ELSE 'U' END AS op,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_orderdate DESC, o_orderkey DESC)
        |           AS rn
        |  FROM orders),
        |latest AS (SELECT o_custkey, o_totalprice, op FROM ch WHERE rn = 1)
        |SELECT coalesce(s.c_custkey, c.o_custkey) AS c_custkey,
        |       CASE WHEN c.op = 'U' THEN c.o_totalprice
        |            ELSE s.c_acctbal END AS bal,
        |       CASE WHEN c.op IS NULL THEN 'kept'
        |            WHEN s.c_custkey IS NULL THEN 'inserted'
        |            ELSE 'updated' END AS action
        |FROM customer s FULL OUTER JOIN latest c ON s.c_custkey = c.o_custkey
        |WHERE c.op IS NULL OR c.op <> 'D'
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      val latest = t(s, d, "orders")
        .select(col("o_custkey"), col("o_totalprice"),
          col("o_orderdate"), col("o_orderkey"),
          when(col("o_orderstatus") === "P", "D").otherwise("U").as("op"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("o_custkey", "o_totalprice", "op")
      t(s, d, "customer").as("s")
        .join(latest.as("c"), col("s.c_custkey") === col("c.o_custkey"),
          "full_outer")
        .filter(col("c.op").isNull || col("c.op") =!= "D")
        .select(
          coalesce(col("s.c_custkey"), col("c.o_custkey")).as("c_custkey"),
          when(col("c.op") === "U", col("c.o_totalprice"))
            .otherwise(col("s.c_acctbal")).as("bal"),
          when(col("c.op").isNull, "kept")
            .when(col("s.c_custkey").isNull, "inserted")
            .otherwise("updated").as("action"))
        .orderBy("c_custkey")
    },

    // Data profiling: null count, exact NDV, and min/max per column of
    // `orders`. Shape: one branch per column, each a pruned SINGLE-COLUMN
    // parquet scan (columnar storage ⇒ the union's total I/O equals one
    // all-column scan) into groupBy(col) pre-aggregation — ndv/min/max/nulls
    // all derive from the distinct-value frame, so no COUNT(DISTINCT)
    // Expand (which would multiply rows ×(columns+1) through the shuffle)
    // and the shuffle carries only distinct values. Non-string min/max
    // surface through engine-stable casts (decimal for doubles —
    // double→string formatting is engine-specific, decimal→string is not).
    QueryDef.sql(
      "q104_profile",
      """SELECT 'o_custkey' AS col_name,
        |       CAST(count(*) - count(o_custkey) AS BIGINT) AS n_nulls,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv,
        |       CAST(min(o_custkey) AS VARCHAR) AS min_s,
        |       CAST(max(o_custkey) AS VARCHAR) AS max_s
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderdate', CAST(count(*) - count(o_orderdate) AS BIGINT),
        |       CAST(count(DISTINCT o_orderdate) AS BIGINT),
        |       CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderkey', CAST(count(*) - count(o_orderkey) AS BIGINT),
        |       CAST(count(DISTINCT o_orderkey) AS BIGINT),
        |       CAST(min(o_orderkey) AS VARCHAR), CAST(max(o_orderkey) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', CAST(count(*) - count(o_orderpriority) AS BIGINT),
        |       CAST(count(DISTINCT o_orderpriority) AS BIGINT),
        |       min(o_orderpriority), max(o_orderpriority)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', CAST(count(*) - count(o_orderstatus) AS BIGINT),
        |       CAST(count(DISTINCT o_orderstatus) AS BIGINT),
        |       min(o_orderstatus), max(o_orderstatus)
        |FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', CAST(count(*) - count(o_totalprice) AS BIGINT),
        |       CAST(count(DISTINCT o_totalprice) AS BIGINT),
        |       CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
        |       CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
        |FROM orders
        |ORDER BY col_name""".stripMargin) { (s, d) =>
      val o = t(s, d, "orders")
      val str = (c: org.apache.spark.sql.Column) => c.cast("string")
      val dec = (c: org.apache.spark.sql.Column) =>
        c.cast(DecimalType(18, 2)).cast("string")
      val cols = Seq(
        ("o_custkey", str), ("o_orderdate", str), ("o_orderkey", str),
        ("o_orderpriority", str), ("o_orderstatus", str),
        ("o_totalprice", dec))
      cols.map { case (c, f) =>
        o.groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
          .agg(
            coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L))
              .as("n_nulls"),
            count(col("v")).as("ndv"),
            f(min(col("v"))).as("min_s"),
            f(max(col("v"))).as("max_s"))
          .select(lit(c).as("col_name"), col("n_nulls"), col("ndv"),
            col("min_s"), col("max_s"))
      }.reduce(_ unionByName _)
        .orderBy("col_name")
    },

    // Incremental aggregate maintenance (materialized-view refresh): the
    // pre-cutoff partition's aggregate is maintained as MERGEABLE partial
    // state (count + exact decimal sum + min/max), the post-cutoff delta is
    // aggregated the same way, and the refresh is a tiny groupBy over the
    // unioned partials — the delta never re-touches base data. The oracle
    // is the FULL recomputation over all rows: incremental == full is the
    // correctness contract of every mergeable-aggregate refresh. 100 TB
    // shape: refresh cost scales with |delta| + |groups|, not |base|.
    QueryDef.sql(
      "q107_incremental_agg",
      """SELECT o_orderpriority,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
        |         AS sum_price,
        |       max(o_totalprice) AS max_price
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val cutoff = "1997-01-01"
      val o = t(s, d, "orders")
      def partials(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("pn"),
            sum(col("o_totalprice").cast(DecimalType(28, 2))).as("ps"),
            max("o_totalprice").as("pm"))
      val base = partials(o.filter(col("o_orderdate") < cutoff))
      val delta = partials(o.filter(col("o_orderdate") >= cutoff))
      base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(sum("pn").as("n_orders"),
          sum("ps").cast("double").as("sum_price"),
          max("pm").as("max_price"))
        .orderBy("o_orderpriority")
    },

    // Z-order layout clustering: interleave the low 16 bits of the two
    // scan keys into one Morton code, range-bucket the table by it, and
    // report each bucket's per-dimension min/max envelope — the file-level
    // statistics a z-ordered rewrite gives a 100 TB table, where a
    // predicate on EITHER dimension prunes most buckets (a linear sort
    // clusters only its leading column). All-integer arithmetic, exact in
    // both engines. The oracle states the spec as a global ntile; the
    // engine computes the IDENTICAL assignment from exact global ranks via
    // the q113 bucket-rank + prefix-sum decomposition (globalRanks /
    // ntileFromRank) — the ranking window partitions on zval's high bits
    // (monotone in the sort key, ≤2^16 buckets by construction since zval
    // < 2^32), so no full-table window ever runs on a single partition.
    QueryDef.sql(
      "q108_zorder_layout",
      s"""WITH z AS (
        |  SELECT l_partkey, l_suppkey,
        |         (${MaintenanceQueries.mortonSql("l_partkey", "l_suppkey")})
        |           AS zval,
        |         l_orderkey, l_linenumber
        |  FROM lineitem),
        |b AS (SELECT l_partkey, l_suppkey,
        |             ntile(32) OVER (ORDER BY zval, l_orderkey, l_linenumber)
        |               AS bucket
        |      FROM z)
        |SELECT bucket, count(*) AS n,
        |       min(l_partkey) AS part_lo, max(l_partkey) AS part_hi,
        |       min(l_suppkey) AS supp_lo, max(l_suppkey) AS supp_hi
        |FROM b GROUP BY bucket
        |ORDER BY bucket""".stripMargin) { (s, d) =>
      // magic-mask bit spread (Hacker's Delight §7-2): identical bits to
      // the oracle's per-bit-term sum (disjoint bits, so sum == OR) at ~10
      // column ops instead of 96 — the naive 32-term expression cost ~1.6 s
      // per evaluation over sf0.1 lineitem and dominated q108's runtime
      def spread16(c: org.apache.spark.sql.Column) = {
        val a = c.bitwiseAND(lit(0xFFFFL))
        val b1 = a.bitwiseOR(shiftleft(a, 8)).bitwiseAND(lit(0x00FF00FFL))
        val b2 = b1.bitwiseOR(shiftleft(b1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
        val b3 = b2.bitwiseOR(shiftleft(b2, 2)).bitwiseAND(lit(0x33333333L))
        b3.bitwiseOR(shiftleft(b3, 1)).bitwiseAND(lit(0x55555555L))
      }
      val zval = spread16(col("l_partkey"))
        .bitwiseOR(shiftleft(spread16(col("l_suppkey")), 1))
      val z = t(s, d, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), zval.as("zval"),
          col("l_orderkey"), col("l_linenumber"))
      globalRanks(z, shiftright(col("zval"), 16),
        Seq(col("zval"), col("l_orderkey"), col("l_linenumber")))
        .withColumn("bucket", ntileFromRank(32))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("l_partkey").as("part_lo"), max("l_partkey").as("part_hi"),
          min("l_suppkey").as("supp_lo"), max("l_suppkey").as("supp_hi"))
        .orderBy("bucket")
    },

    // Materialized-view rewrite (graftx.SummaryRewrite): the probe
    // aggregate — GROUP BY a SUBSET of the summary keys with a key-only
    // filter — is answered from the checkpointed (returnflag, linestatus)
    // summary; the optimizer swaps the fact scan out wholesale. At 100 TB
    // this turns a dashboard's full fact scan into a read of a
    // few-thousand-row partial-aggregate table, exactly (no sketch, no
    // staleness here: the summary is built in the same plan epoch). The
    // DuckDB oracle computes the aggregate DIRECTLY from lineitem, so the
    // gate proves the rewrite is semantics-preserving, and
    // SummaryRewriteSpec pins the plan swap + every veto path
    // (non-key filter, unregistered measure, DISTINCT, disabled flag).
    QueryDef.sql(
      "q202_mv_rewrite",
      """SELECT l_returnflag,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE)
        |         AS sum_qty,
        |       max(l_shipdate) AS last_ship
        |FROM lineitem
        |WHERE l_linestatus = 'F'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.graftx.SummaryRewrite
      val fact = t(s, d, "lineitem") // ONE load: the next load re-pins the conf
      val summary = fact.groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast(DecimalType(28, 4))).as("s_qty"),
          max("l_shipdate").as("mx_ship"))
        .localCheckpoint(true)
      SummaryRewrite.register(fact, Seq("l_returnflag", "l_linestatus"),
        Seq(("count", lit(1), "cnt"),
          ("sum", col("l_quantity").cast(DecimalType(28, 4)), "s_qty"),
          ("max", col("l_shipdate"), "mx_ship")),
        summary)
      s.conf.set(SummaryRewrite.EnableConf, "true")
      fact.filter(col("l_linestatus") === "F")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(28, 4))).cast("double")
            .as("sum_qty"),
          max("l_shipdate").as("last_ship"))
        .orderBy("l_returnflag")
    },

    // Table diff / reconciliation — the CDC-validation op every migration
    // and replication pipeline runs: classify every key as added, removed,
    // changed, or identical between two table versions, with per-column
    // mismatch counts for the changed set. The "prior" version is derived
    // deterministically (keys ≡0 mod 97 didn't exist yet; balances ≡0 mod
    // 50 shifted; keys ≡0 mod 111 were since deleted), so the oracle can
    // rebuild it independently. One full-outer equi-join on the key, all
    // comparison work narrow — the 100 TB shape (and with both sides
    // bucketed on the key, the join is shuffle-free).
    QueryDef.sql(
      "q203_table_diff",
      """WITH cur AS (SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |             FROM customer),
        |     prior AS (
        |       SELECT c_custkey,
        |              c_name,
        |              CASE WHEN c_custkey % 50 = 0 THEN round(c_acctbal + 10, 2)
        |                   ELSE c_acctbal END AS c_acctbal,
        |              c_mktsegment
        |       FROM customer WHERE c_custkey % 97 <> 0
        |       UNION ALL
        |       SELECT c_custkey + 1000000, c_name, c_acctbal, c_mktsegment
        |       FROM customer WHERE c_custkey % 111 = 0)
        |SELECT CASE WHEN p.c_custkey IS NULL THEN 'added'
        |            WHEN c.c_custkey IS NULL THEN 'removed'
        |            WHEN c.c_acctbal <> p.c_acctbal
        |              OR c.c_name <> p.c_name
        |              OR c.c_mktsegment <> p.c_mktsegment THEN 'changed'
        |            ELSE 'identical' END AS status,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(CASE WHEN c.c_custkey IS NOT NULL
        |                        AND p.c_custkey IS NOT NULL
        |                        AND c.c_acctbal <> p.c_acctbal THEN 1 END)
        |            AS BIGINT) AS n_acctbal_diff
        |FROM cur c FULL JOIN prior p ON c.c_custkey = p.c_custkey
        |GROUP BY 1 ORDER BY status""".stripMargin) { (s, d) =>
      val cust = t(s, d, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val prior = cust.filter(col("c_custkey") % 97 =!= 0)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 50 === 0, round(col("c_acctbal") + 10, 2))
            .otherwise(col("c_acctbal")))
        .unionByName(cust.filter(col("c_custkey") % 111 === 0)
          .withColumn("c_custkey", col("c_custkey") + 1000000))
      val p = prior.select(prior.columns.map(c => col(c).as(s"p_$c")): _*)
      cust.join(p, col("c_custkey") === col("p_c_custkey"), "full")
        .select(
          when(col("p_c_custkey").isNull, "added")
            .when(col("c_custkey").isNull, "removed")
            .when(col("c_acctbal") =!= col("p_c_acctbal") ||
              col("c_name") =!= col("p_c_name") ||
              col("c_mktsegment") =!= col("p_c_mktsegment"), "changed")
            .otherwise("identical").as("status"),
          (col("c_custkey").isNotNull && col("p_c_custkey").isNotNull &&
            col("c_acctbal") =!= col("p_c_acctbal")).as("bal_diff"))
        .groupBy("status")
        .agg(count(lit(1)).as("n"),
          count(when(col("bal_diff"), 1)).as("n_acctbal_diff"))
        .orderBy("status")
    },

    // Entity resolution: match a "dirty" name registry (deterministic
    // one-char deletions) back to its canonical entities — blocking +
    // similarity scoring, the shape every dedup-people/products pipeline
    // uses. Candidates come from an EQUI-join on the 2-char block key
    // (prefix survives the mutation), scored with the native
    // graftx.JaroWinkler expression, and the per-dirty-record argmax runs
    // on the ROUNDED score in both engines so ulp-level engine drift
    // cannot flip a ranking. The frequency cap is IMPLEMENTED, not
    // asserted: blocks with more than 64 canonical members are excluded
    // from pairing (the q153 skew discipline — one hot prefix must not
    // become a quadratic reducer) and REPORTED in n_skipped_blocks so
    // silent coverage loss is impossible. Ground truth is recoverable
    // (dirty id = canonical id + 500000), so the output audits precision
    // exactly.
    QueryDef.sql(
      "q204_entity_resolution",
      """WITH clean AS (SELECT p_name AS name, min(p_partkey) AS id
        |               FROM part GROUP BY p_name),
        |     blocks AS (SELECT substr(name, 1, 2) AS bk, count(*) AS bn
        |                FROM clean GROUP BY 1),
        |     dirty AS (SELECT id + 500000 AS did,
        |                      substr(name, 1, 2) || substr(name, 4) AS dname,
        |                      id AS truth
        |               FROM clean WHERE length(name) >= 5),
        |     cand AS (SELECT d.did, d.truth, d.dname, c.id, c.name,
        |                     round(jaro_winkler_similarity(d.dname, c.name), 6)
        |                       AS jw
        |              FROM dirty d
        |              JOIN blocks b ON substr(d.dname, 1, 2) = b.bk
        |                           AND b.bn <= 64
        |              JOIN clean c ON b.bk = substr(c.name, 1, 2)
        |              WHERE round(jaro_winkler_similarity(d.dname, c.name), 6)
        |                    >= 0.85),
        |     best AS (SELECT did, truth, id, jw,
        |                     row_number() OVER (PARTITION BY did
        |                       ORDER BY jw DESC, name) AS rn
        |              FROM cand)
        |SELECT CAST((SELECT count(*) FROM dirty) AS BIGINT) AS n_dirty,
        |       CAST(count(*) AS BIGINT) AS n_matched,
        |       CAST(count(CASE WHEN id = truth THEN 1 END) AS BIGINT)
        |         AS n_correct,
        |       CAST((SELECT count(*) FROM blocks WHERE bn > 64) AS BIGINT)
        |         AS n_skipped_blocks
        |FROM best WHERE rn = 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.graftx.JaroWinklerFn.jaroWinkler
      val clean = t(s, d, "part").groupBy(col("p_name").as("name"))
        .agg(min("p_partkey").as("id"))
      val blocks = clean.groupBy(substring(col("name"), 1, 2).as("bk"))
        .agg(count(lit(1)).as("bn"))
      val dirty = clean.filter(length(col("name")) >= 5)
        .select((col("id") + 500000).as("did"),
          concat(substring(col("name"), 1, 2), expr("substr(name, 4)"))
            .as("dname"),
          col("id").as("truth"))
      val cand = dirty
        .join(broadcast(blocks.filter(col("bn") <= 64)),
          substring(col("dname"), 1, 2) === col("bk"))
        .join(clean, col("bk") === substring(col("name"), 1, 2))
        .withColumn("jw", round(jaroWinkler(col("dname"), col("name")), 6))
        .filter(col("jw") >= 0.85)
      val w = Window.partitionBy("did").orderBy(col("jw").desc, col("name"))
      val best = cand.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      best.agg(count(lit(1)).as("n_matched"),
          count(when(col("id") === col("truth"), 1)).as("n_correct"))
        .crossJoin(broadcast(dirty.agg(count(lit(1)).as("n_dirty"))))
        .crossJoin(broadcast(blocks.filter(col("bn") > 64)
          .agg(count(lit(1)).as("n_skipped_blocks"))))
        .select(col("n_dirty"), col("n_matched"), col("n_correct"),
          col("n_skipped_blocks"))
    },

    // Right-to-be-forgotten purge with audit — the GDPR/CCPA maintenance
    // pass every user-data lake runs: given a deletion list (here a
    // deterministic synthetic cohort, user_id % 10 = 3), anti-join the
    // fact table and emit the per-day audit the compliance log needs
    // (total / purged / kept rows, surviving distinct users). At 100 TB
    // the deletion list is dwarfed by the fact table, so the purge is a
    // broadcast LEFT ANTI against the fact scan — one pass, no shuffle of
    // the fact — and the audit proves n_purged + n_kept == n_total per
    // partition, the invariant that catches a silently-dropped row. The
    // anti-join runs for real (the kept branch), while the audit counts
    // both sides from the same scan via conditional aggregation.
    QueryDef.sql(
      "q255_tombstone_purge",
      """WITH del AS (SELECT DISTINCT user_id FROM events WHERE user_id % 10 = 3)
        |SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |       CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(count(CASE WHEN user_id % 10 = 3 THEN 1 END) AS BIGINT)
        |         AS n_purged,
        |       CAST(count(CASE WHEN user_id % 10 <> 3 THEN 1 END) AS BIGINT)
        |         AS n_kept,
        |       CAST(count(DISTINCT CASE WHEN user_id % 10 <> 3 THEN user_id END)
        |            AS BIGINT) AS n_kept_users
        |FROM events
        |GROUP BY 1 ORDER BY day""".stripMargin) { (s, d) =>
      val ev = t(s, d, "events")
      val del = ev.filter(col("user_id") % 10 === 3)
        .select("user_id").distinct()
      // the real purge: broadcast anti-join (the plan a 100 TB pass uses)
      val kept = ev.join(broadcast(del), Seq("user_id"), "left_anti")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_kept"),
          countDistinct("user_id").as("n_kept_users"))
      // audit side: totals and purged counts from one scan
      val audit = ev.groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_total"),
          count(when(col("user_id") % 10 === 3, 1)).as("n_purged"))
      // LEFT join: a day whose events are ALL purged has no `kept` row
      // but must still appear in the audit with n_kept = 0.
      audit.join(kept, Seq("day"), "left")
        .select(col("day"), col("n_total"), col("n_purged"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("n_kept_users"), lit(0L)).as("n_kept_users"))
        .orderBy("day")
    },

    // Snapshot diff (change-data-feed derivation): classify every key
    // across two table versions as added / removed / changed / unchanged
    // — the audit a lakehouse emits when CDF wasn't captured at write
    // time and must be reconstructed by diffing snapshots. The two
    // versions derive deterministically from events (disjoint modulo
    // filters + a value perturbation) so both engines diff identical
    // inputs. One FULL OUTER join on the key — the only correct shape:
    // anti-joins would need two passes and miss 'changed'. At 100 TB
    // both sides shuffle once on the key; with bucketed tables even that
    // shuffle vanishes.
    QueryDef.sql(
      "q259_snapshot_diff",
      """WITH old AS (
        |  SELECT event_id, value FROM events WHERE event_id % 3 <> 0),
        |new AS (
        |  SELECT event_id,
        |         CASE WHEN event_id % 10 = 1 THEN round(value + 1.5, 2)
        |              ELSE value END AS value
        |  FROM events WHERE event_id % 2 <> 0),
        |j AS (
        |  SELECT coalesce(o.event_id, n.event_id) AS event_id,
        |         CASE WHEN o.event_id IS NULL THEN 'added'
        |              WHEN n.event_id IS NULL THEN 'removed'
        |              WHEN o.value <> n.value THEN 'changed'
        |              ELSE 'unchanged' END AS change
        |  FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id)
        |SELECT change, CAST(count(*) AS BIGINT) AS n,
        |       CAST(min(event_id) AS BIGINT) AS min_id,
        |       CAST(max(event_id) AS BIGINT) AS max_id
        |FROM j GROUP BY change ORDER BY change""".stripMargin) { (s, d) =>
      val ev = t(s, d, "events")
      val old = ev.filter(col("event_id") % 3 =!= 0)
        .select(col("event_id").as("o_id"), col("value").as("o_value"))
      val neu = ev.filter(col("event_id") % 2 =!= 0)
        .select(col("event_id").as("n_id"),
          when(col("event_id") % 10 === 1, round(col("value") + 1.5, 2))
            .otherwise(col("value")).as("n_value"))
      old.join(neu, col("o_id") === col("n_id"), "full_outer")
        .select(coalesce(col("o_id"), col("n_id")).as("event_id"),
          when(col("o_id").isNull, "added")
            .when(col("n_id").isNull, "removed")
            .when(col("o_value") =!= col("n_value"), "changed")
            .otherwise("unchanged").as("change"))
        .groupBy("change")
        .agg(count(lit(1)).as("n"), min("event_id").as("min_id"),
          max("event_id").as("max_id"))
        .orderBy("change")
    },

    // Declarative MERGE INTO — the SQL verb for q101's CDC apply, run for
    // real through Spark's row-level-operation framework over a
    // graft_cat table ([[graft.sources.MemoryRowCatalog]]): Catalyst's
    // RewriteMergeIntoTable turns the statement into ReplaceData — target
    // scanned once, full-outer-joined to the source, affected groups
    // rewritten whole — the copy-on-write plan an Iceberg table produces
    // at 100 TB. All three WHEN branches exercised (conditional DELETE,
    // UPDATE, conditional INSERT) plus kept-unmatched-target rows; the
    // oracle restates the statement as the full-outer apply it rewrites
    // to. Table name is per-invocation unique so concurrent runs on a
    // shared session never collide; exact DECIMAL sums on both sides.
    QueryDef.sql(
      "q276_merge_into",
      """WITH tgt AS (
        |  SELECT user_id,
        |         round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 4)
        |           AS bal,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events
        |  WHERE event_id % 2 = 0 AND user_id % 3 <> 0
        |    AND user_id IS NOT NULL AND value IS NOT NULL
        |  GROUP BY user_id),
        |src AS (
        |  SELECT user_id,
        |         round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 4)
        |           AS delta,
        |         CAST(count(*) AS BIGINT) AS n_src
        |  FROM events
        |  WHERE event_id % 2 = 1
        |    AND user_id IS NOT NULL AND value IS NOT NULL
        |  GROUP BY user_id)
        |SELECT coalesce(t.user_id, s.user_id) AS user_id,
        |       CASE WHEN t.user_id IS NOT NULL AND s.user_id IS NOT NULL
        |            THEN round(t.bal + s.delta, 4)
        |            WHEN t.user_id IS NOT NULL THEN t.bal
        |            ELSE s.delta END AS bal,
        |       CASE WHEN t.user_id IS NOT NULL AND s.user_id IS NOT NULL
        |            THEN t.n + s.n_src
        |            WHEN t.user_id IS NOT NULL THEN t.n
        |            ELSE s.n_src END AS n
        |FROM tgt t FULL OUTER JOIN src s ON t.user_id = s.user_id
        |WHERE NOT (t.user_id IS NOT NULL AND s.user_id IS NOT NULL
        |           AND s.delta < 40)
        |  AND NOT (t.user_id IS NULL AND s.delta < 40)
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      graft.Graft.ensureConfigured(s)
      val tbl = "graft_cat.m" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val ev = s"parquet.`$d/events.parquet`"
      s.sql(s"CREATE TABLE $tbl (user_id BIGINT, bal DOUBLE, n BIGINT)")
      try {
        s.sql(
          s"""INSERT INTO $tbl
             |SELECT user_id,
             |       round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 4),
             |       count(*)
             |FROM $ev
             |WHERE event_id % 2 = 0 AND user_id % 3 <> 0
             |  AND user_id IS NOT NULL AND value IS NOT NULL
             |GROUP BY user_id""".stripMargin)
        s.sql(
          s"""MERGE INTO $tbl t
             |USING (SELECT user_id,
             |              round(CAST(sum(CAST(value AS DECIMAL(28,6)))
             |                         AS DOUBLE), 4) AS delta,
             |              count(*) AS n_src
             |       FROM $ev
             |       WHERE event_id % 2 = 1
             |         AND user_id IS NOT NULL AND value IS NOT NULL
             |       GROUP BY user_id) s
             |ON t.user_id = s.user_id
             |WHEN MATCHED AND s.delta < 40 THEN DELETE
             |WHEN MATCHED THEN UPDATE SET
             |  bal = round(t.bal + s.delta, 4), n = t.n + s.n_src
             |WHEN NOT MATCHED AND s.delta >= 40 THEN
             |  INSERT (user_id, bal, n) VALUES (s.user_id, s.delta, s.n_src)
             |""".stripMargin)
        s.sql(s"SELECT user_id, bal, n FROM $tbl ORDER BY user_id")
      } finally s.sql(s"DROP TABLE IF EXISTS $tbl") // frame holds the rows
    },

    // Differentially-private aggregate release: per-(event_type, day)
    // event counts published through the standard Laplace mechanism
    // (sensitivity 1, ε = 1 → b = 1: noise = −b·sign(u−½)·ln(1−2|u−½|),
    // the inverse-CDF draw) plus small-group suppression (n < 5 never
    // released) — what a governance pipeline runs before usage stats
    // leave the boundary. Determinism: u is the q103 md5-derived uniform
    // of the GROUP KEY — reproducible across engines and runs (a DP
    // release is drawn once, not per execution), u = (k+½)/2³² is never
    // exactly ½ and 1−2|u−½| ≥ 2⁻³² > 0 so ln is finite. The released
    // value is an exact BIGINT in 1e-10 units: ln is the only
    // transcendental and is quantized ONCE (round(·1e10), the measure-
    // zero-halfway discipline); no float ever reaches the hash. Scale
    // shape: one map-side-combined aggregate; noise is per-GROUP
    // arithmetic on the ≤|types|·|days| frame, not per-row.
    QueryDef.sql(
      "q284_dp_release",
      """WITH g AS (SELECT event_type,
        |                  CAST(date_trunc('day', ts) AS DATE) AS day,
        |                  count(*) AS n
        |           FROM events GROUP BY 1, 2),
        |     u AS (SELECT event_type, day, n,
        |                  (CAST('0x' || substr(md5(event_type || '|' ||
        |                     CAST(day AS VARCHAR)), 1, 8) AS BIGINT) + 0.5)
        |                    / 4294967296.0 AS u
        |           FROM g WHERE n >= 5)
        |SELECT event_type, day,
        |       CAST(n AS BIGINT) * 10000000000
        |         + CAST(round(-sign(u - 0.5) *
        |             ln(1 - 2 * abs(u - 0.5)) * 1e10) AS BIGINT)
        |         AS released_e10
        |FROM u
        |ORDER BY event_type, day""".stripMargin) { (s, d) =>
      val g = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 5)
      val u = (conv(substring(md5(concat(col("event_type"), lit("|"),
          col("day").cast("string")).cast("binary")), 1, 8), 16, 10)
        .cast("long") + lit(0.5)) / lit(4294967296.0)
      g.withColumn("u", u)
        .select(col("event_type"), col("day"),
          (col("n").cast("long") * lit(10000000000L)
            + round(-signum(col("u") - 0.5)
                * log(lit(1) - lit(2) * abs(col("u") - 0.5)) * 1e10)
              .cast("long")).as("released_e10"))
        .orderBy("event_type", "day")
    },

    // Incremental view maintenance (delta-refresh): a per-(event_type,
    // day) count/revenue rollup is MATERIALIZED once from the base
    // snapshot (event_id % 10 <> 0), then refreshed by merging the
    // delta batch's PARTIAL aggregates — counts add, exact-decimal sums
    // add — without ever rescanning base facts. That is the 100 TB
    // dashboard-refresh contract: refresh cost ∝ |delta| + |view|, not
    // |history| (the same partial-aggregate algebra Spark's map-side
    // combine uses, lifted across a materialization boundary; q276's
    // MERGE is the row-level cousin). The oracle recomputes the view
    // from the FULL table — merged partials must equal a from-scratch
    // build exactly, which the decimal(28,6) sum algebra guarantees
    // (decimal addition is associative; the double cast happens once,
    // after the merge, in both engines). n_delta exposes the refresh
    // provenance the audit log records.
    QueryDef.sql(
      "q285_ivm_delta",
      """SELECT event_type,
        |       CAST(date_trunc('day', ts) AS DATE) AS day,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(CASE WHEN event_id % 10 = 0 THEN 1 END) AS BIGINT)
        |         AS n_delta,
        |       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS rev
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY event_type, day""".stripMargin) { (s, d) =>
      val ev = t(s, d, "events")
      val dec = org.apache.spark.sql.types.DecimalType(28, 6)
      // the materialized view: built once from the base snapshot, then
      // NEVER rescanned (checkpoint = the on-disk rollup table)
      val view = ev.filter(col("event_id") % 10 =!= 0)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_b"), sum(col("value").cast(dec)).as("s_b"))
        .localCheckpoint(true)
      val delta = ev.filter(col("event_id") % 10 === 0)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_d"), sum(col("value").cast(dec)).as("s_d"))
      val zero = lit(0).cast(org.apache.spark.sql.types.DecimalType(38, 6))
      view.join(delta, Seq("event_type", "day"), "full_outer")
        .select(col("event_type"), col("day"),
          (coalesce(col("n_b"), lit(0L)) + coalesce(col("n_d"), lit(0L)))
            .as("n"),
          coalesce(col("n_d"), lit(0L)).as("n_delta"),
          // NULL only when BOTH sides are all-null (matches sum over the
          // full group); otherwise exact decimal merge, double cast LAST
          when(col("s_b").isNull && col("s_d").isNull,
            lit(null).cast("double"))
            .otherwise((coalesce(col("s_b"), zero)
              + coalesce(col("s_d"), zero)).cast("double")).as("rev"))
        .orderBy("event_type", "day")
    },

    // Rendezvous (highest-random-weight) rebalance audit: when a corpus
    // sharded 8 ways grows a 9th shard, HRW moves ONLY the keys whose
    // new shard wins their hash race — ~1/9 of each shard, vs ~8/9 under
    // mod-N. The number to read before a 100 TB reshard: per current
    // shard, how many keys move. Entirely exact integers: weight =
    // md5(key:shard) first 8 hex as BIGINT (< 2³²), and the argmax is
    // the ONE aggregate max(w·16+shard) % 16 — the packed encoding makes
    // the winner (and its deterministic larger-shard tiebreak) a plain
    // integer max, no window, no argmax semantics to reconcile. Scale:
    // a ×9 explode of the KEY COLUMN only (never the payload) into a
    // map-side-combined per-key max — one narrow shuffle.
    QueryDef.sql(
      "q301_rendezvous_rebalance",
      """WITH s AS (SELECT unnest(generate_series(0, 8)) AS sh),
        |hx AS (SELECT d.doc_id, s.sh,
        |              CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
        |                   || ':' || CAST(s.sh AS VARCHAR)), 1, 8)
        |                   AS BIGINT) AS h
        |       FROM documents d CROSS JOIN s),
        |am AS (SELECT doc_id,
        |              max(CASE WHEN sh < 8 THEN h * 16 + sh END) % 16 AS s8,
        |              max(h * 16 + sh) % 16 AS s9
        |       FROM hx GROUP BY doc_id)
        |SELECT s8 AS shard, CAST(count(*) AS BIGINT) AS n_keys,
        |       CAST(count(CASE WHEN s9 <> s8 THEN 1 END) AS BIGINT)
        |         AS n_moved,
        |       round(count(CASE WHEN s9 <> s8 THEN 1 END)
        |             / CAST(count(*) AS DOUBLE), 6) AS moved_frac
        |FROM am GROUP BY s8
        |ORDER BY shard""".stripMargin) { (s, d) =>
      val shards = s.range(0, 9).select(col("id").as("sh"))
      val hx = t(s, d, "documents").select(col("doc_id"))
        .crossJoin(broadcast(shards))
        .select(col("doc_id"), col("sh"),
          conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
            col("sh").cast("string")).cast("binary")), 1, 8), 16, 10)
            .cast("long").as("h"))
      val am = hx.groupBy("doc_id")
        .agg((max(when(col("sh") < 8, col("h") * 16 + col("sh"))) % 16)
          .as("s8"),
          (max(col("h") * 16 + col("sh")) % 16).as("s9"))
      am.groupBy(col("s8").as("shard"))
        .agg(count(lit(1)).as("n_keys"),
          count(when(col("s9") =!= col("s8"), 1)).as("n_moved"),
          round(count(when(col("s9") =!= col("s8"), 1))
            / count(lit(1)).cast("double"), 6).as("moved_frac"))
        .orderBy("shard")
    },

    // SQL time travel over the manifest-versioned stage zone (round-10
    // verdict #5), oracle-checked end to end: one day's SOH events are
    // enveloped, written as TWO ingest micro-batches, compacted (lazy
    // deletes = retention window), and then read back PURELY THROUGH SQL
    // — `graft_stage.<t> VERSION AS OF 0|1` via StageTimeTravelCatalog.
    // Both snapshots must carry identical logical content (row count,
    // distinct devices, exact BIGINT sum of the payload timestamps — all
    // recomputed independently from `events` by the oracle) while their
    // PHYSICAL leaf counts differ (v0 = 2 micro-batch leaves, v1 = 1
    // compacted leaf) — proving the travel actually switches manifest
    // snapshots rather than re-reading the current image. The stage
    // fixture is a deterministic function of the sf dir, built once per
    // (corpus, day) under /tmp and keyed like q118's fixture; the timed
    // body is read-only SQL.
    QueryDef.sql(
      "q327_time_travel_sql",
      """WITH soh AS (SELECT user_id, floor(epoch(ts)) AS dt
        |             FROM events
        |             WHERE CAST(ts AS DATE) = DATE '2024-01-05'
        |               AND event_type NOT IN ('purchase', 'error')),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |              CAST(count(DISTINCT user_id) AS BIGINT) AS n_devices,
        |              CAST(sum(dt) AS BIGINT) AS sum_dt
        |       FROM soh)
        |SELECT CAST(0 AS BIGINT) AS version, n_rows, n_devices,
        |       CAST(2 AS BIGINT) AS n_leaves, sum_dt FROM ag
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), n_rows, n_devices, CAST(1 AS BIGINT),
        |       sum_dt FROM ag
        |ORDER BY version""".stripMargin) { (s, d) =>
      val tbl = TimeTravelFixture.ensure(s, d)
      def at(v: Long) = s.sql(
        s"""SELECT CAST($v AS BIGINT) AS version,
           |       count(*) AS n_rows,
           |       count(DISTINCT deviceid) AS n_devices,
           |       count(DISTINCT batch_id) AS n_leaves,
           |       sum(CAST(date_time AS BIGINT)) AS sum_dt
           |FROM graft_stage.$tbl VERSION AS OF $v""".stripMargin)
      at(0L).unionByName(at(1L)).orderBy("version")
    },

    // SQL TIMESTAMP AS OF over the same manifest-versioned stage zone
    // (round-11 verdict #4, sibling of q327's VERSION AS OF): the
    // compaction commit's walltime comes from the manifest itself
    // (committedAtMs — the fixture is built at an arbitrary wall-clock,
    // so the probe instants must be DERIVED, never hardcoded), and two
    // probes — exactly at the commit instant and a day later — must both
    // resolve to the compacted snapshot (1 leaf) with logical content the
    // oracle recomputes independently from `events`. Edge semantics
    // (between-commits → earlier version, before-history/no-commit →
    // loud) are exception paths, pinned by TimeTravelSqlSpec.
    QueryDef.sql(
      "q331_timestamp_travel",
      """WITH soh AS (SELECT user_id, floor(epoch(ts)) AS dt
        |             FROM events
        |             WHERE CAST(ts AS DATE) = DATE '2024-01-05'
        |               AND event_type NOT IN ('purchase', 'error')),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |              CAST(count(DISTINCT user_id) AS BIGINT) AS n_devices,
        |              CAST(sum(dt) AS BIGINT) AS sum_dt
        |       FROM soh)
        |SELECT 'at_commit' AS probe, n_rows, n_devices,
        |       CAST(1 AS BIGINT) AS n_leaves, sum_dt FROM ag
        |UNION ALL
        |SELECT 'day_after', n_rows, n_devices, CAST(1 AS BIGINT),
        |       sum_dt FROM ag
        |ORDER BY probe""".stripMargin) { (s, d) =>
      val (tbl, paths) = TimeTravelFixture.ensureWithPaths(s, d)
      val root = new org.apache.hadoop.fs.Path(paths.stage)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      val commitMs = graft.streaming.StageManifest.read(fs, root).committedAtMs
      def at(probe: String, ms: Long) = s.sql(
        s"""SELECT '$probe' AS probe,
           |       count(*) AS n_rows,
           |       count(DISTINCT deviceid) AS n_devices,
           |       count(DISTINCT batch_id) AS n_leaves,
           |       sum(CAST(date_time AS BIGINT)) AS sum_dt
           |FROM graft_stage.$tbl
           |TIMESTAMP AS OF timestamp_millis(${ms}L)""".stripMargin)
      at("at_commit", commitMs)
        .unionByName(at("day_after", commitMs + 86400000L))
        .orderBy("probe")
    },

    // VACUUM as a first-class operation (round-12 verdict #8; age-based
    // retention round-13 verdict #7): time travel's retention contract
    // said "lazy deletes → a later cleanup ends travel", and this query
    // pins the cleanup itself — in the AGE-based form real retention
    // contracts are written in ("keep 7 days"). The fixture ingests one
    // day as THREE micro-batches with TWO lazy compactions (manifest v1,
    // v2), then vacuums twice: (1) AGE HOLD — retainMs still covers v1,
    // so the age axis retains it ABOVE the retainVersions=1 count floor
    // (floor stays 1, nothing pruned, only the two originals retired in
    // both retained snapshots reclaimed); (2) AGE CUT — the window has
    // moved past v1 (old AND beyond the count floor → reclaimed; v2
    // survives on the count safety floor even though the window excludes
    // it too). The retention floor publishes FIRST in each stage
    // (write-once marker — below-floor reads fail loudly while every
    // file still exists). The audit row is exact everywhere the facts
    // are deterministic — both stages' floors and pruned/deleted counts,
    // surviving logical content recomputed by the oracle from `events`,
    // one surviving leaf — plus invariant flags: bytes_ok (both stages
    // reclaimed > 0) and beyond_retention_loud (reading VERSION AS OF 1
    // after the cut raises the retention error, never a silent
    // empty/partial frame). Scale shape: vacuum is pure manifest+listing
    // work, O(leaves), no Spark job at all; the timed body reads one
    // compacted partition.
    QueryDef.sql(
      "q343_vacuum_audit",
      """WITH soh AS (SELECT user_id, floor(epoch(ts)) AS dt
        |             FROM events
        |             WHERE CAST(ts AS DATE) = DATE '2024-01-05'
        |               AND event_type NOT IN ('purchase', 'error'))
        |SELECT CAST(1 AS BIGINT) AS age_hold_floor,
        |       CAST(0 AS BIGINT) AS age_hold_pruned,
        |       CAST(2 AS BIGINT) AS age_hold_deleted,
        |       CAST(2 AS BIGINT) AS floor_version,
        |       CAST(1 AS BIGINT) AS n_versions_pruned,
        |       CAST(2 AS BIGINT) AS n_leaves_deleted,
        |       TRUE AS bytes_ok,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_devices,
        |       CAST(1 AS BIGINT) AS n_leaves,
        |       TRUE AS beyond_retention_loud
        |FROM soh""".stripMargin) { (s, d) =>
      val (tbl, repHold, repCut) = VacuumFixture.ensure(s, d)
      val loud =
        try {
          s.sql(s"SELECT count(*) FROM graft_stage.$tbl VERSION AS OF 1")
            .collect()
          false
        } catch {
          case e: Throwable =>
            Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
              .exists(t => Option(t.getMessage)
                .exists(_.contains("beyond retention")))
        }
      s.sql(
        s"""SELECT count(*) AS n_rows,
           |       count(DISTINCT deviceid) AS n_devices,
           |       count(DISTINCT batch_id) AS n_leaves
           |FROM graft_stage.$tbl""".stripMargin)
        .select(
          lit(repHold.floorVersion).as("age_hold_floor"),
          lit(repHold.nVersionsPruned.toLong).as("age_hold_pruned"),
          lit(repHold.nLeavesDeleted.toLong).as("age_hold_deleted"),
          lit(repCut.floorVersion).as("floor_version"),
          lit(repCut.nVersionsPruned.toLong).as("n_versions_pruned"),
          lit(repCut.nLeavesDeleted.toLong).as("n_leaves_deleted"),
          lit(repHold.bytesReclaimed > 0L && repCut.bytesReclaimed > 0L)
            .as("bytes_ok"),
          col("n_rows"), col("n_devices"), col("n_leaves"),
          lit(loud).as("beyond_retention_loud"))
    }
  )

  /** DuckDB-side Morton interleave of the low 16 bits of two integer
    * columns — the same sum-of-bit-terms the Spark side computes. */
  def mortonSql(x: String, y: String): String =
    (0 until 16).map { b =>
      s"(($x // ${1L << b}) % 2) * ${1L << (2 * b)} + " +
        s"(($y // ${1L << b}) % 2) * ${1L << (2 * b + 1)}"
    }.mkString(" + ")
}

/** q327's stage-zone fixture: one day of SOH envelopes ingested as two
  * micro-batches and compacted once (lazy deletes), so manifest v0 =
  * two batch leaves and v1 = one compacted leaf. A [[cachedFixture]] over
  * the events table, registered with
  * [[graft.sources.StageTimeTravelCatalog]] under a name derived from the
  * fixture directory. The query body itself stays read-only SQL. */
private[queries] object TimeTravelFixture {
  // v3: compacted through the stage zone's shared walk and file index
  private val FixtureVersion = 3L

  def ensure(s: org.apache.spark.sql.SparkSession, d: String): String =
    ensureWithPaths(s, d)._1

  /** As [[ensure]], additionally exposing the fixture's stage paths — for
    * queries that need the manifest itself (q331 derives the compaction
    * commit's walltime from it). */
  def ensureWithPaths(s: org.apache.spark.sql.SparkSession, d: String)
      : (String, graft.streaming.StreamingIngest.Paths) = {
    val dir = cachedFixture(d, "ttravel", FixtureVersion) { tmp =>
      val tmpPaths = graft.streaming.StreamingIngest.Paths(tmp)
      val env = oneDayEnvelopes(s, d)
      try {
        Seq(0L, 1L).foreach { b =>
          graft.streaming.StreamingIngest.writeBatch(
            env.filter(col("recordId").cast("long") % 2 === b),
            graft.ingest.GeoDim.empty(s), tmpPaths, b)
        }
      } finally env.unpersist(blocking = false)
      graft.streaming.StageCompactor.compactPartition(
        s, tmpPaths, "2024", "01", "05", lazyDeletes = true)
    }
    (register(dir), graft.streaming.StreamingIngest.Paths(dir))
  }

  /** The 2024-01-05 slice of events as persisted SOH envelopes. */
  def oneDayEnvelopes(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    IngestParity.envelopeFrom(s, t(s, d, "events")
      .filter(to_date(col("ts")) === lit("2024-01-05")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Registers a stage-zone fixture under a name derived from its
    * directory, so each key gets its own catalog entry. */
  def register(dir: String): String = {
    val tbl = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
    graft.sources.StageTimeTravelCatalog.register(tbl,
      graft.streaming.StreamingIngest.Paths(dir))
    tbl
  }
}

/** q343's stage-zone fixture: one day ingested as THREE micro-batches,
  * compacted twice (both lazy — manifest v1 then v2), then VACUUMED in
  * two audited stages (round-13 verdict #7): first an AGE-window vacuum
  * whose `retainMs` still covers v1 — the age axis HOLDS v1 above the
  * `retainVersions = 1` count floor (floor stays 1, no snapshot pruned,
  * only the two pre-history-only originals reclaimed) — then a vacuum
  * whose window has moved past v1, reclaiming it (floor 2). A
  * [[cachedFixture]] like [[TimeTravelFixture]]; BOTH
  * [[graft.streaming.StageCompactor.VacuumReport]]s persist inside the
  * fixture (vacuums happen at build time, so a cached fixture must still
  * answer what each stage reclaimed). */
private[queries] object VacuumFixture {
  // v3: compacted and vacuumed through the stage zone's shared walk
  private val FixtureVersion = 3L

  def ensure(s: org.apache.spark.sql.SparkSession, d: String)
      : (String, graft.streaming.StageCompactor.VacuumReport,
         graft.streaming.StageCompactor.VacuumReport) = {
    val dir = cachedFixture(d, "vacuum", FixtureVersion) { tmp =>
      val tmpPaths = graft.streaming.StreamingIngest.Paths(tmp)
      val env = TimeTravelFixture.oneDayEnvelopes(s, d)
      try {
        Seq(0L, 1L).foreach { b =>
          graft.streaming.StreamingIngest.writeBatch(
            env.filter(col("recordId").cast("long") % 3 === b),
            graft.ingest.GeoDim.empty(s), tmpPaths, b)
        }
        graft.streaming.StageCompactor.compactPartition(
          s, tmpPaths, "2024", "01", "05", lazyDeletes = true) // v1
        // commit stamps have ms resolution; the age cut below needs
        // t2 > t1 to be deterministic
        Thread.sleep(15)
        graft.streaming.StreamingIngest.writeBatch(
          env.filter(col("recordId").cast("long") % 3 === 2),
          graft.ingest.GeoDim.empty(s), tmpPaths, 2L)
      } finally env.unpersist(blocking = false)
      graft.streaming.StageCompactor.compactPartition(
        s, tmpPaths, "2024", "01", "05", lazyDeletes = true)   // v2
      val stageRoot = new org.apache.hadoop.fs.Path(tmpPaths.stage)
      val fs = stageRoot.getFileSystem(
        s.sparkContext.hadoopConfiguration)
      val t1 = graft.streaming.StageManifest
        .readVersion(fs, stageRoot, 1L).get.committedAtMs
      val t2 = graft.streaming.StageManifest
        .readVersion(fs, stageRoot, 2L).get.committedAtMs
      // stage 1 — AGE HOLD: the window still covers v1, so the age
      // axis retains it above the count floor; only the two originals
      // no retained snapshot can see are reclaimed
      val repHold = graft.streaming.StageCompactor.vacuum(
        s, tmpPaths, retainVersions = 1,
        retainMs = (t2 - t1) + 1000L, nowMs = t2)
      // stage 2 — AGE CUT: the window has moved past v1 (old AND
      // beyond the count floor); v2 survives on the count safety floor
      val repCut = graft.streaming.StageCompactor.vacuum(
        s, tmpPaths, retainVersions = 1,
        retainMs = (t2 - t1) - 1L, nowMs = t2 + (t2 - t1))
      val w = new java.io.PrintWriter(
        new java.io.File(tmp, "_VACUUM_REPORT"), "UTF-8")
      try w.print(Seq(repHold, repCut).map(r =>
        s"${r.floorVersion} ${r.nVersionsRetained} ${r.nVersionsPruned} " +
          s"${r.nLeavesDeleted} ${r.bytesReclaimed}").mkString("\n"))
      finally w.close()
    }
    val Seq(repHold, repCut) = scala.io.Source.fromFile(
      new java.io.File(dir, "_VACUUM_REPORT"), "UTF-8").mkString
      .trim.linesIterator.toSeq.map { line =>
        val p = line.trim.split(" ")
        graft.streaming.StageCompactor.VacuumReport(
          p(0).toLong, p(1).toInt, p(2).toInt, p(3).toInt, p(4).toLong)
      }
    (TimeTravelFixture.register(dir), repHold, repCut)
  }
}
