package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Interchange-format coverage: the engine must round-trip its tables
  * through the formats a lake actually contains (CSV landing zones, ORC
  * from legacy Hive, Parquet as native) without losing a row, a
  * microsecond, or a quote character. The gate aggregates the
  * ROUND-TRIPPED copies against a DuckDB oracle computed from the original
  * parquet — equality proves losslessness end-to-end (writer AND reader),
  * not just "it didn't crash".
  */
object FormatQueries {

  /** Bump when the fixture construction changes. */
  private val FixtureVersion = 2L // v2: + JSON-lines copy

  /** CSV/ORC/JSON-lines copies of events, written at most once per
    * testdata content (the [[graft.queries.cachedFixture]] discipline — an
    * unconditional overwrite would charge three corpus rewrites to every
    * bench pass). */
  private def fixtureDir(s: SparkSession, d: String): String =
    cachedFixture(d, "fmt_q208", FixtureVersion) { dir =>
      val ev = t(s, d, "events")
      // microsecond timestamps survive CSV/JSON only with an explicit
      // format; header on so the CSV read is schema-by-name, quoting
      // defaults handle the JSON-string props column (nested quotes are
      // escaped by the writer and restored by the reader)
      ev.write.mode("overwrite").option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(s"$dir/csv")
      ev.write.mode("overwrite").orc(s"$dir/orc")
      ev.write.mode("overwrite")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .json(s"$dir/json")
    }

  private def profile(df: DataFrame, format: String): DataFrame =
    df.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct("user_id").as("n_users"),
        round(sum("value"), 6).as("sum_value"),
        min("ts").as("min_ts"), max("ts").as("max_ts"),
        sum(length(col("props"))).as("props_chars"))
      .withColumn("format", lit(format))
      .select("format", "event_type", "n", "n_users", "sum_value",
        "min_ts", "max_ts", "props_chars")

  val defs: Seq[QueryDef] = Seq(

    QueryDef.sql(
      "q208_format_roundtrip", {
        val one =
          """SELECT '%s' AS format, event_type,
            |       CAST(count(*) AS BIGINT) AS n,
            |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
            |       round(sum(value), 6) AS sum_value,
            |       min(ts) AS min_ts, max(ts) AS max_ts,
            |       CAST(sum(length(props)) AS BIGINT) AS props_chars
            |FROM events GROUP BY event_type""".stripMargin
        s"""${one.format("csv")}
           |UNION ALL
           |${one.format("json")}
           |UNION ALL
           |${one.format("orc")}
           |ORDER BY format, event_type""".stripMargin
      }) { (s, d) =>
      val dir = fixtureDir(s, d)
      val schema = t(s, d, "events").schema
      val csv = s.read.schema(schema).option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(s"$dir/csv")
      val orc = s.read.schema(schema).orc(s"$dir/orc")
      val json = s.read.schema(schema)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .json(s"$dir/json")
      profile(csv, "csv").unionByName(profile(json, "json"))
        .unionByName(profile(orc, "orc"))
        .orderBy("format", "event_type")
    },

    // Partition-pruned read (the read half of reference S5's dynamic
    // year/month/day layout): events land in a Hive-partitioned tree, and
    // a one-day predicate must become PartitionFilters — directory-level
    // pruning that never opens the other 29 days' files — not a post-scan
    // filter. PlanSpec pins the PartitionFilters; the oracle recomputes
    // the day's aggregate from the flat original, proving the partitioned
    // write+read round-trips both the values and the partition keys.
    QueryDef.sql(
      "q213_partition_prune",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       round(sum(value), 6) AS sum_value,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-16'
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      val dir = cachedFixture(d, "part_q213", FixtureVersion) { dir =>
        t(s, d, "events")
          .withColumn("year", date_format(col("ts"), "yyyy"))
          .withColumn("month", date_format(col("ts"), "MM"))
          .withColumn("day", date_format(col("ts"), "dd"))
          .write.mode("overwrite")
          .partitionBy("year", "month", "day")
          .parquet(dir)
      }
      s.read.parquet(dir)
        .filter(col("year") === "2024" && col("month") === "01" &&
          col("day") === "15")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("sum_value"),
          countDistinct("user_id").as("n_users"))
        .orderBy("event_type")
    },

    // Schema evolution across file epochs: a real lake accretes columns —
    // files written before the column exist without it, and a mergeSchema
    // read must union the schemas and surface NULL for the old epoch, not
    // fail or silently drop. Epoch 1 is the first half of events without
    // `value`; epoch 2 adds it. The oracle reconstructs the same
    // null-for-old-epoch semantics from the flat original, so row counts,
    // null accounting, AND the surviving values are all gated.
    QueryDef.sql(
      "q214_schema_evolution",
      """SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(CASE WHEN event_id % 2 = 0 THEN 1 END) AS BIGINT)
        |         AS n_with_value,
        |       round(sum(CASE WHEN event_id % 2 = 0 THEN value END), 6)
        |         AS sum_value
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val dir = cachedFixture(d, "evo_q214", FixtureVersion) { dir =>
        val ev = t(s, d, "events")
        ev.filter(col("event_id") % 2 =!= 0)
          .select("event_id", "ts", "user_id", "event_type", "props")
          .write.mode("overwrite").parquet(s"$dir/epoch1")
        ev.filter(col("event_id") % 2 === 0)
          .select("event_id", "ts", "user_id", "event_type", "props", "value")
          .write.mode("overwrite").parquet(s"$dir/epoch2")
      }
      s.read.option("mergeSchema", "true")
        .parquet(s"$dir/epoch1", s"$dir/epoch2")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(col("value")).as("n_with_value"),
          round(sum("value"), 6).as("sum_value"))
        .orderBy("event_type")
    },

    // Metadata-only aggregation: COUNT/MIN/MAX answered from parquet FOOTER
    // STATISTICS — zero data pages read. Spark's aggregate pushdown lives
    // on the V2 reader, so this query flips parquet onto V2 + enables the
    // pushdown (both confs re-pinned to default by the next Tables.load —
    // the RangeJoinRewrite opt-in discipline); PlanSpec pins
    // PushedAggregation in the scan. At 100 TB this is the difference
    // between a stats probe costing a full scan and costing a footer read
    // per file.
    QueryDef.sql(
      "q216_agg_pushdown",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(min(l_orderkey) AS BIGINT) AS min_key,
        |       CAST(max(l_orderkey) AS BIGINT) AS max_key,
        |       min(l_extendedprice) AS min_price,
        |       max(l_extendedprice) AS max_price
        |FROM lineitem""".stripMargin) { (s, d) =>
      graft.Graft.ensureConfigured(s)
      s.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      s.conf.set("spark.sql.sources.useV1SourceList",
        "avro,csv,json,kafka,orc,text")
      // numeric columns only: a timestamp_ntz min/max vetoes the whole
      // pushdown (all-or-nothing per scan), falling back to a full read
      s.read.parquet(s"$d/lineitem.parquet")
        .agg(count(lit(1)).as("n_rows"),
          min("l_orderkey").as("min_key"), max("l_orderkey").as("max_key"),
          min("l_extendedprice").as("min_price"),
          max("l_extendedprice").as("max_price"))
    },

    // Bucketed CO-PARTITIONED join — the storage-layout lever that
    // removes the shuffle from a fact-fact join entirely: both sides
    // written with bucketBy(8, user_id) + sortBy, so the sort-merge join
    // reads bucket i against bucket i with NO Exchange and no sort
    // (PlanSpec pins the executed plan Exchange-free with broadcast
    // disabled). At 100 TB this is THE technique for a repeated join key:
    // the shuffle is paid once at write time and amortized over every
    // subsequent join. The bucketed files are a [[cachedFixture]]; the
    // bucketing metadata lives in the session catalog (in-memory here),
    // so each session registers the two tables once, named after the
    // fixture directory — a rewritten or same-named corpus gets its own
    // key, hence its own tables. Oracle: identical aggregate computed
    // from the raw flat table.
    QueryDef.sql(
      "q267_bucketed_join",
      """WITH prof AS (SELECT user_id, count(*) AS n_total
        |              FROM events GROUP BY user_id)
        |SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       round(sum(value), 6) AS sum_value,
        |       CAST(sum(n_total) AS BIGINT) AS weight
        |FROM events e JOIN prof p ON e.user_id = p.user_id
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      graft.Graft.ensureConfigured(s)
      val ev = t(s, d, "events")
      val sides = Seq(
        "events" -> ev.select("event_id", "user_id", "event_type", "value"),
        "prof" -> ev.groupBy("user_id").agg(count(lit(1)).as("n_total")))
      // sanitize EVERY non-identifier char: sf dirs are "sf0.1" (dot) but
      // generated corpora are "graft-sf1-real" (hyphens) — both must make
      // a valid unquoted table identifier
      def ident(path: String): String =
        new java.io.File(path).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val dir = cachedFixture(d, "bkt_q267", FixtureVersion) { tmp =>
        // bucketBy writes only through a catalog table: write via a
        // throwaway external table, then drop the entry (files stay)
        sides.foreach { case (n, df) =>
          val scratch = s"${ident(tmp)}_$n"
          df.write.bucketBy(8, "user_id").sortBy("user_id")
            .option("path", s"$tmp/$n").saveAsTable(scratch)
          s.sql(s"DROP TABLE $scratch")
        }
      }
      sides.foreach { case (n, df) =>
        val cols = df.schema.map(f => s"${f.name} ${f.dataType.sql}")
        s.sql(s"CREATE TABLE IF NOT EXISTS ${ident(dir)}_$n " +
          s"(${cols.mkString(", ")}) USING parquet CLUSTERED BY (user_id) " +
          s"SORTED BY (user_id) INTO 8 BUCKETS LOCATION '$dir/$n'")
      }
      s.table(s"${ident(dir)}_events")
        .join(s.table(s"${ident(dir)}_prof"), "user_id")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(sum("value"), 6).as("sum_value"),
          sum("n_total").as("weight"))
        .orderBy("event_type")
    }
  )
}
