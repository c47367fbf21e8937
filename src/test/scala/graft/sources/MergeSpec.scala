package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Pins the declarative row-level SQL verbs over graft_cat
  * ([[MemoryRowCatalog]]): MERGE INTO routes through Catalyst's
  * group-based rewrite into ReplaceData (the Iceberg-style copy-on-write
  * plan), UPDATE and DELETE work as statements, unmatched target rows are
  * kept, and the writer sees the declared write schema (the
  * metadata-column projection contract — without a
  * declared metadata column Spark hands the writer raw MergeRows output,
  * __row_operation included). */
class MergeSpec extends AnyFunSuite {
  lazy val spark = graft.Graft.ensureConfigured(SparkTestSession.spark)

  private def withTable(test: String => Unit): Unit = {
    val tbl = "graft_cat.t" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v DOUBLE, n BIGINT)")
    try test(tbl)
    finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  private def rows(tbl: String): Seq[(Long, Double, Long)] =
    spark.sql(s"SELECT k, v, n FROM $tbl ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq

  test("MERGE INTO: update, delete, insert, and kept rows in one statement") {
    withTable { tbl =>
      spark.sql(s"INSERT INTO $tbl VALUES (1, 10.0, 1), (2, 20.0, 2), " +
        "(3, 30.0, 3), (4, 40.0, 4)")
      spark.sql(
        s"""MERGE INTO $tbl t
           |USING (SELECT * FROM VALUES (2, 5.0), (3, -1.0), (9, 90.0)
           |       AS s(k, d)) s
           |ON t.k = s.k
           |WHEN MATCHED AND s.d < 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET v = t.v + s.d, n = t.n + 1
           |WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, s.d, 0)
           |""".stripMargin)
      assert(rows(tbl) === Seq((1L, 10.0, 1L), (2L, 25.0, 3L),
        (4L, 40.0, 4L), (9L, 90.0, 0L)))
    }
  }

  test("MERGE INTO plans as group-based ReplaceData (copy-on-write)") {
    withTable { tbl =>
      spark.sql(s"INSERT INTO $tbl VALUES (1, 1.0, 1)")
      val plan = spark.sql(
        s"""EXPLAIN EXTENDED MERGE INTO $tbl t
           |USING (SELECT * FROM VALUES (1, 2.0) AS s(k, d)) s
           |ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET v = s.d
           |""".stripMargin).collect().head.getString(0)
      assert(plan.contains("ReplaceData"), plan.take(2000))
      assert(plan.contains("MergeRows"), plan.take(2000))
    }
  }

  test("UPDATE and DELETE statements work on graft_cat tables") {
    withTable { tbl =>
      spark.sql(s"INSERT INTO $tbl VALUES (1, 10.0, 1), (2, 20.0, 2), " +
        "(3, 30.0, 3)")
      spark.sql(s"UPDATE $tbl SET v = v * 2, n = n + 10 WHERE k >= 2")
      assert(rows(tbl) === Seq((1L, 10.0, 1L), (2L, 40.0, 12L),
        (3L, 60.0, 13L)))
      spark.sql(s"DELETE FROM $tbl WHERE k = 2")
      assert(rows(tbl) === Seq((1L, 10.0, 1L), (3L, 60.0, 13L)))
    }
  }

  test("INSERT appends; INSERT OVERWRITE truncates then writes") {
    withTable { tbl =>
      spark.sql(s"INSERT INTO $tbl VALUES (1, 1.0, 1)")
      spark.sql(s"INSERT INTO $tbl VALUES (2, 2.0, 2)")
      assert(rows(tbl).map(_._1) === Seq(1L, 2L))
      spark.sql(s"INSERT OVERWRITE $tbl VALUES (7, 7.0, 7)")
      assert(rows(tbl) === Seq((7L, 7.0, 7L)))
    }
  }

  test("two tables do not interfere (per-invocation unique names are safe)") {
    withTable { a =>
      withTable { b =>
        spark.sql(s"INSERT INTO $a VALUES (1, 1.0, 1)")
        spark.sql(s"INSERT INTO $b VALUES (2, 2.0, 2)")
        spark.sql(s"DELETE FROM $a WHERE k = 1")
        assert(rows(a).isEmpty)
        assert(rows(b) === Seq((2L, 2.0, 2L)))
      }
    }
  }
}
