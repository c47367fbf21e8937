package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name-prefix filter for targeted
    // local oracle checks (the driver passes 2 args -> full surface)
    val filter = args.drop(2).headOption
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.sessionBuilder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Graft.configure(spark)
    spark.sparkContext.setLogLevel("WARN")
    // Same stdout hygiene as Bench: the unpersist loop below triggers one
    // RDD WARN per localCheckpointed block; keep the driver-facing output
    // clean by silencing that single logger.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.RDD", org.apache.logging.log4j.Level.ERROR)
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter { case (n, _) =>
      filter.forall(_.exists(n.startsWith))
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // catch-all, not NonFatal: one query's fatal error must not lose
        // the other queries' results; same line form as Bench's FAIL
        val msg = Option(e.getMessage)
          .flatMap(_.linesIterator.nextOption()).getOrElse("")
        System.err.println(
          s"[verify] FAIL $name: ${e.getClass.getName}: $msg")
      }
      // Same hygiene as Bench: drop blocks iterative queries leave behind.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
