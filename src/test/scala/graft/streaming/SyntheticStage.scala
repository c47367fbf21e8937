package graft.streaming

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit}

/** A stage zone written straight to disk, without ingest: rows `0 until n`
  * with the declared [[StreamingIngest.stageReadSchema]] (`recordId`
  * `r-<id>`, `deviceid` the id, year 2023, month 03), the given `day` and
  * `batch_id` columns, `fill` for other fields and NULL for the rest. */
object SyntheticStage {
  def write(spark: SparkSession, paths: StreamingIngest.Paths, n: Long,
      day: Column, batchId: Column, fill: Map[String, Column] = Map.empty): Unit =
    spark.range(n).select(StreamingIngest.stageReadSchema.fields.toSeq.map { f =>
      (f.name match {
        case "recordId" => concat(lit("r-"), col("id"))
        case "deviceid" => col("id").cast("int")
        case "year" => lit("2023")
        case "month" => lit("03")
        case "day" => day
        case "batch_id" => batchId
        case other => fill.getOrElse(other, lit(null)).cast(f.dataType)
      }).as(f.name)
    }: _*).write.partitionBy("year", "month", "day", "batch_id").parquet(paths.stage)
}
