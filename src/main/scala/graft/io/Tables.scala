package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema

/** The one path by which the catalog opens a Parquet table.
  *
  * `spark.read.parquet` on a single file starts a one-task Spark job
  * just to read that file's footer for the schema; on a catalog of
  * sub-second queries that fixed per-job cost is a large share of the
  * run. For a single file this reads the footer on the driver instead
  * ([[FooterSchema]]) and opens the file with that schema, so the
  * DataFrame is the one `spark.read.parquet` returns, without the job.
  *
  * Anything [[FooterSchema.ofFile]] does not take (a directory, a
  * glob, a name Spark's listing hides, a missing file, a footer that
  * yields no schema) goes to plain `spark.read.parquet`, so Spark's
  * own behaviour and errors stay. No schema is cached, so none can go
  * stale. */
object Tables {

  def parquet(spark: SparkSession, path: String): DataFrame =
    FooterSchema.ofFile(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The catalog table `name` of the scale-factor dir `dir`. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")
}
