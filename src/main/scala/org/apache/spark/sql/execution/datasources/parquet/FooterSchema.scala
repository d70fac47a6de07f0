package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils
import scala.util.control.NonFatal

/** Driver-side schema of one Parquet file. It runs the per-file body of
  * the one-task job `spark.read.parquet` starts to infer a schema
  * (`mergeSchemasInParallel` over `SchemaMergeUtils`): the same footer
  * reader, converter flags, Hadoop conf and corrupt-file policy, with
  * no job. The footer readers are `private[parquet]`, hence this
  * one-file shim under Spark's package. */
object FooterSchema {

  /** The schema Spark would infer for `path`, or None when `path` is not
    * one existing file that Spark's listing keeps, or its footer yields
    * no schema. A glob, or a name the listing hides, is None by Spark's
    * own checks, so the rules cannot drift from Spark's. A caller falls
    * back to `spark.read.parquet` on None, which then raises Spark's
    * own error for a missing or unreadable file. */
  def ofFile(spark: SparkSession, path: String): Option[StructType] =
    try {
      val conf = spark.sessionState.conf
      val hadoopConf = spark.sessionState.newHadoopConf()
      val p = new HadoopPath(path)
      if (SparkHadoopUtil.get.isGlobPath(p) ||
          HadoopFSUtils.shouldFilterOutPathName(p.getName)) None
      else {
        val status = p.getFileSystem(hadoopConf).getFileStatus(p)
        if (!status.isFile) None
        else {
          val converter = new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = conf.isParquetBinaryAsString,
            assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
            inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
            nanosAsLong = conf.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
          val ignoreCorruptFiles =
            new FileSourceOptions(CaseInsensitiveMap(Map.empty[String, String])).ignoreCorruptFiles
          ParquetFileFormat.readParquetFootersInParallel(hadoopConf, Seq(status), ignoreCorruptFiles)
            .map(ParquetFileFormat.readSchemaFromFooter(_, converter))
            .headOption
        }
      }
    } catch {
      case NonFatal(_) => None
    }
}
