package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils
import scala.jdk.CollectionConverters._

/** Parquet schema inference on the DRIVER. `spark.read.parquet(paths)`
  * without a schema reads ONE footer to learn the schema, but it does so
  * in a Spark job: tens of milliseconds of scheduling for about a
  * millisecond of work, paid on every read of every file list the engine
  * already names (source tables, snapshot data and mask files, staged
  * appends). This reads the same footer here instead:
  *
  *  - the file is the one Spark's non-merging inference picks — the
  *    listed leaves (hidden `_`/`.` names dropped, the summary files
  *    kept) sorted by path, `_common_metadata` first, then `_metadata`,
  *    then the first data file;
  *  - the footer converts through `ParquetFileFormat.readSchemaFromFooter`
  *    (Spark's own row-metadata record when present, else the parquet
  *    schema) with a converter built from the session's `SQLConf` — so
  *    `nanosAsLong`, `binaryAsString`, NTZ inference and the rest read
  *    as they would in the job;
  *  - the result is made nullable, as a file-source relation makes it.
  *
  * Shapes it does not reproduce — globs, nested or partitioned
  * directories, streaming-sink output, a schema-merging session, a path
  * that cannot be listed or a footer that cannot be read — answer None,
  * and the caller lets Spark infer (and raise its own error) as before. */
object GraftParquetSchema {

  /** What `spark.read.parquet(paths: _*).schema` infers, read on the
    * driver; None where Spark must infer it itself. */
  def infer(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val sqlConf = spark.sessionState.conf
    if (paths.isEmpty || sqlConf.isParquetSchemaMergingEnabled ||
        paths.exists(p => SparkHadoopUtil.get.isGlobPath(new Path(p)))) return None
    val hadoopConf = spark.sessionState.newHadoopConf()
    scala.util.Try {
      val listed = paths.flatMap { p =>
        val path = new Path(p)
        path.getFileSystem(hadoopConf).listStatus(path).toSeq
      }
      val leaves = listed.filterNot(s =>
        HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName))
      // a streaming sink's output lists its files from its own log
      if (leaves.exists(_.isDirectory) ||
          listed.exists(_.getPath.getName == FileStreamSink.metadataDir)) None
      else {
        val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
          ParquetFileWriter.PARQUET_METADATA_FILE)
        val sorted = leaves.sortBy(_.getPath.toString)
        summaries.flatMap(n => sorted.find(_.getPath.getName == n)).headOption
          .orElse(sorted.find(s => !summaries.contains(s.getPath.getName)))
          .map { st =>
            val footer = ParquetFooterReader.readFooter(
              HadoopInputFile.fromStatus(st, hadoopConf),
              ParquetMetadataConverter.SKIP_ROW_GROUPS)
            ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, footer),
              new ParquetToSparkSchemaConverter(sqlConf)).asNullable
          }
      }
    }.toOption.flatten
  }

  /** The rows the parquet files at `paths` hold, summed from their
    * footers' row-group counts on the driver. A `count()` over parquet
    * that needs no column reads the same row-group counts, so this is
    * the same physical read-back without a Spark job. A missing file or
    * an unreadable footer throws. */
  def rowCount(spark: SparkSession, paths: Seq[String]): Long = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    paths.map { p =>
      val path = new Path(p)
      val st = path.getFileSystem(hadoopConf).getFileStatus(path)
      ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, hadoopConf),
        ParquetMetadataConverter.NO_FILTER).getBlocks.asScala.map(_.getRowCount).sum
    }.sum
  }

  /** The schema `spark.read.parquet(paths: _*)` infers, with no Spark
    * job wherever [[infer]] answers. */
  def schemaOf(spark: SparkSession, paths: String*): StructType =
    infer(spark, paths).getOrElse(spark.read.parquet(paths: _*).schema)

  /** `spark.read.parquet(paths: _*)` under the [[infer]]red schema. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    infer(spark, paths) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
}
