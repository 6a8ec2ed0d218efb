package graft.schema

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftParquetSchema

/** Loaders for the driver-provided analytic tables at
  * /root/testdata/sf&#42; (TESTDATA.md / FIXTURES.md B). Centralizing the
  * reads keeps scan-level concerns (column pruning via select-at-source,
  * the events nanosecond-timestamp normalization) in one place. Every
  * read takes its schema from the footer on the driver
  * ([[GraftParquetSchema]]), so loading a table runs no Spark job.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, dir)
      case other    => GraftParquetSchema.read(spark, s"$dir/$other.parquet")
    }

  /** events.parquet's ts arrives in whatever physical form the generator
    * last chose; normalize every variant to a session-TZ TimestampType so
    * downstream `unix_micros`/`withWatermark` always analyze:
    *   - TIMESTAMP(NANOS): Spark has no nanos type; with
    *     spark.sql.legacy.parquet.nanosAsLong (set by [[graft.Sessions]])
    *     it surfaces as a long we floor-divide to micros — the same
    *     truncation DuckDB applies, so oracle comparisons agree.
    *   - timestamp[us] without timezone: Spark infers TIMESTAMP_NTZ, which
    *     `unix_micros` and event-time watermarks reject. The session runs
    *     UTC, so the NTZ→TIMESTAMP cast is value-preserving vs DuckDB's
    *     naive read of the same file.
    */
  /** Widen a narrow scan to the session's default parallelism before
    * CPU-heavy per-row work. The local testdata files are single-row-group
    * parquet (one non-splittable partition), which would serialize e.g.
    * signature computation onto one core; on a real corpus the scan has
    * splits >= cores and this is a no-op.
    *
    * Split width is estimated from the source files' sizes against
    * spark.sql.files.maxPartitionBytes — a metadata-only probe. (The
    * previous `df.rdd.getNumPartitions` probe was exact but built the
    * whole RDD conversion plan eagerly on every call; for a non-file
    * relation, where no file estimate exists, that remains the fallback.)
    */
  def parallelized(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val files = df.inputFiles
    val splits =
      if (files.isEmpty) df.rdd.getNumPartitions.toLong
      else {
        val maxBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
          spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
        inputFileSizes(df).map(len =>
          math.max(1L, (len + maxBytes - 1) / maxBytes)).sum
      }
    if (splits < target) df.repartition(target) else df
  }

  /** Sizes of `df.inputFiles`, batched ONE `listStatus` PER PARENT
    * DIRECTORY instead of a `getFileStatus` RPC per file: on a table with
    * millions of files the per-file loop is a driver stall (guide §6
    * metadata costs); a directory listing returns every child's status in
    * one round trip. Files whose parent listing misses them (raced
    * deletes) fall back to the direct probe. */
  def inputFileSizes(df: DataFrame): Seq[Long] = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    df.inputFiles.toSeq.groupBy(f =>
        new org.apache.hadoop.fs.Path(f).getParent).toSeq.flatMap {
      case (parent, children) =>
        val fs = parent.getFileSystem(conf)
        val listed = fs.listStatus(parent)
          .map(s => s.getPath.toUri.getPath -> s.getLen).toMap
        children.map { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          listed.getOrElse(p.toUri.getPath, fs.getFileStatus(p).getLen)
        }
    }
  }

  /** Staleness key for session-memoized derivations of a source table
    * (trained models, materialized code tables): dir + the (name, length,
    * mtime) set of the table's parquet parts, hashed — the poor-man's
    * snapshot id of a table that has no [[graft.table.SnapshotLog]].
    * Regenerating the source mid-session changes the fingerprint, so the
    * next consumer rebuilds instead of serving stale state. */
  def fingerprint(spark: SparkSession, dir: String, name: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts =
      if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).toSeq
      else Seq(fs.getFileStatus(p))
    val sig = parts.map(f =>
        s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
      .sorted.mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|$sig".getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
  }

  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = GraftParquetSchema.read(spark, s"$dir/events.parquet")
    raw.schema("ts").dataType.typeName match {
      case "long"          => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case "timestamp_ntz" => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _               => raw
    }
  }
}
