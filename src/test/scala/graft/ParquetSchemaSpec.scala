package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftParquetSchema
import org.scalatest.funsuite.AnyFunSuite

import graft.schema.Tables
import graft.table.SnapshotLog

/** Driver-side parquet schema inference ([[GraftParquetSchema]]): the
  * schema equals what `spark.read.parquet(...)` infers in its job — for
  * the test data tables, for Spark-written directories and file lists,
  * and for files some other writer produced (no Spark schema record,
  * required fields, nanosecond timestamps) — and the table loaders that
  * use it run no Spark job. */
class ParquetSchemaSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local("4", "parquet-schema-spec")
  private val sf = new EntrySpec().sf // the shared sf0.001 test data

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-pqschema-$tag").toString

  private def sameAsSpark(paths: String*): Unit =
    assert(GraftParquetSchema.infer(spark, paths) ===
      Some(spark.read.parquet(paths: _*).schema), paths.mkString(", "))

  /** Spark jobs started while `body` runs, counted by job group. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"pqschema-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "job count probe")
    try { body; Thread.sleep(800) } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
    jobs.get()
  }

  /** The details of every stage started while `body` runs that runs
    * Spark's parquet schema inference (`mergeSchemasInParallel`). Spark
    * records a job's call site from the outermost Spark frame, so the
    * inference job's details name the reader call that started it,
    * `DataFrameReader.parquet`, on their first line: a reader given a
    * schema starts no job, so that frame marks inference. */
  private def inferenceStagesOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"pqinfer-${System.nanoTime}"
    val found = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
        val d = s.stageInfo.details
        if (Option(s.properties).exists(_.getProperty("spark.jobGroup.id") == group) &&
            (d.contains("mergeSchemasInParallel") ||
              d.linesIterator.nextOption().exists(_.contains("DataFrameReader.parquet("))))
          found.add(d)
      }
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "inference probe")
    try { body; Thread.sleep(800) } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
    found.toArray(Array.empty[String]).toSeq
  }

  test("test data tables: the footer schema is the one Spark infers") {
    val tables = new java.io.File(sf).list().filter(_.endsWith(".parquet")).sorted
    assert(tables.contains("events.parquet") && tables.length >= 10)
    tables.foreach(t => sameAsSpark(s"$sf/$t"))
    // the loaders read the same columns as a plain read (events normalized)
    assert(Tables(spark, sf, "orders").schema ===
      spark.read.parquet(s"$sf/orders.parquet").schema)
    assert(Tables(spark, sf, "events").schema("ts").dataType.typeName === "timestamp")
  }

  test("Spark-written directories and file lists: the file Spark's inference picks") {
    val dir = tmp("spark")
    // a directory of several part files plus _SUCCESS and .crc siblings
    spark.range(0, 100).select(col("id"), (col("id") * 2).as("v"),
        array(col("id")).as("a"), map(col("id"), col("v")).as("m"),
        struct(col("id").as("x")).as("s"))
      .repartition(3).write.parquet(s"$dir/multi")
    sameAsSpark(s"$dir/multi")
    // a file list whose files disagree: both faces take the first by path
    spark.range(0, 5).write.parquet(s"$dir/a")
    spark.range(0, 5).select(col("id"), lit("x").as("extra")).write.parquet(s"$dir/b")
    def parts(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
    val files = parts(s"$dir/b") ++ parts(s"$dir/a")
    sameAsSpark(files: _*)
    sameAsSpark(files.reverse: _*)
    // a partitioned layout is left to Spark, which appends the partition column
    spark.range(0, 10).select(col("id"), (col("id") % 2).as("p"))
      .write.partitionBy("p").parquet(s"$dir/parted")
    assert(GraftParquetSchema.infer(spark, Seq(s"$dir/parted")) === None)
    assert(GraftParquetSchema.schemaOf(spark, s"$dir/parted") ===
      spark.read.parquet(s"$dir/parted").schema)
    // a missing path keeps Spark's own error
    assert(GraftParquetSchema.infer(spark, Seq(s"$dir/missing")) === None)
    intercept[org.apache.spark.sql.AnalysisException](
      GraftParquetSchema.read(spark, s"$dir/missing"))
  }

  test("files without Spark's schema record convert through the session's SQLConf") {
    val dir = tmp("foreign")
    val schema = MessageTypeParser.parseMessageType(
      """message foreign {
        |  required int64 id;
        |  optional binary name (UTF8);
        |  required int32 day (DATE);
        |  required int64 ts_nanos (TIMESTAMP(NANOS,true));
        |  optional int64 ts_micros (TIMESTAMP(MICROS,true));
        |  required group inner { required int32 x; optional double y; }
        |}""".stripMargin)
    val file = s"$dir/foreign.parquet"
    val conf = spark.sessionState.newHadoopConf()
    val writer = ExampleParquetWriter.builder(new Path(file))
      .withConf(conf).withType(schema).build()
    try {
      val g = new SimpleGroupFactory(schema).newGroup()
        .append("id", 7L).append("name", "seven").append("day", 19000)
        .append("ts_nanos", 1700000000123456789L).append("ts_micros", 1700000000123456L)
      g.addGroup("inner").append("x", 1).append("y", 2.5)
      writer.write(g)
    } finally writer.close()
    sameAsSpark(file)
    val inferred = GraftParquetSchema.infer(spark, Seq(file)).get
    // nanos-as-long (the events table's physical form), everything nullable
    assert(inferred("ts_nanos").dataType.typeName === "long")
    assert(inferred.fields.forall(_.nullable))
    assert(GraftParquetSchema.read(spark, file).collect().head.getLong(0) === 7L)
  }

  test("table loads and staged-append audits run no Spark job") {
    Tables(spark, sf, "documents") // warm: class loading, codegen caches
    assert(jobsOf(Tables(spark, sf, "documents")) === 0)
    assert(jobsOf(Tables(spark, sf, "events")) === 0)
    import spark.implicits._
    val dir = tmp("staged") + "/t"
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData((1 to 5).map(k => (k.toLong, "base")).toDF("id", "v")
        .coalesce(1), dir, statsCol = Some("id")))
    val token = SnapshotLog.stageAppend(
      (6 to 8).map(k => (k.toLong, "staged")).toDF("id", "v").coalesce(1),
      dir, statsCol = Some("id"))
    var staged: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { staged = SnapshotLog.readStagedOnly(spark, dir, token) } === 0)
    assert(staged.count() === 3)
  }

  test("materializing masks and lineage merges take key columns and schemas from footers") {
    import spark.implicits._
    import graft.table.Merge
    val dir = tmp("noinfer") + "/t"
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData((1 to 20).map(k => (k, s"v$k")).toDF("id", "v")
        .coalesce(1), dir, statsCol = Some("id")))
    // a drifted epoch: the key widens to long and a column is added
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData((21 to 30).map(k => (k.toLong, s"v$k", k * 2))
        .toDF("id", "v", "w").coalesce(1), dir, statsCol = Some("id")))
    // the probe sees the inference a plain parquet read runs
    assert(inferenceStagesOf(
      spark.read.parquet(SnapshotLog.filesAt(spark, dir).head.path).columns).nonEmpty)
    // a lineage merge reads every touched seq group under the merged schema
    val lineage = inferenceStagesOf(Merge.applyChanges(spark, dir,
      Seq((5L, "upd", 0), (25L, "upd", 0)).toDF("id", "v", "w"), "id",
      deleteCol = None, lineage = true))
    Merge.mergeOnRead(spark, dir, Seq((7L, "mor", 1)).toDF("id", "v", "w"), "id")
    // the equality masks' key column comes from their footers
    val materialize = inferenceStagesOf(Merge.materializeDeletes(spark, dir))
    assert(lineage.isEmpty, lineage.mkString("\n\n"))
    assert(materialize.isEmpty, materialize.mkString("\n\n"))
    val back = SnapshotLog.read(spark, dir).get
    assert(back.count() === 30)
    assert(back.filter($"v" === "upd" || $"v" === "mor").select("id").as[Long]
      .collect().sorted.toSeq === Seq(5L, 7L, 25L))
  }
}
