package graft.tools

/** Subprocess half of the CROSS-PROCESS optimistic-concurrency race test
  * (OccSpec "two separate JVMs"): a second JVM — its own Spark session,
  * its own [[graft.table.LogStore]] instance, nothing shared but the
  * filesystem — appends batches to a table while the test JVM runs
  * compaction against it. Every commit the two processes race goes
  * through the same kernel-atomic no-clobber publish, so a lost race
  * here is the real multi-writer case, not a thread-scheduler artifact;
  * [[graft.table.SnapshotLog.commitPinned]]'s rebase must keep BOTH
  * writers landing without mutual aborts.
  *
  * args: tableDir goFile nBatches rowsPerBatch idBase
  * stdout: one `APPEND <batch> <rows>` line per committed batch, then
  * `DONE <totalRows>`.
  */
object OccRace {
  def main(args: Array[String]): Unit = {
    val Array(tableDir, goFile, nBatches, rowsPerBatch, idBase) = args.take(5)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .appName("graft-occ-race")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.warehouse.dir", graft.schema.Fixtures.dir("occ-race-wh"))
      .getOrCreate()
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (!new java.io.File(goFile).exists()) {
        if (System.currentTimeMillis() > deadline) sys.exit(3)
        Thread.sleep(1)
      }
      val n = nBatches.toInt
      val per = rowsPerBatch.toLong
      val base = idBase.toLong
      var total = 0L
      for (b <- 0 until n) {
        import org.apache.spark.sql.functions._
        spark.range(base + b * per, base + (b + 1) * per)
          .select(col("id"), (col("id") * 2).as("v")).coalesce(1)
          .write.format("graft").mode("append")
          .option("statsCols", "id").save(tableDir)
        total += per
        println(s"APPEND $b $per")
      }
      println(s"DONE $total")
    } finally spark.stop()
  }
}
