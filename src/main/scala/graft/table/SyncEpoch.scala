package graft.table

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** CROSS-TABLE atomic publish — the "sync epoch" the 4-table CDC fan-out
  * needs for multi-table consistency. Each table's own commit is atomic,
  * but a reader joining orders ⋈ order_items while a fan-out is mid-
  * flight can see table A's new snapshot with table B's old one (the
  * torn-state window the reference's verify stage can only detect after
  * the fact: /root/reference/airflow/dags/cdc_auto_sync_every_5min.py:
  * 117-184 reads back an already-visible warehouse). An EPOCH closes it
  * with one more atomic file (the multi-table WAP / Iceberg-catalog
  * atomic-swap school):
  *
  *   warehouseDir/_graft_epochs/<20-digit>.json
  *     {"epoch": N, "ts_ms": …, "tables": {"orders": {"dir":
  *       "orders_parquet", "snapshot": 7}, …}}
  *
  * The marker maps every table to ONE pinned snapshot id and publishes
  * through the same [[LogStore.putIfAbsent]] primitive as a table
  * commit — readers resolving "the current epoch" get ALL tables' pins
  * or none of them. The publish ordering makes every crash window safe
  * for epoch readers:
  *
  *  1. stage every table's sync invisibly (WAP — no reader sees it);
  *  2. publish each table's staged append (per-table atomic commits —
  *     PLAIN latest-snapshot readers may now see a torn combination,
  *     exactly as before; epoch readers still resolve the old marker);
  *  3. publish ONE epoch marker naming the committed snapshot ids —
  *     the instant the whole fan-out becomes visible as a unit.
  *
  * A crash after (2) leaves committed-but-unmarked snapshots: epoch
  * readers keep joining the previous epoch's consistent pins; the next
  * successful fan-out's marker covers the orphaned commits. Nothing is
  * ever rolled back, so the recovery story is the snapshot log's own.
  *
  * Readers: [[readAt]] resolves a table AT its pinned snapshot via
  * ordinary time travel — so epochs compose with every read face (masks,
  * registries, pruning) for free, and retention must simply outlive
  * epoch consumption (an expired pin fails loudly through the snapshot
  * log's missing-id check, never silently reads newer data).
  */
object SyncEpoch {

  private val mapper = new ObjectMapper()

  final case class TablePin(dir: String, snapshot: Long)

  private def epochRoot(warehouseDir: String) =
    new Path(s"$warehouseDir/_graft_epochs")

  private def markerPath(warehouseDir: String, epoch: Long): Path =
    new Path(epochRoot(warehouseDir), f"$epoch%020d.json")

  private def fsOf(spark: SparkSession, warehouseDir: String): FileSystem =
    new Path(warehouseDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed epoch ids, ascending. */
  def epochs(spark: SparkSession, warehouseDir: String): Seq[Long] = {
    val fs = fsOf(spark, warehouseDir)
    val root = epochRoot(warehouseDir)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && !n.startsWith("."))
      .map(_.stripSuffix(".json"))
      // strictly numeric names only: a stray file in _graft_epochs must
      // not throw NumberFormatException for every reader
      .filter(_.forall(_.isDigit)).filter(_.nonEmpty)
      .map(_.toLong).sorted
  }

  def currentEpoch(spark: SparkSession, warehouseDir: String): Option[Long] =
    epochs(spark, warehouseDir).lastOption

  /** Publish the next epoch marker pinning `tables` (name → snapshot id;
    * table dirs follow the warehouse `<name>_parquet` convention unless
    * given explicitly via [[publishPins]]). Atomic: a racing publisher
    * loses the id and retries onto the next — both markers remain
    * internally consistent since each names snapshots that were durable
    * before its publish. Returns the epoch id. */
  def publish(spark: SparkSession, warehouseDir: String,
              tables: Map[String, Long]): Long =
    publishPins(spark, warehouseDir,
      tables.map { case (t, id) => t -> TablePin(s"${t}_parquet", id) })

  def publishPins(spark: SparkSession, warehouseDir: String,
                  pins: Map[String, TablePin], maxRetries: Int = 5): Long = {
    require(pins.nonEmpty, "an epoch must pin at least one table")
    val fs = fsOf(spark, warehouseDir)
    fs.mkdirs(epochRoot(warehouseDir))
    var attempt = 0
    while (true) {
      val prev = currentEpoch(spark, warehouseDir)
      val id = prev.getOrElse(0L) + 1
      // monotonicity: two concurrent fan-outs over one warehouse publish
      // in some order, and the later epoch id must never pin a table to
      // an OLDER snapshot than the earlier one did ("current epoch"
      // readers would regress). Per table, carry the prior marker's pin
      // forward when it is newer — recomputed inside the retry loop so a
      // lost id race re-reads the marker that beat us.
      val priorPins = prev.map(e => this.pins(spark, warehouseDir, Some(e)))
        .getOrElse(Map.empty)
      val effective = pins.map { case (t, pin) =>
        t -> (priorPins.get(t) match {
          case Some(p) if p.dir == pin.dir && p.snapshot > pin.snapshot => p
          case _ => pin
        })
      }
      val root: ObjectNode = mapper.createObjectNode()
      root.put("epoch", id)
      root.put("ts_ms", System.currentTimeMillis())
      val tn = root.putObject("tables")
      effective.toSeq.sortBy(_._1).foreach { case (t, pin) =>
        val n = tn.putObject(t)
        n.put("dir", pin.dir); n.put("snapshot", pin.snapshot)
      }
      val won = LogStore.putBytesIfAbsent(fs, markerPath(warehouseDir, id),
        mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
      if (won) return id
      attempt += 1
      if (attempt > maxRetries) throw new SnapshotLog.ConcurrentCommitException(
        s"epoch publish on $warehouseDir kept losing the id race")
    }
    throw new IllegalStateException("unreachable")
  }

  /** The pinned (dir, snapshot) per table of an epoch (current when
    * None). Throws on an unknown epoch id. */
  def pins(spark: SparkSession, warehouseDir: String,
           epoch: Option[Long] = None): Map[String, TablePin] = {
    val fs = fsOf(spark, warehouseDir)
    val id = epoch.getOrElse(currentEpoch(spark, warehouseDir).getOrElse(
      throw new IllegalArgumentException(
        s"no sync epoch published under $warehouseDir")))
    val p = markerPath(warehouseDir, id)
    require(fs.exists(p), s"epoch $id of $warehouseDir does not exist " +
      s"(published: ${epochs(spark, warehouseDir).mkString(",")})")
    val in = fs.open(p)
    val node: JsonNode = try mapper.readTree(in) finally in.close()
    import scala.jdk.CollectionConverters._
    node.get("tables").fields().asScala.map { e =>
      e.getKey -> TablePin(e.getValue.get("dir").asText(),
        e.getValue.get("snapshot").asLong())
    }.toMap
  }

  /** Read one table AT an epoch's pinned snapshot — ordinary time travel
    * under the hood, so masks/registries/pruning all apply. None when
    * the pinned snapshot held no data. Throws when the epoch does not
    * pin the table or retention expired the pinned snapshot (loud,
    * never silently newer). */
  def readAt(spark: SparkSession, warehouseDir: String, table: String,
             epoch: Option[Long] = None): Option[DataFrame] = {
    val pin = pins(spark, warehouseDir, epoch).getOrElse(table,
      throw new IllegalArgumentException(
        s"epoch ${epoch.fold("current")(_.toString)} of $warehouseDir " +
          s"does not pin table $table"))
    SnapshotLog.read(spark, s"$warehouseDir/${pin.dir}",
      asOf = Some(pin.snapshot))
  }
}
