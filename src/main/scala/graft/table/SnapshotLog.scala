package graft.table

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{GraftFileResult, GraftParquetSchema, GraftWriteShim, GraftWriteSpecs}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Minimal snapshot/table-format layer over a parquet directory — the
  * capability the reference *installs but never uses*: its Docker image
  * ships the Iceberg runtime jar (/root/reference/docker/glue/
  * Dockerfile:40-41), pip-installs pyiceberg (:53) and threads an
  * `--iceberg_warehouse` arg through every job (run_pipeline.sh:145), yet
  * every write is a bare `mode("append").parquet(...)` with no atomic
  * commit, no isolation and no history. This object supplies that missing
  * layer with the standard log-structured design (Iceberg snapshots /
  * Delta commit log — both published designs):
  *
  *   tableDir/
  *     data/<uuid>/part-*.parquet   immutable data files, one dir per commit
  *     _graft_log/<20-digit-id>.json   one manifest per commit
  *
  * A manifest records the files ADDED and the files REMOVED by that
  * commit; the live file set at snapshot N is the log replayed from 1 to
  * N. Everything follows from three invariants:
  *
  *  1. **Data files are immutable and invisible until committed.** A
  *     writer stages parquet under a fresh `data/<uuid>/` dir; a crash
  *     before the manifest lands leaves garbage that no reader ever
  *     lists, because readers resolve file PATHS from manifests — they
  *     never list `data/`.
  *  2. **A commit is one atomic file creation.** The manifest is written
  *     to a dot-temp name and published at `<id>.json` through the
  *     scheme's [[LogStore]] primitive (hard link on file:, no-clobber
  *     rename on HDFS, CAS-guarded conditional put on object stores); an
  *     existing target means another writer won id — the loser gets
  *     [[ConcurrentCommitException]] and retries against the new state
  *     (optimistic concurrency, the Delta LogStore contract).
  *  3. **Readers pin a snapshot, not a directory.** The file list is
  *     resolved once per query from committed manifests only, so a
  *     concurrent commit (append, compaction, expiry of OTHER snapshots)
  *     never changes a running query's input — snapshot isolation without
  *     any lock.
  *
  * What this buys at 100 TB:
  *  - **time travel** ([[read]] with `asOf`): any retained snapshot is a
  *    full, consistent table version at zero storage cost beyond the
  *    delta (file sets share unchanged files structurally).
  *  - **snapshot-diff incremental consumption** ([[diff]]): the delta
  *    between two syncs is just the files added by intervening `append`
  *    commits — an incremental consumer reads ONLY new data, and a
  *    `replace` (compaction) commit is invisible to it because a rewrite
  *    adds no logical rows. No more full-table rescans to find "what's
  *    new".
  *  - **manifest-level pruning**: each added file carries row count plus
  *    per-column min/max zones (and optional blooms and partition-value
  *    sets), so key-, offset- or time-bounded reads skip whole files from
  *    metadata alone — the manifest is a zone map ([[filesAt]] exposes
  *    it; [[readPruned]] applies it through [[Constraints]]).
  *  - **safe compaction**: [[graft.cdc.Compaction]] commits `replace`
  *    manifests through this protocol instead of swapping directories —
  *    readers of any pinned snapshot are unaffected mid-rewrite.
  */
object SnapshotLog {

  final class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

  /** One immutable file plus its manifest-level stats. `stats` maps each
    * recorded zone column to its (min, max) in the column's long domain
    * (empty when none was requested at write time). `kind` is `data` (table
    * rows) or `eqdelete` (an equality-delete file: single-column key set
    * whose rows MASK older data rows — the merge-on-read path). `seq` is
    * the file's data sequence number = the snapshot id that first added
    * it (stamped by [[commitAt]]); a delete file applies only to data
    * files with a STRICTLY SMALLER seq, which is what lets a re-insert
    * after a delete survive (the Iceberg sequence-number rule). */
  /** `nulls`: per-ZONE-column NULL counts (recorded alongside min/max
    * since r11, absent on older manifests — consumers must treat a
    * missing entry as "unknown", never as zero). Zones are min/max over
    * NON-null values, so a range containment proof alone cannot clear a
    * file of null rows; the null count is what lets a predicate-covered
    * file be dropped METADATA-ONLY by SQL DELETE (nulls fail every SQL
    * comparison, so a file with any would wrongly lose them). */
  /** `sortedBy` (r14): the PHYSICAL column this file's rows ascend by
    * (nulls first) — stamped by writers whose arrangement provably
    * produced the order (the Iceberg sort-order-id posture: the writer
    * that performed the sort is the authority; no read-back can verify
    * order cheaply). Consumed by the V2 scan's SupportsReportOrdering
    * so co-located bucket joins drop their per-task Sort. Absent on
    * pre-r14 manifests = unknown, never "unsorted". */
  final case class DataFile(path: String, rows: Long, bytes: Long,
                            kind: String = "data", seq: Long = 0L,
                            stats: Map[String, (Long, Long)] = Map.empty,
                            blooms: Map[String, String] = Map.empty,
                            parts: Map[String, Seq[String]] = Map.empty,
                            nulls: Map[String, Long] = Map.empty,
                            sortedBy: Option[String] = None)

  /** Cap on distinct partition values recorded per file per column: a
    * file that genuinely belongs to a partitioned layout holds one (or
    * few) values; past the cap the column is clearly not partitioning
    * this file, so nothing is recorded and pruning keeps it
    * (conservative — pruning may only skip, never lose). */
  val MaxPartValuesPerFile: Int = 8

  /** Manifest key of a file's BUCKET id for a `bucket(n, col)`
    * clustered layout — a synthetic partition-value entry (the Iceberg
    * bucket-transform posture): `bucket(8,o_custkey)` records the set
    * of [[bucketIdExpr]] values (hashed residues) the file holds.
    * Written by bucketed writers, consumed by the V2 scan's
    * storage-partitioned-join reporting; inert for ordinary column
    * predicates. */
  val BucketKeyPattern = """bucket\((\d+),(.+)\)""".r

  /** FORMULA-VERSIONING CONTRACT: the values recorded under this key
    * are [[bucketIdExpr]] outputs. Any future change to that formula
    * MUST also change this key's NAME — re-recording a new formula
    * under the old key would let two mixed-era tables both report the
    * same transform and silently drop matches from a storage-
    * partitioned join. */
  def bucketPartKey(n: Int, col: String): String =
    s"bucket($n,$col)"

  /** Is `dt` a type the modulo-bucket layout accepts? Integrals take
    * the residue `pmod(cast(col AS long), n)`; STRINGS (r14 — uuid /
    * natural keys) hash through the shared xxhash64 first
    * (`pmod(xxhash64(col), n)` — SQL twin of [[hashStringKey]]), so
    * string-keyed tables co-locate too. Other types stay refused: a
    * lossy cast would silently collapse every insert into one bucket. */
  private[graft] def bucketable(dt: org.apache.spark.sql.types.DataType): Boolean =
    GraftWriteShim.bucketTagOf(dt).isDefined

  /** The shared residue of a bucket key — the ONE expression both the
    * write-side partitioner and the recorded id hash: integrals
    * `pmod(cast(col AS long), n)` (null key → null residue); strings
    * `pmod(xxhash64(col), n)` (xxhash64 of a null is its seed, 42 — a
    * null string key lands in the NON-null residue `pmod(42, n)`).
    * [[graft.connector.GraftBucketFunction]] mirrors both branches
    * byte-for-byte. */
  private def bucketResidueExpr(c: org.apache.spark.sql.Column,
                                isString: Boolean, n: Int)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    if (isString) pmod(xxhash64(c), lit(n.toLong))
    else pmod(c.cast("long"), lit(n.toLong))
  }

  /** The ONE write-side bucket arrangement every bucketed writer shares
    * (V1 `bucketBy` option, SQL INSERT inheritance, staged CTAS, COW
    * DML rewrites, compaction): HASH-repartition on the modulo residue.
    * Every row of output partition p then satisfies
    * `pmod(hash(pmod(k, n)), n) == p` BY CONSTRUCTION (the partitioner
    * and [[bucketIdExpr]] compute the identical Murmur3 of the identical
    * residue), so each file provably holds ONE bucket id regardless of
    * skew or data size — a range partition would merge residues whenever
    * sampling or weight-balancing said so, silently flipping the
    * storage-partitioned-join proof off. The formula lives HERE and in
    * [[graft.connector.GraftBucketFunction]] (the engine-facing twin)
    * and nowhere else. */
  private[graft] def bucketArrange(df: DataFrame, col0: String, n: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    val isString = df.schema.fields
      .find(_.name.equalsIgnoreCase(col0))
      .exists(_.dataType == org.apache.spark.sql.types.StringType)
    // the local key sort after the shuffle is what lets every bucketed
    // file record `sortedBy` — the SMJ over co-located buckets then
    // drops its per-task Sort (SupportsReportOrdering); the sort is
    // in-partition only, no extra exchange
    df.repartition(n, bucketResidueExpr(col(col0), isString, n))
      .sortWithinPartitions(col(col0))
  }

  /** The bucket ID of a row — `pmod(hash(residue), n)`, where `hash` is
    * Spark's own Murmur3 (seed 42) and the residue is
    * [[bucketResidueExpr]]: exactly the partition id [[bucketArrange]]'s
    * hash-repartition assigns, which is what makes the per-file recorded
    * set a singleton by construction. `isString` selects the string
    * residue branch — callers dispatch on the COLUMN's type. */
  private[graft] def bucketIdExpr(col0: org.apache.spark.sql.Column, n: Int,
                                  isString: Boolean = false)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{hash, lit, pmod}
    pmod(hash(bucketResidueExpr(col0, isString, n)), lit(n))
  }

  /** Commit-summary key persisting a CREATE TABLE–declared lineage key
    * (`OPTIONS (lineageKey 'id')`) in the LOG itself: the catalog-carried
    * declaration is invisible to faces that bypass the session catalog
    * (the V2 TableCatalog), and without this a V2 UPDATE on a declared-
    * but-not-yet-bootstrapped table would silently commit a lineage-less
    * rewrite and downgrade the change feed. */
  val LineageDeclaredKey: String = "lineage_declared"

  /** Commit-summary key carrying the table's DURABLE user properties as
    * a JSON object (the Delta school: TBLPROPERTIES live in the table's
    * own metadata, not in any one engine's catalog) — written at V2
    * CREATE/CTAS and by `ALTER TABLE … SET/UNSET TBLPROPERTIES`, read by
    * EVERY face (`posDeletes`, `lineageKey`, SHOW TBLPROPERTIES), so
    * behavior-bearing properties can never differ between two catalogs
    * pointed at one table. Resolution: the NEWEST commit carrying the
    * key holds the complete current map. */
  val TablePropsKey: String = "graft_props"

  /** Is this commit a whole-table REDEFINITION (V2 `REPLACE TABLE`)?
    * Durable metadata older than it is dead: REPLACE redefines the
    * table, so property/lineage resolution never scans past one.
    * Compaction's `replace` op and INSERT OVERWRITE keep metadata — only
    * the explicit redefinition cuts. */
  private def isRedefinition(c: Commit): Boolean =
    c.summary.get("mode").contains("replace-table")

  /** Newest summary value for `key`, scanning back only to the most
    * recent whole-table redefinition. */
  private[graft] def newestSummary(spark: SparkSession, tableDir: String,
                                   key: String): Option[String] =
    commitsReverse(spark, tableDir)
      .find(c => c.summary.contains(key) || isRedefinition(c))
      .flatMap(_.summary.get(key))

  // memo: one durable-metadata resolution per (table, head snapshot) —
  // properties()/DML calls between commits are cache hits; any commit
  // moves the head and naturally invalidates. One entry per table dir.
  // The cached value is keyed by an INCARNATION token (head id + the head
  // manifest's mtime/length), not the head id alone: a DROP + recreate
  // that reproduces the same head id (both tables at snapshot 1) must
  // never serve the dead table's properties — and the head-id key alone
  // has an ABA race where a scan of the OLD table is put() after the
  // recreate (dropTable's invalidation can't help; the stale put lands
  // after it). Manifests are immutable once published, so the token is
  // stable within one incarnation and differs across them.
  private val durableMetaCache = scala.collection.concurrent.TrieMap
    .empty[String, ((Long, Long), (Option[String], Option[String], Map[String, String]))]

  /** (head id, head-manifest mtime ^ length) — the incarnation identity
    * a durableMeta memo entry is valid for. A missing manifest (mid-drop,
    * not-a-table) tokens as (head, -1), which never matches a real one. */
  private def metaToken(spark: SparkSession, tableDir: String): (Long, Long) = {
    val head = currentSnapshotId(spark, tableDir).getOrElse(0L)
    if (head == 0L) (0L, -1L)
    else try {
      val st = fsOf(spark, tableDir).getFileStatus(manifestPath(tableDir, head))
      (head, st.getModificationTime ^ (st.getLen << 20))
    } catch { case _: java.io.IOException => (head, -1L) }
  }

  /** ONE backward scan resolving every durable-metadata question a DML
    * statement asks — (history lineage key, log-declared lineage key,
    * durable properties) — each independently bounded by the newest
    * whole-table redefinition, MEMOIZED per (dir, head incarnation) so a
    * statement never pays repeated O(retained-history) walks; a table
    * with none of the keys walks its retained manifests once per head
    * (bounded by retention). */
  private[graft] def durableMeta(spark: SparkSession, tableDir: String)
      : (Option[String], Option[String], Map[String, String]) = {
    val token = metaToken(spark, tableDir)
    durableMetaCache.get(tableDir) match {
      case Some((t, r)) if t == token && t._2 != -1L => return r
      case _ => ()
    }
    val r = durableMetaScan(spark, tableDir)
    // re-read the incarnation AFTER the scan: if the table was dropped /
    // recreated / committed to underneath us, the scan's result belongs
    // to a dead incarnation — serve it to THIS caller but don't memoize
    if (metaToken(spark, tableDir) == token)
      durableMetaCache.put(tableDir, (token, r))
    r
  }

  private def durableMetaScan(spark: SparkSession, tableDir: String)
      : (Option[String], Option[String], Map[String, String]) = {
    var lineage: Option[Option[String]] = None   // Some(found-or-dead)
    var declared: Option[Option[String]] = None
    var props: Option[Map[String, String]] = None
    val it = commitsReverse(spark, tableDir)
    while (it.hasNext &&
        (lineage.isEmpty || declared.isEmpty || props.isEmpty)) {
      val c = it.next()
      if (lineage.isEmpty && c.summary.get("lineage").contains("true"))
        lineage = Some(c.summary.get("key"))
      if (declared.isEmpty && c.summary.contains(LineageDeclaredKey))
        declared = Some(c.summary.get(LineageDeclaredKey))
      if (props.isEmpty && c.summary.contains(TablePropsKey))
        props = Some(parseProps(c.summary(TablePropsKey)))
      if (isRedefinition(c)) {
        // anything not found yet is DEAD beyond this commit
        if (lineage.isEmpty) lineage = Some(None)
        if (declared.isEmpty) declared = Some(None)
        if (props.isEmpty) props = Some(Map.empty)
      }
    }
    (lineage.flatten, declared.flatten, props.getOrElse(Map.empty))
  }

  /** The table's durable properties at HEAD (empty if none declared) —
    * the memoized [[durableMeta]] pass, so repeated `properties()` /
    * DML lookups between commits cost one map hit. */
  def tableProps(spark: SparkSession, tableDir: String): Map[String, String] =
    durableMeta(spark, tableDir)._3

  private[graft] def parseProps(json: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val node = mapper.readTree(json)
    node.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
  }

  private[graft] def propsJson(props: Map[String, String]): String = {
    val root = mapper.createObjectNode()
    props.toSeq.sortBy(_._1).foreach { case (k, v) => root.put(k, v) }
    mapper.writeValueAsString(root)
  }

  /** One committed manifest. `op` is `append` (new logical rows) or
    * `replace` (rewrite: same logical rows, new physical layout).
    * `added`/`removed` are this commit's DELTA — and since format v2
    * that is ALL a manifest holds, so commit bytes are O(delta)
    * regardless of table size (the round-9 format serialized the full
    * live list into every manifest: O(total files) per commit, ~100 MB
    * at a million files). The complete live set at a snapshot is
    * resolved by [[filesAt]] from the nearest CHECKPOINT at or below it
    * plus the few delta manifests after it — the Delta-log
    * `_last_checkpoint` / Iceberg manifest-list school:
    *
    *   _graft_log/<id>.json              delta manifest (added/removed)
    *   _graft_log/<id>.checkpoint.json   full live set at <id>, written
    *                                     every [[CheckpointInterval]]
    *                                     commits and at every retention
    *                                     horizon move
    *   _graft_log/_last_checkpoint       {"snapshot_id": N} hint for
    *                                     one-read external entry
    *
    * Round-8-era v1 manifests (self-contained `live` array) still read:
    * resolution treats them as anchors exactly like checkpoints, so a
    * mixed-era log resolves without migration. Log-DIRECTORY listing
    * stays per-resolution but its entry count is O(retained snapshots)
    * — bounded by the expiry policy, independent of data-file count —
    * so the listing is never the scale term the live lists were. */
  final case class Commit(snapshotId: Long, op: String, added: Seq[DataFile],
                          removed: Seq[String],
                          summary: Map[String, String], tsMs: Long = 0L)

  /** Every Nth commit writes a checkpoint of the full live set. The
    * amortized commit cost is O(delta + live/N); resolution replays at
    * most N−1 delta manifests past the anchor. Delta checkpoints every
    * 10 commits by default for the same trade.
    *
    * The checkpoint itself remains the one O(live) artifact — inherent:
    * SOME file must enumerate the live set. Its FORM switches by size
    * (the Delta parquet-checkpoint school): small live sets write the
    * one-blob JSON (microsecond cost, no job overhead on the commit
    * path); past [[checkpointParquetThreshold]] live files the
    * checkpoint is written as PARQUET ROWS — one row per live file,
    * multi-part, encoded and compressed by a distributed Spark job —
    * published behind the same atomic pointer manifest, and read back
    * with Spark so a cold resolution's decode parallelizes across
    * row groups instead of parsing ~100 MB of JSON on one thread. */
  val CheckpointInterval: Long = 10L

  /** Live-file count at which checkpoints switch from one-blob JSON to
    * parquet rows. Overridable per session for tests and tuning via
    * `spark.conf.set("graft.checkpoint.parquetThreshold", n)`. */
  val DefaultCheckpointParquetThreshold: Int = 10000

  private def checkpointParquetThreshold(spark: SparkSession): Int =
    spark.conf.getOption("graft.checkpoint.parquetThreshold")
      .map(_.toInt).getOrElse(DefaultCheckpointParquetThreshold)

  /** One live file as a parquet checkpoint row. Per-column zone stats
    * ride three PARALLEL arrays (sorted by column) rather than a map of
    * tuples — flat columns compress and vector-decode better than
    * nested structs, and the row stays a plain product encoder. */
  private[graft] final case class CheckpointRow(
      path: String, rows: Long, bytes: Long,
      kind: String, seq: Long,
      statsCols: Seq[String], statsMins: Seq[Long], statsMaxs: Seq[Long],
      blooms: Map[String, String], parts: Map[String, Seq[String]],
      // per-zone-column null counts (r11); pre-r11 parquet checkpoints
      // lack the column and read back as empty = unknown
      nulls: Map[String, Long],
      // within-file sort column (r14); pre-r14 checkpoints lack the
      // column and read back as None = unknown
      sortedBy: Option[String]) {
    def toDataFile: DataFile = DataFile(path, rows, bytes,
      kind = kind, seq = seq,
      stats = statsCols.indices.map(i =>
        statsCols(i) -> (statsMins(i), statsMaxs(i))).toMap,
      blooms = blooms, parts = parts, nulls = nulls, sortedBy = sortedBy)
  }

  private def toCheckpointRow(f: DataFile): CheckpointRow = {
    val cols = f.stats.keys.toSeq.sorted
    CheckpointRow(f.path, f.rows, f.bytes, f.kind, f.seq,
      cols, cols.map(f.stats(_)._1), cols.map(f.stats(_)._2),
      f.blooms, f.parts, f.nulls, f.sortedBy)
  }

  private[table] val mapper = new ObjectMapper()

  private[table] def logDir(tableDir: String) = new Path(s"$tableDir/_graft_log")

  private[table] def fsOf(spark: SparkSession, tableDir: String): FileSystem =
    new Path(tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(tableDir: String, id: Long): Path =
    new Path(logDir(tableDir), f"$id%020d.json")

  private def checkpointPath(tableDir: String, id: Long): Path =
    new Path(logDir(tableDir), f"$id%020d.checkpoint.json")

  private def lastCheckpointPath(tableDir: String): Path =
    new Path(logDir(tableDir), "_last_checkpoint")

  /** One listing of the log dir → (manifest ids, checkpoint ids), both
    * ascending. Dot-prefixed temp files (torn in-flight commits) are
    * never listed — only fully-published files are visible, which is
    * what makes a crash mid-commit unobservable. Entry count is
    * O(retained snapshots), never O(data files). */
  private def listLog(fs: FileSystem, tableDir: String): (Seq[Long], Seq[Long]) = {
    val dir = logDir(tableDir)
    if (!fs.exists(dir)) return (Seq.empty, Seq.empty)
    val names = fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filterNot(_.startsWith("."))
    val cps = names.filter(_.endsWith(".checkpoint.json"))
      .map(_.stripSuffix(".checkpoint.json").toLong).sorted
    val ids = names.filter(n => n.endsWith(".json") && !n.endsWith(".checkpoint.json"))
      .map(_.stripSuffix(".json").toLong).sorted
    (ids, cps)
  }

  /** Committed snapshot ids, ascending. */
  def snapshots(spark: SparkSession, tableDir: String): Seq[Long] =
    listLog(fsOf(spark, tableDir), tableDir)._1

  def currentSnapshotId(spark: SparkSession, tableDir: String): Option[Long] =
    snapshots(spark, tableDir).lastOption

  /** Bits per per-file manifest bloom (4 KB serialized) and its hash
    * count — fixed so driver-side probes and the build agree; at ~128 MB
    * data files a 32k-bit / 5-hash bloom holds point-lookup false
    * positives low for up to ~3k distinct keys per file and degrades
    * (never lies negatively) beyond. */
  val BloomBits = 1 << 15
  val BloomHashes = 5

  /** The bloom/probe domain for a key column: LONG columns hash as their
    * own value, STRING columns (UUID-style keys) as `xxhash64` — the
    * same function on the build side, the distributed probe side, and
    * the driver probe side, so membership answers can never diverge.
    * (A bare `cast(string AS long)` would be null for every UUID — a
    * bloom built over nulls answers "absent" for everything, i.e. FALSE
    * NEGATIVES; hashing is what keeps the no-false-negative contract.) */
  private[graft] def keyAsLong(df: DataFrame, column: String): Column =
    if (df.schema(column).dataType ==
        org.apache.spark.sql.types.StringType) xxhash64(col(column))
    else col(column).cast("long")

  /** Driver-side twin of [[keyAsLong]] for string keys (Spark's
    * `xxhash64` = XXH64 with seed 42 over the UTF-8 bytes). */
  private[graft] def hashStringKey(s: String): Long = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
  }

  /** Stage a DataFrame as immutable data files under a fresh
    * `data/<uuid>/` dir — NOT yet visible to any reader. Returns the
    * [[DataFile]] entries for a subsequent [[commit]], every statistic
    * computed in the task that writes the file. A crash after this but
    * before [[commit]] leaves unreferenced files that
    * [[expireSnapshots]]' orphan sweep reclaims.
    *
    * `statsCol` and `statsCols` name the zone columns recorded per file;
    * `statsCol` is one more of them, with no special role.
    *
    * `rawPhysical = true` declares the frame (and the requested metadata
    * column names) ALREADY in physical space — set by internal rewrites
    * that read files raw (bin-pack, mask consolidation, merge adapters);
    * everything else is logical space and translates through the table's
    * field registry here, the ONE writer chokepoint, so no caller can
    * write a renamed column's bytes under its logical name. */
  def writeData(df: DataFrame, tableDir: String,
                statsCol: Option[String] = None,
                kind: String = "data",
                statsCols: Seq[String] = Nil,
                bloomCol: Option[String] = None,
                partitionCols: Seq[String] = Nil,
                rawPhysical: Boolean = false,
                /** Per-file row cap (parquet `maxRecordsPerFile`) — how a
                  * bucketed rewrite emits target-SIZED files from its
                  * n fixed partitions (splitting one bucket partition
                  * keeps every file single-id). */
                maxRecordsPerFile: Option[Long] = None,
                /** The PHYSICAL column the caller's arrangement left each
                  * file ascending by — stamped verbatim on every entry
                  * (see [[DataFile.sortedBy]]). */
                sortedBy: Option[String] = None): Seq[DataFile] = {
    require(kind == "data" || kind == "eqdelete" || kind == "posdelete",
      s"unknown file kind: $kind")
    val spark = df.sparkSession
    val reg = if (rawPhysical) None
      else registryAt(spark, tableDir).filterNot(_.isIdentity)
    val dfP = reg.map(_.toPhysical(df)).getOrElse(df)
    def phys(c: String): String = reg.flatMap(_.physicalOf(c)).getOrElse(c)
    val sortedByP = sortedBy.map(phys)
    // every requested stats column rides the same one-pass per-file
    // metadata — a per-COLUMN zone map, the Iceberg metrics posture —
    // and every statistic is computed in the writing task
    // ([[GraftWriteShim.specsFor]] plans them, refusing an unrecordable
    // request before any byte is written): no write re-reads its output
    val specs = GraftWriteShim.specsFor(dfP.schema,
      (statsCol.toSeq ++ statsCols).map(phys), bloomCol.map(phys),
      partitionCols.map {
        case BucketKeyPattern(n, inner) => bucketPartKey(n.toInt, phys(inner))
        case c => phys(c)
      }, spark.sessionState.conf.sessionLocalTimeZone, tableDir)
    val dst = s"$tableDir/data/${java.util.UUID.randomUUID()}"
    val results = GraftWriteShim.writeInline(spark, dfP, dst, specs,
      maxRecordsPerFile.getOrElse(Long.MaxValue))
    // an EMPTY frame emits no part files at all — return no entries
    // (write-first-then-discard callers depend on this: deleteWhere)
    if (results.isEmpty) {
      fsOf(spark, tableDir).delete(new Path(dst), true)
      Seq.empty
    } else fileEntries(results, specs, kind, sortedBy = _ => sortedByP)
  }

  /** Task write results → manifest entries, shared by every write face.
    * Partition values live in the manifest, never in directory names
    * (the Iceberg posture: the columns stay in the data, so a file
    * accidentally spanning values stays readable); `bucketKey` records a
    * bucketed write's per-file singleton id. */
  private[graft] def fileEntries(results: Seq[GraftFileResult],
      specs: GraftWriteSpecs, kind: String = "data",
      bucketKey: Option[String] = None,
      sortedBy: GraftFileResult => Option[String]): Seq[DataFile] =
    results.map { r =>
      val stats = r.mins.keys.map(c => c -> (r.mins(c), r.maxs(c))).toMap
      DataFile(r.path, r.rows, r.bytes, kind = kind, stats = stats,
        blooms = (for { c <- specs.bloom; b <- r.bloom } yield
          c.name -> java.util.Base64.getEncoder.encodeToString(b)).toMap,
        parts = r.parts ++ bucketKey.map(_ -> Seq(r.bucketId.toString)),
        // min/max describe only non-null values: the null count is what
        // lets a fully-covered file drop metadata-only
        nulls = r.nulls.filter { case (c, _) => stats.contains(c) },
        sortedBy = sortedBy(r))
    }

  /** Atomically publish a new snapshot: next id = current + 1, manifest
    * written to a dot-temp file and renamed into place. Throws
    * [[ConcurrentCommitException]] when another writer took the id first
    * (caller re-reads state and retries — optimistic concurrency). */
  def commit(spark: SparkSession, tableDir: String, op: String,
             added: Seq[DataFile], removed: Seq[String] = Seq.empty,
             summary: Map[String, String] = Map.empty): Long =
    commitAt(spark, tableDir, currentSnapshotId(spark, tableDir).getOrElse(0L) + 1,
      op, added, removed, summary)

  /** [[commit]] at an EXPLICIT snapshot id — the last-wins race is decided
    * here: whoever renames `<id>.json` into place first owns the id, the
    * loser throws. Package-visible so the conflict guard is directly
    * testable without a timing window. */
  private[graft] def commitAt(spark: SparkSession, tableDir: String, id: Long,
             op: String, added: Seq[DataFile], removed: Seq[String],
             summary: Map[String, String]): Long = {
    // "schema" = a METADATA-ONLY declaration commit (ALTER TABLE ADD
    // COLUMNS): no files added or removed, no rows changed — invisible to
    // diff/changes/streams by construction (it matches none of their op
    // filters and carries no files); the connector's schema derivation
    // overlays its declared columns.
    require(op == "append" || op == "replace" || op == "upsert" ||
      op == "rowdelta" || op == "rollback" || op == "schema",
      s"unknown commit op: $op")
    val fs = fsOf(spark, tableDir)
    fs.mkdirs(logDir(tableDir))
    // stamp freshly-written files (seq 0) with this commit's id; files
    // re-referenced with a seq already set (rollback re-attaching an
    // older snapshot's set) keep their original sequence number so the
    // delete-applies-to-older-seq rule stays correct across the rollback
    val stamped = added.map(f => if (f.seq == 0L) f.copy(seq = id) else f)
    val root: ObjectNode = mapper.createObjectNode()
    root.put("format", "graft-snapshot-v2") // delta-only: O(delta) bytes
    root.put("snapshot_id", id)
    root.put("op", op)
    root.put("ts_ms", System.currentTimeMillis())
    putFiles(root.putArray("added"), stamped)
    val removedArr = root.putArray("removed")
    removed.foreach(removedArr.add)
    val sumNode = root.putObject("summary")
    summary.foreach { case (k, v) => sumNode.put(k, v) }

    // Atomic no-clobber publish, delegated to the scheme's [[LogStore]]:
    // hard link on file: (POSIX rename silently overwrites — EEXIST on
    // link is the kernel-atomic arbiter), rename on HDFS-family stores
    // (the namenode refuses existing targets), and a CAS-guarded
    // conditional put on object stores (where neither primitive exists
    // natively — the S3/MinIO case the reference's warehouse lives in).
    val won = LogStore.putBytesIfAbsent(fs, manifestPath(tableDir, id),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    if (!won)
      throw new ConcurrentCommitException(
        s"snapshot $id of $tableDir was committed by another writer")
    // periodic checkpoint AFTER the commit is durable: failure here can
    // never lose the commit (resolution just replays more deltas), so
    // checkpointing is strictly best-effort maintenance
    if (id % CheckpointInterval == 0)
      try writeCheckpoint(spark, tableDir, id)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] WARNING: checkpoint at $id of $tableDir " +
          s"failed (resolution falls back to delta replay): $e") }
    // every commit moves (or re-creates) the head: drop the table's
    // durable-metadata memo so a DROP + CREATE at the same dir — which
    // reproduces head id 1 — can never serve the dead table's properties
    invalidateDurableMeta(tableDir)
    id
  }

  /** Drop the durable-metadata memo for a table (every commit does this
    * through [[commitAt]]; external deleters — DROP TABLE — must too).
    * Also bounds the cache: entries live per table dir, and a runaway
    * many-table workload clears rather than grows without limit. */
  private[graft] def invalidateDurableMeta(tableDir: String): Unit = {
    durableMetaCache.remove(tableDir)
    if (durableMetaCache.size > 10000) durableMetaCache.clear()
  }

  /** What a PINNED-BASE writer's derivation logically READ — the inputs
    * to [[commitPinned]]'s conflict check when the id race is lost. The
    * default guard describes a ROW-PRESERVING rewrite that read exactly
    * the files it removes (bin-pack, clustering, mask materialization):
    * such a commit composes with any interleaved append, so losing the
    * race to one rebases instead of aborting.
    *
    *  - `mayReadAdded`: when the derivation's semantics range over rows
    *    beyond its removed files (DML predicates, merge keys), the
    *    subset of an interleaved commit's ADDED data files that MAY hold
    *    rows the derivation should have seen — nonEmpty means conflict
    *    (the Delta ConcurrentAppend rule, decided from manifest
    *    zones/blooms/partition values, never a data read). None = the
    *    rewrite is indifferent to rows it didn't remove.
    *  - `readPaths`: files the derivation read WITHOUT removing
    *    (DML candidates that held no matches, an insert-only merge's
    *    probed files) — an interleaved commit that removed one of them
    *    invalidated the read (the Delta ConcurrentDeleteRead rule).
    *  - `registrySensitive`: the commit materializes names or carries a
    *    field-registry change — any interleaved schema/registry commit
    *    conflicts.
    *  - `masksOnly`: the commit touches only equality-delete files whose
    *    application seq is EMBEDDED per key (mask consolidation) — an
    *    interleaved rowdelta's new mask doesn't interact with the fold,
    *    so it does not conflict.
    *  - `idStamped`: the written data embeds the intended commit id in
    *    its ROWS (lineage stamps) — the commit cannot take a different
    *    id than it pinned, so a lost race always aborts. */
  final case class ConflictGuard(
      mayReadAdded: Option[Seq[DataFile] => Seq[DataFile]] = None,
      readPaths: Set[String] = Set.empty,
      registrySensitive: Boolean = false,
      masksOnly: Boolean = false,
      idStamped: Boolean = false)

  /** [[commitAt]] base+1 with LOGICAL conflict detection and automatic
    * REBASE on a lost id race — the Delta OptimisticTransaction
    * ConflictChecker / Iceberg validate-and-retry school, applied to the
    * pinned-base writers (compaction, mask maintenance, copy-on-write
    * merges, SQL DML). Physically losing the race no longer aborts the
    * job: the interleaved commits (base, head] are read (metadata-only,
    * O(interleave) manifest reads) and classified against `guard`; when
    * every one is logically compatible the SAME staged files re-commit
    * at head+1 — at 100 TB this is the difference between "hourly
    * OPTIMIZE and the streaming sink serialize by aborting each other"
    * and "maintenance composes with ingest". A true conflict throws
    * [[ConcurrentCommitException]] naming the commit and the reason.
    *
    * Conflict rules, per interleaved commit c (first match wins):
    *  1. c is a rollback → conflict (history this commit derived from
    *     was rewritten).
    *  2. guard.registrySensitive and c is a schema commit or carries a
    *     registry change → conflict.
    *  3. c.removed intersects my removed ∪ guard.readPaths → conflict
    *     (double-rewrite, or my derivation read files that died).
    *  4. c added equality-delete masks and !guard.masksOnly → conflict
    *     (my rewrite re-stamps rows at a seq ABOVE the mask's, so its
    *     deletes would silently stop applying — resurrection).
    *  5. guard.mayReadAdded keeps any of c's added row-bearing data
    *     files → conflict (rows my derivation should have read).
    * Anything else — appends, disjoint rewrites, schema widening under a
    * registry-indifferent commit — rebases. */
  def commitPinned(spark: SparkSession, tableDir: String, baseId: Long,
                   op: String, added: Seq[DataFile], removed: Seq[String],
                   summary: Map[String, String],
                   guard: ConflictGuard = ConflictGuard(),
                   maxRebases: Int = 10): Long = {
    val myRemoved = removed.toSet
    var base = baseId
    var rebases = 0
    while (true) {
      val sum =
        if (base == baseId) summary
        else summary ++ Map("rebased_from" -> (baseId + 1).toString,
          "rebased_over" -> (base - baseId).toString)
      try return commitAt(spark, tableDir, base + 1, op, added, removed, sum)
      catch {
        case e: ConcurrentCommitException =>
          rebases += 1
          if (rebases > maxRebases) throw e
          if (guard.idStamped) throw new ConcurrentCommitException(
            s"snapshot ${base + 1} of $tableDir lost its commit race and " +
              "cannot rebase: the staged rows embed the intended commit id " +
              "(lineage stamps) — retry the operation against the new state")
          val head = currentSnapshotId(spark, tableDir).getOrElse(throw e)
          if (head <= base) throw e // lost to an id at/below base: stale state
          commitsInRange(spark, tableDir, base, head).foreach { c =>
            rebaseConflict(c, myRemoved, guard).foreach { why =>
              throw new ConcurrentCommitException(
                s"snapshot ${base + 1} of $tableDir lost its commit race " +
                  s"and cannot rebase past commit ${c.snapshotId} (${c.op}): $why")
            }
          }
          base = head // every interleaved commit composes: rebase and retry
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private[table] def rebaseConflict(c: Commit, myRemoved: Set[String],
                             guard: ConflictGuard): Option[String] = {
    if (c.op == "rollback")
      return Some("it rolled back the history this commit derived from")
    if (guard.registrySensitive &&
        (c.op == "schema" || c.summary.contains(FieldRegistry.SummaryKey)))
      return Some("it changed the table schema/field registry while this " +
        "commit materializes names from the pinned one")
    val died = c.removed.filter(p => myRemoved(p) || guard.readPaths(p))
    if (died.nonEmpty)
      return Some(s"it removed ${died.size} file(s) this commit read or " +
        s"rewrites (e.g. ${died.head})")
    val masks = c.added.count(isMask)
    if (masks > 0 && !guard.masksOnly)
      return Some(s"it added $masks delete mask(s) whose deletes would " +
        "stop applying to this commit's re-stamped/re-positioned rows")
    val data = c.added.filter(f => f.kind == "data" && f.rows > 0)
    guard.mayReadAdded.map(_(data)).filter(_.nonEmpty).map(hit =>
      s"it added ${hit.size} file(s) that may hold rows this commit's " +
        s"derivation should have read (e.g. ${hit.head.path})")
  }

  private[table] def putFiles(arr: ArrayNode, files: Seq[DataFile]): Unit = files.foreach { f =>
    val n = arr.addObject()
    n.put("path", f.path); n.put("rows", f.rows); n.put("bytes", f.bytes)
    n.put("kind", f.kind); n.put("seq", f.seq)
    if (f.stats.nonEmpty) {
      val sn = n.putObject("stats")
      f.stats.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
        val cn = sn.putObject(c); cn.put("min", mn); cn.put("max", mx)
        f.nulls.get(c).foreach(cn.put("nulls", _))
      }
    }
    if (f.blooms.nonEmpty) {
      val bn = n.putObject("blooms")
      f.blooms.toSeq.sortBy(_._1).foreach { case (c, b64) => bn.put(c, b64) }
    }
    if (f.parts.nonEmpty) {
      val pn = n.putObject("parts")
      f.parts.toSeq.sortBy(_._1).foreach { case (c, vs) =>
        val arr = pn.putArray(c); vs.foreach(arr.add)
      }
    }
    f.sortedBy.foreach(n.put("sorted_by", _))
  }

  /** Publish the full live file set at snapshot `id` as a checkpoint —
    * the anchor [[filesAt]] resolution folds forward from. Content is a
    * pure function of the immutable manifest log, so the putIfAbsent
    * race between concurrent writers is value-identical and losing it is
    * a no-op. Also advances the `_last_checkpoint` hint (best-effort
    * overwrite: a stale or torn hint only costs a reader its fast path,
    * resolution never depends on it). Returns true when THIS caller
    * published the checkpoint file. */
  def writeCheckpoint(spark: SparkSession, tableDir: String, id: Long): Boolean = {
    val fs = fsOf(spark, tableDir)
    val target = checkpointPath(tableDir, id)
    if (fs.exists(target)) return false
    val (live, reg) = stateAt(spark, tableDir, Some(id))
    val root: ObjectNode = mapper.createObjectNode()
    root.put("snapshot_id", id)
    // pin the field registry at the anchor so resolution never needs to
    // walk past a checkpoint to learn the column mapping
    reg.foreach(r => root.put(FieldRegistry.SummaryKey, r.toJson))
    val parquetDir: Option[String] =
      if (live.size <= checkpointParquetThreshold(spark)) {
        root.put("format", "graft-checkpoint-v1")
        putFiles(root.putArray("live"), live)
        None
      } else {
        // PARQUET checkpoint: the live rows encode in a distributed write
        // (multi-part, column-compressed), and the pointer manifest —
        // tiny and atomic through the same putIfAbsent — names the dir.
        // Part count scales with the live set so both the encode and a
        // cold read's decode parallelize; the driver holds the DataFile
        // seq either way (it IS resolution's output).
        import spark.implicits._
        val rel = f"ckpt-data/$id%020d-${java.util.UUID.randomUUID()}"
        val dataDir = new Path(logDir(tableDir), rel)
        val parts = math.max(1, math.min(64, live.size / 20000 + 1))
        spark.createDataset(live.map(toCheckpointRow))
          .repartition(parts).write.mode("error").parquet(dataDir.toString)
        root.put("format", "graft-checkpoint-v2-parquet")
        root.put("parquet_dir", rel)
        root.put("live_count", live.size)
        Some(rel)
      }
    val won = LogStore.putBytesIfAbsent(fs, target,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    if (!won)
      // a concurrent writer published the (value-identical) checkpoint
      // first: this attempt's parquet rows are garbage — reclaim now
      parquetDir.foreach(rel =>
        fs.delete(new Path(logDir(tableDir), rel), true))
    if (won) {
      try {
        val hint = fs.create(lastCheckpointPath(tableDir), true)
        hint.write(s"""{"snapshot_id": $id}""".getBytes("UTF-8"))
        hint.close()
      } catch { case scala.util.control.NonFatal(_) => /* hint only */ }
    }
    won
  }

  /** The `_last_checkpoint` hint, when present and well-formed — the
    * one-read entry point an external reader uses to find the newest
    * anchor without listing. Internal resolution derives anchors from
    * the same listing it already needs for id validation. */
  def lastCheckpointId(spark: SparkSession, tableDir: String): Option[Long] = {
    val fs = fsOf(spark, tableDir)
    val p = lastCheckpointPath(tableDir)
    if (!fs.exists(p)) None
    else
      try {
        val in = fs.open(p)
        val node = try mapper.readTree(in) finally in.close()
        Option(node.get("snapshot_id")).map(_.asLong())
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Optimistic-concurrency retry for APPEND commits: an append's delta
    * is independent of the table's current state (added files only, no
    * removals), so losing the id race is always recoverable by re-reading
    * the new head and re-committing — the cheap-retry half of the
    * lakehouse conflict model. Ops that REMOVE files (replace/upsert/
    * rowdelta/rollback) are refused here: their validity depends on the
    * state they were computed against, so the caller must re-derive the
    * commit, not blindly re-number it. */
  def commitRetrying(spark: SparkSession, tableDir: String,
                     added: Seq[DataFile],
                     summary: Map[String, String] = Map.empty,
                     maxRetries: Int = 5): Long = {
    var attempt = 0
    while (true) {
      try {
        return commit(spark, tableDir, "append", added, summary = summary)
      } catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private[table] def parseFiles(node: JsonNode, field: String): Seq[DataFile] = {
    import scala.jdk.CollectionConverters._
    node.get(field).elements().asScala.toSeq.map { f =>
      val stats = Option(f.get("stats")).map { sn =>
        sn.fields().asScala.map { e =>
          e.getKey -> (e.getValue.get("min").asLong(), e.getValue.get("max").asLong())
        }.toMap
      }.getOrElse(Map.empty[String, (Long, Long)])
      // null counts ride each stats entry since r11; ABSENT on older
      // manifests = unknown (consumers must not read it as zero)
      val nulls = Option(f.get("stats")).map { sn =>
        sn.fields().asScala.flatMap { e =>
          Option(e.getValue.get("nulls")).map(n => e.getKey -> n.asLong())
        }.toMap
      }.getOrElse(Map.empty[String, Long])
      val blooms = Option(f.get("blooms")).map { bn =>
        bn.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
      }.getOrElse(Map.empty[String, String])
      val parts = Option(f.get("parts")).map { pn =>
        pn.fields().asScala.map(e =>
          e.getKey -> e.getValue.elements().asScala.toSeq.map(_.asText())).toMap
      }.getOrElse(Map.empty[String, Seq[String]])
      DataFile(f.get("path").asText(), f.get("rows").asLong(), f.get("bytes").asLong(),
        kind = Option(f.get("kind")).map(_.asText()).getOrElse("data"),
        seq = Option(f.get("seq")).map(_.asLong()).getOrElse(0L),
        stats = stats, blooms = blooms, parts = parts, nulls = nulls,
        sortedBy = Option(f.get("sorted_by")).map(_.asText()))
    }
  }

  /** A manifest plus, for legacy v1 manifests, its embedded live list
    * (v1 was self-contained; resolution uses it as an anchor). */
  private def readManifestFull(fs: FileSystem, tableDir: String,
                               id: Long): (Commit, Option[Seq[DataFile]]) = {
    val in = fs.open(manifestPath(tableDir, id))
    val node: JsonNode = try mapper.readTree(in) finally in.close()
    import scala.jdk.CollectionConverters._
    val removed = node.get("removed").elements().asScala.toSeq.map(_.asText())
    val summary = Option(node.get("summary")).map(_.fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty[String, String])
    val c = Commit(node.get("snapshot_id").asLong(), node.get("op").asText(),
      parseFiles(node, "added"), removed, summary,
      tsMs = Option(node.get("ts_ms")).map(_.asLong()).getOrElse(0L))
    (c, Option(node.get("live")).map(_ => parseFiles(node, "live")))
  }

  private def readManifest(fs: FileSystem, tableDir: String, id: Long): Commit =
    readManifestFull(fs, tableDir, id)._1

  /** Read a checkpoint's live set (plus the field registry pinned at the
    * checkpoint, when one existed) — inline JSON (v1) decoded here, a
    * parquet checkpoint (v2 pointer) decoded by a Spark read so the
    * O(live) parse spreads across cores/row groups. The registry always
    * rides the tiny pointer JSON, never the rows. A parquet dir
    * vanishing mid-read (concurrent expiry of this checkpoint) rethrows
    * as FileNotFound so [[filesAt]]'s retry re-resolves from the fresh
    * anchor expiry published first. */
  private def readCheckpoint(spark: SparkSession, fs: FileSystem,
                             tableDir: String, id: Long)
      : (Seq[DataFile], Option[FieldRegistry]) = {
    val in = fs.open(checkpointPath(tableDir, id))
    val node: JsonNode = try mapper.readTree(in) finally in.close()
    val reg = Option(node.get(FieldRegistry.SummaryKey))
      .map(n => FieldRegistry.fromJson(n.asText()))
    val live = Option(node.get("parquet_dir")).map(_.asText()) match {
      case None => parseFiles(node, "live")
      case Some(rel) =>
        val dir = new Path(logDir(tableDir), rel)
        import spark.implicits._
        try {
          val raw = GraftParquetSchema.read(spark, dir.toString)
          // pre-r11 parquet checkpoints lack the null-count column:
          // fill with empty (= unknown) so the row decodes
          val compat0 =
            if (raw.columns.contains("nulls")) raw
            else raw.withColumn("nulls",
              typedLit(Map.empty[String, Long]))
          val compat =
            if (compat0.columns.contains("sortedBy")) compat0
            else compat0.withColumn("sortedBy",
              org.apache.spark.sql.functions.lit(null).cast("string"))
          compat.as[CheckpointRow]
            .collect().toSeq.map(_.toDataFile) // one row per live FILE: metadata
        }
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if e.getMessage.contains("PATH_NOT_FOUND") =>
            throw new java.io.FileNotFoundException(
              s"parquet checkpoint $dir expired mid-read: ${e.getMessage}")
        }
    }
    (live, reg)
  }

  /** Retained commits NEWEST-FIRST as a LAZY iterator — manifests are
    * read on demand, so a consumer that stops early (the streaming
    * sinks' batch-id replay guard) pays O(consumed), never O(history). */
  private[graft] def commitsReverse(spark: SparkSession,
                                    tableDir: String): Iterator[Commit] = {
    val fs = fsOf(spark, tableDir)
    snapshots(spark, tableDir).reverseIterator
      .map(readManifest(fs, tableDir, _))
  }

  /** Manifests of the commits with id in (fromExclusive, toInclusive] —
    * O(interval) manifest READS (the directory listing supplies the ids);
    * the streaming source resolves every micro-batch through this so its
    * per-trigger cost is O(delta), never O(retained history). */
  def commitsInRange(spark: SparkSession, tableDir: String,
                     fromExclusive: Long, toInclusive: Long): Seq[Commit] = {
    val fs = fsOf(spark, tableDir)
    snapshots(spark, tableDir)
      .filter(id => id > fromExclusive && id <= toInclusive)
      .map(readManifest(fs, tableDir, _))
  }

  def commits(spark: SparkSession, tableDir: String,
              asOf: Option[Long] = None): Seq[Commit] = {
    val fs = fsOf(spark, tableDir)
    val ids = snapshots(spark, tableDir)
    asOf.foreach { id =>
      require(ids.contains(id),
        s"snapshot $id of $tableDir does not exist (retained: ${ids.mkString(",")})")
    }
    ids.filter(id => asOf.forall(id <= _)).map(readManifest(fs, tableDir, _))
  }

  /** Live file set at a snapshot (latest when `asOf` is None): resolved
    * from the nearest ANCHOR at or below it — a checkpoint file, or a
    * legacy v1 self-contained manifest — plus a forward fold of the
    * delta manifests after the anchor (at most [[CheckpointInterval]]−1
    * of them between periodic checkpoints). A concurrent expiry can
    * delete a manifest mid-walk; it always publishes a fresh checkpoint
    * at the new retention horizon FIRST, so the retry after the
    * FileNotFound re-resolves against that anchor. */
  def filesAt(spark: SparkSession, tableDir: String,
              asOf: Option[Long] = None): Seq[DataFile] =
    stateAt(spark, tableDir, asOf)._1

  /** [[filesAt]] plus the FIELD REGISTRY in force at the snapshot (None
    * for the common registry-less table) — both resolved in the SAME
    * anchor+delta fold, so the registry costs no extra metadata reads.
    * The returned files are RAW (physical-name metadata keys); callers
    * serving logical-space consumers translate via
    * [[FieldRegistry.translateMeta]]. */
  /** Memoized resolutions keyed by (table dir, snapshot id): the fold's
    * output is a PURE function of the immutable manifest log, so a hit
    * replays zero metadata reads — under the checkpointed format a cold
    * resolution costs 1 anchor + ≤[[CheckpointInterval]]−1 delta reads,
    * and a hot table's queries were paying that on every pin. Freshness
    * is untouched: the snapshot LISTING (one listStatus) still runs per
    * call — it is what resolves "latest" and refuses expired ids — only
    * the per-id fold is cached. Bounded by TOTAL cached file entries
    * (LRU), so a million-file live set cannot accumulate 64×. */
  private val ResolveCacheMaxFiles = 1 << 18
  private val resolveCache =
    new java.util.LinkedHashMap[String, (Seq[DataFile], Option[FieldRegistry])](
      64, 0.75f, true)
  private var resolveCacheFiles = 0L

  private def cachedResolve(key: String)(
      miss: => (Seq[DataFile], Option[FieldRegistry]))
      : (Seq[DataFile], Option[FieldRegistry]) = {
    resolveCache.synchronized {
      val hit = resolveCache.get(key)
      if (hit != null) return hit
    }
    val v = miss
    resolveCache.synchronized {
      if (!resolveCache.containsKey(key)) {
        resolveCache.put(key, v)
        resolveCacheFiles += v._1.size
        val it = resolveCache.entrySet().iterator()
        while (resolveCacheFiles > ResolveCacheMaxFiles && resolveCache.size() > 1
            && it.hasNext) {
          resolveCacheFiles -= it.next().getValue._1.size
          it.remove()
        }
      }
    }
    v
  }

  /** Drop every memoized resolution — for measurement harnesses that
    * need a provably COLD fold (ScaleCurve's checkpoint-resolve probes)
    * and tests; never required for correctness (keys are content-hashed,
    * so stale entries cannot be observed). */
  private[graft] def clearResolveCache(): Unit = resolveCache.synchronized {
    resolveCache.clear(); resolveCacheFiles = 0L
  }

  def stateAt(spark: SparkSession, tableDir: String,
              asOf: Option[Long] = None): (Seq[DataFile], Option[FieldRegistry]) = {
    val fs = fsOf(spark, tableDir)
    var attempt = 0
    while (true) {
      val (ids, cps) = listLog(fs, tableDir)
      val id = asOf match {
        case Some(i) =>
          require(ids.contains(i),
            s"snapshot $i of $tableDir does not exist (retained: ${ids.mkString(",")})")
          i
        case None => if (ids.isEmpty) return (Seq.empty, None) else ids.last
      }
      try {
        // the cache key carries the id manifest's CONTENT hash: a table
        // dropped and recreated at the same path reuses snapshot ids,
        // and (mtime, length) is not enough to tell the two manifests
        // apart (manifest JSON is near-constant-width — UUID paths,
        // fixed ts_ms digits — and object-store mtimes have 1-second
        // granularity, so a scripted drop-and-recreate can collide).
        // The hash costs one ~550 B manifest read per call; the cache
        // still saves the FOLD — anchor + delta replay, and at scale a
        // distributed parquet-checkpoint decode.
        val mp = manifestPath(tableDir, id)
        val in = fs.open(mp)
        val bytes =
          try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
        val digest = java.util.Base64.getEncoder.encodeToString(
          java.security.MessageDigest.getInstance("MD5").digest(bytes))
        return cachedResolve(s"$tableDir@$id@$digest")(
          resolveState(spark, fs, tableDir, id, cps))
      } catch {
        case _: java.io.FileNotFoundException if attempt < 3 => attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The field registry in force at a snapshot (latest when None). */
  def registryAt(spark: SparkSession, tableDir: String,
                 asOf: Option[Long] = None): Option[FieldRegistry] =
    stateAt(spark, tableDir, asOf)._2

  /** Walk BACKWARD from `id` to the nearest anchor (checkpoint ≤ id, or
    * a v1 manifest's embedded live list), then fold the collected delta
    * manifests forward: live = anchor − removed + added per commit, and
    * registry = anchor's pinned registry overridden by the newest
    * `fields` summary in the deltas (full-state, last wins). Reads
    * O(manifests since anchor) metadata files, each O(its delta). */
  private def resolveState(spark: SparkSession, fs: FileSystem,
                           tableDir: String, id: Long,
                           checkpointIds: Seq[Long])
      : (Seq[DataFile], Option[FieldRegistry]) = {
    val anchor = checkpointIds.filter(_ <= id).maxOption
    if (anchor.contains(id)) return readCheckpoint(spark, fs, tableDir, id)
    val floor = anchor.getOrElse(0L)
    val deltas = scala.collection.mutable.ListBuffer.empty[Commit]
    var seed: Seq[DataFile] = Seq.empty
    var seedReg: Option[FieldRegistry] = None
    var cur = id
    var found = false
    while (cur > floor && !found) {
      val (c, v1Live) = readManifestFull(fs, tableDir, cur)
      v1Live match {
        case Some(live) => seed = live; found = true
        case None => deltas.prepend(c); cur -= 1
      }
    }
    if (!found && anchor.isDefined) {
      val (s, r) = readCheckpoint(spark, fs, tableDir, floor)
      seed = s; seedReg = r
    }
    val live = deltas.foldLeft(seed) { (live, c) =>
      val removedSet = c.removed.toSet
      live.filterNot(f => removedSet.contains(f.path)) ++ c.added
    }
    val reg = deltas.foldLeft(seedReg) { (r, c) =>
      c.summary.get(FieldRegistry.SummaryKey)
        .map(FieldRegistry.fromJson).orElse(r)
    }
    (live, reg)
  }

  /** Apply the live equality-delete files to the live data files — the
    * merge-on-read READ path. Per the sequence-number rule, a delete
    * entry (key k, seq d) masks a data row with key k only in files with
    * seq < d: a re-insert of k at a LATER snapshot lands in a
    * higher-seq file and survives.
    *
    * Plan shape (the 100 TB posture): delete files are O(delta) — KBs
    * against a 100 TB table — so they fold to one (key → max seq) table
    * that BROADCASTS into a single hash join over one pass of the data
    * files; per-key max is sufficient because a mask by ANY later delete
    * is a mask by the latest one. Data files are read grouped by seq so
    * the seq column is a literal per relation — no per-row file-name
    * parsing, and the whole mask stays inside codegen. */
  /** The files grouped by commit seq, each with its schema probed from
    * ONE head-file footer (a commit's files share a schema by
    * construction — [[writeData]] writes one frame per call, and
    * bin-pack commits one replace per schema class). Driver-side
    * metadata: one footer read per EPOCH, never per file. */
  private[graft] def epochGroups(spark: SparkSession, files: Seq[DataFile])
      : Seq[(org.apache.spark.sql.types.StructType, Seq[DataFile])] =
    files.groupBy(_.seq).toSeq.sortBy(_._1).map { case (_, fs) =>
      epochSchemaOf(spark, fs.head) -> fs
    }

  /** Footer schema of one immutable data file, memoized process-wide
    * (r15): [[epochGroups]] runs per PLAN, so standing read traffic
    * would pay one footer probe per epoch per query for a value that can
    * never change (files are content-immutable under uuid naming; bytes
    * join the key as a belt-and-braces guard). LRU-bounded. A miss reads
    * the footer on the driver ([[GraftParquetSchema]]), with no job. */
  private val epochSchemaCache =
    new java.util.LinkedHashMap[String, org.apache.spark.sql.types.StructType](
      64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, org.apache.spark.sql.types.StructType])
          : Boolean = size() > 4096
    }
  private def epochSchemaOf(spark: SparkSession, f: DataFile)
      : org.apache.spark.sql.types.StructType = {
    val key = s"${f.path}#${f.bytes}"
    epochSchemaCache.synchronized {
      val hit = epochSchemaCache.get(key)
      if (hit != null) return hit
    }
    val v = GraftParquetSchema.schemaOf(spark, f.path)
    epochSchemaCache.synchronized(epochSchemaCache.put(key, v))
    v
  }

  /** Read a set of live data files SAFELY across schema epochs: ONE
    * multi-path relation under the epochs' merged schema — the parquet
    * readers widen each file's narrower types in-scan (the Evolution
    * lattice is exactly their promotions) and null-fill the columns an
    * epoch lacks. Renames never reach this layer: files are read under
    * their PHYSICAL names and the field registry maps them to logical
    * ones afterwards. A raw multi-path read would infer a single file's
    * schema and silently null the other epochs' columns — every consumer
    * of a snapshot table's file list (reads, merges, compactions) must
    * come through here or [[applyMasks]]. */
  private[graft] def readEpochSafe(spark: SparkSession,
                                   files: Seq[DataFile]): DataFrame =
    readAs(spark, mergedOf(epochGroups(spark, files).map(_._1)), files)

  /** The merged schema of epoch schemas (the one schema when they agree). */
  private[graft] def mergedOf(schemas: Seq[StructType]): StructType =
    schemas.distinct match {
      case Seq(one) => one
      case many => graft.schema.Evolution.mergedSchema(many)
    }

  /** Files under an already-known (footer or merged) schema — a
    * `spark.read.parquet` that skips the schema-inference job. */
  private[graft] def readAs(spark: SparkSession, schema: StructType,
                            files: Seq[DataFile]): DataFrame =
    spark.read.schema(schema).parquet(files.map(_.path): _*)

  private def withPos(df: DataFrame): DataFrame = df.select(col("*"),
    col("_metadata.file_path").as(PosFileCol),
    col("_metadata.row_index").as(PosOrdCol))

  /** [[readEpochSafe]] with the two scan-metadata position columns
    * ([[PosFileCol]], [[PosOrdCol]]) appended — what a positional-delete
    * writer scans to locate matching rows. */
  private[graft] def readEpochSafeWithPos(spark: SparkSession,
                                          files: Seq[DataFile]): DataFrame =
    withPos(readEpochSafe(spark, files))

  /** Is this manifest entry a pending DELETE MASK (either kind)?
    * Every reader that partitions a live set into "masks vs data" must
    * go through this — a new mask kind silently classified as data
    * would be read as rows. */
  def isMask(f: DataFile): Boolean =
    f.kind == "eqdelete" || f.kind == "posdelete"

  /** The two columns a POSITIONAL delete file carries: the target data
    * file's scan-metadata path (`_metadata.file_path` — recorded and
    * probed in the same representation, so equality is exact) and the
    * 0-based row ordinal within it (`_metadata.row_index`). Positions
    * name PHYSICAL rows, so a posdelete needs no key column at all:
    * masked scans pay a metadata-column anti-join instead of reading
    * (wide or composite) key columns — the Iceberg position-delete /
    * Delta deletion-vector school. */
  val PosFileCol = "_graft_file"
  val PosOrdCol = "_graft_pos"

  /** Apply EVERY pending mask kind to the epoch-safe read of `data`:
    * equality masks fold to (key → max seq) and filter by the seq rule
    * (re-inserts at/after the mask's seq survive); positional masks
    * anti-join on (file path, row ordinal) — exact physical addressing,
    * no seq arithmetic needed (a file's rows can never be re-written in
    * place, so a recorded position is valid for exactly as long as the
    * file is live). */
  private[graft] def applyMasks(spark: SparkSession, data: Seq[DataFile],
                                dels: Seq[DataFile],
                                schema: Option[StructType] = None): DataFrame =
    applyMasksKeepPos(spark, data, dels, keepPos = false, schema)

  /** [[applyMasks]] variant RETAINING the ([[PosFileCol]], [[PosOrdCol]])
    * scan-metadata columns on every surviving row — the read a
    * DELTA-based row-level operation scans (r14 SupportsRowLevelOperations):
    * the engine filters/joins the visible rows, and the surviving
    * positions become the posdelete entries the delta writer records. */
  private[graft] def applyMasksWithPos(spark: SparkSession, data: Seq[DataFile],
                                       dels: Seq[DataFile]): DataFrame =
    applyMasksKeepPos(spark, data, dels, keepPos = true)

  private def applyMasksKeepPos(spark: SparkSession, data: Seq[DataFile],
                                dels: Seq[DataFile], keepPos: Boolean,
                                schema: Option[StructType] = None): DataFrame = {
    val (posDels, eqDels) = dels.partition(_.kind == "posdelete")
    val needPos = keepPos || posDels.nonEmpty
    def pos(df: DataFrame) = if (needPos) withPos(df) else df
    val groups = epochGroups(spark, data)
    val merged = schema.getOrElse(mergedOf(groups.map(_._1)))
    // equality masks need each row's commit seq: one relation per seq
    // group, a literal column each — under the merged schema, so the
    // groups join with a plain union. Positional masks alone need none.
    val withSeq =
      if (eqDels.isEmpty) pos(readAs(spark, merged, data))
      else groups.map { case (_, fs) =>
        pos(readAs(spark, merged, fs)).withColumn("_graft_seq", lit(fs.head.seq))
      }.reduce(_ unionByName _)
    val eqApplied =
      if (eqDels.isEmpty) withSeq
      else {
        val (delAgg, keyCol) = foldMasks(spark, eqDels)
        withSeq
          .join(broadcast(delAgg), Seq(keyCol), "left")
          .filter(col("_graft_del_seq").isNull ||
            col("_graft_del_seq") <= col("_graft_seq"))
          .drop("_graft_del_seq")
      }
    val posApplied =
      if (posDels.isEmpty) eqApplied
      else {
        val applied = eqApplied
          .join(broadcast(GraftParquetSchema.read(spark, posDels.map(_.path): _*)
              .select(col(PosFileCol), col(PosOrdCol)).distinct()),
            Seq(PosFileCol, PosOrdCol), "left_anti")
        if (keepPos) applied else applied.drop(PosFileCol, PosOrdCol)
      }
    if (eqDels.isEmpty) posApplied else posApplied.drop("_graft_seq")
  }

  private def stagedPath(tableDir: String, token: String): Path =
    new Path(logDir(tableDir), s".staged-$token.json")

  /** WRITE-AUDIT-PUBLISH: stage an append INVISIBLY — data files written
    * and described by a dot-prefixed staged manifest that no reader,
    * snapshot listing or incremental consumer can see — so an audit step
    * (row counts, quality gates, reconciliation) inspects the candidate
    * rows via [[readStaged]] BEFORE [[publishStaged]] makes them one
    * atomic, ordinary `append` snapshot (the Iceberg/Netflix WAP
    * pattern). A failed audit calls [[discardStaged]] and nothing ever
    * happened; a crash mid-staging leaves the staged manifest pending —
    * its files are protected from the orphan sweep until discarded.
    * Returns the staging token. */
  def stageAppend(df: DataFrame, tableDir: String,
                  statsCol: Option[String] = None,
                  statsCols: Seq[String] = Nil,
                  bloomCol: Option[String] = None,
                  partitionCols: Seq[String] = Nil,
                  summary: Map[String, String] = Map.empty): String = {
    val spark = df.sparkSession
    val files = writeData(df, tableDir, statsCol = statsCol,
      statsCols = statsCols, bloomCol = bloomCol, partitionCols = partitionCols)
    val token = java.util.UUID.randomUUID().toString
    val fs = fsOf(spark, tableDir)
    fs.mkdirs(logDir(tableDir))
    val root: ObjectNode = mapper.createObjectNode()
    root.put("format", "graft-staged-v1")
    root.put("token", token)
    root.put("ts_ms", System.currentTimeMillis())
    putFiles(root.putArray("added"), files)
    val sumNode = root.putObject("summary")
    summary.foreach { case (k, v) => sumNode.put(k, v) }
    val out = fs.create(stagedPath(tableDir, token), false)
    out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    out.close()
    token
  }

  /** Tokens of all pending staged appends. */
  def stagedTokens(spark: SparkSession, tableDir: String): Seq[String] = {
    val fs = fsOf(spark, tableDir)
    val dir = logDir(tableDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith(".staged-") && n.endsWith(".json"))
      .map(_.stripPrefix(".staged-").stripSuffix(".json")).sorted
  }

  private def readStagedManifest(fs: FileSystem, tableDir: String,
                                 token: String): (Seq[DataFile], Map[String, String]) = {
    val p = stagedPath(tableDir, token)
    require(fs.exists(p),
      s"no staged append '$token' on $tableDir (already published/discarded?)")
    val in = fs.open(p)
    val node: JsonNode = try mapper.readTree(in) finally in.close()
    import scala.jdk.CollectionConverters._
    val summary = Option(node.get("summary")).map(_.fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty[String, String])
    (parseFiles(node, "added"), summary)
  }

  /** The AUDIT view: current table state plus the staged rows — what the
    * table WOULD read after publish. Masks apply to the current state
    * only (staged rows are new by definition). */
  def readStaged(spark: SparkSession, tableDir: String, token: String): DataFrame = {
    val fs = fsOf(spark, tableDir)
    val (files, _) = readStagedManifest(fs, tableDir, token)
    val stagedDf = applyRegistry(GraftParquetSchema.read(spark, files.map(_.path): _*),
      registryAt(spark, tableDir))
    read(spark, tableDir) match {
      case Some(cur) => cur.unionByName(stagedDf, allowMissingColumns = true)
      case None => stagedDf
    }
  }

  /** Only the staged rows — the audit target itself. */
  def readStagedOnly(spark: SparkSession, tableDir: String, token: String): DataFrame = {
    val fs = fsOf(spark, tableDir)
    val (files, _) = readStagedManifest(fs, tableDir, token)
    applyRegistry(GraftParquetSchema.read(spark, files.map(_.path): _*),
      registryAt(spark, tableDir))
  }

  /** The rows a staged append's files hold, read back from their parquet
    * footers on the driver — the write-audit's physical check, with no
    * Spark job. */
  def stagedRowCount(spark: SparkSession, tableDir: String, token: String): Long = {
    val (files, _) = readStagedManifest(fsOf(spark, tableDir), tableDir, token)
    GraftParquetSchema.rowCount(spark, files.map(_.path))
  }

  /** Publish a staged append as one ordinary atomic `append` snapshot
    * (retrying the id race like any append — the delta is
    * state-independent), then drop the staged manifest. The commit
    * summary records the staging token for audit trails. */
  def publishStaged(spark: SparkSession, tableDir: String, token: String): Long = {
    val fs = fsOf(spark, tableDir)
    val (files, summary) = readStagedManifest(fs, tableDir, token)
    // crash-safe idempotence: a death between a prior publish's commit
    // and its staged-manifest delete leaves the token looking pending —
    // a blind re-commit would append the SAME physical files twice. The
    // token in the commit summary is the publish's durability marker:
    // if any retained commit already carries it, just finish the
    // cleanup and return that id.
    commits(spark, tableDir)
      .find(_.summary.get("staged_token").contains(token)) match {
      case Some(prior) =>
        fs.delete(stagedPath(tableDir, token), false)
        prior.snapshotId
      case None =>
        val id = commitRetrying(spark, tableDir, files,
          summary = summary + ("staged_token" -> token))
        fs.delete(stagedPath(tableDir, token), false)
        id
    }
  }

  /** Abandon a staged append: the manifest goes now, the data files
    * become unreferenced and the next grace-gated orphan sweep reclaims
    * them. Idempotent. */
  def discardStaged(spark: SparkSession, tableDir: String, token: String): Unit = {
    fsOf(spark, tableDir).delete(stagedPath(tableDir, token), false)
    ()
  }

  private def tagPath(tableDir: String, name: String): Path = {
    require(name.matches("[A-Za-z0-9._-]{1,64}"),
      s"tag name '$name' must be 1-64 chars of [A-Za-z0-9._-]")
    new Path(logDir(tableDir), s"_tags/$name.json")
  }

  /** TAG a snapshot with a stable name (the Iceberg tag/ref face):
    * `release-2026-08`, `audit-baseline`, … Tags are IMMUTABLE once
    * published (the same atomic no-clobber primitive commits use — a
    * concurrent double-tag has exactly one winner; re-tagging a name
    * throws) and a tagged snapshot is EXEMPT from retention until
    * [[removeTag]] — the contract that makes "pin the audited version
    * forever while the table churns" safe. */
  def tag(spark: SparkSession, tableDir: String, name: String, id: Long): Unit = {
    val fs = fsOf(spark, tableDir)
    val ids = snapshots(spark, tableDir)
    require(ids.contains(id),
      s"cannot tag snapshot $id of $tableDir: not retained (${ids.mkString(",")})")
    fs.mkdirs(new Path(logDir(tableDir), "_tags"))
    val won = LogStore.putBytesIfAbsent(fs, tagPath(tableDir, name),
      s"""{"snapshot_id": $id}""".getBytes("UTF-8"))
    if (!won) throw new IllegalArgumentException(
      s"tag '$name' of $tableDir already exists (tags are immutable; removeTag first)")
  }

  /** All tags: name → snapshot id. */
  def tags(spark: SparkSession, tableDir: String): Map[String, Long] = {
    val fs = fsOf(spark, tableDir)
    val dir = new Path(logDir(tableDir), "_tags")
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => p.getName.endsWith(".json") && !p.getName.startsWith("."))
      .flatMap { p =>
        try {
          val in = fs.open(p)
          val node = try mapper.readTree(in) finally in.close()
          Some(p.getName.stripSuffix(".json") -> node.get("snapshot_id").asLong())
        } catch { case scala.util.control.NonFatal(_) => None }
      }.toMap
  }

  /** Resolve a tag to its snapshot id (throws on unknown name); pass
    * the result as `asOf` to any read face. */
  def snapshotForTag(spark: SparkSession, tableDir: String, name: String): Long =
    tags(spark, tableDir).getOrElse(name,
      throw new IllegalArgumentException(
        s"no tag '$name' on $tableDir (tags: ${tags(spark, tableDir).keys.toSeq.sorted.mkString(",")})"))

  /** Drop a tag — its snapshot re-enters normal retention on the next
    * [[expireSnapshots]]. Unknown names are a no-op. */
  def removeTag(spark: SparkSession, tableDir: String, name: String): Unit = {
    val fs = fsOf(spark, tableDir)
    fs.delete(tagPath(tableDir, name), false)
    ()
  }

  /** The ONE definition of mask-fold semantics, shared by the read-side
    * application ([[applyMasks]]) and the write-side consolidation
    * ([[Merge.consolidateMasks]]) so they can never diverge: every
    * pending mask file folds to (key → MAX application seq). A plain
    * mask file's application seq is its FILE's commit seq; a
    * consolidated mask carries each key's original seq as an embedded
    * `_graft_del_seq` column — its file seq is the consolidation
    * commit's, which must NOT be used or the fold would mask re-inserts
    * that landed between the originals and the rewrite. Returns
    * (folded frame keyed key + `_graft_del_seq`, key column name). */
  private[graft] def foldMasks(spark: SparkSession,
                               dels: Seq[DataFile]): (DataFrame, String) = {
    val key = maskKey(spark, dels)
    val schema = StructType(Seq(key, StructField("_graft_del_seq", LongType)))
    val delDf = epochGroups(spark, dels).map { case (_, fs) =>
      readAs(spark, schema, fs).withColumn("_graft_del_seq",
        coalesce(col("_graft_del_seq"), lit(fs.head.seq)))
    }.reduce(_ unionByName _)
    (delDf.groupBy(col(key.name))
      .agg(max(col("_graft_del_seq")).as("_graft_del_seq")), key.name)
  }

  /** The key column of equality masks `dels`, from their footers: its
    * PHYSICAL name, typed as the widest type any mask file holds it
    * under. Mask files hold exactly one key column (plus an optional
    * embedded `_graft_del_seq`); anything else throws. Driver-side
    * metadata: one footer per mask epoch, no job. */
  private[graft] def maskKey(spark: SparkSession, dels: Seq[DataFile]): StructField = {
    val keys = epochGroups(spark, dels)
      .flatMap(_._1.fields.filterNot(_.name == "_graft_del_seq"))
    keys.map(_.name).distinct match {
      case Seq(k) => StructField(k, graft.schema.Evolution
        .mergedSchema(keys.map(f => StructType(Seq(f)))).head.dataType)
      case other => throw new IllegalStateException(
        s"equality-delete files must hold exactly one key column, got ${other.mkString(",")}")
    }
  }

  /** Resolve AS OF TIMESTAMP to a snapshot id: the newest committed
    * snapshot whose commit wall-clock is ≤ `tsMs` (the
    * `FOR TIMESTAMP AS OF` face; commit timestamps are written by
    * [[commitAt]]). Throws when the table has no snapshot that old —
    * the requested point predates the table or its retention horizon. */
  def snapshotAsOfTimestamp(spark: SparkSession, tableDir: String,
                            tsMs: Long): Long = {
    val eligible = commits(spark, tableDir).filter(_.tsMs <= tsMs)
    require(eligible.nonEmpty,
      s"no snapshot of $tableDir at or before timestamp $tsMs " +
        "(predates the table or expired by retention)")
    eligible.last.snapshotId
  }

  /** The row-lineage stamp is table metadata ([[Merge.LineageCol]]),
    * not user data — hidden from every read face, visible only to the
    * feed deriver (which reads files directly). */
  private def hideInternal(df: DataFrame): DataFrame =
    if (df.columns.contains(Merge.LineageCol)) df.drop(Merge.LineageCol) else df

  /** Shared post-prune assembly for every pruned read face: the kept
    * data files scan EPOCH-SAFELY under the merged schema of EVERY live
    * data file's epoch — so the result schema never depends on which
    * files a predicate kept, and a raw multi-path read never infers one
    * file's schema and nulls the other epochs' columns — pending masks
    * apply, internal columns hide. One definition so no reader can
    * drift from [[read]]'s semantics. */
  private def assemble(spark: SparkSession, live: Seq[DataFile],
                       kept: Seq[DataFile], dels: Seq[DataFile],
                       reg: Option[FieldRegistry] = None): Option[DataFrame] =
    if (kept.isEmpty) None
    else {
      val schema = mergedOf(epochGroups(spark, live).map(_._1))
      Some(applyRegistry(hideInternal(
        if (dels.isEmpty) readAs(spark, schema, kept)
        else applyMasks(spark, kept, dels, Some(schema))), reg))
    }

  /** Project a physical-space frame to logical space through the field
    * registry (identity/absent registries are free). Every read face
    * exits through this, so renamed/dropped columns resolve by field id
    * no matter which files an epoch spans. */
  private[graft] def applyRegistry(df: DataFrame,
                                   reg: Option[FieldRegistry]): DataFrame =
    reg.filterNot(_.isIdentity).map(_.toLogical(df)).getOrElse(df)

  /** The snapshot's state with manifest metadata keys translated to
    * LOGICAL names (tombstoned fields' entries removed — pruning must
    * never consult a dropped column's zones for a re-added namesake):
    * what every logical-space pruning face resolves against. */
  private def logicalStateAt(spark: SparkSession, tableDir: String,
                             asOf: Option[Long])
      : (Seq[DataFile], Option[FieldRegistry]) = {
    val (files, reg) = stateAt(spark, tableDir, asOf)
    reg.filterNot(_.isIdentity) match {
      case Some(r) => (files.map(r.translateMeta), reg)
      case None => (files, reg)
    }
  }

  /** Snapshot-isolated read: resolve the manifest file list once, then
    * scan exactly those immutable files. Pending masks (the merge-on-read
    * path) apply as broadcast joins; a table with none reads as a bare
    * multi-path parquet scan. Commits whose SCHEMAS drifted (a widened
    * type, an added column) read as one relation under the merged schema
    * instead of failing the scan, and renamed or dropped columns resolve
    * through the snapshot's field registry — time travel to a pre-drift
    * or pre-rename snapshot still returns that snapshot's own schema,
    * because reads resolve only the files and registry that existed
    * then. Returns None for a table with no live data files (schema
    * unknowable from an empty file set). */
  def read(spark: SparkSession, tableDir: String,
           asOf: Option[Long] = None): Option[DataFrame] = {
    val (files, reg) = stateAt(spark, tableDir, asOf)
    val (dels, data) = files.partition(isMask)
    assemble(spark, data, data, dels, reg)
  }

  /** Manifest-pruned read: skip every data file the [[Constraints]]
    * prove hold no qualifying row, from METADATA alone — per-column zone
    * maps, manifest blooms and partition-value sets. Zones only bite
    * where the layout localizes a column: a Z-ORDER clustered rewrite
    * ([[graft.cdc.Compaction.compactSnapshotted]] with `clusterZOrder`)
    * makes each file a near-square tile of the key space, so several
    * dimensions skip. Ingest-ordered files all span most of a key space,
    * which is where a point lookup's bloom bites (no false negatives —
    * the Delta/Iceberg bloom-index role). Recorded partition-value sets
    * replace Hive `sync_date=` directory pruning (the Iceberg posture:
    * values live in the manifest, the columns stay in the data).
    * Equality-delete masks are never pruned and still apply (their stats
    * describe masked keys, not produced rows). Pruning is an
    * optimization, not a filter — callers still apply the actual
    * predicate; the contract is only that no QUALIFYING row is skipped. */
  def readPruned(spark: SparkSession, tableDir: String, cs: Constraints,
                 asOf: Option[Long] = None): Option[DataFrame] = {
    val (files, reg) = logicalStateAt(spark, tableDir, asOf)
    val (dels, data) = files.partition(isMask)
    assemble(spark, data, data.filter(cs.keeps), dels, reg)
  }

  /** [[readPruned]]'s pruning decision alone — (data files kept, data
    * files skipped) — so maintenance jobs and tests can measure skipping
    * without scanning anything. */
  def pruneCounts(spark: SparkSession, tableDir: String, cs: Constraints,
                  asOf: Option[Long] = None): (Int, Int) = {
    val data = logicalStateAt(spark, tableDir, asOf)._1.filter(_.kind == "data")
    val kept = data.count(cs.keeps)
    (kept, data.size - kept)
  }

  /** Incremental consumption: the logical delta committed AFTER snapshot
    * `from`, up to and including `to` (latest when None) — the union of
    * `append` commits' added files. `replace` commits contribute nothing:
    * a rewrite changes layout, not content, so a compaction between two
    * sync points is invisible to incremental consumers (the property that
    * lets maintenance run without ever disturbing downstream pipelines). */
  def diff(spark: SparkSession, tableDir: String, from: Long,
           to: Option[Long] = None): Option[DataFrame] = {
    val ids = snapshots(spark, tableDir)
    val hi = to.getOrElse(ids.lastOption.getOrElse(from))
    // fail loudly when part of the range expired: snapshot ids are dense,
    // so every id in (from, hi] must still be retained or the delta would
    // silently lose rows (same contract as an expired Kafka offset)
    val missing = ((from + 1) to hi).filterNot(ids.contains)
    require(missing.isEmpty,
      s"cannot diff ($from, $hi] of $tableDir: snapshots ${missing.mkString(",")} expired")
    val inRange = commits(spark, tableDir, to).filter(_.snapshotId > from)
    // an upsert rewrites rows in place — its added files mix carried-
    // forward and changed rows, so a file-level diff would either miss
    // updates (skip) or replay unchanged rows (include). Fail loudly
    // (the Iceberg incremental-read contract over overwrite snapshots);
    // row-level change feeds need delete vectors / row lineage.
    val rowLevel = inRange
      .filter(c => c.op == "upsert" || c.op == "rowdelta" || c.op == "rollback")
      .map(c => s"${c.snapshotId}(${c.op})")
    require(rowLevel.isEmpty,
      s"cannot diff ($from, $hi] of $tableDir: snapshots ${rowLevel.mkString(",")} " +
        "carry row-level changes with no pure file-level delta — use changes()")
    val files = inRange.filter(_.op == "append").flatMap(_.added)
    // append deltas may themselves span schema epochs — merge through
    // the Evolution lattice like every other file-set consumer; the
    // field registry AT THE RANGE END names the columns (the Delta CDF
    // schema-at-end-of-range contract)
    if (files.isEmpty) None
    else Some(applyRegistry(hideInternal(readEpochSafe(spark, files)),
      registryAt(spark, tableDir, Some(hi))))
  }

  /** Row-level CHANGE FEED over (from, to] — the face [[diff]] refuses to
    * fake: every commit contributes its logical row changes tagged with
    * `_change_op` and `_change_snapshot`:
    *
    *  - `append` → its added rows as `insert`;
    *  - `rowdelta` (merge-on-read) → its added data rows as `upsert` and,
    *    for each delete-file key with NO same-commit re-insert, one
    *    `delete` row (key column set, payload columns null) — a
    *    masked-then-rewritten key collapses to the single `upsert`.
    *    PHANTOM deletes are pruned from metadata: a delete key is
    *    emitted only when some data file live at the PARENT snapshot
    *    might have held it (per-file zone stats + manifest bloom, both
    *    probed distributively; no false negatives, so pruning can only
    *    drop provably-absent keys). Keys the metadata can't rule out
    *    still surface, so delete rows remain IDEMPOTENT "ensure absent"
    *    events (Debezium tombstone semantics): consumers fold deletes
    *    as set-removal, not balanced-event accounting;
    *  - `replace` → nothing (a rewrite changes layout, not content);
    *  - `upsert` (copy-on-write) WITH row lineage
    *    (`applyChanges(lineage = true)`) → derived from the rewritten
    *    files alone ([[cowChanges]]): added rows stamped with the
    *    commit's id are its upserts, removed-minus-added keys its
    *    deletes — O(rewritten), never O(table);
    *  - `upsert` WITHOUT lineage / `rollback` → REFUSED: their added
    *    files mix carried-forward and changed rows, so no row-level
    *    delta exists without row lineage. Merge-on-read is precisely the
    *    layout under which a CDC-style change feed IS derivable from
    *    metadata + delta files alone — deltas are read, the 100 TB of
    *    untouched table is never touched.
    */
  /** With `preImages = true` the feed upgrades to the Delta-CDF event
    * vocabulary: a changed key that EXISTED in the commit's parent
    * snapshot emits an `update_preimage` row (the old values, read from
    * the parent state) paired with an `update_postimage` row (the new
    * values) under the same `_change_snapshot`; keys new to the table
    * stay `insert`, and `delete` events carry the FULL deleted row (the
    * parent's values) instead of key-only. Downstream retraction-based
    * consumers (incremental aggregates, the repo's own [[DiffConsumer]]
    * IVM face) then maintain views from the feed ALONE — the pre-image
    * is the retraction they previously had to re-read the parent
    * snapshot for. Existence is decided against the parent's ACTUAL
    * visible rows (zone ∧ bloom-pruned to O(touched files), masks
    * applied), so the split is exact, not metadata-approximate; the
    * price is that every changed commit's PARENT must still be retained
    * (refused loudly otherwise — plain mode keeps its weaker
    * metadata-pruned fallback). */
  def changes(spark: SparkSession, tableDir: String, from: Long,
              to: Option[Long] = None,
              preImages: Boolean = false): Option[DataFrame] = {
    val ids = snapshots(spark, tableDir)
    val hi = to.getOrElse(ids.lastOption.getOrElse(from))
    val missing = ((from + 1) to hi).filterNot(ids.contains)
    require(missing.isEmpty,
      s"cannot read changes ($from, $hi] of $tableDir: snapshots ${missing.mkString(",")} expired")
    // RANGED manifest reads — O(interval), never O(retained history):
    // a long-lived CDF stream calls this once per trigger, and reading
    // every retained manifest up to `hi` each time would grow linearly
    // with history (the non-CDF stream path's commitsInRange posture)
    val inRange = commitsInRange(spark, tableDir, from, hi)
    // a COW upsert WITH row lineage is derivable (below); one without is
    // opaque — added files mix carried and changed rows indistinguishably
    val opaque = inRange.filter(c =>
        (c.op == "upsert" && !c.summary.get("lineage").contains("true")) ||
          c.op == "rollback")
      .map(c => s"${c.snapshotId}(${c.op})")
    require(opaque.isEmpty,
      s"cannot read changes ($from, $hi] of $tableDir: snapshots ${opaque.mkString(",")} " +
        "rewrote rows without row lineage (copy-on-write); use merge-on-read " +
        "commits or applyChanges(lineage = true)")
    // positional masks derive delete events with FULL payloads in both
    // modes: the positions name exact physical rows of still-referenced
    // files, so the deleted values (the pre-images) are read back
    // verbatim — no key arithmetic, no phantom ambiguity
    def posDeleteEvents(c: Commit): Seq[DataFrame] =
      c.added.filter(_.kind == "posdelete") match {
        case pos if pos.isEmpty || c.op == "replace" => Seq.empty
        case pos => Seq(tagOp(posDeleteRows(spark, pos), "delete", c.snapshotId))
      }
    val parts = inRange.flatMap { c =>
      if (c.op == "upsert") cowChanges(spark, tableDir, c, ids, preImages)
      else if (c.op == "rowdelta" && preImages)
        // a position-only rowdelta (deleteWhere) has no merge key to
        // classify by — its delete events derive from positions alone
        (if (c.added.exists(f => f.kind == "data" || f.kind == "eqdelete"))
           morChangesWithImages(spark, tableDir, c, ids)
         else Seq.empty) ++ posDeleteEvents(c)
      else {
      val dataAdded = c.added.filter(_.kind == "data")
      val delAdded = c.added.filter(_.kind == "eqdelete")
      val op = if (c.op == "append") "insert" else "upsert"
      val upserts =
        if (dataAdded.isEmpty || c.op == "replace") None
        else Some(GraftParquetSchema.read(spark, dataAdded.map(_.path): _*)
          .withColumn("_change_op", lit(op))
          .withColumn("_change_snapshot", lit(c.snapshotId)))
      val deletes =
        // a replace commit changes layout, not content — its re-added
        // mask entries (mask CONSOLIDATION) are not new delete events
        if (delAdded.isEmpty || c.op == "replace") None
        else {
          val delDf = GraftParquetSchema.read(spark, delAdded.map(_.path): _*)
          val keyCol = delDf.columns.head
          val masked =
            if (dataAdded.isEmpty) delDf.select(col(keyCol)).distinct()
            else delDf.select(col(keyCol)).distinct()
              .join(GraftParquetSchema.read(spark, dataAdded.map(_.path): _*).select(col(keyCol)),
                Seq(keyCol), "left_anti")
          // phantom pruning needs the PARENT snapshot's live data files;
          // a missing parent manifest (first commit, or expired beyond
          // the feed's own range check) means no pruning, never a guess
          val parentId = c.snapshotId - 1
          val pruned =
            if (parentId < 1) masked.limit(0) // no parent: nothing existed
            else if (ids.contains(parentId))
              prunePhantomKeys(spark, masked, keyCol,
                filesAt(spark, tableDir, Some(parentId)).filter(_.kind == "data"))
            else masked // parent manifest expired: cannot prove absence
          Some(pruned
            .withColumn("_change_op", lit("delete"))
            .withColumn("_change_snapshot", lit(c.snapshotId)))
        }
      upserts.toSeq ++ deletes.toSeq ++ posDeleteEvents(c)
      }
    }
    if (parts.isEmpty) None
    else Some(applyRegistry(
      parts.reduce(_.unionByName(_, allowMissingColumns = true)),
      registryAt(spark, tableDir, Some(hi))))
  }

  /** Row-level changes of a LINEAGE-stamped copy-on-write upsert commit
    * (the face [[diff]] and pre-lineage [[changes]] refuse): the added
    * files carry each row's last-updated snapshot id
    * ([[Merge.LineageCol]]), so
    *
    *  - upserts = added rows stamped WITH this commit's id (carried
    *    copies keep their older stamp and drop out);
    *  - deletes = keys present in the REMOVED (rewritten) files but in
    *    none of the added ones — one anti-join of O(rewritten) rows,
    *    never a table scan; emitted key-only, payload null, matching
    *    the merge-on-read feed's shape.
    *
    * Needs the removed files' bytes, which are referenced by the parent
    * snapshot: the parent manifest must still be retained or the delete
    * side is underivable — refused loudly, never guessed. */
  private def tagOp(df: DataFrame, op: String, snapshotId: Long): DataFrame =
    df.withColumn("_change_op", lit(op))
      .withColumn("_change_snapshot", lit(snapshotId))

  private def cowChanges(spark: SparkSession, tableDir: String, c: Commit,
                         ids: Seq[Long],
                         preImages: Boolean = false): Seq[DataFrame] = {
    val keyCol = c.summary.getOrElse("key",
      throw new IllegalStateException(
        s"lineage upsert ${c.snapshotId} of $tableDir lacks a key in its summary"))
    val dataAdded = c.added.filter(_.kind == "data")
    val addedDf =
      if (dataAdded.isEmpty) None // all-tombstone merge: nothing rewritten in
      else Some(GraftParquetSchema.read(spark, dataAdded.map(_.path): _*))
    val changed = addedDf.map(_
      .filter(col(Merge.LineageCol) === c.snapshotId)
      .drop(Merge.LineageCol))
    // the rewritten (removed) files ARE the parent state of every touched
    // key — COW refuses pending masks, so their raw rows are visible.
    // They may span SCHEMA EPOCHS (an ALTER-widened table keeps old-epoch
    // files live by reference), so the read goes through the epoch-safe
    // merge — a raw multi-path read would adopt one footer's schema and
    // silently null/drop the other epoch's columns from the emitted
    // pre-image and delete payloads.
    lazy val removedRows = {
      require(ids.contains(c.snapshotId - 1),
        s"cannot derive row changes of COW upsert ${c.snapshotId} of $tableDir: " +
          "parent snapshot expired (its file references anchor the removed bytes)")
      val removedSet = c.removed.toSet
      val parentFiles = filesAt(spark, tableDir, Some(c.snapshotId - 1))
        .filter(f => removedSet(f.path))
      // persist, not an EAGER localCheckpoint: the slice is consumed by
      // several branches of ONE final union job, so a lazy cache is
      // populated inside that job — an eager materialization would pay a
      // whole extra Spark job PER COMMIT in the feed (scheduler-overhead-
      // dominated at small scale, an extra pass at large)
      hideInternal(readEpochSafe(spark, parentFiles))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    if (!preImages) {
      val upserts = changed.map(tagOp(_, "upsert", c.snapshotId))
      val deletes =
        if (c.removed.isEmpty) None
        else {
          val removedKeys = removedRows.select(col(keyCol)).distinct()
          Some(tagOp(addedDf.fold(removedKeys)(a =>
              removedKeys.join(a.select(col(keyCol)), Seq(keyCol), "left_anti")),
            "delete", c.snapshotId))
        }
      upserts.toSeq ++ deletes.toSeq
    } else if (c.removed.isEmpty) {
      // nothing rewritten: every changed row is a brand-new key
      changed.map(tagOp(_, "insert", c.snapshotId)).toSeq
    } else {
      val removedKeys = removedRows.select(col(keyCol)).distinct()
      val posts = changed.map(ch =>
        tagOp(ch.join(removedKeys, Seq(keyCol), "left_semi"),
          "update_postimage", c.snapshotId))
      val inserts = changed.map(ch =>
        tagOp(ch.join(removedKeys, Seq(keyCol), "left_anti"),
          "insert", c.snapshotId))
      val pres = changed.map(ch =>
        tagOp(removedRows.join(ch.select(col(keyCol)).distinct(),
            Seq(keyCol), "left_semi"),
          "update_preimage", c.snapshotId))
      // deletes carry the FULL parent row (the removed files' values);
      // carried-forward keys (present in the added files with an older
      // stamp) are not deletes
      val delRows = tagOp(addedDf.fold(removedRows)(a =>
          removedRows.join(a.select(col(keyCol)), Seq(keyCol), "left_anti")),
        "delete", c.snapshotId)
      inserts.toSeq ++ posts.toSeq ++ pres.toSeq :+ delRows
    }
  }

  /** The parent snapshot's VISIBLE rows for a key set — zone ∧ bloom
    * pruned to the files that might hold any of the keys (O(touched),
    * never O(table)), pending masks applied, then semi-joined to exactly
    * the asked keys. None when no parent file can hold any key. */
  private def parentStateForKeys(spark: SparkSession, tableDir: String,
                                 parentId: Long, keyCol: String,
                                 keys: DataFrame): Option[DataFrame] = {
    val (dels, data) = filesAt(spark, tableDir, Some(parentId))
      .partition(isMask)
    val (touched, _) = Merge.pruneTouched(spark, keyCol, data, keys)
    assemble(spark, data, touched, dels)
      .map(_.join(keys.distinct(), Seq(keyCol), "left_semi"))
  }

  /** Pre/post-image events of one merge-on-read commit: split its added
    * rows into `insert` (key absent from the parent) vs
    * `update_postimage` (key present — its parent row emits as the
    * paired `update_preimage`), and emit full-payload `delete` rows for
    * masked keys that actually existed and were not re-inserted.
    * Existence is the parent's actual visible state for the delta's
    * keys ([[parentStateForKeys]]) — exact, not bloom-approximate. */
  private def morChangesWithImages(spark: SparkSession, tableDir: String,
                                   c: Commit, ids: Seq[Long]): Seq[DataFrame] = {
    val keyCol = c.summary.getOrElse("key",
      throw new IllegalStateException(
        s"rowdelta ${c.snapshotId} of $tableDir lacks a key in its summary"))
    val dataAdded = c.added.filter(_.kind == "data")
    val delAdded = c.added.filter(_.kind == "eqdelete")
    val addedDf =
      if (dataAdded.isEmpty) None
      else Some(GraftParquetSchema.read(spark, dataAdded.map(_.path): _*))
    val maskKeys =
      if (delAdded.isEmpty) None
      else Some(GraftParquetSchema.read(spark, delAdded.map(_.path): _*)
        .select(col(keyCol)).distinct())
    val parentId = c.snapshotId - 1
    if (parentId < 1) // no parent: nothing existed, everything inserts
      return addedDf.map(tagOp(_, "insert", c.snapshotId)).toSeq
    require(ids.contains(parentId),
      s"cannot derive pre-images of rowdelta ${c.snapshotId} of $tableDir: " +
        s"parent snapshot $parentId expired; read changes without preImages " +
        "or keep the retention horizon beyond consumer lag")
    val candKeys = (addedDf.map(_.select(col(keyCol))).toSeq ++ maskKeys.toSeq)
      .reduceOption(_ unionByName _).map(_.distinct())
    val parent = candKeys.flatMap(
      parentStateForKeys(spark, tableDir, parentId, keyCol, _))
      // consumed by up to four event-class branches of one union job;
      // O(delta keys). Lazy persist over eager checkpoint — same sharing,
      // no extra per-commit materialization job (see cowChanges)
      .map(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    parent match {
      case None => // no candidate key could exist: pure inserts, no deletes
        addedDf.map(tagOp(_, "insert", c.snapshotId)).toSeq
      case Some(pk) =>
        // TWO marker left-joins replace the r15 four-branch semi/anti fan
        // (posts, inserts, pres, deletes — 4 joins, each an AQE stage of
        // its own): every event class is a KEY-SET-membership decision, so
        //  - each ADDED row classifies against the parent key set:
        //    present ⇒ update_postimage, absent ⇒ insert;
        //  - each PARENT row classifies against the added key set:
        //    present ⇒ update_preimage, absent ⇒ delete — pk ∖ added ⊆
        //    maskKeys because pk was derived from candKeys = added ∪
        //    masked, so "masked, existed, not re-inserted" ≡ parent-only
        //    (with no mask file, pk ⊆ added keys and no delete can emit).
        // Marker sides are key-distinct, so per-row multiplicities are
        // EXACTLY the old semi/anti outputs.
        val pkKeys = pk.select(col(keyCol)).distinct()
          .withColumn("_pk_hit", lit(true))
        val aKeys = addedDf.map(_.select(col(keyCol)).distinct()
          .withColumn("_a_hit", lit(true)))
        val addedEvents = addedDf.map(a =>
          a.join(pkKeys, Seq(keyCol), "left")
            .withColumn("_change_op", when(col("_pk_hit").isNotNull,
              lit("update_postimage")).otherwise(lit("insert")))
            .withColumn("_change_snapshot", lit(c.snapshotId))
            .drop("_pk_hit"))
        val parentEvents = {
          val marked = aKeys.fold(
            pk.withColumn("_a_hit", lit(null).cast("boolean")))(
            ak => pk.join(ak, Seq(keyCol), "left"))
          marked
            .withColumn("_change_op", when(col("_a_hit").isNotNull,
              lit("update_preimage")).otherwise(lit("delete")))
            .withColumn("_change_snapshot", lit(c.snapshotId))
            .drop("_a_hit")
        }
        addedEvents.toSeq :+ parentEvents
    }
  }

  /** The FULL rows a positional mask deleted: the targeted file paths
    * come from the mask itself (driver-side, O(masked files) strings),
    * then exactly those files read back with scan metadata and the
    * positions semi-join. Payloads are exact pre-images by construction
    * — a position names one physical row of a file the commit's parent
    * still references (retention keeps referenced bytes). */
  private def posDeleteRows(spark: SparkSession,
                            posAdded: Seq[DataFile]): DataFrame = {
    val masks = GraftParquetSchema.read(spark, posAdded.map(_.path): _*)
      .select(col(PosFileCol), col(PosOrdCol)).distinct()
    val targets = masks.select(PosFileCol).distinct()
      .collect().map(_.getString(0)).toIndexedSeq
    // the targets may span SCHEMA EPOCHS (positions in a pre-widening
    // file next to positions in a drifted one): a raw multi-path read
    // would adopt one arbitrary footer and silently null/drop the other
    // epoch's columns from the delete payloads — read them all under
    // the footers' merged schema (one footer per targeted file:
    // O(masked files), driver metadata)
    val unioned = withPos(spark.read
      .schema(mergedOf(targets.map(GraftParquetSchema.schemaOf(spark, _))))
      .parquet(targets: _*))
    hideInternal(
      unioned
        .join(broadcast(masks), Seq(PosFileCol, PosOrdCol), "left_semi")
        .drop(PosFileCol, PosOrdCol))
  }

  /** Drop delete keys PROVABLY absent from `files` (the parent
    * snapshot's live data): a key survives iff some file's zone stats
    * for the key column contain it (files without stats keep every key —
    * conservative) AND that file's manifest bloom, when present, reports
    * a possible hit. Probed as one semi-join of the O(delta) key frame
    * against the broadcast per-file metadata — distributed, no driver
    * key array, and no false negatives by bloom construction: pruning
    * can only remove keys that were certainly never there. */
  private def prunePhantomKeys(spark: SparkSession, keys: DataFrame,
                               keyCol: String,
                               files: Seq[DataFile]): DataFrame = {
    if (files.isEmpty) return keys.limit(0)
    import spark.implicits._
    val statsDf = files.map { f =>
      val zone = f.stats.get(keyCol)
      (zone.map(_._1), zone.map(_._2),
        f.blooms.get(keyCol).map(java.util.Base64.getDecoder.decode).orNull)
    }.toDF("mn", "mx", "bloom")
    // long keys probe as themselves against zone ∧ bloom; string keys
    // have no long zone (mn/mx null ⇒ zone passes) and probe the bloom
    // by the shared xxhash64 domain
    val k = keyAsLong(keys, keyCol)
    keys.join(broadcast(statsDf),
      (col("mn").isNull || (k >= col("mn") && k <= col("mx"))) &&
        (col("bloom").isNull || graft.functions.GraftFunctions
          .bloom_might_contain(col("bloom"), k, BloomHashes)),
      "left_semi")
  }

  /** ROLLBACK: make `toSnapshot`'s state current again by committing a
    * NEW snapshot whose live set is exactly the target's — history is
    * append-only (the bad snapshots stay inspectable and expirable), no
    * file is copied or deleted, and re-referenced files keep their
    * original sequence numbers so pending equality deletes still apply
    * to exactly the rows they applied to then. Readers pinned to the
    * rolled-back-over snapshots are unaffected; [[diff]]/[[changes]]
    * refuse ranges crossing the rollback (content moved backward — no
    * forward delta exists). */
  def rollback(spark: SparkSession, tableDir: String, toSnapshot: Long): Long = {
    val current = currentSnapshotId(spark, tableDir).getOrElse(
      throw new IllegalArgumentException(s"cannot rollback empty table $tableDir"))
    require(toSnapshot < current,
      s"rollback target $toSnapshot is not older than current $current")
    val (target, targetReg) = stateAt(spark, tableDir, Some(toSnapshot))
    val (live, curReg) = stateAt(spark, tableDir, Some(current))
    val livePaths = live.map(_.path).toSet
    val targetPaths = target.map(_.path).toSet
    // RESTORE restores the SCHEMA with the content (the Delta RESTORE
    // contract): the rollback commit re-pins the target's field registry
    // — renames/drops made after the target revert with the rows they
    // described, and a rolled-out schema-carrier's columns disappear
    // coherently. A target with NO registry pins the empty identity
    // registry (equivalent to none) so the newer mapping stops applying.
    val regSummary =
      if (curReg == targetReg) Map.empty[String, String]
      else Map(FieldRegistry.SummaryKey ->
        targetReg.getOrElse(FieldRegistry(Nil, 1)).toJson)
    commit(spark, tableDir, "rollback",
      added = target.filterNot(f => livePaths.contains(f.path)),
      removed = live.map(_.path).filterNot(targetPaths.contains),
      summary = Map("rolled_back_to" -> toSnapshot.toString) ++ regSummary)
  }

  /** Table HISTORY introspection (the DESCRIBE HISTORY / metadata-table
    * face of the log): one row per retained snapshot with its operation
    * and row accounting, computed from manifests alone — zero data files
    * opened. `rows_added` is the commit's added-file row sum (what an
    * incremental consumer would read for an append; the rewrite volume
    * for replace/upsert); `rows_live` is the table's logical size at
    * that snapshot. `rows_deleted` counts this commit's equality-delete
    * ENTRIES (merge-on-read masks); while any are pending, `rows_live`
    * is the data-file row sum, i.e. an upper bound on logical rows —
    * exact again after a delete-materializing rewrite (the same estimate
    * semantics Iceberg documents for equality deletes). */
  def history(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val cs = commits(spark, tableDir)
    // per-snapshot live accounting by folding each commit's delta over
    // the FIRST retained snapshot's resolved state — one anchor read +
    // one pass over the retained manifests, zero data files opened.
    // Tag-exempt retention can leave HOLES in the retained ids; a fold
    // across a hole would skip the expired deltas, so non-contiguous
    // steps re-resolve from their own anchor instead.
    var liveMap: Map[String, DataFile] =
      if (cs.isEmpty) Map.empty
      else filesAt(spark, tableDir, Some(cs.head.snapshotId))
        .map(f => f.path -> f).toMap
    val rows = cs.zipWithIndex.map { case (c, i) =>
      if (i > 0 && cs(i - 1).snapshotId == c.snapshotId - 1)
        liveMap = (liveMap -- c.removed) ++ c.added.map(f => f.path -> f)
      else if (i > 0)
        liveMap = filesAt(spark, tableDir, Some(c.snapshotId))
          .map(f => f.path -> f).toMap
      (c.snapshotId, c.op,
        c.added.filter(_.kind == "data").map(_.rows).sum,
        c.added.filter(isMask).map(_.rows).sum,
        liveMap.values.filter(_.kind == "data").map(_.rows).sum)
    }
    rows.toDF("snapshot_id", "op", "rows_added", "rows_deleted", "rows_live")
  }

  /** DESCRIBE DETAIL — one row of operational metadata from manifests
    * alone (zero data files opened): current snapshot, retained history
    * depth, live data file/row/byte counts, pending mask debt (entries
    * and files), last checkpoint id, tag count, and the partition/zone/
    * bloom columns the manifests index. The at-a-glance face an operator
    * (or the advisor's cron) reads before deciding maintenance. */
  def detail(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val ids = snapshots(spark, tableDir)
    val live = if (ids.isEmpty) Seq.empty else filesAt(spark, tableDir)
    val (dels, data) = live.partition(isMask)
    Seq((
      ids.lastOption.getOrElse(0L), ids.size,
      data.size, data.map(_.rows).sum, data.map(_.bytes).sum,
      dels.size, dels.map(_.rows).sum,
      lastCheckpointId(spark, tableDir).getOrElse(0L),
      tags(spark, tableDir).size,
      data.flatMap(_.parts.keys).distinct.sorted.mkString(","),
      data.flatMap(_.stats.keys).distinct.sorted.mkString(","),
      data.flatMap(_.blooms.keys).distinct.sorted.mkString(",")
    )).toDF("snapshot_id", "snapshots_retained", "data_files", "rows_live",
      "bytes_live", "mask_files", "mask_entries", "last_checkpoint",
      "tags", "partition_cols", "zone_cols", "bloom_cols")
  }

  /** Minimum age before an unreferenced data file is swept: files
    * younger than this may belong to an IN-FLIGHT writer (staged, not
    * yet committed) or to a commit that landed after the sweep resolved
    * its reference set — deleting them would corrupt a racing commit.
    * One hour is far beyond any stage→commit window (the
    * Iceberg/Delta orphan-cleanup posture: age-gate, never "delete
    * everything unreferenced right now"). */
  val DefaultOrphanGraceMs: Long = 60L * 60 * 1000

  /** Retention: keep the newest `retainLast` snapshots, drop older
    * manifests, and delete every file under `data/` that no retained
    * snapshot references — which also sweeps orphans from crashed
    * pre-commit writers, age-gated by `orphanGraceMs` so the sweep can
    * run CONCURRENTLY with live writers (pass 0 only when nothing else
    * can be mid-commit). Time travel to an expired snapshot then fails
    * by construction ([[commits]] rejects unknown ids). Returns
    * (#manifests dropped, #data files deleted). */
  def expireSnapshots(spark: SparkSession, tableDir: String,
                      retainLast: Int = 2,
                      olderThanMs: Option[Long] = None,
                      orphanGraceMs: Long = DefaultOrphanGraceMs): (Int, Int) = {
    require(retainLast >= 1, "must retain at least the current snapshot")
    val fs = fsOf(spark, tableDir)
    val ids = snapshots(spark, tableDir)
    // age-based retention composes with count-based: expire only
    // snapshots BOTH beyond the last-N window AND older than the cutoff
    // (the Iceberg expire_snapshots(older_than, retain_last) contract) —
    // so a quiet table never loses its history to the clock alone
    val byAge: Long => Boolean = olderThanMs match {
      case Some(cutoff) =>
        val ts = commits(spark, tableDir).map(c => c.snapshotId -> c.tsMs).toMap
        id => ts.getOrElse(id, 0L) < cutoff
      case None => _ => true
    }
    // TAGGED snapshots are exempt from retention (the Iceberg ref
    // contract): they stay resolvable until the tag is removed, and may
    // punch HOLES in the otherwise-prefix expiry set. Live BRANCH fork
    // bases are exempt the same way — a branch read resolves THROUGH
    // its base until the branch publishes or drops.
    val taggedIds = tags(spark, tableDir).values.toSet ++
      Branch.baseIds(spark, tableDir)
    val expired = ids.dropRight(retainLast).filter(byAge)
      .filterNot(taggedIds.contains)
    val expiredSet = expired.toSet
    // referenced = union of live file sets of every retained snapshot,
    // plus PENDING STAGED appends (write-audit-publish work awaiting its
    // audit must survive the sweep until published or discarded)
    val retainedIds = ids.filterNot(expiredSet.contains)
    val referenced = retainedIds.flatMap(id =>
      filesAt(spark, tableDir, Some(id)).map(_.path)).toSet ++
      stagedTokens(spark, tableDir).flatMap(t =>
        readStagedManifest(fs, tableDir, t)._1.map(_.path)) ++
      // files referenced only by a live BRANCH chain survive the sweep
      // until the branch publishes (they become main-referenced) or
      // drops (they age out through the grace gate)
      Branch.protectedPaths(spark, tableDir)
    // durable metadata (TBLPROPERTIES, the lineage declaration) rides
    // ordinary commit summaries; if expiry would delete the NEWEST
    // carrier of either, carry it forward as ONE fileless metadata
    // commit FIRST — retention must never silently change table
    // behavior (a vacuumed posDeletes table flipping to COW rewrites,
    // a declared feed losing its bootstrap). The carrier scan is
    // redefinition-bounded, so a pre-REPLACE declaration is never
    // resurrected by its own expiry.
    if (expired.nonEmpty) {
      // REDEFINITION boundaries need carrying too: expiring a
      // `replace-table` commit while an OLDER tagged (or branch-base)
      // commit survives the hole would let durableMetaScan walk past the
      // vanished boundary and RESURRECT the dead pre-REPLACE lineage key
      // / properties off the surviving older carrier. When that shape is
      // about to happen, the carry commit is itself stamped
      // `mode -> replace-table` AND carries the complete currently-
      // resolved durable metadata (props, declaration, history lineage
      // marker) — the tombstone becomes both the new boundary and the
      // new newest carrier, so resolution finds today's values AT it
      // instead of stopping empty or scanning past it.
      val expiredRedefs = commits(spark, tableDir)
        .filter(c => expiredSet.contains(c.snapshotId) && isRedefinition(c))
        .map(_.snapshotId)
      val needBoundary = expiredRedefs.nonEmpty &&
        retainedIds.exists(_ < expiredRedefs.max)
      // the carry RECOMPUTES on every attempt: a concurrent SET
      // TBLPROPERTIES landing a NEWER retained carrier makes the carry
      // unnecessary — blindly recommitting the old map after a lost
      // race would silently revert the user's change, the exact
      // behavior drift this block exists to prevent
      def carryNow(): Map[String, String] =
        if (needBoundary) {
          val (lineage, declared, props) = durableMetaScan(spark, tableDir)
          Map("mode" -> "replace-table",
              TablePropsKey -> propsJson(props)) ++
            declared.map(LineageDeclaredKey -> _) ++
            lineage.map(k => Map("lineage" -> "true", "key" -> k))
              .getOrElse(Map.empty)
        } else Seq(TablePropsKey, LineageDeclaredKey).flatMap { key =>
          commitsReverse(spark, tableDir)
            .find(c => c.summary.contains(key) || isRedefinition(c))
            .filter(c => c.summary.contains(key) &&
              expiredSet.contains(c.snapshotId))
            .map(c => key -> c.summary(key))
        }.toMap
      var attempts = 0
      var done = false
      while (!done) {
        val carry = carryNow()
        if (carry.isEmpty) done = true
        else try {
          commitAt(spark, tableDir,
            currentSnapshotId(spark, tableDir).getOrElse(0L) + 1,
            "schema", Seq.empty, Seq.empty,
            if (carry.contains("mode")) carry
            else carry + ("mode" -> "retention-carry"))
          done = true
        } catch {
          case e: ConcurrentCommitException =>
            attempts += 1
            if (attempts > 5) throw e
        }
      }
    }
    // anchor every retained id stranded by the deletions BEFORE they
    // happen: resolution folds forward from a checkpoint (or v1
    // manifest), so each retained id whose direct predecessor expires —
    // the horizon itself, and every tagged island — gets its own
    // checkpoint. Published first also makes the concurrent-reader race
    // safe: a walker hitting a deleted manifest retries onto the anchor.
    if (expired.nonEmpty)
      retainedIds
        .filter(r => expiredSet.contains(r - 1) || r == retainedIds.head)
        .foreach(writeCheckpoint(spark, tableDir, _))
    expired.foreach(id => fs.delete(manifestPath(tableDir, id), false))
    // a checkpoint is kept while some retained id still resolves
    // THROUGH it: its own id retained, or the next id retained (one
    // delta-manifest fold). Everything else anchors nothing. A parquet
    // checkpoint's row dir goes with its pointer (pointer first would
    // strand the rows; rows first is safe — a racing reader hitting the
    // missing dir retries via the FileNotFound path onto a fresh anchor).
    def checkpointParquetRel(id: Long): Option[String] =
      try {
        val in = fs.open(checkpointPath(tableDir, id))
        val node = try mapper.readTree(in) finally in.close()
        Option(node.get("parquet_dir")).map(_.asText())
      } catch { case scala.util.control.NonFatal(_) => None }
    val retainedSet = retainedIds.toSet
    val (_, allCps) = listLog(fs, tableDir)
    val (keptCps, dropCps) = allCps.partition(c =>
      retainedSet.contains(c) || retainedSet.contains(c + 1))
    dropCps.foreach { id =>
      checkpointParquetRel(id).foreach(rel =>
        fs.delete(new Path(logDir(tableDir), rel), true))
      fs.delete(checkpointPath(tableDir, id), false)
    }
    // orphan parquet-checkpoint dirs (a writer that died between its row
    // write and its pointer publish, or a lost pointer race whose loser
    // died before its own cleanup): anything under ckpt-data/ that no
    // surviving pointer references, age-gated like the data sweep
    val ckptRoot = new Path(logDir(tableDir), "ckpt-data")
    if (fs.exists(ckptRoot)) {
      val referenced = keptCps.flatMap(checkpointParquetRel)
        .map(rel => new Path(logDir(tableDir), rel).toUri.getPath).toSet
      val cutoff = System.currentTimeMillis() - orphanGraceMs
      fs.listStatus(ckptRoot).foreach { st =>
        if (st.isDirectory && !referenced.contains(st.getPath.toUri.getPath) &&
            st.getModificationTime <= cutoff)
          try fs.delete(st.getPath, true)
          catch { case _: java.io.IOException => () }
      }
    }
    val dataRoot = new Path(s"$tableDir/data")
    val sweepBefore = System.currentTimeMillis() - orphanGraceMs
    var deleted = 0
    // hand-rolled walk instead of fs.listFiles(recursive): the sweep runs
    // CONCURRENTLY with writers, so `_temporary` committer scratch must be
    // skipped (it is some writer's in-flight state, never an orphan) and
    // entries vanishing mid-listing are normal, not an error
    def walk(dir: Path): Unit = {
      val entries =
        try fs.listStatus(dir)
        catch { case _: java.io.FileNotFoundException => return }
      entries.foreach { st =>
        if (st.isDirectory) {
          if (st.getPath.getName != "_temporary") walk(st.getPath)
        } else {
          val p = st.getPath.toUri.getPath
          if (st.getPath.getName.endsWith(".parquet") && !referenced.contains(p) &&
              st.getModificationTime <= sweepBefore) {
            if (try fs.delete(st.getPath, false)
                catch { case _: java.io.IOException => false }) deleted += 1
          }
        }
      }
    }
    if (fs.exists(dataRoot)) walk(dataRoot)
    (expired.size, deleted)
  }
}
