package graft.table

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** NAMED BRANCH REFS over the snapshot log — the Iceberg branch/ref
  * school, generalizing the single-commit write-audit-publish staging to
  * a CHAIN: a branch forks from a pinned main snapshot, accumulates any
  * number of branch-local commits (each an ordinary delta manifest,
  * invisible to every main-line reader, incremental consumer and epoch
  * pin), is readable at its head the whole time (audit the WHOLE
  * pipeline result, not one commit), and PUBLISHES by replaying its
  * deltas onto main head — fast-forward when main never moved, an
  * OCC-classified rebase when it did (interleaved main appends compose;
  * a main commit that removed a file the branch derived from, or added a
  * delete mask the branch's re-committed rows would escape, aborts —
  * the same [[SnapshotLog.ConflictGuard]] rules every pinned writer
  * obeys). A dropped branch costs nothing: its manifests delete and its
  * data files age out through the grace-gated orphan sweep.
  *
  * Layout: `_graft_log/_branches/<name>/NNNNNN.json`. Entry 0 pins the
  * fork base; entries k ≥ 1 are branch deltas (added/removed/summary —
  * the same vocabulary as main manifests, parsed by the same code).
  * Every entry publishes through the store's atomic no-clobber
  * primitive, so two writers racing a branch commit have exactly one
  * winner. Branch-referenced files and the fork-base snapshot are
  * protected from retention while the branch lives
  * ([[SnapshotLog.expireSnapshots]] consults [[protectedPaths]] /
  * [[baseIds]]).
  *
  * 100 TB posture: a branch read costs the base snapshot's resolution
  * plus O(branch deltas) manifest reads; publishing moves ZERO data
  * bytes (the staged files are re-referenced, never rewritten). */
object Branch {

  private def root(tableDir: String): Path =
    new Path(SnapshotLog.logDir(tableDir), "_branches")

  private def branchDir(tableDir: String, name: String): Path = {
    require(name.matches("[A-Za-z0-9._-]{1,64}"),
      s"branch name '$name' must be 1-64 chars of [A-Za-z0-9._-]")
    new Path(root(tableDir), name)
  }

  private def entryPath(tableDir: String, name: String, k: Int): Path =
    new Path(branchDir(tableDir, name), f"$k%06d.json")

  private final case class Entry(k: Int, op: String,
                                 added: Seq[SnapshotLog.DataFile],
                                 removed: Seq[String],
                                 summary: Map[String, String],
                                 base: Long)

  private def writeEntry(spark: SparkSession, tableDir: String, name: String,
                         k: Int, op: String, added: Seq[SnapshotLog.DataFile],
                         removed: Seq[String], summary: Map[String, String],
                         base: Long): Boolean = {
    val fs = SnapshotLog.fsOf(spark, tableDir)
    fs.mkdirs(branchDir(tableDir, name))
    val node: ObjectNode = SnapshotLog.mapper.createObjectNode()
    node.put("format", "graft-branch-v1")
    node.put("k", k); node.put("op", op); node.put("base", base)
    node.put("ts_ms", System.currentTimeMillis())
    SnapshotLog.putFiles(node.putArray("added"), added)
    val rem = node.putArray("removed"); removed.foreach(rem.add)
    val sum = node.putObject("summary")
    summary.foreach { case (key, v) => sum.put(key, v) }
    LogStore.putBytesIfAbsent(fs, entryPath(tableDir, name, k),
      SnapshotLog.mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
  }

  private def readEntry(spark: SparkSession, tableDir: String, name: String,
                        k: Int): Entry = {
    val fs = SnapshotLog.fsOf(spark, tableDir)
    val in = fs.open(entryPath(tableDir, name, k))
    val node: JsonNode = try SnapshotLog.mapper.readTree(in) finally in.close()
    import scala.jdk.CollectionConverters._
    Entry(k, node.get("op").asText(),
      SnapshotLog.parseFiles(node, "added"),
      node.get("removed").elements().asScala.toSeq.map(_.asText()),
      Option(node.get("summary")).map(_.fields().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map.empty),
      node.get("base").asLong())
  }

  private def entryIds(spark: SparkSession, tableDir: String,
                       name: String): Seq[Int] = {
    val fs = SnapshotLog.fsOf(spark, tableDir)
    val dir = branchDir(tableDir, name)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && !n.startsWith("."))
      .map(_.stripSuffix(".json")).filter(n => n.nonEmpty && n.forall(_.isDigit))
      .map(_.toInt).sorted
  }

  /** All live branch names of a table. */
  def branches(spark: SparkSession, tableDir: String): Seq[String] = {
    val fs = SnapshotLog.fsOf(spark, tableDir)
    val r = root(tableDir)
    if (!fs.exists(r)) Seq.empty
    else fs.listStatus(r).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => entryIds(spark, tableDir, n).contains(0)).sorted
  }

  /** Fork a branch at the CURRENT main snapshot. Throws if the name is
    * taken or the table is empty. The fork records a unique TOKEN: the
    * publish-idempotence markers are scoped to it, so re-creating and
    * re-publishing a previously-published NAME (the normal fixed-name
    * WAP pattern) can never mistake an old publish's markers for this
    * chain's and silently skip staged commits. */
  def create(spark: SparkSession, tableDir: String, name: String): Long = {
    val base = SnapshotLog.currentSnapshotId(spark, tableDir).getOrElse(
      throw new IllegalArgumentException(
        s"cannot branch an empty table $tableDir"))
    require(writeEntry(spark, tableDir, name, 0, "fork", Seq.empty, Seq.empty,
      Map("branch" -> name,
        "token" -> java.util.UUID.randomUUID().toString), base),
      s"branch '$name' already exists on $tableDir")
    base
  }

  /** Number of staged (unpublished) commits on the branch. */
  def chainLength(spark: SparkSession, tableDir: String, name: String): Int = {
    val ids = entryIds(spark, tableDir, name)
    require(ids.contains(0), s"no branch '$name' on $tableDir")
    ids.size - 1
  }

  /** The fork-base snapshot id of a branch. */
  def baseOf(spark: SparkSession, tableDir: String, name: String): Long = {
    require(entryIds(spark, tableDir, name).contains(0),
      s"no branch '$name' on $tableDir")
    readEntry(spark, tableDir, name, 0).base
  }

  /** Append `df` to the branch as its next chain entry — an ordinary
    * [[SnapshotLog.writeData]] write described by a branch-local delta
    * manifest: invisible to main until [[publish]], readable via [[read]]
    * immediately. Two racing branch writers get exactly one winner per
    * k (the loser's files become grace-gated orphans). Returns k. */
  def commitTo(spark: SparkSession, tableDir: String, name: String,
               df: DataFrame, statsCol: Option[String] = None,
               summary: Map[String, String] = Map.empty): Int = {
    val base = baseOf(spark, tableDir, name)
    val files = SnapshotLog.writeData(df, tableDir, statsCol = statsCol)
    var k = entryIds(spark, tableDir, name).max + 1
    var attempts = 0
    while (!writeEntry(spark, tableDir, name, k, "append", files, Seq.empty,
        summary + ("branch" -> name), base)) {
      attempts += 1
      require(attempts <= 10,
        s"branch '$name' on $tableDir: kept losing the entry race")
      k += 1
    }
    k
  }

  /** The branch head's state: the fork base's live set folded through
    * the chain's deltas, masks applied — time travel, pruning metadata
    * and the whole read discipline behave exactly as on main. None when
    * the folded state has no data files. */
  def read(spark: SparkSession, tableDir: String,
           name: String): Option[DataFrame] = {
    val entries = chain(spark, tableDir, name)
    val base = entries.head.base
    var live = SnapshotLog.filesAt(spark, tableDir, Some(base))
      .map(f => f.path -> f).toMap
    entries.drop(1).foreach { e =>
      live = live -- e.removed
      // stamp branch-added files with a seq ABOVE every base seq so the
      // epoch-merging read and mask-seq rules order them correctly
      live = live ++ e.added.map(f =>
        f.path -> (if (f.seq == 0L) f.copy(seq = base + e.k) else f))
    }
    val files = live.values.toSeq
    val (dels, data) = files.partition(SnapshotLog.isMask)
    if (data.isEmpty) None
    else Some(SnapshotLog.applyMasks(spark, data, dels))
  }

  private def chain(spark: SparkSession, tableDir: String,
                    name: String): Seq[Entry] = {
    val ids = entryIds(spark, tableDir, name)
    require(ids.contains(0), s"no branch '$name' on $tableDir")
    ids.map(readEntry(spark, tableDir, name, _))
  }

  /** PUBLISH: replay the branch's deltas onto main as ordinary commits —
    * a pure FAST-FORWARD when main never moved past the fork base, an
    * OCC-classified rebase when it did (each delta re-commits through
    * [[SnapshotLog.commitPinned]]; interleaved main appends compose,
    * interleaves that removed branch-read files or added masks abort
    * with the interleaving commit named). Zero data bytes move. The
    * branch is dropped after the last delta lands; an abort mid-chain
    * leaves already-published deltas live (each was individually
    * consistent) and the branch intact from the failure point — re-run
    * [[publish]] after resolving, or [[drop]] to abandon. Returns the
    * final main snapshot id (the fork base when the branch was empty). */
  def publish(spark: SparkSession, tableDir: String, name: String): Long = {
    val entries = chain(spark, tableDir, name)
    val base = entries.head.base
    var head = SnapshotLog.currentSnapshotId(spark, tableDir).getOrElse(base)
    val fs = SnapshotLog.fsOf(spark, tableDir)
    // classify EVERY main commit that landed since the fork — not only
    // the ones a commit race happens to surface: the chain derived from
    // the fork base's view, so a main commit that removed a base file
    // (rewrite, DML), added a delete mask, or changed the registry
    // invalidates it even when the replay's ids are uncontended
    val guard = SnapshotLog.ConflictGuard(
      readPaths = SnapshotLog.filesAt(spark, tableDir, Some(base))
        .map(_.path).toSet,
      registrySensitive = true)
    val chainRemoved = entries.flatMap(_.removed).toSet
    if (head > base)
      SnapshotLog.commitsInRange(spark, tableDir, base, head).foreach { c =>
        SnapshotLog.rebaseConflict(c, chainRemoved, guard).foreach { why =>
          throw new SnapshotLog.ConcurrentCommitException(
            s"cannot publish branch '$name' of $tableDir past main commit " +
              s"${c.snapshotId} (${c.op}): $why — re-branch from the " +
              "current snapshot or drop the branch")
        }
      }
    // crash-safe idempotence (the publishStaged discipline): a death
    // between a delta's commit and its entry delete leaves the entry
    // looking pending — the summary marker on the landed commit is the
    // durability witness, so a re-run finishes the cleanup instead of
    // re-referencing the same files twice. Markers are scoped by the
    // fork TOKEN: a marker left by a PREVIOUS publish of the same
    // branch NAME must never claim this chain's k values (it would
    // silently skip — lose — the re-created branch's staged commits).
    val token = entries.head.summary.getOrElse("token", "")
    val already =
      if (token.isEmpty) Set.empty[Int] // pre-token fork: never skip
      else SnapshotLog.commits(spark, tableDir)
        .filter(c => c.summary.get("branch_published").contains(name) &&
          c.summary.get("branch_token").contains(token))
        .flatMap(_.summary.get("branch_k")).map(_.toInt).toSet
    entries.drop(1).foreach { e =>
      if (!already.contains(e.k))
        head = SnapshotLog.commitPinned(spark, tableDir, head, e.op, e.added,
          e.removed, e.summary ++
            Map("branch_published" -> name, "branch_k" -> e.k.toString,
              "branch_token" -> token),
          guard = guard) // same rules for races DURING the replay
      fs.delete(entryPath(tableDir, name, e.k), false)
    }
    drop(spark, tableDir, name)
    head
  }

  /** Abandon a branch: manifests delete now, its data files become
    * unreferenced and the grace-gated orphan sweep reclaims them.
    * Idempotent. */
  def drop(spark: SparkSession, tableDir: String, name: String): Unit = {
    val fs = SnapshotLog.fsOf(spark, tableDir)
    fs.delete(branchDir(tableDir, name), true)
    ()
  }

  /** Every data-file path referenced by any live branch — protected from
    * the orphan sweep while the branch lives. */
  private[table] def protectedPaths(spark: SparkSession,
                                    tableDir: String): Set[String] =
    branches(spark, tableDir).flatMap(n =>
      chain(spark, tableDir, n).flatMap(_.added.map(_.path))).toSet

  /** Every live branch's fork-base snapshot — exempt from retention like
    * a tagged snapshot (the branch read resolves THROUGH it). */
  private[table] def baseIds(spark: SparkSession,
                             tableDir: String): Set[Long] =
    branches(spark, tableDir).map(baseOf(spark, tableDir, _)).toSet
}
