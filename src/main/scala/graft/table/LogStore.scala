package graft.table

import org.apache.hadoop.fs.{FileSystem, Path}

/** Pluggable ATOMIC-COMMIT primitive for [[SnapshotLog]] — the Delta
  * LogStore contract, re-expressed for this engine's manifest log. A
  * commit is "publish this fully-written temp manifest at `<id>.json`
  * iff nothing exists there yet", and the whole snapshot protocol's
  * consistency reduces to that one operation being atomic: under N
  * concurrent committers racing for the same id, EXACTLY ONE
  * `putIfAbsent` may return true.
  *
  * Why pluggable: no single filesystem primitive is atomic everywhere.
  *  - POSIX `rename(2)` silently OVERWRITES an existing target, so on
  *    `file:` the no-clobber primitive is a hard LINK (EEXIST ⇒ lost).
  *  - HDFS-like stores refuse to rename onto an existing target at the
  *    namenode — rename itself is the primitive.
  *  - S3-class object stores have NEITHER: "rename" is copy+delete and
  *    a bare PUT is last-write-wins, so an exists-check + put race lets
  *    two writers both "win" and silently drops one commit. The
  *    published fixes are an external CAS (Delta's S3DynamoDBLogStore:
  *    one conditional put-item per commit) or the store's own
  *    conditional write (S3 `If-None-Match: *`). [[ConditionalPutLogStore]]
  *    models exactly that: an injected [[CommitArbiter]] decides the
  *    winner BEFORE any byte lands at the target, so the blind PUT
  *    underneath never races.
  *
  * The reference's warehouse is MinIO/S3A
  * (/root/reference/glue-jobs/kafka_to_s3_enhanced.py:58-63) — i.e. its
  * front door runs through the object-store case; this abstraction is
  * what makes the snapshot log safe there, not just on file:/HDFS.
  */
trait LogStore {

  /** Publish `src` (a fully-written temp file) at `target` iff no file
    * exists there. Returns true iff THIS caller won the target; `src` is
    * left in place either way (the caller deletes it). MUST be atomic:
    * concurrent callers racing for one `target` see at most one true. */
  def putIfAbsent(fs: FileSystem, src: Path, target: Path): Boolean
}

/** `file:` scheme: hard-link the temp file to the target name.
  * `link(2)` fails with EEXIST atomically in the kernel when the target
  * already exists — the no-clobber primitive POSIX rename refuses to be. */
object HardLinkLogStore extends LogStore {
  override def putIfAbsent(fs: FileSystem, src: Path, target: Path): Boolean =
    try {
      java.nio.file.Files.createLink(
        java.nio.file.Paths.get(target.toUri.getPath),
        java.nio.file.Paths.get(src.toUri.getPath))
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    }
}

/** HDFS-family stores: `rename` refuses an existing target at the
  * namenode, so check-then-rename never clobbers (the exists() probe is
  * only a fast path; the rename is the atomic arbiter). NOT safe on
  * object stores whose rename is copy+delete — use
  * [[ConditionalPutLogStore]] there. */
object AtomicRenameLogStore extends LogStore {
  override def putIfAbsent(fs: FileSystem, src: Path, target: Path): Boolean = {
    if (fs.exists(target)) return false
    if (fs.rename(src, target)) return true
    // rename returned false: a lost race iff the target now exists;
    // anything else (missing parent, quota, transient IO) is an
    // INFRASTRUCTURE failure — surfacing it as "another writer won"
    // would send the operator chasing phantom races while commitRetrying
    // burns its retries against the same broken rename
    if (fs.exists(target)) false
    else throw new java.io.IOException(
      s"rename $src -> $target failed but no competing file exists — " +
        "infrastructure fault, not a commit race")
  }
}

/** The external CAS a conditional-put store consults to claim a commit
  * id before writing it. `claim(key, payload)` must return true for
  * EXACTLY ONE caller per key, ever — the semantics of a DynamoDB
  * `attribute_not_exists` put-item — and durably stores the winner's
  * `payload` (the full manifest bytes, KB-scale) WITH the claim. The
  * payload is what makes an orphaned claim recoverable: if the winner
  * dies between its claim and its put, the next writer completes the
  * commit from `payloadOf` instead of the table wedging forever on a
  * consumed id (exactly Delta's S3DynamoDBLogStore incomplete-entry
  * recovery). [[ProcessLocalArbiter]] is the single-JVM model used in
  * tests and single-driver deployments; a multi-driver deployment plugs
  * its real coordination service here. */
trait CommitArbiter {
  def claim(key: String, payload: Array[Byte]): Boolean
  def payloadOf(key: String): Option[Array[Byte]]
  /** The put landed: the payload may be dropped (the claim marker MUST
    * remain — exactly-once is forever). Without this, a long-running
    * driver would retain every commit's manifest bytes indefinitely. */
  def complete(key: String): Unit
}

/** CAS over a concurrent map — faithful to the conditional-put
  * semantics within one process (install ONE instance per JVM so every
  * local writer racing one table is arbitrated by the same map); it is
  * NOT a cross-process primitive. Completed claims keep an empty
  * sentinel so memory stays O(#commits × key length), not
  * O(#commits × manifest size). */
final class ProcessLocalArbiter extends CommitArbiter {
  private val claimed =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()
  override def claim(key: String, payload: Array[Byte]): Boolean =
    claimed.putIfAbsent(key, payload) == null
  override def payloadOf(key: String): Option[Array[Byte]] =
    Option(claimed.get(key)).filter(_.nonEmpty)
  override def complete(key: String): Unit =
    claimed.replace(key, Array.emptyByteArray)
}

/** CROSS-PROCESS CAS over a shared directory — the filesystem-native
  * arbiter [[ProcessLocalArbiter]] explicitly is not: the claim for a
  * key is a FILE, and publishing it with `link(2)` (EEXIST-atomic in
  * the KERNEL, the `O_CREAT|O_EXCL` no-clobber school) decides the
  * winner between separate JVMs, not just threads of one. The winner's
  * payload (the manifest bytes) is written to a temp file FIRST and
  * linked into place, so the claim appears atomically WITH its payload
  * — a process dying between claim and put leaves a complete claim any
  * later writer recovers the commit from ([[ConditionalPutLogStore]]'s
  * died-winner path). `complete` atomically replaces the payload with
  * an empty marker: the claim persists forever (exactly-once), the
  * KB-scale bytes do not. Suitable wherever the claim dir lives on a
  * filesystem with atomic link/rename (local disk, NFS with proper
  * semantics, HDFS via its own create-no-overwrite); object-store
  * deployments use their CAS service instead. */
final class ClaimFileArbiter(claimDir: String) extends CommitArbiter {
  java.nio.file.Files.createDirectories(java.nio.file.Paths.get(claimDir))

  /** Keys are arbitrary paths — hash to a flat, filename-safe claim. */
  private def claimPath(key: String): java.nio.file.Path = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.nio.file.Paths.get(claimDir, s"claim-$h")
  }

  override def claim(key: String, payload: Array[Byte]): Boolean = {
    val target = claimPath(key)
    val tmp = target.resolveSibling(
      s".${target.getFileName}.${java.util.UUID.randomUUID()}")
    java.nio.file.Files.write(tmp, payload)
    try {
      java.nio.file.Files.createLink(target, tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  override def payloadOf(key: String): Option[Array[Byte]] = {
    val t = claimPath(key)
    if (!java.nio.file.Files.exists(t)) None
    else Some(java.nio.file.Files.readAllBytes(t)).filter(_.nonEmpty)
  }

  override def complete(key: String): Unit = {
    // atomically swap the payload for an empty marker: the claim file is
    // continuously present (no un-claim window), only its bytes go
    val t = claimPath(key)
    val tmp = t.resolveSibling(s".${t.getFileName}.done-${java.util.UUID.randomUUID()}")
    java.nio.file.Files.write(tmp, Array.emptyByteArray)
    java.nio.file.Files.move(tmp, t,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}

/** Object-store commit: the underlying "put" is a BLIND overwrite (all
  * an object store offers), so the winner is decided by the arbiter's
  * CAS first — the loser throws away its attempt without a single byte
  * landing at the target, and the winner's overwrite can clobber nobody
  * because nobody else ever writes the claimed key. An existing target
  * short-circuits to lost (the id is visibly taken; no CAS round-trip).
  * A loser that finds the target MISSING completes the claim owner's
  * commit from the stored payload before reporting lost — so a writer
  * dying between claim and put can never wedge the table: the commit
  * became durable the moment the claim (with payload) landed. */
final class ConditionalPutLogStore(arbiter: CommitArbiter) extends LogStore {

  private def readAll(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  /** A whole-object put with ATOMIC VISIBILITY — readers see the old
    * state or the complete new bytes, never a torn prefix. Real object
    * stores give this natively (an S3 PUT is all-or-nothing); the
    * local-filesystem model reproduces it with write-temp + atomic
    * replacing rename. Atomic visibility is what makes the recovery
    * overwrite safe: every writer of a claimed key writes the SAME
    * bytes (the claim payload), so a late duplicate put replaces a
    * committed manifest with identical content — harmless — and no
    * reader can ever observe a truncated manifest. */
  private def atomicPut(fs: FileSystem, target: Path, bytes: Array[Byte]): Unit =
    if (fs.getScheme == "file") {
      val t = java.nio.file.Paths.get(target.toUri.getPath)
      val tmp = t.resolveSibling("." + t.getFileName + ".put-" +
        java.util.UUID.randomUUID())
      java.nio.file.Files.write(tmp, bytes)
      java.nio.file.Files.move(tmp, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      val out = fs.create(target, true)
      try out.write(bytes) finally out.close()
    }

  override def putIfAbsent(fs: FileSystem, src: Path, target: Path): Boolean = {
    if (fs.exists(target)) return false
    val payload = readAll(fs, src)
    if (!arbiter.claim(target.toString, payload)) {
      // lost the claim; if the winner died before its put landed, its
      // stored payload completes the commit now (the recovery half of
      // the conditional-put protocol). A stale exists-check is fine:
      // recovery writes the winner's own bytes through the atomic put.
      if (!fs.exists(target))
        arbiter.payloadOf(target.toString).foreach(atomicPut(fs, target, _))
      return false
    }
    // we own the key: the put is unracing (and identical-bytes-replayable
    // by recoverers). If it fails here, the claim still holds our
    // payload and any later writer completes the commit — the IO error
    // surfaces, the table never wedges.
    atomicPut(fs, target, payload)
    arbiter.complete(target.toString) // payload no longer needed
    true
  }
}

object LogStore {

  @volatile private var overrideStore: Option[LogStore] = None

  /** Schemes whose "rename" is copy+delete and whose PUT is last-write-
    * wins: handing them [[AtomicRenameLogStore]] would silently re-open
    * the two-writers-both-win race the whole LogStore layer exists to
    * close. Same scheme list Delta refuses without an explicit LogStore
    * configuration. */
  private val ObjectStoreSchemes =
    Set("s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs", "oss", "cos")

  /** Resolve the commit primitive for a filesystem: an installed
    * override wins (deployment config / tests), else hard-link on
    * `file:`, else atomic rename (the HDFS family). Known OBJECT-STORE
    * schemes are REFUSED without an override — check-then-rename on S3
    * is exactly the non-atomic race [[ConditionalPutLogStore]] exists to
    * prevent, so safety must be an explicit startup decision
    * (`LogStore.install(new ConditionalPutLogStore(<your CAS>))`), never
    * a silent default. */
  def forFileSystem(fs: FileSystem): LogStore =
    overrideStore.getOrElse {
      val scheme = fs.getScheme
      if (scheme == "file") HardLinkLogStore
      else if (ObjectStoreSchemes.contains(scheme))
        throw new IllegalStateException(
          s"no atomic no-clobber primitive exists on '$scheme' — rename is " +
            "copy+delete and PUT is last-write-wins, so commits could " +
            "silently clobber each other. Install a CAS-backed store at " +
            "startup: LogStore.install(new ConditionalPutLogStore(<arbiter>))")
      else AtomicRenameLogStore
    }

  /** Publish `bytes` at `target` iff no file exists there, through the
    * file system's [[LogStore]]: the bytes are written to a dot-temp file
    * in the target's directory, deleted again whether or not this caller
    * won. Returns true iff THIS caller won the target; what a loser does
    * is the caller's decision. */
  def putBytesIfAbsent(fs: FileSystem, target: Path, bytes: Array[Byte]): Boolean = {
    val tmp = new Path(target.getParent, s".tmp-${java.util.UUID.randomUUID()}.json")
    val out = fs.create(tmp, false)
    try out.write(bytes) finally out.close()
    try forFileSystem(fs).putIfAbsent(fs, tmp, target) finally fs.delete(tmp, false)
  }

  /** Install the commit primitive for this process (deployment config:
    * called once at startup, e.g. with a [[ConditionalPutLogStore]] over
    * the deployment's CAS service for object-store warehouses). */
  def install(store: LogStore): Unit = overrideStore = Some(store)

  /** Run `f` with `store` installed as the commit primitive, restoring
    * the previous resolution after — the injection seam the race tests
    * use to prove the protocol under a non-atomic store. */
  def withLogStore[T](store: LogStore)(f: => T): T = {
    val prev = overrideStore
    overrideStore = Some(store)
    try f finally overrideStore = prev
  }
}
