package graft.connector

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.{expressions => cexpr}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max => VMax, Min => VMin}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, TableScan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.table.SnapshotLog

/** DataSourceV2 `TableCatalog` face of the snapshot-log format — the
  * catalog-first integration the V1 provider can't express:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.gft", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.gft.warehouse", "/data/warehouse")
  *   spark.sql("SHOW TABLES IN gft")
  *   spark.sql("SELECT count(*) FROM gft.orders_state")  -- metadata-only
  *   spark.sql("SHOW CREATE TABLE gft.orders_state")
  * }}}
  *
  * The read path follows the JDBC connector's published V2 shape: a
  * [[ScanBuilder]] with `SupportsPushDownFilters` (manifest zone / bloom
  * / partition-value FILE PRUNING — filters stay residual, pruning may
  * only skip), `SupportsPushDownRequiredColumns`, and
  * `SupportsPushDownAggregates` with COMPLETE pushdown for the exact
  * cases [[GraftMetadataAggRule]] answers (unfiltered ungrouped
  * count(*) / min / max over a mask-free snapshot with
  * zones on every row-bearing file) — so the metadata-only answer rides
  * the ENGINE's own pushdown contract instead of an injected rule's
  * ordering. The scan itself is [[GraftV2BatchScan]], the engine's own
  * vectorized parquet reader over the pruned file list, with masks
  * applied in the reading task and every schema epoch widened in-scan.
  * `SupportsReportStatistics` hands CBO manifest-exact row/byte counts.
  *
  * The WRITE path is the real engine-planned batch write — see
  * [[GraftV2WriteBuilder]]: `INSERT INTO cat.t`, `INSERT OVERWRITE`,
  * `df.writeTo("cat.t").append()`, `TRUNCATE TABLE`, filter-convertible
  * `DELETE`, and atomic CTAS / `[CREATE OR] REPLACE TABLE … AS SELECT`
  * through [[StagingTableCatalog]] (files stage invisibly, the manifest
  * commits last — a killed CTAS leaves no half-table). `ALTER TABLE`
  * maps [[TableChange]]s onto the same metadata-only maintenance
  * commits the SQL face uses (ADD COLUMNS carrier, field-registry
  * RENAME/DROP, widening-only TYPE changes). Both faces share one
  * optimistic log, so V1 and V2 writers interleave safely. */
final class GraftCatalog extends TableCatalog with StagingTableCatalog
    with FunctionCatalog with SupportsNamespaces {

  private var catName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name: set spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catName

  private def spark = SparkSession.active

  /** Namespace segments map to nested DIRECTORIES under the warehouse
    * root (marked by a `_graft_namespace` file — see the
    * SupportsNamespaces face below). `default` / empty alias the root,
    * so flat-era tables resolve unchanged. Segment names exclude dots:
    * a dotted segment would be ambiguous with a nested path when the
    * engine round-trips identifiers through quoted strings. */
  private def nsSegments(namespace: Array[String]): Seq[String] =
    namespace.toSeq match {
      case Seq("default") => Nil
      case other =>
        other.foreach(s => require(
          s.matches("[A-Za-z0-9_-]{1,128}"),
          s"catalog $catName: namespace segment '$s' must be 1-128 " +
            "chars of [A-Za-z0-9_-]"))
        other
    }

  private def nsDir(segments: Seq[String]): String =
    (warehouse +: segments).mkString("/")

  private def dirOf(ident: Identifier): String = {
    val ns = nsSegments(ident.namespace())
    // table names map to DIRECT children of their namespace dir — a
    // backquoted name carrying '/' or '..' would otherwise escape it
    // (DROP TABLE would then recursively delete a foreign directory)
    require(ident.name().matches("[A-Za-z0-9._-]{1,128}") &&
      !ident.name().contains(".."),
      s"catalog $catName: table name '${ident.name()}' must be 1-128 " +
        "chars of [A-Za-z0-9._-] without '..'")
    s"${nsDir(ns)}/${ident.name()}"
  }

  private def fs(path: String): org.apache.hadoop.fs.FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def isTable(dir: String): Boolean = {
    val p = new Path(s"$dir/_graft_log")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def isNamespaceDir(dir: String): Boolean =
    fs(dir).exists(new Path(s"$dir/_graft_namespace"))


  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = nsSegments(namespace)
    if (ns.nonEmpty && !isNamespaceDir(nsDir(ns)))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(Array(catName) ++ namespace)
    val root = new Path(nsDir(ns))
    val lfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!lfs.exists(root)) Array.empty
    else lfs.listStatus(root).toSeq
      .filter(s => s.isDirectory && isTable(s.getPath.toString))
      .map(s => Identifier.of(namespace, s.getPath.getName)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = dirOf(ident)
    if (!isTable(dir))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Array(catName) ++ ident.namespace() :+ ident.name())
    new GraftV2Table(dir, None, Some((catName, ident)))
  }

  /** `SELECT … FROM cat.t VERSION AS OF n|'tag'` — the V2 time-travel
    * contract: version strings resolve as snapshot ids or named tags,
    * exactly the V1 `versionAsOf`/`tagAsOf` semantics. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirOf(ident)
    if (!isTable(dir))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Array(catName) ++ ident.namespace() :+ ident.name())
    val snap =
      if (version.nonEmpty && version.forall(_.isDigit)) version.toLong
      else SnapshotLog.snapshotForTag(spark, dir, version)
    new GraftV2Table(dir, Some(snap), Some((catName, ident)))
  }

  /** `… TIMESTAMP AS OF ts` — Spark hands MICROseconds since epoch. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = dirOf(ident)
    if (!isTable(dir))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Array(catName) ++ ident.namespace() :+ ident.name())
    new GraftV2Table(dir,
      Some(SnapshotLog.snapshotAsOfTimestamp(spark, dir, timestamp / 1000L)),
      Some((catName, ident)))
  }

  /** CREATE TABLE: an empty snapshot-1 table whose schema rides a
    * zero-row carrier file — immediately readable, writable through the
    * V1 face at the same location. IDENTITY `PARTITIONED BY (c, …)`
    * transforms become the durable `partitionCols` property (the
    * format's layout is manifest-driven, not directory-driven — the
    * declaration makes every later INSERT record per-file partition
    * values without the writer naming them); non-identity transforms
    * (bucket, days, …) refuse. */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val dir = dirOf(ident)
    require(namespaceExists(ident.namespace()),
      s"catalog $catName: namespace ${ident.namespace().mkString(".")} " +
        "does not exist — CREATE NAMESPACE it first")
    require(!isNamespaceDir(dir),
      s"catalog $catName: '${ident.name()}' is a NAMESPACE — a table " +
        "cannot occupy a namespace directory")
    if (isTable(dir)) throw new org.apache.spark.sql.catalyst.analysis
      .TableAlreadyExistsException(
        Array(catName) ++ ident.namespace() :+ ident.name())
    val (idCols, bucket) = GraftCatalog.splitPartitionTransforms(catName, partitions)
    GraftCatalog.validateBucket(catName, schema, bucket)
    val carrier = GraftMaintenance.writeSchemaCarrier(spark, dir, schema)
    // the isTable check above is check-then-act; the CAS at snapshot 1 is
    // the real arbiter — a racing creator surfaces as the SAME analysis
    // exception a pre-existing table does, not a raw commit conflict
    try SnapshotLog.commitAt(spark, dir, 1L, "append", Seq(carrier), Seq.empty,
      Map("created_by" -> "v2-catalog") ++
        GraftCatalog.durableProps(properties, idCols, bucket))
    catch {
      case e: SnapshotLog.ConcurrentCommitException =>
        throw new org.apache.spark.sql.catalyst.analysis
          .TableAlreadyExistsException(
            Array(catName) ++ ident.namespace() :+ ident.name())
    }
    new GraftV2Table(dir, None, Some((catName, ident)))
  }

  /** `ALTER TABLE cat.t …` through the V2 contract, lowered onto the
    * SAME metadata-only maintenance commits the SQL face performs (one
    * `schema` commit each; zero data bytes move): ADD COLUMNS → a
    * zero-row schema-carrier file, RENAME/DROP COLUMN → a field-registry
    * commit (Delta column-mapping school), ALTER COLUMN TYPE → the
    * widening-only carrier. Property / position / nullability /
    * constraint changes refuse loudly. */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val dir = dirOf(ident)
    if (!isTable(dir))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Array(catName) ++ ident.namespace() :+ ident.name())
    // every ADD in one statement lands as ONE carrier commit (the SQL
    // face's ADD COLUMNS (a, b) shape); other change kinds apply in
    // statement order
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    adds.foreach { a =>
      require(a.fieldNames().length == 1,
        "graft ALTER TABLE: nested ADD COLUMN is not supported, got " +
          a.fieldNames().mkString("."))
      require(a.position() == null,
        "graft ALTER TABLE: column positions (FIRST/AFTER) are not " +
          "supported — columns append")
    }
    if (adds.nonEmpty)
      GraftAddColumnsCommand(dir, StructType(adds.map(a =>
        StructField(a.fieldNames()(0), a.dataType(), nullable = true))))
        .run(spark)
    changes.filterNot(_.isInstanceOf[TableChange.AddColumn]).foreach {
      case r: TableChange.RenameColumn =>
        require(r.fieldNames().length == 1,
          "graft ALTER TABLE: nested RENAME COLUMN is not supported")
        GraftRenameColumnCommand(dir, r.fieldNames()(0), r.newName()).run(spark)
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames().length == 1,
          "graft ALTER TABLE: nested DROP COLUMN is not supported")
        GraftDropColumnCommand(dir, d.fieldNames()(0)).run(spark)
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames().length == 1,
          "graft ALTER TABLE: nested ALTER COLUMN TYPE is not supported")
        GraftAlterColumnTypeCommand(dir, u.fieldNames()(0), u.newDataType())
          .run(spark)
      case n: TableChange.UpdateColumnNullability if n.nullable() =>
        () // every graft column is already nullable: a no-op, not an error
      // SET/UNSET TBLPROPERTIES — DURABLE properties in the log itself
      // (one fileless metadata commit carrying the complete new map), so
      // behavior-bearing keys (posDeletes, lineageKey) bind to the TABLE,
      // not to whichever catalog the statement went through
      case p: TableChange.SetProperty =>
        GraftCatalog.commitProps(spark, dir,
          _ + (p.property() -> p.value()))
      case p: TableChange.RemoveProperty =>
        GraftCatalog.commitProps(spark, dir, _ - p.property())
      case other => throw new UnsupportedOperationException(
        s"graft ALTER TABLE: unsupported change $other (supported: ADD " +
          "COLUMNS, RENAME COLUMN, DROP COLUMN, widening ALTER COLUMN " +
          "TYPE, SET/UNSET TBLPROPERTIES)")
    }
    new GraftV2Table(dir, None, Some((catName, ident)))
  }

  // ----------------------------------------------- atomic CTAS / RTAS

  /** CTAS: the staged table collects the query's files; the manifest
    * commits only in `commitStagedChanges` (CAS at snapshot 1 — a racing
    * creator throws). A pre-existing table refuses HERE, before any
    * write work. */
  /** Identity `PARTITIONED BY` transforms fold into the staged
    * properties as `partitionCols` — the staged write records per-file
    * partition values and the durable property keeps later INSERTs
    * doing the same. */
  private def withPartitionProps(partitions: Array[Transform],
      properties: util.Map[String, String]): util.Map[String, String] = {
    val (cols, bucket) = GraftCatalog.splitPartitionTransforms(catName, partitions)
    if (cols.isEmpty && bucket.isEmpty) properties
    else {
      val m = new java.util.HashMap[String, String](
        Option(properties).getOrElse(java.util.Collections.emptyMap()))
      if (cols.nonEmpty) m.put("partitionCols", cols.mkString(","))
      bucket.foreach { case (c, n) =>
        m.put("bucketCol", c); m.put("bucketCount", n.toString) }
      m
    }
  }

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): StagedTable = {
    val dir = dirOf(ident)
    require(namespaceExists(ident.namespace()),
      s"catalog $catName: namespace ${ident.namespace().mkString(".")} " +
        "does not exist — CREATE NAMESPACE it first")
    require(!isNamespaceDir(dir),
      s"catalog $catName: '${ident.name()}' is a NAMESPACE — a table " +
        "cannot occupy a namespace directory")
    GraftCatalog.validateBucket(catName, schema,
      GraftCatalog.splitPartitionTransforms(catName, partitions)._2)
    if (isTable(dir)) throw new org.apache.spark.sql.catalyst.analysis
      .TableAlreadyExistsException(
        Array(catName) ++ ident.namespace() :+ ident.name())
    new GraftStagedTable(spark, dir, schema, replace = false,
      orCreate = false, withPartitionProps(partitions, properties))
  }

  /** RTAS: files stage invisibly, then ONE atomic whole-live-set swap —
    * readers see the old table or the new one, never a mixture, and
    * pre-replace snapshots stay time-travelable. */
  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String]): StagedTable = {
    val dir = dirOf(ident)
    if (!isTable(dir))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Array(catName) ++ ident.namespace() :+ ident.name())
    GraftCatalog.validateBucket(catName, schema,
      GraftCatalog.splitPartitionTransforms(catName, partitions)._2)
    new GraftStagedTable(spark, dir, schema, replace = true,
      orCreate = false, withPartitionProps(partitions, properties))
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: util.Map[String, String])
      : StagedTable = {
    require(namespaceExists(ident.namespace()),
      s"catalog $catName: namespace ${ident.namespace().mkString(".")} " +
        "does not exist — CREATE NAMESPACE it first")
    require(!isNamespaceDir(dirOf(ident)),
      s"catalog $catName: '${ident.name()}' is a NAMESPACE — a table " +
        "cannot occupy a namespace directory")
    GraftCatalog.validateBucket(catName, schema,
      GraftCatalog.splitPartitionTransforms(catName, partitions)._2)
    new GraftStagedTable(spark, dirOf(ident), schema, replace = true,
      orCreate = true, withPartitionProps(partitions, properties))
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    // a mixed directory (legacy table + namespace marker) must never be
    // recursively deleted as a table — the subtree may hold foreign tables
    require(!isNamespaceDir(dir),
      s"catalog $catName: '${ident.name()}' is (also) a NAMESPACE — drop " +
        "its contents / DROP NAMESPACE instead")
    if (!isTable(dir)) false
    else {
      val p = new Path(dir)
      val ok = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
      // a recreate at this dir restarts at snapshot 1 — the memoized
      // durable metadata (keyed dir -> head) must not survive the drop
      SnapshotLog.invalidateDurableMeta(dir)
      ok
    }
  }

  /** Refused: graft manifests record ABSOLUTE data-file paths, so a
    * directory move would strand every reference (the first read after
    * a naive fs rename throws PATH_NOT_FOUND — caught by the V2 spec's
    * post-rename read). A rename needs a manifest-rewriting migration
    * (or relative-path manifests); until then the honest answer is a
    * loud refusal, never a table that lists but cannot be read. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      s"catalog $catName: RENAME of graft tables is not supported — " +
        "manifests reference absolute data-file paths; copy with CTAS " +
        "(CREATE TABLE … AS SELECT) instead")

  // ----------------------------------------------- SupportsNamespaces

  /** Namespaces are DIRECTORIES under the warehouse root marked by an
    * empty `_graft_namespace` file (the marker separates deliberate
    * namespaces from incidental directories, exactly as `_graft_log`
    * separates tables from parquet dumps). `default` aliases the root —
    * it always exists and cannot be created or dropped; flat-era tables
    * keep resolving unchanged. Nesting is arbitrary-depth
    * (`cat.raw.events.t`); create paths refuse a table over a namespace
    * directory and vice versa, so the two marker kinds never share a
    * directory. */
  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val ns = nsSegments(namespace)
    if (ns.nonEmpty && !isNamespaceDir(nsDir(ns)))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(Array(catName) ++ namespace)
    val root = new Path(nsDir(ns))
    val lfs = fs(nsDir(ns))
    if (!lfs.exists(root)) Array.empty
    else lfs.listStatus(root).toSeq
      .filter(s => s.isDirectory && isNamespaceDir(s.getPath.toString))
      .map(s => (ns :+ s.getPath.getName).toArray).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    nsSegments(namespace) match {
      case Nil => true // the root ('default') always exists
      case segs => isNamespaceDir(nsDir(segs))
    }

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(Array(catName) ++ namespace)
    Map("location" -> nsDir(nsSegments(namespace))).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    require(!namespace.sameElements(Array("default")),
      s"catalog $catName: 'default' is the root namespace — it always exists")
    val segs = nsSegments(namespace)
    require(segs.nonEmpty, s"catalog $catName: empty namespace")
    if (namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException(Array(catName) ++ namespace)
    require(!isTable(nsDir(segs)),
      s"catalog $catName: '${segs.mkString(".")}' is a TABLE — a " +
        "namespace cannot occupy a table directory")
    // parents must already exist (the engine creates level by level)
    if (segs.length > 1)
      require(isNamespaceDir(nsDir(segs.dropRight(1))),
        s"catalog $catName: parent namespace " +
          s"${segs.dropRight(1).mkString(".")} does not exist")
    val dir = nsDir(segs)
    fs(dir).mkdirs(new Path(dir))
    // the marker create (overwrite=false) is the ARBITER of the create
    // race — the namespaceExists check above is check-then-act, so the
    // loser of two concurrent creators surfaces the same analysis
    // exception a pre-existing namespace does, never a raw FS error
    try fs(dir).create(new Path(s"$dir/_graft_namespace"), false).close()
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.FileAlreadyExistsException =>
        throw new org.apache.spark.sql.catalyst.analysis
          .NamespaceAlreadyExistsException(Array(catName) ++ namespace)
      case e: java.io.IOException
          if e.getMessage != null && e.getMessage.contains("exist") =>
        throw new org.apache.spark.sql.catalyst.analysis
          .NamespaceAlreadyExistsException(Array(catName) ++ namespace)
    }
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      s"catalog $catName: namespace properties are not supported")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val segs = nsSegments(namespace)
    require(segs.nonEmpty,
      s"catalog $catName: cannot drop the root namespace")
    val dir = nsDir(segs)
    if (!isNamespaceDir(dir)) false
    else {
      val contents = fs(dir).listStatus(new Path(dir)).toSeq
        .filter(s => s.isDirectory &&
          (isTable(s.getPath.toString) || isNamespaceDir(s.getPath.toString)))
      if (contents.nonEmpty && !cascade)
        throw new org.apache.spark.sql.catalyst.analysis
          .NonEmptyNamespaceException(Array(catName) ++ namespace)
      // a cascade deletes the WHOLE subtree: every table under every
      // nested child namespace must drop its memoized durable metadata
      // too, or a recreate at the same path would race a stale cache
      // entry (the incarnation token would refuse to serve it, but the
      // cache must not carry tombstoned state at all)
      def tablesUnder(d: String): Seq[String] =
        fs(d).listStatus(new Path(d)).toSeq.filter(_.isDirectory)
          .map(_.getPath.toString)
          .flatMap(c =>
            if (isTable(c)) Seq(c)
            else if (isNamespaceDir(c)) tablesUnder(c)
            else Seq.empty)
      tablesUnder(dir).foreach(SnapshotLog.invalidateDurableMeta)
      fs(dir).delete(new Path(dir), true)
    }
  }

  // ------------------------------------------------- FunctionCatalog

  /** The `bucket` transform function — resolved by the engine when a
    * graft scan reports a key-grouped (bucketed) partitioning; see
    * [[GraftBucketFunction]]. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty ||
        (namespace.length == 1 && namespace(0) == "default"))
      Array(Identifier.of(namespace, "bucket"))
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)
}

private[connector] object GraftCatalog {

  /** Keys the engine or catalog synthesizes — never persisted as user
    * properties. `option.`-prefixed keys are DataFrameWriterV2 write
    * options, transient by definition. */
  private val Reserved = Set("provider", "location", "owner", "external")

  /** The subset of a CREATE/CTAS properties map that persists in the
    * log as durable table properties (empty → no summary entry);
    * identity `PARTITIONED BY` columns fold in as `partitionCols`, a
    * `bucket(n, col)` transform as `bucketCol`/`bucketCount`. */
  private[connector] def durableProps(properties: util.Map[String, String],
                                      partitionCols: Seq[String] = Nil,
                                      bucket: Option[(String, Int)] = None)
      : Map[String, String] = {
    val user = Option(properties).map(_.asScala.toMap).getOrElse(Map.empty)
      .filterNot { case (k, _) =>
        Reserved.contains(k.toLowerCase(java.util.Locale.ROOT)) ||
          k.toLowerCase(java.util.Locale.ROOT).startsWith("option.") } ++
      (if (partitionCols.isEmpty) Map.empty
       else Map("partitionCols" -> partitionCols.mkString(","))) ++
      bucket.fold(Map.empty[String, String]) { case (c, n) =>
        Map("bucketCol" -> c, "bucketCount" -> n.toString) }
    if (user.isEmpty) Map.empty
    else Map(SnapshotLog.TablePropsKey -> SnapshotLog.propsJson(user))
  }

  /** `PARTITIONED BY` transforms split into (identity columns, at most
    * one `bucket(n, col)` spec). Identity columns become the durable
    * `partitionCols` property (per-file value sets); the bucket
    * transform becomes `bucketCol`/`bucketCount` — the clustered layout
    * every insert maintains and the V2 scan reports for storage-
    * partitioned joins. Other transforms (days, hours, truncate, …)
    * refuse — the manifest-driven layout has no directory tree to hang
    * them on. */
  private[connector] def splitPartitionTransforms(catName: String,
      partitions: Array[Transform]): (Seq[String], Option[(String, Int)]) = {
    var bucket: Option[(String, Int)] = None
    val ids = partitions.toSeq.flatMap { t =>
      t.name match {
        case "identity" =>
          require(t.references.length == 1,
            s"catalog $catName: identity PARTITIONED BY takes one column, got $t")
          Some(t.references.head.fieldNames.mkString("."))
        case "bucket" =>
          require(bucket.isEmpty,
            s"catalog $catName: at most one bucket(n, col) transform")
          require(t.references.length == 1,
            s"catalog $catName: bucket takes one column, got $t")
          val n = t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_]
                if l.value().isInstanceOf[Number] =>
              l.value().asInstanceOf[Number].intValue()
          }.getOrElse(throw new IllegalArgumentException(
            s"catalog $catName: bucket needs a literal count, got $t"))
          require(n > 0, s"catalog $catName: bucket count must be positive")
          bucket = Some((t.references.head.fieldNames.mkString("."), n))
          None
        case _ => throw new UnsupportedOperationException(
          s"catalog $catName: only identity and bucket(n, col) " +
            s"PARTITIONED BY transforms are supported " +
            "(layout is manifest-driven), got " + t)
      }
    }
    (ids, bucket)
  }

  /** Declared bucket column must exist and be integral — validated at
    * DECLARATION (CREATE/CTAS/RTAS): an insert-time surprise (all-null
    * residues collapsing every file into one bucket) or a scan-time
    * function-bind failure would blame the wrong statement. */
  private[connector] def validateBucket(catName: String, schema: StructType,
      bucket: Option[(String, Int)]): Unit =
    bucket.foreach { case (c, _) =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"catalog $catName: bucket column '$c' is not a table column"))
      require(SnapshotLog.bucketable(f.dataType),
        s"catalog $catName: bucket column '$c' must be integral " +
          s"(byte/short/int/long) or string, got ${f.dataType.simpleString}")
    }

  /** SET/UNSET TBLPROPERTIES: ONE fileless metadata commit carrying the
    * complete updated map, CAS'd at the pinned successor id (a racing
    * commit throws — properties must never fork). */
  private[connector] def commitProps(spark: SparkSession, dir: String,
      change: Map[String, String] => Map[String, String]): Long = {
    val baseId = SnapshotLog.currentSnapshotId(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"not a graft table: $dir"))
    val updated = change(SnapshotLog.tableProps(spark, dir))
    SnapshotLog.commitAt(spark, dir, baseId + 1, "schema", Seq.empty,
      Seq.empty, Map(SnapshotLog.TablePropsKey -> SnapshotLog.propsJson(updated)))
  }
}

/** One graft table under the V2 catalog (optionally pinned to a
  * time-travel snapshot): BATCH_READ via the pushdown-aware scan
  * builder below. The snapshot resolves ONCE per table instance and is
  * SHARED with every scan builder — the schema Spark analyzed against
  * and the files the scan reads can never disagree (a commit landing
  * between analysis and planning would otherwise silently null-fill
  * the difference), and manifest/footer IO is paid once per query.
  *
  * STREAMING faces ride the Delta-published `V2TableWithV1Fallback`
  * shape: `spark.readStream.table("cat.t")` resolves through the engine's
  * own streaming fallback onto the V1 `format("graft")` source (reader
  * options pass through [[org.apache.spark.sql.graftshim.GraftStreamingTableRule]]),
  * and `df.writeStream.toTable("cat.t")` lands in `DataStreamWriter`'s
  * `writeToV1Table` path → [[GraftStreamSink]] with the user's full
  * option surface (checkpointLocation, mergeKey, output modes) — so the
  * transactional stream semantics live ONCE, shared by both faces. */
private[connector] final class GraftV2Table(dir: String,
                                            asOf: Option[Long] = None,
                                            /** (catalog name, identifier) when loaded through a
                                              * catalog — what [[v1Table]] names itself so the
                                              * engine's post-batch `refreshTable(name)` resolves
                                              * back through the SAME catalog. */
                                            v2Ident: Option[(String, Identifier)] = None,
                                            /** The snapshot state, when the caller already
                                              * resolved it ([[GraftDataSource.relationFor]]
                                              * for [[GraftV2ReadRule]]): the table then reads
                                              * exactly that snapshot, and its metadata is
                                              * not resolved twice. */
                                            preState: Option[GraftDataSource.VisibleState] = None)
    extends Table with SupportsRead with SupportsWrite
    with TruncatableTable with SupportsDelete
    with SupportsMetadataColumns with SupportsRowLevelOperations
    with org.apache.spark.sql.graftshim.GraftV1FallbackBridge
    with GraftStreamableTable {

  private def spark = SparkSession.active

  private[connector] def tableDir: String = dir
  private[connector] def pinnedAsOf: Option[Long] = asOf

  private[connector] lazy val state: GraftDataSource.VisibleState =
    preState.getOrElse(GraftDataSource.visibleState(spark, dir, asOf))

  override def name(): String =
    dir + asOf.fold("")(v => s"@v$v")

  override lazy val schema: StructType = state._3

  override def streamTableDir: String = dir
  override def streamPinnedAsOf: Option[Long] = asOf

  /** The V1 face of this table for the engine's streaming fallbacks —
    * provider + location are what both consumers read
    * (`RelationResolution`'s streaming branch, `DataStreamWriter
    * .writeToV1Table`). The identifier must RESOLVE by name: after every
    * committed micro-batch the engine calls `catalog.refreshTable` on it
    * (MicroBatchExecution's post-batch cache refresh), which re-reads the
    * table through `spark.table(name)` — so it names this table through
    * its OWN V2 catalog (`cat.default.t`), never a fabricated database.
    * Only called on streaming paths, where a time-travel pin refuses. */
  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    require(asOf.isEmpty,
      s"graft table $dir: cannot stream from a time-travel pinned relation")
    val tid = v2Ident match {
      case Some((cat, id)) =>
        // TableIdentifier carries (catalog, database, table) — at most
        // ONE namespace level round-trips through the engine's
        // refreshTable(name); deeper-nested tables must stream by path
        require(id.namespace().length <= 1,
          s"graft table $dir: streaming by name supports at most one " +
            "namespace level — use format(\"graft\") with the path for " +
            s"${(Seq(cat) ++ id.namespace() :+ id.name()).mkString(".")}")
        org.apache.spark.sql.catalyst.TableIdentifier(
          id.name(), Some(id.namespace().lastOption.getOrElse("default")),
          Some(cat))
      case None => org.apache.spark.sql.catalyst.TableIdentifier(
        new Path(dir).getName)
    }
    org.apache.spark.sql.catalyst.catalog.CatalogTable(
      identifier = tid,
      tableType = org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL,
      storage = org.apache.spark.sql.catalyst.catalog.CatalogStorageFormat.empty
        .copy(locationUri = Some(new Path(dir).toUri)),
      schema = schema,
      provider = Some("graft"))
  }

  /** The real-V2-write plan: appends, INSERT OVERWRITE and
    * (lineage-free) replaceWhere run as genuine distributed V2 writes —
    * engine-planned exchange + inline manifest stats — so
    * V1_BATCH_WRITE is never declared (the engine refuses a non-V1
    * write under that capability). Pinned per table instance so the
    * capability decision and the write builder can never disagree. */
  private lazy val realWritePlan: GraftRealWritePlan =
    GraftBucketWrite.planFor(spark, dir, state._3)

  /** A time-travel-pinned table is READ-ONLY (no write capabilities at
    * all, so INSERT/DELETE refuse at analysis, not at commit time).
    * Every other table writes for real, keeping OVERWRITE_BY_FILTER
    * through the real write's own replaceWhere unless lineage stamping
    * demands the V1 face. */
  override def capabilities(): util.Set[TableCapability] =
    (if (asOf.isDefined) Set(TableCapability.BATCH_READ)
     else Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
       TableCapability.TRUNCATE) ++
       (if (realWritePlan.replaceWhereSupported)
         Set(TableCapability.OVERWRITE_BY_FILTER)
        else Set.empty[TableCapability])).asJava

  /** Provider/location plus the DURABLE log-persisted properties — what
    * `SHOW TBLPROPERTIES cat.t` and `DESCRIBE EXTENDED` surface. */
  override def properties(): util.Map[String, String] =
    (SnapshotLog.tableProps(spark, dir) ++
      Map("provider" -> "graft", "location" -> dir)).asJava

  /** The two SCAN-METADATA columns every graft row addresses itself by
    * (r14): the physical data file and the 0-based row ordinal within
    * it — `SELECT _graft_file, _graft_pos FROM cat.t` works like
    * Iceberg's `_file`/`_pos`, and they are the ROW IDs the delta-based
    * row-level operations below record as positional deletes. */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = SnapshotLog.PosFileCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
      override def comment(): String = "data file path of the row"
    },
    new MetadataColumn {
      override def name(): String = SnapshotLog.PosOrdCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
      override def comment(): String = "0-based row ordinal within the file"
    })

  /** DELTA-based row-level operations (r14) — the engine-contract
    * DELETE/UPDATE/MERGE face a VANILLA session (no graft extensions)
    * resolves through `RewriteDeleteFromTable`/`RewriteUpdateTable`/
    * `RewriteMergeIntoTable`: the operation scans the pinned snapshot
    * WITH row ids, and the delta writer records deletes as positional
    * masks + inserts as new data files — ONE `rowdelta` commit, zero
    * data files rewritten (the deletion-vector school the masked reads
    * already serve). Sessions WITH the extensions never reach this:
    * [[GraftDmlRule]] rewrites the DML in the resolution batch first
    * (keeping lineage stamping and COW layout preservation). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(asOf.isEmpty,
      s"graft table $dir: cannot modify a time-travel relation")
    () => new GraftRowLevelOperation(spark, dir, info.command())
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(spark, dir, state)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOf.isEmpty,
      s"graft table $dir: cannot write to a time-travel relation")
    new GraftV2WriteBuilder(dir, state._3, realWritePlan)
  }

  /** `TRUNCATE TABLE cat.t` — one metadata commit removing every live
    * file; the schema survives on a zero-row carrier (in PHYSICAL space
    * on registry tables, like every data file), and pre-truncate
    * snapshots stay time-travelable. Zero data bytes move. */
  override def truncateTable(): Boolean = {
    require(asOf.isEmpty,
      s"graft table $dir: cannot TRUNCATE a time-travel relation")
    val reg = SnapshotLog.registryAt(spark, dir).filterNot(_.isIdentity)
    val visible = GraftDataSource.visibleState(spark, dir, None)._3
    val carrierSchema = reg match {
      case Some(r) => StructType(visible.fields.map(f =>
        f.copy(name = r.physicalOf(f.name).getOrElse(f.name))))
      case None => visible
    }
    val carrier = GraftMaintenance.writeSchemaCarrier(spark, dir, carrierSchema)
    GraftDataSource.replaceAll(spark, dir, Seq(carrier),
      Map("mode" -> "truncate"))
    // V1 catalog tables over this dir must re-resolve (no ident known)
    spark.sessionState.catalog.invalidateAllCachedTables()
    true
  }

  // ------------------------------------------------------- V2 DELETE

  /** Filters lower onto the SAME row-level machinery
    * ([[GraftDml.delete]]) as the V1 SQL face — conversion and target
    * resolution shared via [[GraftDml.sourceFilterExpr]]/[[GraftDml.v1Target]]. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean = {
    if (asOf.isDefined) return false
    val out = GraftDml.v1Target(spark, dir).output
    filters.forall(f => GraftDml.sourceFilterExpr(f, out).isDefined)
  }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(asOf.isEmpty,
      s"graft table $dir: cannot DELETE from a time-travel relation")
    val t = GraftDml.v1Target(spark, dir)
    // every filter MUST convert: silently dropping an unconvertible one
    // would WIDEN the delete (an all-unconvertible array would degrade
    // to delete-everything). canDeleteWhere gates this today, but a
    // direct call or a future Filter shape must fail loudly here too;
    // TrueLiteral is reserved for an explicitly EMPTY filter array (the
    // engine's "delete all rows" contract).
    val cond = filters.toSeq
      .map(f => GraftDml.sourceFilterExpr(f, t.output).getOrElse(
        throw new UnsupportedOperationException(
          s"graft table $dir: cannot DELETE by filter $f")))
      .reduceOption[cexpr.Expression](cexpr.And)
      .getOrElse(cexpr.Literal.TrueLiteral)
    GraftDml.delete(spark, t, cond)
    GraftDml.refreshAfter(spark, t)
  }
}

/** The V2 scan builder: pins ONE snapshot at construction (every
  * pushdown decision and the final scan read the same state), prunes
  * candidate files from pushed filters via the manifests (zones, blooms,
  * partition values — filters remain residual: pruning only skips),
  * prunes columns, and answers the provably-exact aggregate pushdowns
  * from metadata alone. */
private[connector] final class GraftScanBuilder(spark: SparkSession,
    dir: String,
    state: GraftDataSource.VisibleState)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit {

  private[connector] def this(spark: SparkSession, dir: String) =
    this(spark, dir, GraftDataSource.visibleState(spark, dir, None))

  // pinned snapshot state — shared with the TABLE's analyzed schema
  private val (dels, data, visible, reg) = state

  private var required: StructType = visible
  private var pushed: Array[Filter] = Array.empty
  private var aggAnswer: Option[(StructType, Row)] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // ALL residual: manifests prune files, Spark re-applies rows
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  private var limit: Option[Int] = None

  /** LIMIT prunes FILES from manifest row counts: keep files only until
    * the cumulative count covers n — `SELECT * FROM t LIMIT 10` opens
    * ONE file of a million. Sound only when manifest rows equal logical
    * rows (mask-free) and no residual filter could reject rows (Spark
    * still re-applies the LIMIT; this pruning may only skip files whose
    * rows provably cannot be needed). Partial pushdown: return false so
    * Spark keeps its own Limit on top. */
  override def pushLimit(n: Int): Boolean = {
    if (dels.isEmpty && pushed.isEmpty) limit = Some(n)
    false // we only prune files; the engine's Limit still applies
  }

  // ------------------------------------------------------ agg pushdown

  /** Exactness gate, mirroring [[GraftMetadataAggRule]]'s preconditions:
    * mask-free, no residual filters, no grouping; count only as
    * count(*); min/max only on lossless-zone columns with a zone on
    * EVERY row-bearing file. Registry tables answer too (r15): file
    * metadata translates to logical names first, exactly like pruning. */
  private def answerable(aggregation: Aggregation): Option[(StructType, Row)] = {
    if (dels.nonEmpty || pushed.nonEmpty) return None
    if (aggregation.groupByExpressions().nonEmpty) return None
    val bearing = data.filter(_.rows > 0)
      .map(f => reg.map(_.translateMeta(f)).getOrElse(f))
    def lossless(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType |
           DateType | TimestampType => true
      case _ => false
    }
    def colOf(e: AnyRef): Option[StructField] = e match {
      // FieldReference itself is private[sql]; the public face is the
      // NamedReference interface it implements
      case f: NamedReference if f.fieldNames().length == 1 =>
        visible.fields.find(_.name.equalsIgnoreCase(f.fieldNames()(0)))
      case _ => None
    }
    def zone(f: StructField, isMin: Boolean): Option[Any] = {
      if (!lossless(f.dataType)) return None
      if (bearing.isEmpty) return Some(null)
      val zs = bearing.map(_.stats.get(f.name))
      if (zs.exists(_.isEmpty)) return None
      val v = if (isMin) zs.map(_.get._1).min else zs.map(_.get._2).max
      f.dataType match {
        case ByteType => Some(v.toByte)
        case ShortType => Some(v.toShort)
        case IntegerType => Some(v.toInt)
        case LongType => Some(v)
        case DateType =>
          Some(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(v)))
        case TimestampType => Some(java.sql.Timestamp.from(
          java.time.Instant.EPOCH.plus(v, java.time.temporal.ChronoUnit.MICROS)))
        case _ => None
      }
    }
    val answered = aggregation.aggregateExpressions().toSeq.map {
      case _: CountStar =>
        Some(StructField("count(*)", LongType, nullable = false) ->
          data.map(_.rows).sum.asInstanceOf[Any])
      case m: VMin => colOf(m.column).flatMap(f =>
        zone(f, isMin = true).map(v =>
          StructField(s"min(${f.name})", f.dataType) -> v))
      case m: VMax => colOf(m.column).flatMap(f =>
        zone(f, isMin = false).map(v =>
          StructField(s"max(${f.name})", f.dataType) -> v))
      case _ => None
    }
    if (answered.exists(_.isEmpty)) None
    else Some((StructType(answered.map(_.get._1)),
      Row.fromSeq(answered.map(_.get._2))))
  }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    answerable(aggregation).isDefined

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    aggAnswer = answerable(aggregation)
    aggAnswer.isDefined
  }

  // ------------------------------------------------------ file pruning

  override def build(): Scan = aggAnswer match {
    case Some((aggSchema, row)) =>
      new GraftMetadataAggScan(aggSchema, row)
    case None =>
      // full manifest pruning from the pushed filters — zones, blooms
      // AND partition-value sets, through the same Constraints the V1
      // FileIndex uses.
      // Pruning decisions speak LOGICAL names (the filters') — manifest
      // stats keys are PHYSICAL: translate each file's metadata through
      // the pinned registry first, or a rename-swap / re-added namesake
      // column would prune against the WRONG column's zones
      val cs = GraftV2BatchScan.constraints(pushed.toSeq, visible)
      val zoneKept =
        if (pushed.isEmpty) data
        else data.filter(f =>
          cs.keeps(reg.map(_.translateMeta(f)).getOrElse(f)))
      val kept = limit match {
        case Some(n) =>
          // prefix of files whose cumulative manifest rows covers n
          val counts = zoneKept.scanLeft(0L)(_ + _.rows).tail
          val need = counts.indexWhere(_ >= n.toLong)
          if (need < 0) zoneKept else zoneKept.take(need + 1)
        case None => zoneKept
      }
      // ONE columnar scan for every snapshot: the engine's parquet
      // readers widen each epoch's narrower types to the visible merge
      // in-scan (the Evolution lattice is exactly their promotions) and
      // null-fill requested-but-absent columns. POSITIONAL and EQUALITY
      // masks ride too: the scan hands each file the mask files its
      // manifests say can hit it, and the reading task loads them —
      // planning runs no job. Live field registries ride (inner reads
      // request PHYSICAL names), and so do requested scan-metadata
      // columns (_graft_file/_graft_pos — the row-id face, every
      // vanilla-session DELETE/UPDATE/MERGE's source scan), synthesized
      // per file
      val needPos = required.fieldNames.exists(n =>
        n.equalsIgnoreCase(SnapshotLog.PosFileCol) ||
          n.equalsIgnoreCase(SnapshotLog.PosOrdCol))
      val eqKey = GraftV2BatchScan.eqKeyOf(spark,
        dels.filter(_.kind == "eqdelete"), visible, reg)
      // declared bucket layout (durable props) → the scan can report
      // key-grouped partitioning for storage-partitioned joins
      val props = SnapshotLog.tableProps(spark, dir)
      def prop(k: String): Option[String] = props.collectFirst {
        case (kk, v) if kk.equalsIgnoreCase(k) => v }
      val bucketSpec = (for {
        c <- prop("bucketCol")
        n <- prop("bucketCount").flatMap(_.toIntOption)
      } yield (c, n))
        // a stale/dead spec (column dropped, widened to non-integral,
        // malformed count) silently disables reporting — the bucket
        // function could not bind on it and no manifest proof can hold
        // (registry tables also withhold: the declared name and the
        // manifest key live in different name spaces)
        .filter { case (c, _) => reg.isEmpty &&
          visible.fields.exists(f =>
            f.name.equalsIgnoreCase(c) &&
              SnapshotLog.bucketable(f.dataType)) }
      // filters naming the synthesized metadata columns must not
      // reach the parquet reader (they are not data columns); the
      // engine re-applies them as residuals above the scan. On
      // registry tables the remaining filters TRANSLATE to physical
      // names for the parquet row-group pushdown (untranslatable
      // shapes drop — they stay residual above the scan).
      val pushedData = {
        val noMeta =
          if (!needPos) pushed
          else pushed.filterNot(_.references.exists(r =>
            r.equalsIgnoreCase(SnapshotLog.PosFileCol) ||
              r.equalsIgnoreCase(SnapshotLog.PosOrdCol)))
        reg match {
          case Some(r) => noMeta.flatMap(
            GraftFilterRename.translate(_, n => r.physicalOf(n).getOrElse(n)))
          case None => noMeta
        }
      }
      new GraftV2BatchScan(spark, dir, visible, required, pushedData,
        kept, staticPruned = data.size - kept.size,
        bucketSpec = bucketSpec, withPos = needPos, dels = dels,
        eqKey = eqKey, reg = reg)
  }
}

/** Renames the column references of a pushed `sources.Filter` into the
  * files' PHYSICAL name space (r15 registry fast path) — parquet
  * row-group pushdown speaks file-column names. Untranslatable shapes
  * return None and simply drop from the pushdown (safe: the engine
  * re-applies every pushed filter residually above the scan); a
  * conjunction keeps its translatable side. */
private[connector] object GraftFilterRename {
  import org.apache.spark.sql.sources._
  def translate(f: Filter, phys: String => String): Option[Filter] = f match {
    case And(l, r) =>
      (translate(l, phys), translate(r, phys)) match {
        case (Some(a), Some(b)) => Some(And(a, b))
        case (a, b) => a.orElse(b) // conjunct subset: still only narrows
      }
    case Or(l, r) => for { a <- translate(l, phys); b <- translate(r, phys) }
      yield Or(a, b)
    case Not(c) => translate(c, phys).map(Not)
    case EqualTo(a, v) => Some(EqualTo(phys(a), v))
    case EqualNullSafe(a, v) => Some(EqualNullSafe(phys(a), v))
    case GreaterThan(a, v) => Some(GreaterThan(phys(a), v))
    case GreaterThanOrEqual(a, v) => Some(GreaterThanOrEqual(phys(a), v))
    case LessThan(a, v) => Some(LessThan(phys(a), v))
    case LessThanOrEqual(a, v) => Some(LessThanOrEqual(phys(a), v))
    case In(a, vs) => Some(In(phys(a), vs))
    case IsNull(a) => Some(IsNull(phys(a)))
    case IsNotNull(a) => Some(IsNotNull(phys(a)))
    case StringStartsWith(a, v) => Some(StringStartsWith(phys(a), v))
    case StringEndsWith(a, v) => Some(StringEndsWith(phys(a), v))
    case StringContains(a, v) => Some(StringContains(phys(a), v))
    case _ => None
  }
}

/** A completely-pushed-down aggregate: one precomputed row, zero files
  * opened — `SELECT count(*)` at 100 TB through the V2 contract. */
private[connector] final class GraftMetadataAggScan(aggSchema: StructType,
                                                    row: Row)
    extends V1Scan {
  override def readSchema(): StructType = aggSchema
  override def description(): String =
    s"GraftMetadataAggScan(manifest-only, ${aggSchema.fieldNames.mkString(",")})"
  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = aggSchema
      override def buildScan(): RDD[Row] =
        context.sparkSession.sparkContext.parallelize(Seq(row), 1)
      override def toString: String = "GraftMetadataAggRelation"
    }.asInstanceOf[T]
}
