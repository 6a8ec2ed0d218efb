package graft.connector

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema.Fixtures
import graft.table.SnapshotLog

/** DuckDB-oracled entries for the `format("graft")` data-source face:
  * every path a user takes through Spark's own reader — plain read,
  * time travel, zone-pruned range scan, bloom-pruned point lookup —
  * must equal the plain SQL over the raw input (pruning may only skip
  * files, never lose rows; the connector may only change the PLAN,
  * never the answer). The warehouses are written through
  * `df.write.format("graft")` too, so the writer path is under the same
  * oracle.
  */
object ConnectorQueries {

  private def orders(s: SparkSession, d: String): DataFrame =
    graft.schema.Tables(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))

  /** Register (idempotently) a [[GraftCatalog]] over `root` under a name
    * DERIVED FROM THE ROOT: the engine's CatalogManager caches the
    * plugin instance per NAME, so a fixed name would silently pin the
    * first dataset's warehouse for the whole session — a second sf dir
    * would read the first one's tables (the pitfall Bench's
    * probe-unique names work around). Deriving the name from the root
    * gives every warehouse its own catalog instance, and both the
    * fixture builder and the query recompute the same name from the
    * same root. */
  private def catalogFor(s: SparkSession, prefix: String,
                         root: String): String = {
    val name = prefix + "_" +
      java.lang.Long.toUnsignedString(SnapshotLog.hashStringKey(root), 36)
    s.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$name.warehouse", root)
    name
  }

  /** Two appends THROUGH the writer face: epoch 1 = even orderkeys
    * (snapshot 1), epoch 2 = odd (snapshot 2). */
  private def ordersWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-orders", d) { base =>
      val dir = s"$base/orders_graft"
      val ord = orders(s, d)
      ord.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .write.format("graft").option("statsCols", "o_orderkey").save(dir)
      ord.filter(pmod(col("o_orderkey"), lit(2)) === 1)
        .write.format("graft").mode("append")
        .option("statsCols", "o_orderkey").save(dir)
      dir
    }

  /** One commit of 4 RANGE files with o_orderkey zone maps — the layout
    * where a range WHERE prunes from metadata. */
  private def rangeWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-range", d) { base =>
      val dir = s"$base/orders_range"
      orders(s, d).repartitionByRange(4, col("o_orderkey"))
        .write.format("graft").option("statsCols", "o_orderkey").save(dir)
      dir
    }

  /** Four ROUND-ROBIN appends (each file spans the whole key range — the
    * zone-blind layout) with manifest blooms: equality lookups prune on
    * the bloom alone. */
  private def bloomWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-bloom", d) { base =>
      val dir = s"$base/orders_bloom"
      val ord = orders(s, d)
      for (slice <- 0 until 4)
        ord.filter(pmod(col("o_orderkey"), lit(4)) === slice).coalesce(1)
          .write.format("graft").mode(if (slice == 0) "error" else "append")
          .option("statsCols", "o_orderkey")
          .option("bloomCol", "o_orderkey").save(dir)
      dir
    }

  /** The source table streamed INTO a second graft table through
    * `readStream.format("graft")` → `writeStream.format("graft")` — the
    * full streaming loop under the oracle: the streamed copy must be
    * row-identical to the raw input (exactly-once, no loss, no dupes). */
  private def streamedWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-streamed", d) { base =>
      val dst = s"$base/orders_streamed"
      val q = s.readStream.format("graft").load(ordersWarehouse(s, d))
        .writeStream.format("graft")
        .option("checkpointLocation", s"$base/cp")
        .option("statsCols", "o_orderkey")
        .start(dst)
      try q.processAllAvailable() finally q.stop()
      dst
    }

  /** The source table streamed into a sibling table ENTIRELY BY V2 NAME
    * — `spark.readStream.table("cat.src")` → `writeStream.format("graft")
    * .toTable("cat.dst")` (the r13 V2TableWithV1Fallback streaming
    * faces): the table-name loop must be row-identical to the raw input,
    * same exactly-once contract as the path-addressed loop. */
  private def tableStreamWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-tstream", d) { base =>
      val ord = orders(s, d)
      ord.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .write.format("graft").option("statsCols", "o_orderkey")
        .save(s"$base/src")
      ord.filter(pmod(col("o_orderkey"), lit(2)) === 1)
        .write.format("graft").mode("append")
        .option("statsCols", "o_orderkey").save(s"$base/src")
      val cat = catalogFor(s, "graft_vstream", base)
      val q = s.readStream.table(s"$cat.src")
        .writeStream.format("graft")
        .option("checkpointLocation", s"$base/cp")
        .option("statsCols", "o_orderkey")
        .toTable(s"$cat.dst")
      try q.processAllAvailable() finally q.stop()
      base
    }

  /** Fact/dim pair for the V2 runtime-filtering (DPP) entry: the fact is
    * laid out one STATUS per file with per-file partition-value sets
    * recorded; the dim maps status → tier. A join filtered on the DIM
    * side lets the fact's [[GraftV2BatchScan]] drop whole files at
    * runtime from the realized join keys — the oracle only checks the
    * ANSWER (pruning may only skip); ConnectorV2Spec pins the file
    * drop itself. */
  private def dppWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-dpp", d) { base =>
      val ord = orders(s, d)
      val statuses = ord.select(col("o_orderstatus")).distinct()
        .collect().map(_.getString(0)).sorted
      statuses.zipWithIndex.foreach { case (st, i) =>
        ord.filter(col("o_orderstatus") === st).coalesce(1)
          .write.format("graft").mode(if (i == 0) "error" else "append")
          .option("statsCols", "o_orderkey")
          .option("partitionCols", "o_orderstatus").save(s"$base/fact")
      }
      s.createDataFrame(statuses.toSeq.map(st =>
          (st, if (st == "F") "busy" else "quiet")))
        .toDF("o_orderstatus", "tier")
        .write.format("graft").save(s"$base/dim")
      base
    }

  /** Two tables CO-BUCKETED on the join key (`bucketBy` writer option →
    * durable props + per-file bucket(n,col) manifest keys): the layout
    * the V2 scan reports as KeyGroupedPartitioning so same-keyed joins
    * skip the exchange (ConnectorV2Spec pins the no-Exchange plan); the
    * oracle pins that the clustered layout changed NOTHING about the
    * answer. */
  private def spjWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-spj", d) { base =>
      graft.schema.Tables(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.format("graft").option("bucketBy", "8,o_custkey")
        .option("statsCols", "o_custkey").save(s"$base/orders_b")
      graft.schema.Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
        .write.format("graft").option("bucketBy", "8,c_custkey")
        .option("statsCols", "c_custkey").save(s"$base/cust_b")
      base
    }

  /** The SPJ-under-masks warehouse (r15): the [[spjWarehouse]] layout
    * with POSITIONAL deletes landed on both sides — the merge-on-read
    * state every co-bucketed table spends most of its life in between
    * compactions. The build REQUIRES masks to exist AND the scan to
    * still report the key-grouped layout (a mask filters rows within
    * files and can never change bucket membership); the oracle pins
    * that the zero-exchange masked join changed NOTHING about the
    * answer. */
  private def spjMorWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-spjmor", d) { base =>
      graft.schema.Tables(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.format("graft").option("bucketBy", "8,o_custkey")
        .option("statsCols", "o_custkey").save(s"$base/orders_m")
      graft.schema.Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
        .write.format("graft").option("bucketBy", "8,c_custkey")
        .option("statsCols", "c_custkey").save(s"$base/cust_m")
      graft.table.Merge.deleteWhere(s, s"$base/orders_m",
        col("o_orderkey") % 7 === 0)
      graft.table.Merge.deleteWhere(s, s"$base/cust_m",
        col("c_custkey") % 5 === 0)
      for (t <- Seq("orders_m", "cust_m")) {
        require(SnapshotLog.filesAt(s, s"$base/$t")
            .exists(_.kind == "posdelete"),
          s"$t: the delete must land as a positional mask")
        new GraftScanBuilder(s, s"$base/$t").build() match {
          case b: GraftV2BatchScan =>
            require(b.outputPartitioning().isInstanceOf[
              org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning],
              s"$t must keep key-grouped reporting under masks: " +
                b.description())
          case other => throw new IllegalStateException(
            s"$t: expected the masked batch scan, got $other")
        }
      }
      base
    }

  /** The EQUALITY-masked merge-on-read warehouse (r15): a mergeOnRead
    * delete-only delta lands eqdelete masks, then a LATER append
    * re-inserts half the deleted keys — the seq-rule state (a key's
    * delete applies only to rows whose file predates it). The build
    * REQUIRES the masks and the VECTORIZED eq-masked scan over the one
    * mask file (`eqMaskFiles=1` in the batch-scan description, never
    * the Row bridge); the oracle pins
    * that the per-batch key probe loses exactly the dead rows and keeps
    * every re-insert. */
  private def eqMorWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-eqmor", d) { base =>
      val dir = s"$base/orders_eqmor"
      orders(s, d).write.format("graft")
        .option("statsCols", "o_orderkey").save(dir)
      graft.table.Merge.mergeOnRead(s, dir,
        orders(s, d).filter(col("o_orderkey") % 11 === 3)
          .withColumn("_del", lit(true)),
        "o_orderkey", deleteCol = Some("_del"))
      orders(s, d).filter(col("o_orderkey") % 22 === 3)
        .write.format("graft").mode("append")
        .option("statsCols", "o_orderkey").save(dir)
      require(SnapshotLog.filesAt(s, dir).exists(_.kind == "eqdelete"),
        "the delete-only delta must land as an equality mask")
      new GraftScanBuilder(s, dir).build() match {
        case b: GraftV2BatchScan =>
          require(b.description().contains("eqMaskFiles=1"),
            s"the eq-masked read must vectorize: ${b.description()}")
        case other => throw new IllegalStateException(
          s"expected the eq-masked batch scan, got $other")
      }
      dir
    }

  /** The SPJ-under-EQUALITY-masks warehouse (r15): the co-bucketed
    * layout with an eqdelete mask on the orders side and a LATER
    * re-insert of half the deleted keys (the seq-rule MOR state). The
    * build REQUIRES the eq mask, the key-grouped reporting to HOLD
    * (an eq-delete removes rows, never moves them between buckets) and
    * the vectorized eq probe (`eqMaskFiles=1` in the scan description); the
    * oracle pins the zero-exchange masked join changed NOTHING. */
  private def spjEqMorWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-spjeq", d) { base =>
      val o3 = orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      o3.write.format("graft").option("bucketBy", "8,o_custkey")
        .option("statsCols", "o_custkey").save(s"$base/orders_e")
      graft.schema.Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
        .write.format("graft").option("bucketBy", "8,c_custkey")
        .option("statsCols", "c_custkey").save(s"$base/cust_e")
      graft.table.Merge.mergeOnRead(s, s"$base/orders_e",
        o3.filter(col("o_orderkey") % 13 === 5).withColumn("_del", lit(true)),
        "o_orderkey", deleteCol = Some("_del"))
      o3.filter(col("o_orderkey") % 26 === 5)
        .write.format("graft").mode("append")
        .option("bucketBy", "8,o_custkey")
        .option("statsCols", "o_custkey").save(s"$base/orders_e")
      require(SnapshotLog.filesAt(s, s"$base/orders_e")
          .exists(_.kind == "eqdelete"),
        "the delete-only delta must land as an equality mask")
      new GraftScanBuilder(s, s"$base/orders_e").build() match {
        case b: GraftV2BatchScan =>
          require(b.description().contains("eqMaskFiles=1"),
            s"the eq-masked read must vectorize: ${b.description()}")
          require(b.outputPartitioning().isInstanceOf[
            org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning],
            "orders_e must keep key-grouped reporting under the eq mask: " +
              b.description())
        case other => throw new IllegalStateException(
          s"expected the eq-masked batch scan, got $other")
      }
      base
    }

  /** The DATE-keyed equality-mask warehouse (r15): the table carries a
    * proper DATE column (`o_odate`) and the delete-only mergeOnRead
    * delta keys on IT — temporal keys fold to their internal long
    * domain (epoch days) and probe vectorized like integrals. The build
    * REQUIRES the vectorized plan; the oracle pins every order on a
    * masked date lost, everything else kept. */
  private def eqDateWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-eqdate", d) { base =>
      val dir = s"$base/orders_eqd"
      val o = graft.schema.Tables(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate").cast("date").as("o_odate"))
      o.write.format("graft").option("statsCols", "o_orderkey").save(dir)
      graft.table.Merge.mergeOnRead(s, dir,
        o.filter(dayofmonth(col("o_odate")) <= 3)
          .withColumn("_del", lit(true)),
        "o_odate", deleteCol = Some("_del"))
      require(SnapshotLog.filesAt(s, dir).exists(_.kind == "eqdelete"),
        "the delete-only delta must land as an equality mask")
      new GraftScanBuilder(s, dir).build() match {
        case b: GraftV2BatchScan =>
          require(b.description().contains("eqMaskFiles=1"),
            s"the DATE-keyed eq read must vectorize: ${b.description()}")
        case other => throw new IllegalStateException(
          s"expected the eq-masked batch scan, got $other")
      }
      dir
    }

  /** The vanilla-session row-level DML warehouse ON an eq-masked table
    * (r15): the upsert-ingest MOR state, then a stock session's DELETE
    * + UPDATE through SupportsRowLevelOperations — whose source scan
    * projects row ids OVER the pending equality mask. The build
    * REQUIRES that composed scan to be the vectorized batch scan
    * (`rowIds=true` + `eqMaskFiles=1`, never the Row bridge) and both
    * statements to land as guarded rowdelta commits; the oracle pins
    * the surviving rows. */
  private def eqRowDeltaWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-eqrowdelta", d) { base =>
      val dir = s"$base/orders_erd"
      orders(s, d).write.format("graft")
        .option("statsCols", "o_orderkey").save(dir)
      graft.table.Merge.mergeOnRead(s, dir,
        orders(s, d).filter(col("o_orderkey") % 11 === 3)
          .withColumn("_del", lit(true)),
        "o_orderkey", deleteCol = Some("_del"))
      val v = org.apache.spark.sql.graftshim.GraftSqlShim
        .vanillaSession(s.sparkContext)
      val cat = "graft_erd_" +
        java.lang.Long.toUnsignedString(SnapshotLog.hashStringKey(base), 36)
      v.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      v.conf.set(s"spark.sql.catalog.$cat.warehouse", base)
      // the row-id + eq-mask composition must stay columnar — the exact
      // scan every DML below reads through
      val probe = v.sql(
        s"SELECT o_orderkey, _graft_file, _graft_pos FROM $cat.orders_erd")
        .queryExecution.executedPlan
      require(probe.toString.contains("rowIds=true") &&
          probe.toString.contains("eqMaskFiles=1") &&
          GraftV2BatchScan.readsColumnar(probe),
        s"the eq-masked row-id scan must vectorize:\n$probe")
      v.sql(s"DELETE FROM $cat.orders_erd WHERE o_orderkey % 9 = 4")
      v.sql(s"UPDATE $cat.orders_erd SET o_totalprice = o_totalprice * 3 " +
        "WHERE o_orderstatus = 'P'")
      // 3 rowdelta commits: the mergeOnRead ingest + the two statements
      val ops = SnapshotLog.commits(s, dir).map(_.op)
      require(ops.count(_ == "rowdelta") == 3,
        s"both statements must land as delta commits, got $ops")
      dir
    }

  /** The UNBUCKETED real-V2-write warehouse (r15): CREATE TABLE +
    * INSERT INTO by V2 name on a plain (no bucket) table — the write
    * must plan as the REAL engine write (inline manifest stats, no V1
    * bridge, no post-write stats read-back pass), REQUIREd from the
    * INSERT's own executed plan and the committed files' metadata; the
    * oracle pins the rows. */
  private def v2UnbucketedWriteWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-v2uw", d) { base =>
      val cat = catalogFor(s, "graft_v2uw", base)
      s.sql(s"""CREATE TABLE $cat.orders_uw (
              |  o_orderkey BIGINT, o_custkey BIGINT,
              |  o_orderstatus STRING, o_totalprice DOUBLE)
              |TBLPROPERTIES ('statsCols' = 'o_orderkey')""".stripMargin)
      orders(s, d).createOrReplaceTempView("v2uw_src")
      val ins = s.sql(s"""INSERT INTO $cat.orders_uw
              |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
              |FROM v2uw_src""".stripMargin)
      val plan = ins.queryExecution.executedPlan.toString
      require(plan.contains("GraftBucketWrite") &&
          plan.contains("unbucketed") && !plan.contains("GraftV1Write"),
        s"the INSERT must plan the real V2 write:\n$plan")
      val files = SnapshotLog.filesAt(s, s"$base/orders_uw")
        .filter(f => f.kind == "data" && f.rows > 0)
      require(files.nonEmpty && files.forall(_.stats.contains("o_orderkey")),
        s"inline stats must ride the real write: ${files.map(_.stats)}")
      base
    }

  /** Two tables CO-BUCKETED on a STRING join key (r14 — the uuid /
    * natural-key case): the writer hashes the key through xxhash64 into
    * the same residue layout integral keys use, so string-keyed tables
    * storage-partition-join too. The oracle pins that the hashed layout
    * changed nothing about the answer. */
  private def spjStrWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-spjstr", d) { base =>
      graft.schema.Tables(s, d, "orders")
        .select(concat(lit("c-"), col("o_custkey")).as("ck"),
          col("o_orderkey"), col("o_totalprice"))
        .write.format("graft").option("bucketBy", "8,ck")
        .option("bloomCol", "ck").save(s"$base/orders_sb")
      graft.schema.Tables(s, d, "customer")
        .select(concat(lit("c-"), col("c_custkey")).as("ck"),
          col("c_nationkey"))
        .write.format("graft").option("bucketBy", "8,ck")
        .option("bloomCol", "ck").save(s"$base/cust_sb")
      base
    }

  /** A bucket-declared table built END TO END through the REAL V2 write
    * (r14): CREATE TABLE … PARTITIONED BY (bucket(8, o_custkey)) then
    * INSERT INTO by V2 name — the engine plans the clustering exchange
    * from the write's RequiresDistributionAndOrdering and executors
    * write single-bucket, key-sorted files with inline manifest stats.
    * The build REQUIRES the layout proof (singleton bucket ids, sorted
    * stamps); the oracle pins the rows. */
  private def v2BucketWriteWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-v2bw", d) { base =>
      val cat = catalogFor(s, "graft_v2bw", base)
      s.sql(s"""CREATE TABLE $cat.orders_bw (
              |  o_orderkey BIGINT, o_custkey BIGINT,
              |  o_orderstatus STRING, o_totalprice DOUBLE)
              |PARTITIONED BY (bucket(8, o_custkey))
              |TBLPROPERTIES ('statsCols' = 'o_orderkey')""".stripMargin)
      orders(s, d).createOrReplaceTempView("v2bw_src")
      s.sql(s"""INSERT INTO $cat.orders_bw
              |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
              |FROM v2bw_src""".stripMargin)
      val key = SnapshotLog.bucketPartKey(8, "o_custkey")
      val files = SnapshotLog.filesAt(s, s"$base/orders_bw")
        .filter(f => f.kind == "data" && f.rows > 0)
      require(files.nonEmpty &&
        files.forall(_.parts.get(key).exists(_.size == 1)) &&
        files.forall(_.sortedBy.contains("o_custkey")),
        s"the V2 write must land single-bucket sorted files: " +
          files.map(f => (f.parts.get(key), f.sortedBy)).mkString(", "))
      base
    }

  /** A table mutated through the ENGINE-CONTRACT row-level face (r14
    * SupportsRowLevelOperations): a VANILLA session (no graft
    * extensions — what any stock Spark distribution runs) issues a
    * non-convertible DELETE and an UPDATE; the engine's own
    * RewriteDeleteFromTable/RewriteUpdateTable rules plan delta writes
    * that land positional masks + re-inserted rows in guarded
    * `rowdelta` commits. The build REQUIRES the rowdelta commit shape;
    * the oracle pins the surviving rows. */
  private def rowDeltaWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-rowdelta", d) { base =>
      val dir = s"$base/orders_rd"
      orders(s, d).write.format("graft")
        .option("statsCols", "o_orderkey").save(dir)
      val v = org.apache.spark.sql.graftshim.GraftSqlShim
        .vanillaSession(s.sparkContext)
      val cat = "graft_rd_" +
        java.lang.Long.toUnsignedString(SnapshotLog.hashStringKey(base), 36)
      v.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      v.conf.set(s"spark.sql.catalog.$cat.warehouse", base)
      v.sql(s"DELETE FROM $cat.orders_rd WHERE o_orderkey % 9 = 4")
      v.sql(s"UPDATE $cat.orders_rd SET o_totalprice = o_totalprice * 3 " +
        "WHERE o_orderstatus = 'P'")
      val ops = SnapshotLog.commits(s, dir).map(_.op)
      require(ops.count(_ == "rowdelta") == 2,
        s"both statements must land as delta commits, got $ops")
      dir
    }

  /** A table living in a NESTED NAMESPACE (`cat.raw.orders_ns`), built
    * through CREATE NAMESPACE + CTAS + INSERT INTO by qualified name —
    * the multi-level-namespace face under the oracle: organizing tables
    * into namespaces may only change the NAME, never the rows. */
  private def nsWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-ns", d) { base =>
      val cat = catalogFor(s, "graft_ns", base)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.raw")
      orders(s, d).filter(col("o_orderstatus") === "F")
        .createOrReplaceTempView("conn_ns_src_f")
      orders(s, d).filter(col("o_orderstatus") =!= "F")
        .createOrReplaceTempView("conn_ns_src_rest")
      s.sql(s"CREATE TABLE $cat.raw.orders_ns AS " +
        "SELECT * FROM conn_ns_src_f")
      s.sql(s"INSERT INTO $cat.raw.orders_ns " +
        "SELECT * FROM conn_ns_src_rest")
      base
    }

  /** A warehouse assembled through the SQL DDL face alone: CREATE TABLE
    * USING graft, then INSERT INTO from a view — the analyzer-rewrite
    * insert path (log commits, inherited pruning metadata) under the
    * oracle. */
  private def insertWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-insert", d) { base =>
      val dir = s"$base/orders_ins"
      val ord = orders(s, d)
      ord.filter(col("o_orderstatus") === "F")
        .write.format("graft").option("statsCols", "o_orderkey").save(dir)
      s.sql(s"CREATE TABLE conn_ins_wh USING graft OPTIONS (path '$dir')")
      try {
        ord.filter(col("o_orderstatus") =!= "F")
          .createOrReplaceTempView("conn_ins_src")
        s.sql("INSERT INTO conn_ins_wh SELECT * FROM conn_ins_src")
      } finally s.sql("DROP TABLE conn_ins_wh")
      dir
    }

  /** A warehouse mutated through the SQL DML faces: one `UPDATE` (F-status
    * prices bumped), then one `DELETE` (every 10th orderkey) — the
    * GraftDmlRule copy-on-write path under the oracle. */
  private def dmlWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-dml", d) { base =>
      val dir = s"$base/orders_dml"
      orders(s, d).write.format("graft")
        .option("statsCols", "o_orderkey").save(dir)
      s.sql(s"CREATE TABLE conn_dml_wh USING graft OPTIONS (path '$dir')")
      try {
        s.sql("UPDATE conn_dml_wh SET o_totalprice = o_totalprice + 10 " +
          "WHERE o_orderstatus = 'F'")
        s.sql("DELETE FROM conn_dml_wh WHERE o_orderkey % 10 = 0")
      } finally s.sql("DROP TABLE conn_dml_wh")
      dir
    }

  /** A key-clustered warehouse truncated below its key midpoint by SQL
    * DELETE — the predicate covers whole files, so the build REQUIRES
    * the file-level metadata-drop path to have engaged (r11 DS18): the
    * oracle then pins that dropping files without reading them loses
    * and keeps exactly the right rows. */
  private def metaDeleteWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-metadel", d) { base =>
      val dir = s"$base/orders_metadel"
      val ord = orders(s, d)
      ord.repartitionByRange(8, col("o_orderkey"))
        .write.format("graft").option("statsCols", "o_orderkey").save(dir)
      val b = ord.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head
      val (lo, hi) = (b.getAs[Number](0).longValue, b.getAs[Number](1).longValue)
      val pivot = lo + (hi - lo) / 2
      s.sql(s"CREATE TABLE conn_metadel_wh USING graft OPTIONS (path '$dir')")
      try {
        s.sql(s"DELETE FROM conn_metadel_wh WHERE o_orderkey < $pivot")
        val c = graft.table.SnapshotLog.commits(s, dir).last
        require(c.summary("files_dropped_metadata").toLong > 0,
          s"metadata-drop path must engage on the clustered layout: ${c.summary}")
      } finally s.sql("DROP TABLE conn_metadel_wh")
      dir
    }

  /** A warehouse assembled by SQL `MERGE INTO`: target = every 3rd
    * orderkey, source = every 2nd with doubled prices; matched F-status
    * rows DELETE, other matches UPDATE, the rest INSERT — all three WHEN
    * clauses of the DML face under one oracle. */
  private def mergeWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-merge", d) { base =>
      val dir = s"$base/orders_merge"
      val ord = orders(s, d)
      ord.filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .write.format("graft").option("statsCols", "o_orderkey").save(dir)
      s.sql(s"CREATE TABLE conn_merge_wh USING graft OPTIONS (path '$dir')")
      try {
        ord.filter(pmod(col("o_orderkey"), lit(2)) === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .createOrReplaceTempView("conn_merge_src")
        s.sql(
          """MERGE INTO conn_merge_wh t USING conn_merge_src s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED AND s.o_orderstatus = 'F' THEN DELETE
            |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
            |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey,
            |  o_orderstatus, o_totalprice) VALUES (s.o_orderkey, s.o_custkey,
            |  s.o_orderstatus, s.o_totalprice)""".stripMargin)
      } finally s.sql("DROP TABLE conn_merge_wh")
      dir
    }

  /** A warehouse maintained through the SQL statements: three appends
    * plus a merge-on-read upsert (pending mask), then `OPTIMIZE` with a
    * key clustering — the full materializing rewrite under the oracle —
    * then `VACUUM` retiring the pre-OPTIMIZE history. Neither statement
    * may change a single logical row. */
  private def optimizeWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-optimize", d) { base =>
      val dir = s"$base/orders_opt"
      val ord = orders(s, d)
      for (slice <- 0 until 3)
        ord.filter(pmod(col("o_orderkey"), lit(3)) === slice).coalesce(1)
          .write.format("graft").mode(if (slice == 0) "error" else "append")
          .option("statsCols", "o_orderkey").save(dir)
      // a pending equality-delete mask: OPTIMIZE must MATERIALIZE it
      // (doubled prices on F-status rows), not detach it
      graft.table.Merge.mergeOnRead(s, dir,
        ord.filter(col("o_orderstatus") === "F")
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        "o_orderkey")
      s.sql(s"OPTIMIZE '$dir' CLUSTER BY o_orderkey")
      s.sql(s"VACUUM '$dir'")
      dir
    }

  /** A table mutated through merge-on-read after its seed, then its
    * row-level change feed STREAMED (`readChangeFeed=true`) into a
    * parquet sink: snapshot 1 = even orderkeys (inserts), snapshot 2 =
    * odd orderkeys upserted with doubled prices, snapshot 3 = multiples
    * of 10 deleted (key-only events). The streamed events must equal the
    * declaratively-derived feed over the raw input. */
  private def cdfWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-cdf", d) { base =>
      val dir = s"$base/orders_cdf"
      val sink = s"$base/events"
      val ord = orders(s, d)
      ord.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .write.format("graft").option("statsCols", "o_orderkey").save(dir)
      graft.table.Merge.mergeOnRead(s, dir,
        ord.filter(pmod(col("o_orderkey"), lit(2)) === 1)
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        "o_orderkey")
      graft.table.Merge.mergeOnRead(s, dir,
        ord.filter(pmod(col("o_orderkey"), lit(10)) === 0)
          .withColumn("_del", lit(true)),
        "o_orderkey", deleteCol = Some("_del"))
      val q = s.readStream.format("graft")
        .option("readChangeFeed", "true").load(dir)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", s"$base/cp")
        .start()
      try q.processAllAvailable() finally q.stop()
      sink
    }

  /** A table whose change feed is read with PRE/POST-IMAGES: seed = all
    * orders (snapshot 1), then one merge-on-read commit mixing true
    * updates (doubled prices on keys %3=0 — all exist in the seed) with
    * true inserts (keys shifted past the max — provably new), then one
    * tombstone commit deleting keys %10=0. The feed from snapshot 1 must
    * classify exactly: updates as preimage/postimage pairs, shifted keys
    * as inserts, deletes with the FULL parent-state payload (doubled
    * where %30=0 — the state after the update commit). */
  private def preimgWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-preimg", d) { base =>
      val dir = s"$base/orders_preimg"
      val ord = orders(s, d)
      ord.write.format("graft").option("statsCols", "o_orderkey").save(dir)
      val mx = ord.agg(max(col("o_orderkey"))).head.getLong(0)
      val updates = ord.filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val inserts = ord.filter(pmod(col("o_orderkey"), lit(5)) === 0)
        .withColumn("o_orderkey", col("o_orderkey") + mx + 1) // strictly new
      graft.table.Merge.mergeOnRead(s, dir, updates.unionByName(inserts),
        "o_orderkey")
      graft.table.Merge.mergeOnRead(s, dir,
        ord.filter(pmod(col("o_orderkey"), lit(10)) === 0)
          .withColumn("_del", lit(true)),
        "o_orderkey", deleteCol = Some("_del"))
      dir
    }

  /** A table widened by `ALTER TABLE ADD COLUMNS` mid-life: F-status
    * orders first (pre-ALTER epoch, flag reads null), then the rest
    * INSERTed WITH the flag set from the status — reads must null-fill
    * the old epoch and carry the new one verbatim. */
  private def alterWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-alter", d) { base =>
      val dir = s"$base/orders_alter"
      val ord = orders(s, d)
      ord.filter(col("o_orderstatus") === "F")
        .write.format("graft").option("statsCols", "o_orderkey").save(dir)
      s.sql(s"CREATE TABLE conn_alter_wh USING graft OPTIONS (path '$dir')")
      try {
        s.sql("ALTER TABLE conn_alter_wh ADD COLUMNS (o_flag STRING)")
        ord.filter(col("o_orderstatus") =!= "F")
          .withColumn("o_flag", concat(lit("s:"), col("o_orderstatus")))
          .createOrReplaceTempView("conn_alter_src")
        s.sql("INSERT INTO conn_alter_wh SELECT * FROM conn_alter_src")
      } finally s.sql("DROP TABLE conn_alter_wh")
      dir
    }

  /** A table RENAMED mid-life (metadata-only field-id mapping): F-status
    * orders land under the original column names, then `ALTER TABLE …
    * RENAME COLUMN o_totalprice TO o_price`, then the REST of the orders
    * INSERT under the new name — the read must resolve both epochs (old
    * physical files + new writes) into one logical column. */
  private def renameWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-rename", d) { base =>
      val dir = s"$base/orders_rename"
      val ord = orders(s, d)
      ord.filter(col("o_orderstatus") === "F")
        .write.format("graft").option("statsCols", "o_orderkey").save(dir)
      s.sql(s"CREATE TABLE conn_ren_wh USING graft OPTIONS (path '$dir')")
      try {
        s.sql("ALTER TABLE conn_ren_wh RENAME COLUMN o_totalprice TO o_price")
        ord.filter(col("o_orderstatus") =!= "F")
          .withColumnRenamed("o_totalprice", "o_price")
          .createOrReplaceTempView("conn_ren_src")
        s.sql("INSERT INTO conn_ren_wh SELECT * FROM conn_ren_src")
      } finally s.sql("DROP TABLE conn_ren_wh")
      dir
    }

  /** A table WIDENED mid-life (`ALTER COLUMN … TYPE`, the schema-carrier
    * commit): F-status orders land with an INT `o_units` column, then
    * `ALTER TABLE … ALTER COLUMN o_units TYPE bigint`, then the REST of
    * the orders INSERT values beyond the int range — the read must LUB
    * both epochs to bigint (old files' int values widen at scan time;
    * no data byte rewritten). */
  private def widenWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-widen", d) { base =>
      val dir = s"$base/orders_widen"
      val ord = orders(s, d)
      ord.filter(col("o_orderstatus") === "F")
        .withColumn("o_units", (col("o_orderkey") % 100).cast("int"))
        .write.format("graft").option("statsCols", "o_orderkey").save(dir)
      s.sql(s"CREATE TABLE conn_widen_wh USING graft OPTIONS (path '$dir')")
      try {
        s.sql("ALTER TABLE conn_widen_wh ALTER COLUMN o_units TYPE bigint")
        ord.filter(col("o_orderstatus") =!= "F")
          .withColumn("o_units", col("o_orderkey") % 100 + lit(3000000000L))
          .createOrReplaceTempView("conn_widen_src")
        s.sql("INSERT INTO conn_widen_wh SELECT * FROM conn_widen_src")
      } finally s.sql("DROP TABLE conn_widen_wh")
      dir
    }

  /** A merge-on-read warehouse under POSITIONAL masks (deletion
    * vectors) behind `conn_mor_read`: seed = all orders in 4
    * range-clustered files, then two `Merge.deleteWhere` commits record
    * (file, ordinal) masks — every 7th orderkey, then the P-status
    * rows. The build REQUIRES the read to plan as the VECTORIZED masked
    * batch scan (the r13 `weak` flag's fix: standing MOR reads between
    * compactions must stay columnar, never the Row bridge); the oracle
    * then pins that the mask filter loses and keeps exactly the right
    * rows. */
  private def morWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-mor", d) { base =>
      val dir = s"$base/orders_mor"
      orders(s, d).repartitionByRange(4, col("o_orderkey"))
        .write.format("graft").option("statsCols", "o_orderkey").save(dir)
      graft.table.Merge.deleteWhere(s, dir, pmod(col("o_orderkey"), lit(7)) === 0)
      graft.table.Merge.deleteWhere(s, dir, col("o_orderstatus") === "P")
      val scan = new GraftScanBuilder(s, dir).build()
      require(scan.isInstanceOf[GraftV2BatchScan] &&
        scan.description().contains("posMaskFiles=2"),
        s"the masked read must plan VECTORIZED, got ${scan.description()}")
      base
    }

  /** The V2-catalog warehouse behind `conn_v2_agg`: one orders table
    * under a [[GraftCatalog]] root; the query goes through the V2
    * TableCatalog + complete aggregate pushdown (manifest-only answers —
    * the engine-contract twin of the injected GraftMetadataAggRule). */
  private def v2Warehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-v2", d) { base =>
      orders(s, d).write.format("graft")
        .option("statsCols", "o_orderkey").save(s"$base/orders_v2")
      base
    }

  /** The V2 WRITE-face warehouse behind `conn_v2_write`: the table is
    * built end-to-end through the DataSourceV2 catalog's OWN write
    * contract — atomic CTAS (even orderkeys, with pruning metadata via
    * TBLPROPERTIES), SQL INSERT INTO (the odd half, a V1Write-bridge
    * append commit), then a V2 `DELETE` whose filters lower onto the
    * zone-pruned row-level DML machinery. Every row surviving in the
    * final read proves the whole write path against the DuckDB oracle. */
  private def v2WriteWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-v2w", d) { base =>
      val cat = catalogFor(s, "graft_v2w", base)
      orders(s, d).createOrReplaceTempView("v2w_src")
      s.sql(s"""CREATE TABLE $cat.orders_w
              |TBLPROPERTIES ('statsCols' = 'o_orderkey') AS
              |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
              |FROM v2w_src WHERE o_orderkey % 2 = 0""".stripMargin)
      s.sql(s"""INSERT INTO $cat.orders_w
              |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
              |FROM v2w_src WHERE o_orderkey % 2 = 1""".stripMargin)
      s.sql(s"DELETE FROM $cat.orders_w " +
        "WHERE o_orderkey < 300 OR o_orderstatus = 'P'")
      base
    }

  /** The partition-listing warehouse behind `conn_partitions`: one
    * append per order status, each with `partitionCols=o_orderstatus`,
    * so every live file records exactly one status value — the layout
    * where manifest partition listing is EXACT. */
  private def partitionsWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-parts", d) { base =>
      val dir = s"$base/orders_parts"
      Seq("F", "O", "P").zipWithIndex.foreach { case (st, i) =>
        val w = orders(s, d).filter(col("o_orderstatus") === st)
          .write.format("graft").option("statsCols", "o_orderkey")
          .option("partitionCols", "o_orderstatus")
        (if (i == 0) w else w.mode("append")).save(dir)
      }
      dir
    }

  /** The replaceWhere warehouse behind `conn_replace_where`: a full
    * orders table, then `mode("overwrite").option("replaceWhere",
    * "o_orderstatus = 'P'")` atomically swaps the P slice for a
    * price-doubled version — the idempotent partition-reload pattern,
    * under the oracle (no row may leak out of, or survive inside, the
    * replaced slice). */
  private def replaceWhereWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-rw", d) { base =>
      val dir = s"$base/orders_rw"
      orders(s, d).write.format("graft")
        .option("statsCols", "o_orderkey").save(dir)
      orders(s, d).filter(col("o_orderstatus") === "P")
        .withColumn("o_totalprice", col("o_totalprice") * 2.0)
        .write.format("graft").mode("overwrite")
        .option("replaceWhere", "o_orderstatus = 'P'").save(dir)
      dir
    }

  /** A WAP-CHAIN branch warehouse ([[graft.table.Branch]]): F-status
    * orders land on main, then a branch stages the O and P halves as TWO
    * chain commits — auditable at the branch head the whole time while
    * main-line readers stay pinned to the F half (the build REQUIRES the
    * invisibility, so a leak fails every query over this warehouse).
    * Left UNPUBLISHED: the oracled query exercises the branch READ face;
    * publish semantics are pinned in BranchSpec. */
  private def branchWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-branch", d) { base =>
      import graft.table.Branch
      val dir = s"$base/orders_branch"
      val ord = orders(s, d)
      val nF = ord.filter(col("o_orderstatus") === "F").count()
      ord.filter(col("o_orderstatus") === "F")
        .write.format("graft").option("statsCols", "o_orderkey").save(dir)
      Branch.create(s, dir, "wap")
      Branch.commitTo(s, dir, "wap",
        ord.filter(col("o_orderstatus") === "O"), statsCol = Some("o_orderkey"))
      Branch.commitTo(s, dir, "wap",
        ord.filter(col("o_orderstatus") === "P"), statsCol = Some("o_orderkey"))
      require(s.read.format("graft").load(dir).count() == nF,
        "branch chain leaked into the main-line read")
      dir
    }

  /** A two-table warehouse published in SYNC EPOCHS: epoch 1 = even
    * orderkeys of orders AND lineitem, epoch 2 = the odd halves — then a
    * TORN commit lands on orders alone (no epoch marker), the state a
    * crashed fan-out leaves. Epoch readers must join exactly the epoch-2
    * state: both complete halves, none of the torn rows. */
  private def epochWarehouse(s: SparkSession, d: String): String =
    Fixtures.memo(s, "graft-conn-epoch", d) { wh =>
      import graft.table.SyncEpoch
      val ord = orders(s, d)
      val li = graft.schema.Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      def half(df: DataFrame, c: String, m: Int) =
        df.filter(pmod(col(c), lit(2)) === m)
      half(ord, "o_orderkey", 0).write.format("graft")
        .option("statsCols", "o_orderkey").save(s"$wh/orders_parquet")
      half(li, "l_orderkey", 0).write.format("graft")
        .option("statsCols", "l_orderkey").save(s"$wh/lineitem_parquet")
      SyncEpoch.publish(s, wh, Map("orders" -> 1L, "lineitem" -> 1L))
      half(ord, "o_orderkey", 1).write.format("graft").mode("append")
        .option("statsCols", "o_orderkey").save(s"$wh/orders_parquet")
      half(li, "l_orderkey", 1).write.format("graft").mode("append")
        .option("statsCols", "l_orderkey").save(s"$wh/lineitem_parquet")
      SyncEpoch.publish(s, wh, Map("orders" -> 2L, "lineitem" -> 2L))
      // the torn tail: orders advances, lineitem does not, NO marker
      val mx = ord.agg(max(col("o_orderkey"))).head.getLong(0)
      ord.filter(pmod(col("o_orderkey"), lit(5)) === 0)
        .withColumn("o_orderkey", col("o_orderkey") + mx + 1)
        .write.format("graft").mode("append")
        .option("statsCols", "o_orderkey").save(s"$wh/orders_parquet")
      wh
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // cross-table atomic publish: orders ⋈ lineitem AT the current sync
    // epoch joins the consistent pinned pair — the torn orders-only
    // commit after the marker is invisible (SyncEpochSpec pins the
    // counterexample: a latest-snapshot read DOES see it)
    "conn_epoch_join" -> ((s, d) => {
      import graft.table.SyncEpoch
      val wh = epochWarehouse(s, d)
      SyncEpoch.readAt(s, wh, "orders").get
        .join(SyncEpoch.readAt(s, wh, "lineitem").get,
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("qty"),
          round(sum(col("l_extendedprice")), 2).as("revenue"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderstatus"))
    }),
    // metadata-only RENAME COLUMN under the oracle: pre-rename files
    // (old physical name) and post-rename INSERTs resolve by field id
    // into one logical column whose aggregate equals the raw input's
    "conn_alter_rename" -> ((s, d) => {
      s.read.format("graft").load(renameWarehouse(s, d))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_price")), 2).as("total_price"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderstatus"))
    }),
    // the SQL ALTER ADD COLUMNS face end-to-end: the widened table's
    // per-status counts and non-null flag counts must equal the
    // declaratively-widened raw input (old epoch null, new epoch set)
    "conn_alter_sql" -> ((s, d) => {
      s.read.format("graft").load(alterWarehouse(s, d))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), count(col("o_flag")).as("flagged"),
          max(col("o_flag")).as("max_flag"))
        .orderBy(col("o_orderstatus"))
    }),
    // the DataSourceV2 catalog face: count/min/max answered COMPLETELY
    // pushed down (manifest-only, zero files opened) through the
    // engine's own SupportsPushDownAggregates contract
    "conn_v2_agg" -> ((s, d) => {
      val cat = catalogFor(s, "graft_v2", v2Warehouse(s, d))
      s.sql("SELECT count(*) AS n, min(o_orderkey) AS min_key, " +
        s"max(o_orderkey) AS max_key FROM $cat.orders_v2")
    }),
    // partition listing from MANIFESTS alone (the Iceberg `partitions`
    // metadata table as a TVF): per-value row counts over a
    // single-status-per-file layout must equal the true GROUP BY —
    // zero data files open, at any table size
    "conn_partitions" -> ((s, d) => {
      val dir = partitionsWarehouse(s, d)
      s.sql("SELECT value AS o_orderstatus, rows AS n, exact " +
        s"FROM graft_partitions('$dir', 'o_orderstatus') ORDER BY value")
    }),
    // Delta-style replaceWhere: one ATOMIC commit deletes the matching
    // slice and lands its replacement — the final state must equal the
    // declarative CASE rewrite of the raw input
    "conn_replace_where" -> ((s, d) => {
      s.read.format("graft").load(replaceWhereWarehouse(s, d))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderstatus"))
    }),
    // the V2 WRITE face end-to-end: a table built purely through the
    // V2 catalog's write contract (atomic CTAS + INSERT INTO + V2
    // DELETE) must read back exactly as the declarative SQL over the
    // raw input — writes may only change the LOG, never the answer
    "conn_v2_write" -> ((s, d) => {
      val cat = catalogFor(s, "graft_v2w", v2WriteWarehouse(s, d))
      s.sql(s"""SELECT o_orderstatus, count(*) AS n,
              |  round(sum(o_totalprice), 2) AS total,
              |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
              |FROM $cat.orders_w
              |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),
    // the branch-head read: a two-commit staged chain folds over the
    // fork base exactly like published history — full-table totals out
    // of a state main-line readers cannot see yet
    "conn_branch_read" -> ((s, d) => {
      graft.table.Branch.read(s, branchWarehouse(s, d), "wap").get
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderstatus"))
    }),
    // SQL type widening across the epoch: int-epoch values LUB up to
    // bigint at scan time, the post-widening epoch holds values no int
    // can — one logical bigint column, zero rewrites
    "conn_alter_widen" -> ((s, d) => {
      s.read.format("graft").load(widenWarehouse(s, d))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("o_units")).as("units_sum"),
          max(col("o_units")).as("units_max"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderstatus"))
    }),
    // the streaming change-data-feed face end-to-end: per-event-kind
    // counts and key checksums of the STREAMED feed must equal the
    // declaratively-derived change events of the raw input
    "conn_cdf_stream" -> ((s, d) => {
      s.read.parquet(cdfWarehouse(s, d))
        .groupBy(col("_change_op"))
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"),
          round(sum(coalesce(col("o_totalprice"), lit(0.0))), 2).as("total"))
        .orderBy(col("_change_op"))
    }),
    // the pre/post-image change feed: updates emit paired
    // update_preimage (parent values) / update_postimage (new values)
    // events, genuinely-new keys emit insert, deletes carry the full
    // parent-state payload — per-op counts, key checksums and value
    // sums must equal the declaratively-derived events of the raw input
    "conn_cdf_preimages" -> ((s, d) => {
      SnapshotLog.changes(s, preimgWarehouse(s, d), from = 1L,
          preImages = true).get
        .groupBy(col("_change_op"))
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("_change_op"))
    }),
    // the SQL maintenance faces end-to-end: OPTIMIZE (mask-materializing
    // clustered rewrite) then VACUUM must preserve every logical row of
    // the declaratively-mutated input
    "conn_optimize_sql" -> ((s, d) => {
      s.read.format("graft").load(optimizeWarehouse(s, d))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderstatus"))
    }),
    // the SQL UPDATE + DELETE faces end-to-end: the mutated table must
    // aggregate exactly like the declaratively-mutated raw input
    "conn_dml_sql" -> ((s, d) => {
      s.read.format("graft").load(dmlWarehouse(s, d))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus"))
    }),
    // the SQL MERGE face end-to-end: delete/update/insert clauses applied
    // through the log must equal the same merge phrased declaratively
    "conn_merge_sql" -> ((s, d) => {
      s.read.format("graft").load(mergeWarehouse(s, d))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderstatus"))
    }),
    // the SQL INSERT face end-to-end: a table half-written by the writer,
    // half by INSERT INTO, must aggregate exactly like the raw input
    "conn_insert_sql" -> ((s, d) => {
      s.read.format("graft").load(insertWarehouse(s, d))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderstatus"))
    }),
    // SQL time-travel syntax (VERSION AS OF, the GraftTimeTravelRule
    // face): same pinned snapshot as the reader option, same oracle
    "conn_timetravel_sql" -> ((s, d) => {
      val dir = ordersWarehouse(s, d)
      s.sql(s"CREATE TABLE IF NOT EXISTS conn_tt_wh USING graft OPTIONS (path '$dir')")
      val df = s.sql("SELECT * FROM conn_tt_wh VERSION AS OF 1 ORDER BY o_orderkey")
      s.sql("DROP TABLE conn_tt_wh")
      df
    }),
    // the reader face end-to-end: write format("graft") twice, read the
    // union back through spark.read, aggregate — equals the same
    // aggregate over the raw input
    "conn_read_agg" -> ((s, d) => {
      s.read.format("graft").load(ordersWarehouse(s, d))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus"))
    }),
    // time travel THROUGH the reader option: versionAsOf 1 equals a full
    // recompute of epoch 1 (the even-key slice), later commits invisible
    "conn_timetravel" -> ((s, d) => {
      s.read.format("graft").option("versionAsOf", "1")
        .load(ordersWarehouse(s, d))
        .orderBy(col("o_orderkey"))
    }),
    // zone-pruned range scan: the query's own WHERE prunes files against
    // manifest zones inside the FileIndex (ConnectorSpec pins the file
    // skip count); the band derives from the manifest's global key
    // bounds exactly as the oracle derives it from the data
    "conn_pruned_range" -> ((s, d) => {
      val dir = rangeWarehouse(s, d)
      val zs = SnapshotLog.filesAt(s, dir).flatMap(_.stats.get("o_orderkey"))
      val (m0, m1) = (zs.map(_._1).min, zs.map(_._2).max)
      val hi = m0 + (m1 - m0) / 4
      s.read.format("graft").load(dir)
        .filter(col("o_orderkey").between(m0, hi))
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("total"))
        .orderBy(col("o_orderkey"))
    }),
    // bloom-pruned point lookup: equality on the key column probes the
    // per-file manifest blooms through the same WHERE (ConnectorSpec
    // pins that zone-blind files are skipped); the key is the table's
    // min, read from metadata alone
    // the streaming sink end-to-end: the graft→graft streamed copy
    // aggregates exactly like the raw input (txn commits lost nothing,
    // duplicated nothing — the exactly-once contract as an oracle row)
    "conn_stream_sink" -> ((s, d) => {
      s.read.format("graft").load(streamedWarehouse(s, d))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"),
          max(col("o_custkey")).as("max_cust"))
        .orderBy(col("o_orderstatus"))
    }),
    // the V2-NAME streaming loop: readStream.table → writeStream.toTable
    // (catalog-first, no path strings anywhere) — the streamed-by-name
    // copy must aggregate exactly like the raw input
    "conn_stream_table" -> ((s, d) => {
      val cat = catalogFor(s, "graft_vstream", tableStreamWarehouse(s, d))
      s.sql(s"""SELECT o_orderstatus, count(*) AS n,
              |  round(sum(o_totalprice), 2) AS total,
              |  max(o_custkey) AS max_cust
              |FROM $cat.dst
              |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),
    // V2 runtime filtering (DPP for the table format): the fact scan
    // drops whole FILES at execution from the dim join's realized keys
    // (ConnectorV2Spec pins kept=1); the oracle pins that runtime
    // pruning only SKIPPED — the filtered join equals the plain SQL
    "conn_dpp_join" -> ((s, d) => {
      val cat = catalogFor(s, "graft_dpp", dppWarehouse(s, d))
      s.sql(s"""SELECT f.o_orderstatus, count(*) AS n,
              |  round(sum(f.o_totalprice), 2) AS total,
              |  max(f.o_orderkey) AS max_key
              |FROM $cat.fact f
              |JOIN $cat.dim d ON f.o_orderstatus = d.o_orderstatus
              |WHERE d.tier = 'busy'
              |GROUP BY f.o_orderstatus ORDER BY f.o_orderstatus""".stripMargin)
    }),
    // co-bucketed join through V2 names: the bucketed layout (durable
    // props + per-file residue keys) may only change the PLAN, never
    // the answer — the oracle replays the plain join. SPJ reporting
    // itself is pinned in ConnectorV2Spec (zero-exchange SMJ under
    // spark.sql.sources.v2.bucketing.enabled); this entry deliberately
    // leaves session confs at their defaults — a query must never leak
    // planner flags into the suite's other entries
    "conn_colocated_join" -> ((s, d) => {
      val cat = catalogFor(s, "graft_spj", spjWarehouse(s, d))
      s.sql(s"""SELECT c.c_nationkey, count(*) AS n,
              |  round(sum(o.o_totalprice), 2) AS total,
              |  max(o.o_orderkey) AS max_key
              |FROM $cat.orders_b o
              |JOIN $cat.cust_b c ON o.o_custkey = c.c_custkey
              |GROUP BY c.c_nationkey ORDER BY c.c_nationkey""".stripMargin)
    }),
    // SPJ under MASKS (r15): the same co-bucketed join after positional
    // deletes on both sides — key-grouped reporting held through the
    // merge-on-read state (REQUIREd by the build), and the masked
    // zero-exchange join changes nothing about the answer
    "conn_colocated_join_mor" -> ((s, d) => {
      val cat = catalogFor(s, "graft_spjmor", spjMorWarehouse(s, d))
      s.sql(s"""SELECT c.c_nationkey, count(*) AS n,
              |  round(sum(o.o_totalprice), 2) AS total,
              |  max(o.o_orderkey) AS max_key
              |FROM $cat.orders_m o
              |JOIN $cat.cust_m c ON o.o_custkey = c.c_custkey
              |GROUP BY c.c_nationkey ORDER BY c.c_nationkey""".stripMargin)
    }),
    // the UNBUCKETED real-V2 write (r15): CREATE + INSERT INTO by V2
    // name planned as the engine write with inline manifest stats — the
    // read proves the whole path against the oracle
    "conn_v2_unbucketed_write" -> ((s, d) => {
      val cat = catalogFor(s, "graft_v2uw", v2UnbucketedWriteWarehouse(s, d))
      s.sql(s"""SELECT o_orderstatus, count(*) AS n,
              |  round(sum(o_totalprice), 2) AS total,
              |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
              |FROM $cat.orders_uw
              |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),
    // a nested-namespace table (cat.raw.t — CREATE NAMESPACE + CTAS +
    // INSERT by qualified name) must read back exactly as the raw
    // input: namespaces organize, they never change rows
    "conn_ns_read" -> ((s, d) => {
      val cat = catalogFor(s, "graft_ns", nsWarehouse(s, d))
      s.sql(s"""SELECT o_orderstatus, count(*) AS n,
              |  round(sum(o_totalprice), 2) AS total,
              |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
              |FROM $cat.raw.orders_ns
              |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),
    // the engine-contract row-level face (r14): a VANILLA session's
    // DELETE + UPDATE through SupportsRowLevelOperations (positional
    // masks + delta inserts, rowdelta commits REQUIREd by the build)
    // must read back exactly as the declarative mutation — through the
    // ordinary extensions-loaded session
    "conn_row_delta" -> ((s, d) => {
      s.read.format("graft").load(rowDeltaWarehouse(s, d))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderstatus"))
    }),
    // co-bucketed STRING keys (r14): the xxhash64-residue layout may
    // only change the PLAN (zero-exchange SMJ pinned in
    // ConnectorV2Spec) — the oracle replays the join on the raw keys
    "conn_colocated_join_str" -> ((s, d) => {
      val cat = catalogFor(s, "graft_spjstr", spjStrWarehouse(s, d))
      s.sql(s"""SELECT c.c_nationkey, count(*) AS n,
              |  round(sum(o.o_totalprice), 2) AS total,
              |  max(o.o_orderkey) AS max_key
              |FROM $cat.orders_sb o
              |JOIN $cat.cust_sb c ON o.ck = c.ck
              |GROUP BY c.c_nationkey ORDER BY c.c_nationkey""".stripMargin)
    }),
    // the REAL V2 bucketed write (r14): engine-planned exchange +
    // inline-stats single-bucket files (layout proof required at
    // build) — the written table must aggregate exactly like the raw
    // input
    "conn_v2_bucket_write" -> ((s, d) => {
      val cat = catalogFor(s, "graft_v2bw", v2BucketWriteWarehouse(s, d))
      s.sql(s"""SELECT o_orderstatus, count(*) AS n,
              |  round(sum(o_totalprice), 2) AS total,
              |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
              |FROM $cat.orders_bw
              |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),
    // the VECTORIZED merge-on-read path (r14): positional masks filter
    // inside the columnar scan (zero-copy row selection, no Row
    // bridge — the fixture build refuses any other plan); the oracle
    // pins that deletion vectors lose exactly the deleted rows
    "conn_mor_read" -> ((s, d) => {
      val cat = catalogFor(s, "graft_mor", morWarehouse(s, d))
      s.sql(s"""SELECT o_orderstatus, count(*) AS n,
              |  round(sum(o_totalprice), 2) AS total,
              |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
              |FROM $cat.orders_mor
              |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),
    // the VECTORIZED equality-mask path (r15): eqdelete keys filter by
    // per-batch key probe against the folded (key → delete seq) arrays,
    // and a LATER re-insert of half the deleted keys survives the seq
    // rule — the fixture refuses any non-vectorized plan; the oracle
    // pins dead rows lost, re-inserts kept
    "conn_eq_mor_read" -> ((s, d) => {
      val base = eqMorWarehouse(s, d)
      val cat = catalogFor(s, "graft_eqmor",
        base.stripSuffix("/orders_eqmor"))
      s.sql(s"""SELECT o_orderstatus, count(*) AS n,
              |  round(sum(o_totalprice), 2) AS total,
              |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
              |FROM $cat.orders_eqmor
              |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),
    // SPJ under EQUALITY masks (r15): the co-bucketed join with an
    // eqdelete mask + re-insert on one side — key-grouped reporting
    // held (REQUIREd by the build: masks filter rows, never move
    // them), and the zero-exchange eq-probed join changes nothing
    "conn_colocated_join_eqmor" -> ((s, d) => {
      val cat = catalogFor(s, "graft_spjeq", spjEqMorWarehouse(s, d))
      s.sql(s"""SELECT c.c_nationkey, count(*) AS n,
              |  round(sum(o.o_totalprice), 2) AS total,
              |  max(o.o_orderkey) AS max_key
              |FROM $cat.orders_e o
              |JOIN $cat.cust_e c ON o.o_custkey = c.c_custkey
              |GROUP BY c.c_nationkey ORDER BY c.c_nationkey""".stripMargin)
    }),
    // DATE-keyed equality masks (r15): temporal keys fold to epoch days
    // and probe vectorized (REQUIREd by the build) — every order on a
    // masked date lost, everything else kept
    "conn_eq_date_read" -> ((s, d) => {
      val dir = eqDateWarehouse(s, d)
      val cat = catalogFor(s, "graft_eqdate", dir.stripSuffix("/orders_eqd"))
      s.sql(s"""SELECT o_orderstatus, count(*) AS n,
              |  round(sum(o_totalprice), 2) AS total,
              |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
              |FROM $cat.orders_eqd
              |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),
    // vanilla-session DML ON an eq-masked table (r15): the row-id
    // source scan composes with the pending equality mask on the
    // vectorized path (REQUIREd by the build) and both statements land
    // as guarded rowdelta commits — the surviving rows prove the
    // whole composition
    "conn_eq_row_delta" -> ((s, d) => {
      s.read.format("graft").load(eqRowDeltaWarehouse(s, d))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderstatus"))
    }),
    // metadata-only aggregates: an unfiltered count(*)/min/max over the
    // connector relation answers from manifest row counts and zones
    // alone — ConnectorSpec pins that the optimized plan is a
    // LocalRelation with NO scan node; the oracle pins the values
    "conn_count_meta" -> ((s, d) => {
      s.read.format("graft").load(ordersWarehouse(s, d))
        .agg(count(lit(1)).as("n"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
    }),
    // file-level metadata DELETE: whole files below the key midpoint were
    // DROPPED from the manifest without being read (the builder requires
    // files_dropped_metadata > 0); the remaining aggregate must equal the
    // declarative WHERE — nothing lost, nothing resurrected
    "conn_meta_delete" -> ((s, d) => {
      s.read.format("graft").load(metaDeleteWarehouse(s, d))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          min(col("o_orderkey")).as("min_key"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus"))
    }),
    // ANALYZE from the manifest: the report row is computed metadata-only
    // (live data files' row sum — no scan); the oracle pins it to the
    // real count(*)
    "conn_analyze" -> ((s, d) => {
      s.sql(s"ANALYZE TABLE '${ordersWarehouse(s, d)}' COMPUTE STATISTICS")
        .select(col("row_count").as("n"))
    }),
    "conn_point_lookup" -> ((s, d) => {
      val dir = bloomWarehouse(s, d)
      val key = SnapshotLog.filesAt(s, dir)
        .flatMap(_.stats.get("o_orderkey")).map(_._1).min
      s.read.format("graft").load(dir)
        .filter(col("o_orderkey") === key)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("total"))
    })
  )

  def oracles: Map[String, String] = Map(
    "conn_epoch_join" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(l_quantity), 2) AS qty,
        |  round(sum(l_extendedprice), 2) AS revenue,
        |  max(o_orderkey) AS max_key
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "conn_alter_rename" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total_price,
        |  max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "conn_alter_sql" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  count(CASE WHEN o_orderstatus <> 'F'
        |             THEN 's:' || o_orderstatus END) AS flagged,
        |  max(CASE WHEN o_orderstatus <> 'F'
        |           THEN 's:' || o_orderstatus END) AS max_flag
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "conn_v2_agg" ->
      """SELECT count(*) AS n, min(o_orderkey) AS min_key,
        |  max(o_orderkey) AS max_key FROM orders""".stripMargin,
    "conn_partitions" ->
      """SELECT o_orderstatus, count(*) AS n, true AS exact
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "conn_replace_where" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice * 2
        |            ELSE o_totalprice END), 2) AS total,
        |  max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "conn_v2_write" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |WHERE NOT (o_orderkey < 300 OR o_orderstatus = 'P')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "conn_branch_read" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "conn_alter_widen" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN o_orderkey % 100
        |       ELSE o_orderkey % 100 + 3000000000 END) AS BIGINT) AS units_sum,
        |  CAST(max(CASE WHEN o_orderstatus = 'F' THEN o_orderkey % 100
        |       ELSE o_orderkey % 100 + 3000000000 END) AS BIGINT) AS units_max,
        |  max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "conn_cdf_stream" ->
      """WITH ev AS (
        |  SELECT o_orderkey, o_totalprice, 'insert' AS _change_op
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice * 2, 'upsert'
        |  FROM orders WHERE o_orderkey % 2 = 1
        |  UNION ALL
        |  SELECT o_orderkey, 0.0, 'delete'
        |  FROM orders WHERE o_orderkey % 10 = 0)
        |SELECT _change_op, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  round(sum(o_totalprice), 2) AS total
        |FROM ev GROUP BY _change_op ORDER BY _change_op""".stripMargin,
    "conn_cdf_preimages" ->
      """WITH ev AS (
        |  SELECT o_orderkey, o_totalprice, 'update_preimage' AS _change_op
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice * 2, 'update_postimage'
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM orders),
        |         o_totalprice, 'insert'
        |  FROM orders WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 30 = 0 THEN o_totalprice * 2
        |              ELSE o_totalprice END, 'delete'
        |  FROM orders WHERE o_orderkey % 10 = 0)
        |SELECT _change_op, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  round(sum(o_totalprice), 2) AS total
        |FROM ev GROUP BY _change_op ORDER BY _change_op""".stripMargin,
    "conn_optimize_sql" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(CASE WHEN o_orderstatus = 'F'
        |                 THEN o_totalprice * 2 ELSE o_totalprice END), 2) AS total,
        |  max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "conn_dml_sql" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(CASE WHEN o_orderstatus = 'F'
        |                 THEN o_totalprice + 10 ELSE o_totalprice END), 2) AS total
        |FROM orders WHERE o_orderkey % 10 <> 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "conn_merge_sql" ->
      """WITH merged AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 6 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice * 2
        |  FROM orders WHERE o_orderkey % 6 = 0 AND o_orderstatus <> 'F'
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice * 2
        |  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0)
        |SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total, max(o_orderkey) AS max_key
        |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "conn_read_agg" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "conn_timetravel" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey % 2 = 0 ORDER BY o_orderkey""".stripMargin,
    "conn_timetravel_sql" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey % 2 = 0 ORDER BY o_orderkey""".stripMargin,
    "conn_pruned_range" ->
      """WITH b AS (SELECT min(o_orderkey) AS m0, max(o_orderkey) AS m1 FROM orders)
        |SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
        |FROM orders, b
        |WHERE o_orderkey BETWEEN m0 AND m0 + (m1 - m0) // 4
        |ORDER BY o_orderkey""".stripMargin,
    "conn_point_lookup" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
        |FROM orders
        |WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)""".stripMargin,
    "conn_count_meta" ->
      """SELECT count(*) AS n, min(o_orderkey) AS min_key,
        |  max(o_orderkey) AS max_key FROM orders""".stripMargin,
    "conn_analyze" ->
      "SELECT count(*) AS n FROM orders",
    "conn_meta_delete" ->
      """WITH b AS (SELECT min(o_orderkey) +
        |  (max(o_orderkey) - min(o_orderkey)) // 2 AS cutoff FROM orders)
        |SELECT o_orderstatus, count(*) AS n,
        |  min(o_orderkey) AS min_key,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders, b WHERE o_orderkey >= cutoff
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "conn_stream_sink" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total, max(o_custkey) AS max_cust
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "conn_stream_table" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total, max(o_custkey) AS max_cust
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "conn_dpp_join" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total, max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "conn_colocated_join" ->
      """SELECT c_nationkey, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total, max(o_orderkey) AS max_key
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "conn_colocated_join_mor" ->
      """SELECT c_nationkey, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total, max(o_orderkey) AS max_key
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 7 <> 0 AND c_custkey % 5 <> 0
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "conn_v2_unbucketed_write" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "conn_ns_read" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "conn_insert_sql" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "conn_mor_read" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |WHERE o_orderkey % 7 <> 0 AND o_orderstatus <> 'P'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "conn_eq_mor_read" ->
      """WITH live AS (
        |  SELECT * FROM orders WHERE o_orderkey % 11 <> 3
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_orderkey % 22 = 3)
        |SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM live GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "conn_colocated_join_str" ->
      """SELECT c_nationkey, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total, max(o_orderkey) AS max_key
        |FROM orders JOIN customer
        |  ON 'c-' || o_custkey = 'c-' || c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "conn_v2_bucket_write" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "conn_row_delta" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice * 3
        |                 ELSE o_totalprice END), 2) AS total,
        |  max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderkey % 9 <> 4
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "conn_colocated_join_eqmor" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 13 <> 5
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 26 = 5)
        |SELECT c_nationkey, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total, max(o_orderkey) AS max_key
        |FROM o JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "conn_eq_date_read" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE day(CAST(o_orderdate AS DATE)) > 3
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "conn_eq_row_delta" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice * 3
        |                 ELSE o_totalprice END), 2) AS total,
        |  max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderkey % 11 <> 3 AND o_orderkey % 9 <> 4
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  )
}
