package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.{Fixtures, Schemas}

/** Named queries over the CDC fixture topics (FIXTURES.md §A) — the
  * reference's decode surface (S1-S3, T1-T7, A1-A2 of SURVEY.md §2) as
  * driver-verifiable entries. The fixtures live in-repo so both the engine
  * and the DuckDB oracle read the identical JSON-lines bytes.
  */
object CdcQueries {

  /** In-repo fixture dir; the (spark, sfDir) => DataFrame contract keeps
    * the sfDir param for analytic tables — CDC topics are sf-invariant. */
  val FixtureDir = "/root/repo/src/test/resources/cdc"

  private def source = new FileCdcSource(FixtureDir)

  private def parse(spark: SparkSession, table: String,
                    starting: StartingOffsets = StartingOffsets.Earliest): DataFrame = {
    val topic = Schemas.topicFor(table)
    Envelope.decode(source.read(spark, topic, starting), table)
      .orderBy(col("kafka_offset"))
  }

  /** Shared oracle prelude: DuckDB read of the same wire fixture. */
  private def wireSql(table: String): String =
    s"""read_json('$FixtureDir/dbserver1.ecommerce.$table.jsonl',
       |  format='newline_delimited',
       |  columns={'key':'VARCHAR','value':'VARCHAR','topic':'VARCHAR',
       |           'partition':'INTEGER','offset':'BIGINT','timestamp':'TIMESTAMP'})""".stripMargin

  /** DuckDB replay of the canonical-row checksum for one table: the same
    * per-field string rendering as the engine's cast-to-string (INTEGER/
    * BIGINT/VARCHAR/TIMESTAMP all render identically in both engines),
    * '|'-joined, null sentinel, md5 15-hex slice, bit_xor. Generated from
    * [[Schemas]] so the column order can never drift from the decode. */
  private def checksumSql(table: String): String = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val casts = Schemas.forTable(table).fields.toSeq.map { f =>
      val ex = s"json_extract_string(value, '$$.${f.name}')"
      f.dataType match {
        case IntegerType => s"CAST($ex AS INTEGER)::VARCHAR"
        case LongType    => s"CAST($ex AS BIGINT)::VARCHAR"
        case _           => ex
      }
    } ++ Seq("CAST(\"timestamp\" AS VARCHAR)", "topic", "CAST(\"offset\" AS VARCHAR)")
    val canonical = casts.map(c => s"coalesce($c, '<null>')")
      .mkString("concat_ws('|', ", ", ", ")")
    s"""SELECT '$table' AS tbl, count(*) AS n,
       |  bit_xor(('0x' || substring(md5($canonical), 1, 15))::BIGINT) AS checksum
       |FROM ${wireSql(table)}""".stripMargin
  }

  private val ordersProj =
    """CAST(json_extract_string(value, '$.order_id') AS INTEGER) AS order_id,
      |  CAST(json_extract_string(value, '$.customer_id') AS INTEGER) AS customer_id,
      |  CAST(json_extract_string(value, '$.order_date') AS BIGINT) AS order_date,
      |  json_extract_string(value, '$.status') AS status,
      |  json_extract_string(value, '$.total_amount') AS total_amount,
      |  json_extract_string(value, '$.shipping_address') AS shipping_address,
      |  "timestamp" AS kafka_timestamp, topic, "offset" AS kafka_offset""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1 earliest scan + T1 cast + T2 from_json + T3 alias + T4 flatten + T5 projection
    "cdc_parse_orders" -> ((s, _) => parse(s, "orders")),
    "cdc_parse_customers" -> ((s, _) => parse(s, "customers")),
    "cdc_parse_products" -> ((s, _) => parse(s, "products")),
    "cdc_parse_order_items" -> ((s, _) => parse(s, "order_items")),
    // S2/S3: offset-bounded incremental resume (saved offset 5 → read from 6)
    "cdc_incremental_orders" -> ((s, _) => parse(s, "orders",
      StartingOffsets.PerPartition(Map(Schemas.topicFor("orders") -> Map(0 -> 6L))))),
    // S2 generalized to a MULTI-PARTITION topic: the orders_mp fixture
    // interleaves 3 Kafka partitions, and the resume map carries one
    // bound per partition (p0 from 2, p1 from 2, p2 unbounded = earliest
    // — the safe default for a partition first seen mid-stream). On the
    // real connector this exact JSON prunes broker-side; here it's the
    // per-partition predicate. Ordered by order_id: kafka offsets tie
    // ACROSS partitions, so they are not a total order any more.
    "cdc_incremental_multipart" -> ((s, _) => {
      val topic = Schemas.topicFor("orders_mp")
      Envelope.decode(
          source.read(s, topic, StartingOffsets.PerPartition(
            Map(topic -> Map(0 -> 2L, 1 -> 2L)))), "orders_mp")
        .orderBy(col("order_id"))
    }),
    // MULTI-TOPIC read ([[CdcSource.readMulti]]): two tables' topics in
    // ONE pass with per-topic, per-partition resume riding the same
    // topic-keyed startingOffsets shape (orders resumes from 6,
    // customers reads from earliest — the mixed-state case
    // [[OffsetStore.startingOffsetsForAll]] emits). Per-topic record
    // counts and HWMs — the sync loop's accounting — come out of the
    // single scan.
    "cdc_multi_topic_read" -> ((s, _) => {
      val topics = Seq("orders", "customers").map(Schemas.topicFor)
      val st = StartingOffsets.PerPartition(Map(topics.head -> Map(0 -> 6L)))
      source.readMulti(s, topics, st)
        .groupBy(col("topic"))
        .agg(count(lit(1)).as("n"), max(col("offset")).as("hwm"))
        .orderBy(col("topic"))
    }),
    // subscribePattern ([[CdcSource.readPattern]]): the DISCOVERY face
    // of the multi-topic read — topics resolve from a regex against the
    // available set (the broker's subscribePattern semantics; a new
    // table matching the CDC prefix joins the subscription with zero
    // config change). orders resumes from its saved state, products
    // reads from earliest.
    "cdc_pattern_read" -> ((s, _) => {
      source.readPattern(s, """dbserver1\.ecommerce\.(orders|products)""",
          StartingOffsets.PerPartition(
            Map(Schemas.topicFor("orders") -> Map(0 -> 6L))))
        .groupBy(col("topic"))
        .agg(count(lit(1)).as("n"), max(col("offset")).as("hwm"))
        .orderBy(col("topic"))
    }),
    // T6 (gap-fill): predicate over decoded rows
    "cdc_filter_completed" -> ((s, _) =>
      parse(s, "orders").filter(col("status") === "COMPLETED")),
    // A1: global count
    "cdc_count_orders" -> ((s, _) => parse(s, "orders").agg(count(lit(1)).as("n"))),
    // A2: max-offset high-water mark
    "cdc_max_offset_orders" -> ((s, _) =>
      parse(s, "orders").agg(max(col("kafka_offset")).as("hwm"))),
    // type-fidelity extension: epoch-micros → timestamp, decimal string → DECIMAL
    "cdc_typed_orders" -> ((s, _) =>
      parse(s, "orders").select(
        col("order_id"),
        Envelope.epochMicrosToTimestamp(col("order_date")).as("order_date_ts"),
        col("total_amount").cast("decimal(10,2)").as("total_amount_dec"),
        col("kafka_offset"))),
    // T7: unknown-table schema dispatch falls back to the orders schema —
    // fields present in the payload bind, the rest null-fill
    "cdc_unknown_table_fallback" -> ((s, _) => parse(s, "weird")),
    // DLQ side-output (the engine-side analog of the reference's Debezium
    // error topic, config/debezium-config.json:26-27): classify each wire
    // record as ok / tombstone (null value, drop.tombstones=false) /
    // corrupt (unparseable JSON under PERMISSIVE decode) so bad records
    // are routed instead of silently null-filling the warehouse
    "cdc_dlq_split" -> ((s, _) => {
      val wire = source.read(s, Schemas.topicFor("weird"), StartingOffsets.Earliest)
      // PERMISSIVE from_json yields a NON-null struct with all-null fields
      // for malformed input, so struct-null is not a corruption signal;
      // the explicit corrupt-record column is.
      val schemaWithCorrupt = Schemas.forTable("weird")
        .add("_corrupt_record", org.apache.spark.sql.types.StringType)
      val parsed = from_json(col("value").cast("string"), schemaWithCorrupt,
        Map("columnNameOfCorruptRecord" -> "_corrupt_record"))
      wire.select(
          col("offset").as("kafka_offset"),
          col("value").cast("string").as("raw_value"),
          when(col("value").isNull, "tombstone")
            .when(parsed.getField("_corrupt_record").isNotNull, "corrupt")
            .otherwise("ok").as("kind"))
        .orderBy(col("kafka_offset"))
    }),
    // Upsert compaction: latest visible row per primary key from the
    // append-only change stream — the materialization step the reference's
    // append-only warehouse never runs (every UPDATE lingers as a
    // duplicate row). One hash-partition window on the key; at scale this
    // is the periodic compaction job over the warehouse.
    "cdc_latest_state" -> ((s, _) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("order_id")).orderBy(col("kafka_offset").desc)
      parse(s, "orders")
        .filter(col("order_id").isNotNull) // tombstones decode key-less
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .drop("rk")
        .orderBy(col("order_id"))
    }),
    // SCD Type-2 history view: each change event becomes a versioned row
    // with [valid_from_offset, valid_to_offset) bounds from lead() over
    // the per-key change sequence; the open row (null valid_to) is the
    // current version. With cdc_latest_state this completes the warehouse
    // pair the reference's append-only sink implies but never builds:
    // latest-state for serving, full history for audit/time-travel. One
    // hash-partition window per key — the same exchange the compaction
    // already pays, at any scale.
    "cdc_scd2_history" -> ((s, _) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("order_id")).orderBy(col("kafka_offset"))
      parse(s, "orders")
        .filter(col("order_id").isNotNull) // tombstones decode key-less
        .select(col("order_id"), col("status"), col("total_amount"),
          col("kafka_offset").as("valid_from_offset"),
          lead(col("kafka_offset"), 1).over(w).as("valid_to_offset"))
        .withColumn("is_current", col("valid_to_offset").isNull)
        .orderBy(col("order_id"), col("valid_from_offset"))
    }),
    // Incremental MERGE (upsert) — the MERGE INTO dataflow the reference's
    // append-only warehouse implies but never runs: the compacted snapshot
    // (events at/below the saved offset watermark, here 5 — the same
    // watermark cdc_incremental_orders resumes from) absorbs the new
    // micro-batch's delta. The snapshot PAYLOAD never shuffles: the
    // updates branch broadcasts the delta into a left join (delta wins
    // where matched — presence decided by the join key, so a legitimate
    // NULL in an updated column still wins). The inserts branch is a LEFT
    // ANTI join, and Spark can only build/broadcast an anti join's RIGHT
    // side — the snapshot — so that branch is fed snapshot KEYS ONLY
    // (order_id projection below): at fixture scale the key set
    // broadcasts, at production scale it degrades to a keys-only hash
    // exchange (8-byte ids, not rows), never a payload shuffle. Invariant
    // (and the oracle): merge(snapshot, delta) == full-stream compaction.
    "cdc_merge_snapshot" -> ((s, _) => {
      import org.apache.spark.sql.expressions.Window
      def compact(df: DataFrame): DataFrame = {
        val w = Window.partitionBy(col("order_id")).orderBy(col("kafka_offset").desc)
        df.filter(col("order_id").isNotNull) // tombstones decode key-less
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .drop("rk")
      }
      val all = parse(s, "orders")
      val snapshot = compact(all.filter(col("kafka_offset") <= 5))
      val delta = compact(all.filter(col("kafka_offset") >= 6))
      val cols = snapshot.columns
      val updated = snapshot.as("s")
        .join(broadcast(delta.as("d")), col("s.order_id") === col("d.order_id"), "left")
        .select(cols.map(c =>
          when(col("d.order_id").isNotNull, col(s"d.$c"))
            .otherwise(col(s"s.$c")).as(c)): _*)
      val inserted = delta.join(snapshot.select(col("order_id")), Seq("order_id"), "left_anti")
      updated.unionByName(inserted.select(cols.map(col): _*))
        .orderBy(col("order_id"))
    }),
    // Delete-aware compaction: the reference KEEPS Debezium tombstones
    // (drop.tombstones=false, config/debezium-config.json:22) but its
    // append-only warehouse never applies them — deleted rows linger
    // forever. This query completes the semantics: latest event per
    // primary key where the key comes from the record VALUE for upserts
    // and from the record KEY for tombstones (a tombstone's value is
    // null — that's what it is), and a key whose latest event is a
    // tombstone is GONE from the state. Re-insert after delete works:
    // a later value event for the same key wins by offset. Same one
    // hash-partition window as plain compaction — delete handling adds
    // a coalesce and a filter, zero extra exchanges at any scale.
    "cdc_delete_aware_state" -> ((s, _) => {
      import org.apache.spark.sql.expressions.Window
      val d = Envelope.decodeKeyed(
        source.read(s, Schemas.topicFor("orders_del"), StartingOffsets.Earliest),
        "orders")
        .withColumn("pk", coalesce(col("order_id"),
          get_json_object(col("kafka_key"), "$.order_id").cast("int")))
      val w = Window.partitionBy(col("pk")).orderBy(col("kafka_offset").desc)
      d.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .filter(!col("is_tombstone")) // latest event is a delete ⇒ key gone
        .select(col("order_id"), col("customer_id"), col("status"),
          col("total_amount"), col("kafka_offset"))
        .orderBy(col("order_id"))
    }),
    // Incremental view maintenance (retract-based) — the aggregation twin
    // of cdc_merge_snapshot, and the 100 TB reason to have it: a per-sync
    // refresh of a grouped view must NOT rescan the full history. The
    // maintained view here is per-status (n_orders, total_amount) over the
    // COMPACTED state. Each sync applies the delta as +new-version rows
    // and −old-version rows (retractions — an upsert can move a key
    // BETWEEN groups, so additive-only merge is wrong), then merges the
    // group-level increments into the stored aggregate: V_new = V_old +
    // agg(delta) − agg(retracted old versions). Only the delta and the
    // matched old versions of its keys are read (broadcast keyed lookup);
    // the snapshot fact is never re-aggregated. Invariant (and the
    // oracle): the maintained view == a full recompute over the compacted
    // stream. Amounts aggregate as DECIMAL(10,2) (exact) and surface as
    // DOUBLE (driver-hashable).
    "cdc_incremental_agg" -> ((s, _) => {
      import org.apache.spark.sql.expressions.Window
      def compact(df: DataFrame): DataFrame = {
        val w = Window.partitionBy(col("order_id")).orderBy(col("kafka_offset").desc)
        df.filter(col("order_id").isNotNull) // tombstones decode key-less
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .drop("rk")
      }
      val amt = col("total_amount").cast("decimal(10,2)")
      val all = parse(s, "orders")
      // both sides are read twice (vOld+retracted / applied+key-broadcast);
      // the eager checkpoint stops the compaction window re-deriving per
      // consumer, and its blocks are ContextCleaner-freed once the frame
      // is unreachable — no harness cleanup contract needed
      val snapshot = compact(all.filter(col("kafka_offset") <= 5)).localCheckpoint(true)
      val delta = compact(all.filter(col("kafka_offset") >= 6)).localCheckpoint(true)
      // the STORED view (in the fixture, computed; in production, read back)
      val vOld = snapshot.groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(amt).as("amt"))
      // old versions of keys the delta touches — a broadcast keyed lookup,
      // not a scan (the delta is micro-batch-sized)
      val retracted = snapshot.join(
        broadcast(delta.select(col("order_id"))), Seq("order_id"), "left_semi")
      val increments = delta.select(col("status"), amt.as("s_amt"), lit(1L).as("s_n"))
        .unionByName(retracted.select(col("status"), (-amt).as("s_amt"), lit(-1L).as("s_n")))
      val vInc = increments.groupBy(col("status"))
        .agg(sum(col("s_n")).as("dn"), sum(col("s_amt")).as("damt"))
      // null-SAFE join key: all null statuses aggregate into ONE group,
      // and a plain join would never match it — the stored null row
      // would survive its own retraction (phantom group)
      vOld.as("v").join(vInc.as("i"),
          col("v.status") <=> col("i.status"), "full_outer")
        .select(coalesce(col("v.status"), col("i.status")).as("status"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_orders"),
          (coalesce(col("amt"), lit(0).cast("decimal(20,2)")) +
            coalesce(col("damt"), lit(0).cast("decimal(20,2)")))
            .cast("double").as("total_amount"))
        .filter(col("n_orders") > 0) // fully-retracted groups disappear
        .orderBy(col("status"))
    }),
    // Schema drift across the stream: early offsets decoded under the v1
    // (narrow) schema, later offsets under the full schema, reconciled
    // with unionByName(allowMissingColumns) — columns absent in the old
    // epoch null-fill, the reader sees ONE evolved schema. This is the
    // engine-side handling for the additive column changes a CDC source
    // ships mid-stream (Debezium schema-change events); position-based
    // union would silently misalign, name-based union cannot.
    "cdc_schema_drift" -> ((s, _) => {
      val all = parse(s, "orders")
      val v1 = all.filter(col("kafka_offset") <= 5)
        .select(col("order_id"), col("status"), col("total_amount"),
          col("kafka_offset"))
      val v2 = all.filter(col("kafka_offset") >= 6)
        .select(col("order_id"), col("customer_id"), col("status"),
          col("total_amount"), col("shipping_address"), col("kafka_offset"))
      v1.unionByName(v2, allowMissingColumns = true)
        .orderBy(col("kafka_offset"))
    }),
    // Schema drift BEYOND additive ([[graft.schema.Evolution]]): epoch 1
    // was decoded when the source had order_id INT, the money column at
    // DECIMAL(10,2), and shipping_address still named `address`; epoch 2
    // ships order_id BIGINT, DECIMAL(12,4), the new name, and an added
    // customer_id. The merge casts both sides to the widened LUB types,
    // applies the declared rename, and null-fills the addition — one
    // continuous column history instead of the reference's silent
    // null-fill from the drift point on. (The widened decimal re-emits as
    // a rounded double only for the driver's hash compare.)
    "cdc_schema_drift_widening" -> ((s, _) => {
      val (e1, e2) = driftEpochs(s)
      graft.schema.Evolution
        .mergeEpochs(Seq(e1, e2), Map("address" -> "shipping_address"))
        .withColumn("amount", round(col("amount").cast("double"), 4))
        .orderBy(col("kafka_offset"))
    }),
    // The audit face of the same drift: what changed at epoch v2 —
    // rename, addition, two widenings — with the epoch's row count.
    "cdc_schema_drift_report" -> ((s, _) => {
      val (e1, e2) = driftEpochs(s)
      graft.schema.Evolution.driftReport(s, Seq(("v1", e1), ("v2", e2)),
        Map("address" -> "shipping_address"))
    }),
    // Value-level reconciliation — the checksum upgrade of
    // cdc_reconcile_counts: COUNT(*) parity cannot see value corruption
    // (a flipped status, a truncated amount), a content checksum can.
    // Per table: bit_xor over the first-15-hex slice of md5(canonical
    // row), canonical = all output columns cast to string, '|'-joined,
    // nulls as a sentinel. bit_xor is ORDER-INDEPENDENT and overflow-free,
    // so the checksum is partition-layout-agnostic and scales to any row
    // count — one map-side hash + one agg per table, same cost shape as
    // the count reconciliation it extends.
    "cdc_reconcile_checksums" -> ((s, _) => {
      Seq("customers", "order_items", "orders", "products").map { t =>
        val d = parse(s, t)
        val canonical = concat_ws("|",
          d.columns.toSeq.map(c =>
            coalesce(col(c).cast("string"), lit("<null>"))): _*)
        d.select(conv(substring(md5(canonical), 1, 15), 16, 10)
            .cast("long").as("h"))
          .agg(lit(t).as("tbl"), count(lit(1)).as("n"),
            expr("bit_xor(h)").as("checksum"))
      }.reduce(_.unionByName(_)).orderBy(col("tbl"))
    }),
    // A3: source-vs-sink reconciliation — per-table COUNT(*) through the
    // SQL surface (temp views + spark.sql), the engine-side equivalent of
    // the reference's Postgres reconciliation (run_pipeline.sh:127,176;
    // cdc_auto_sync_every_5min.py:181)
    "cdc_reconcile_counts" -> ((s, _) => {
      Seq("orders", "customers", "products", "order_items").foreach { t =>
        parse(s, t).createOrReplaceTempView(s"cdc_$t")
      }
      s.sql(
        """SELECT 'customers' AS tbl, COUNT(*) AS n FROM cdc_customers
          |UNION ALL SELECT 'order_items', COUNT(*) FROM cdc_order_items
          |UNION ALL SELECT 'orders', COUNT(*) FROM cdc_orders
          |UNION ALL SELECT 'products', COUNT(*) FROM cdc_products
          |ORDER BY tbl""".stripMargin)
    }),
    // Copy-on-write MERGE through the snapshot layer
    // ([[graft.table.Merge]]): the epoch-1 latest-state snapshot is
    // written key-range-clustered with order_id stats in the manifests,
    // then the epoch-2 latest-state delta UPSERTS into it — manifest-stat
    // pruning rewrites only key-intersecting files, untouched files carry
    // forward by reference, and the committed table equals full-stream
    // latest-state compaction (the cdc_latest_state oracle — the merge
    // invariant proved at the STORAGE layer, not just as a query).
    "cdc_merge_cow" -> ((s, _) => {
      graft.table.SnapshotLog.read(s, cowWarehouse(s)).get
        .orderBy(col("order_id"))
    }),
    // The full CDC merge: epoch-2's tombstones DELETE their keys at the
    // storage layer (and a post-delete re-insert wins) — the committed
    // COW table equals delete-aware compaction over the whole stream
    // (the cdc_delete_aware_state oracle, proved against storage).
    "cdc_merge_cow_deletes" -> ((s, _) => {
      graft.table.SnapshotLog.read(s, cowDelWarehouse(s)).get
        .select(col("order_id"), col("customer_id"), col("status"),
          col("total_amount"), col("kafka_offset"))
        .orderBy(col("order_id"))
    }),
    // MERGE-ON-READ through the snapshot layer ([[graft.table.Merge
    // .mergeOnRead]]): the same delete-aware merge as cdc_merge_cow_deletes
    // but written as O(delta) — epoch-2's rows append as new data files
    // plus ONE equality-delete key file; NO epoch-1 data file is
    // rewritten. The read applies the delete mask as a broadcast hash
    // join honoring sequence numbers (the post-delete re-insert of pk 3
    // survives because its data file's seq is not below the mask's).
    // Same oracle as the COW form: two storage strategies, one invariant.
    "cdc_merge_mor" -> ((s, _) => {
      graft.table.SnapshotLog.read(s, morWarehouse(s)).get
        .select(col("order_id"), col("customer_id"), col("status"),
          col("total_amount"), col("kafka_offset"))
        .orderBy(col("order_id"))
    }),
    // STRING-KEYED merge (the UUID-PK shape real CDC tables ship):
    // the same epoch-1/epoch-2 latest-state COW merge as cdc_merge_cow,
    // keyed on a synthetic string pk ('ord-<id>'). Long zone maps cannot
    // exist for a string key, so per-file manifest BLOOMS (xxhash64
    // domain) carry the pruning — CdcSpec pins that they do; this entry
    // pins that they never LOSE a row (no false negatives ⇒ merge ==
    // full-stream latest-state compaction, the same invariant).
    "cdc_merge_string_key" -> ((s, _) => {
      graft.table.SnapshotLog.read(s, strKeyWarehouse(s)).get
        .select(col("pk"), col("order_id"), col("status"),
          col("total_amount"), col("kafka_offset"))
        .orderBy(col("order_id"))
    }),
    // MERGE under SCHEMA DRIFT: the table holds epoch-1 latest-state
    // under the OLD source shape (int key, decimal(10,2) amount,
    // `address`), renames `address` to `shipping_address` through the
    // field registry, and the delta arrives under the NEW shape (bigint
    // key, decimal(12,4), `shipping_address`, added customer_id) and
    // upserts through [[graft.table.Merge.applyChanges]] — carried-forward
    // rows LUB-cast and null-filled at WRITE time by the Evolution
    // lattice, and the one untouched old-schema file surviving by
    // reference exercises the READ-side widening too. Oracle:
    // latest-per-key over the drift-shaped replay of the wire fixture.
    // Off-lattice drift refusal is pinned in CdcSpec.
    "cdc_merge_drift" -> ((s, _) => {
      graft.table.SnapshotLog.read(s, driftMergeWarehouse(s)).get
        .select(col("order_id").cast("long").as("order_id"), col("status"),
          round(col("amount").cast("double"), 4).as("amount"),
          col("shipping_address"), col("kafka_offset"), col("customer_id"))
        .orderBy(col("order_id"))
    }),
    // Row-level CHANGE FEED over the merge-on-read commit — the face
    // SnapshotLog.diff structurally refuses for COW upserts: under MOR
    // the delta files + delete keys ARE the row-level changes, so the
    // feed is derivable from O(delta) bytes (the 100 TB of untouched
    // table is never read). The tombstoned pk 1 emits a delete row (key
    // only), the re-inserted pk 3 collapses to its single upsert, the
    // fresh pk 4 upserts; the epoch-1 snapshot contributes nothing.
    "cdc_mor_changefeed" -> ((s, _) => {
      graft.table.SnapshotLog.changes(s, morWarehouse(s), from = 1L).get
        .select(col("pk"), col("order_id"), col("customer_id"), col("status"),
          col("total_amount"), col("kafka_offset"),
          col("_change_op").as("change_op"),
          col("_change_snapshot").as("change_snapshot"))
        .orderBy(col("pk"))
    }),
    // Row-level CHANGE FEED over a LINEAGE-stamped copy-on-write merge —
    // the face changes() structurally refused before r10: the COW
    // rewrite stamps every written row's last-updated snapshot id
    // ([[graft.table.Merge.LineageCol]], the Iceberg v3 row-lineage
    // design), so carried copies (old stamp) drop out of the upsert set
    // and removed-minus-added keys are the deletes — O(rewritten bytes),
    // never a table scan. SAME oracle as the merge-on-read feed: two
    // storage strategies, one derived change stream.
    "cdc_cow_changefeed" -> ((s, _) => {
      graft.table.SnapshotLog.changes(s, cowLineageWarehouse(s), from = 1L).get
        .select(col("pk"), col("order_id"), col("customer_id"), col("status"),
          col("total_amount"), col("kafka_offset"),
          col("_change_op").as("change_op"),
          col("_change_snapshot").as("change_snapshot"))
        .orderBy(col("pk"))
    }),
    // DELETION-VECTOR merge ([[graft.table.Merge.deleteWhere]] — Iceberg
    // position deletes / Delta deletion vectors): delta-touched keys'
    // old versions masked by (file, row-ordinal) pairs with ZERO data
    // files rewritten, surviving delta rows appended. Fourth storage
    // strategy, same delete-aware-compaction oracle — and the masked
    // read never touches a key column (the anti-join keys on scan
    // metadata), which is what wide/composite-key tables buy here.
    "cdc_mor_posdelete" -> ((s, _) => {
      graft.table.SnapshotLog.read(s, posDelWarehouse(s)).get
        .select(col("order_id"), col("customer_id"), col("status"),
          col("total_amount"), col("kafka_offset"))
        .orderBy(col("order_id"))
    }),
    // Delete MATERIALIZATION ([[graft.table.Merge.materializeDeletes]]):
    // folding the pending equality-delete masks back into key-clustered
    // data files must not change a single row — the rewritten table
    // still equals delete-aware compaction of the whole stream (the
    // cdc_merge_cow_deletes oracle, third storage strategy, same
    // invariant), and the read path is a bare pruned scan again.
    "cdc_mor_materialized" -> ((s, _) => {
      graft.table.SnapshotLog.read(s, morMatWarehouse(s)).get
        .select(col("order_id"), col("customer_id"), col("status"),
          col("total_amount"), col("kafka_offset"))
        .orderBy(col("order_id"))
    }),
    // DESCRIBE HISTORY over the materialized MOR table: append (3 live
    // rows) → rowdelta (2 rows + 2 delete entries; live data rows rise
    // to 5 — an UPPER bound while masks are pending) → the materializing
    // replace (3 rows, masks folded in, exact again). The accounting
    // comes from manifests alone.
    "cdc_mor_history" -> ((s, _) =>
      graft.table.SnapshotLog.history(s, morMatWarehouse(s))
        .orderBy(col("snapshot_id"))),
    // ROLLBACK ([[graft.table.SnapshotLog.rollback]]): after a second
    // sync lands, rolling the table back to snapshot 1 commits a NEW
    // snapshot re-referencing epoch 1's files — reading CURRENT state
    // (no asOf) then equals a full recompute of epoch 1, history stays
    // append-only, and nothing is copied or deleted.
    "cdc_table_rollback" -> ((s, _) => {
      graft.table.SnapshotLog.read(s, rollbackWarehouse(s)).get
        .orderBy(col("kafka_offset"))
    }),
    // SCHEMA EVOLUTION through the snapshot layer: the same two drifting
    // epochs as cdc_schema_drift_widening, but committed as SNAPSHOTS of
    // one table with a registry rename between them — the read scans
    // every epoch as one relation under the merged schema (LUB widening,
    // null-filled addition) and the field registry maps the renamed
    // column, instead of failing the scan. Same oracle as the
    // epoch-merge form: two mechanisms, one invariant.
    "cdc_snapshot_schema_drift" -> ((s, _) => {
      graft.table.SnapshotLog.read(s, driftSnapshotWarehouse(s)).get
        .withColumn("amount", round(col("amount").cast("double"), 4))
        .orderBy(col("kafka_offset"))
    }),
    // POINT-LOOKUP through manifest BLOOM filters
    // ([[graft.table.SnapshotLog.readPruned]]): the fixture table is four
    // ingest-ordered appends that each span the whole orderkey range —
    // zone maps keep every file for any point — but each file carries a
    // 4 KB bloom of its keys, so a lookup touches ~one file. The three
    // smallest orderkeys probe as ONE batched IN-set lookup: all keys'
    // survivors resolve in one metadata pass and scan once (a per-key
    // union would scan overlapping survivors N times).
    // Equality with the plain SQL IN-filter proves blooms never lose a
    // row (no false negatives). CdcSpec pins the skip counts.
    "cdc_point_lookup" -> ((s, d) => {
      import graft.table.SnapshotLog
      val t = s"${bloomWarehouse(s, d)}/orders_bloom"
      val keys = graft.schema.Tables(s, d, "orders").select(col("o_orderkey").cast("long"))
        .distinct().orderBy(col("o_orderkey")).limit(3)
        .collect().map(_.getLong(0)).toSeq // 3-row driver fetch: the lookup keys
      SnapshotLog.readPruned(s, t,
          graft.table.Constraints.in("o_orderkey", keys: _*)).get
        .filter(col("o_orderkey").isin(keys: _*))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),
    // 2-D ZONE-MAP pruned read over a Z-ORDER-compacted snapshot table
    // ([[graft.table.SnapshotLog.readPruned]]): the events table is
    // rewritten by compactSnapshotted(clusterZOrder = user_id, minute),
    // every file carries per-COLUMN [min,max] stats in its manifest, and
    // the (user range ∧ minute range) read prunes files on BOTH
    // dimensions from metadata alone — then the surviving files are
    // filtered normally, so the result is exactly the SQL WHERE (the
    // oracle) regardless of layout: pruning may only skip, never lose.
    // The minute band derives from the manifest's own global min/max
    // (metadata, no scan). CdcSpec pins the skip counts per dimension.
    "cdc_zone_map_2d" -> ((s, d) => {
      import graft.table.SnapshotLog
      val t = s"${zoneWarehouse(s, d)}/events_parquet"
      val mins = SnapshotLog.filesAt(s, t).flatMap(_.stats.get("minute"))
      val (m0, m1) = (mins.map(_._1).min, mins.map(_._2).max)
      val mLo = m0 + (m1 - m0 + 1) / 4
      val mHi = mLo + 1439
      SnapshotLog.readPruned(s, t, graft.table.Constraints(ranges =
          Map("user_id" -> (10L, 19L), "minute" -> (mLo, mHi)))).get
        .filter(col("user_id").between(10, 19) && col("minute").between(mLo, mHi))
        .select(col("event_id"), col("user_id"), col("minute"), col("event_type"))
        .orderBy(col("event_id"))
    }),
    // DESCRIBE HISTORY over the snapshot warehouse: per-snapshot op and
    // row accounting straight from manifests (zero data files opened) —
    // epoch-1 append, epoch-2 append, then the compaction replace whose
    // rows_added equals the full rewrite while rows_live is unchanged.
    "cdc_table_history" -> ((s, _) =>
      graft.table.SnapshotLog.history(s, s"${snapshotWarehouse(s)}/orders_parquet")
        .orderBy(col("snapshot_id"))),
    // Snapshot layer (graft.table.SnapshotLog): TIME TRAVEL — reading the
    // warehouse AS OF the first sync's snapshot returns exactly that
    // epoch's rows, byte-identical to a full recompute of epoch 1, even
    // though two more commits (a second sync and a compaction rewrite)
    // have happened since. The oracle replays epoch 1 from the wire
    // fixture — if time travel leaked any later row or lost any epoch-1
    // row, the hash would diverge.
    "cdc_timetravel" -> ((s, _) => {
      val base = snapshotWarehouse(s)
      graft.table.SnapshotLog.read(s, s"$base/orders_parquet", asOf = Some(1L))
        .get.orderBy(col("kafka_offset"))
    }),
    // PARTITION-pruned read over a date-partitioned snapshot table
    // ([[graft.table.SnapshotLog.readPruned]]): events clustered by
    // event day into range files, each file's partition-VALUE set
    // recorded in the manifest (the Iceberg posture — values live in
    // metadata, columns stay in the data, no Hive directory scheme).
    // Reading one day keeps only the files whose recorded set holds it;
    // the result equals the plain SQL WHERE (the oracle) because pruning
    // may only skip, never lose. CdcSpec pins the skip counts.
    "cdc_partition_pruned_read" -> ((s, d) => {
      import graft.table.SnapshotLog
      val t = partitionedWarehouse(s, d)
      val day = SnapshotLog.read(s, t).get
        .agg(min(col("event_date"))).head().getString(0)
      SnapshotLog.readPruned(s, t,
          graft.table.Constraints(parts = Map("event_date" -> Seq(day)))).get
        .filter(col("event_date") === day)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("event_date"))
        .orderBy(col("event_id"))
    }),
    // Snapshot layer: SNAPSHOT-DIFF incremental consumption — the logical
    // delta after snapshot 1 is exactly the second sync's rows, and the
    // compaction `replace` commit between the read points contributes
    // NOTHING (a rewrite adds no logical rows), so maintenance is
    // invisible to incremental consumers. The oracle replays epoch 2 from
    // the wire fixture.
    "cdc_snapshot_diff" -> ((s, _) => {
      val base = snapshotWarehouse(s)
      graft.table.SnapshotLog.diff(s, s"$base/orders_parquet", from = 1L)
        .get.orderBy(col("kafka_offset"))
    })
  )

  /** Build a 3-snapshot `orders` table through the full
    * [[graft.table.SnapshotLog]] protocol in a fresh temp dir:
    * snapshot 1 = epoch-1 append (offsets ≤ 5, the pre-incremental slice),
    * snapshot 2 = epoch-2 append (offsets ≥ 6, the resumed slice — the
    * same split [[cdc_incremental_orders]] pins), snapshot 3 = a
    * [[Compaction.compactSnapshotted]] `replace` rewrite of the whole
    * table. Every commit goes through the atomic manifest rename, and the
    * compaction exercises the real maintenance job, not an inline stand-in. */
  /** The two drifting-schema epochs behind `cdc_schema_drift_widening` /
    * `_report`: epoch 1 as the OLD source shape (int key, decimal(10,2)
    * money, the pre-rename `address`), epoch 2 as the new one (bigint
    * key, decimal(12,4), `shipping_address`, added customer_id). */
  private def driftEpochs(s: SparkSession): (DataFrame, DataFrame) = {
    val all = parse(s, "orders")
    val e1 = all.filter(col("kafka_offset") <= 5)
      .select(col("order_id"), col("status"),
        col("total_amount").cast("decimal(10,2)").as("amount"),
        col("shipping_address").as("address"), col("kafka_offset"))
    val e2 = all.filter(col("kafka_offset") >= 6)
      .select(col("order_id").cast("long").as("order_id"), col("customer_id"),
        col("status"), col("total_amount").cast("decimal(12,4)").as("amount"),
        col("shipping_address"), col("kafka_offset"))
    (e1, e2)
  }

  private def latestPerKey(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("order_id")).orderBy(col("kafka_offset").desc)
    df.filter(col("order_id").isNotNull)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1).drop("rk")
  }

  /** Build (once per session) the copy-on-write warehouse behind
    * `cdc_merge_cow`: epoch-1 latest-state written key-range-clustered
    * (2 files, order_id manifest stats), epoch-2 latest-state upserted
    * through [[graft.table.Merge.upsert]]. */
  private def cowWarehouse(spark: SparkSession): String =
    Fixtures.memo(spark, "graft-cow") { base =>
      import graft.table.{Merge, SnapshotLog}
      val dir = s"$base/orders_state"
      val all = parse(spark, "orders")
      val snap = latestPerKey(all.filter(col("kafka_offset") <= 5))
        .repartitionByRange(2, col("order_id"))
      val files = SnapshotLog.writeData(snap, dir, statsCol = Some("order_id"))
      SnapshotLog.commit(spark, dir, "append", files,
        summary = Map("table" -> "orders_state"))
      Merge.upsert(spark, dir,
        latestPerKey(all.filter(col("kafka_offset") >= 6)), "order_id")
      dir
    }

  /** The delete-aware COW warehouse behind `cdc_merge_cow_deletes`:
    * epoch 1 (offsets ≤ 3 of the orders_del fixture) compacted
    * tombstone-aware and written key-clustered; epoch 2 (offsets ≥ 4:
    * a delete, an insert, a delete + re-insert) resolved to latest-per-pk
    * and applied through [[graft.table.Merge.applyChanges]] with its
    * tombstone flag. */
  private def cowDelWarehouse(spark: SparkSession): String =
    Fixtures.memo(spark, "graft-cowdel") { base =>
      import graft.table.Merge
      val (dir, delta) = delStateEpoch1(spark, base)
      Merge.applyChanges(spark, dir, delta, "pk", Some("is_delete"))
      dir
    }

  /** Shared scaffolding for the delete-aware merge fixtures: build the
    * epoch-1 (offsets ≤ 3) tombstone-aware latest state of the
    * orders_del topic, write it key-clustered as snapshot 1 of a table
    * dir under `base`, and return (tableDir, epoch-2 latest-per-pk delta
    * with its `is_delete` flag) for the strategy under test to apply. */
  private def delStateEpoch1(spark: SparkSession, base: String): (String, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    import graft.table.SnapshotLog
    val dir = s"$base/orders_del_state"
    val d = Envelope.decodeKeyed(
        source.read(spark, Schemas.topicFor("orders_del"), StartingOffsets.Earliest),
        "orders")
      .withColumn("pk", coalesce(col("order_id"),
        get_json_object(col("kafka_key"), "$.order_id").cast("int")))
    val w = Window.partitionBy(col("pk")).orderBy(col("kafka_offset").desc)
    def latestPerPk(df: DataFrame): DataFrame =
      df.withColumn("rk", row_number().over(w)).filter(col("rk") === 1).drop("rk")
    val payload = Seq("pk", "order_id", "customer_id", "status",
      "total_amount", "kafka_offset")
    val epoch1 = latestPerPk(d.filter(col("kafka_offset") <= 3))
      .filter(!col("is_tombstone"))
      .select(payload.map(col): _*)
      .repartitionByRange(2, col("pk"))
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData(epoch1, dir, statsCol = Some("pk")),
      summary = Map("table" -> "orders_del_state"))
    val delta = latestPerPk(d.filter(col("kafka_offset") >= 4))
      .select(payload.map(col) :+ col("is_tombstone").as("is_delete"): _*)
    (dir, delta)
  }

  /** The string-keyed COW warehouse behind `cdc_merge_string_key`:
    * epoch-1 latest-state written in two pk-range files with per-file
    * key BLOOMS, epoch-2 latest-state upserted by the string pk. */
  private def strKeyWarehouse(spark: SparkSession): String =
    Fixtures.memo(spark, "graft-strkeywh") { base =>
      import graft.table.{Merge, SnapshotLog}
      val dir = s"$base/orders_str"
      val all = parse(spark, "orders")
      def keyed(df: DataFrame) =
        df.select(concat(lit("ord-"), col("order_id")).as("pk"),
          col("order_id"), col("status"), col("total_amount"), col("kafka_offset"))
      val snap = keyed(latestPerKey(all.filter(col("kafka_offset") <= 5)))
        .repartitionByRange(2, col("pk"))
      SnapshotLog.commit(spark, dir, "append",
        SnapshotLog.writeData(snap, dir, statsCol = Some("pk"), bloomCol = Some("pk")))
      Merge.applyChanges(spark, dir,
        keyed(latestPerKey(all.filter(col("kafka_offset") >= 6))), "pk", None)
      dir
    }

  /** The COW-merge-under-drift warehouse behind `cdc_merge_drift`:
    * epoch-1 latest-state written under the old shape in THREE
    * key-range files ([1-2], [3-4], [5-6]); `address` renamed to
    * `shipping_address` (a metadata-only `schema` commit); the epoch-2
    * delta (keys 2, 5, 7, 8 under the new shape) touches files 1 and 3
    * and leaves file 2 carried forward by reference with its OLD
    * schema. */
  private def driftMergeWarehouse(spark: SparkSession): String =
    Fixtures.memo(spark, "graft-driftmerge") { base =>
      import graft.table.{Merge, SnapshotLog}
      val dir = s"$base/orders_drift_state"
      val (e1, e2) = driftEpochs(spark)
      val snap = latestPerKey(e1).repartitionByRange(3, col("order_id"))
      SnapshotLog.commit(spark, dir, "append",
        SnapshotLog.writeData(snap, dir, statsCol = Some("order_id")),
        summary = Map("table" -> "orders_drift_state"))
      renameAddress(spark, dir)
      Merge.applyChanges(spark, dir, latestPerKey(e2), "order_id", None)
      dir
    }

  /** The merge-on-read twin of [[cowDelWarehouse]]: the SAME epoch-1
    * state and epoch-2 delta, but applied as a `rowdelta` commit (new
    * data files + one equality-delete key file; zero rewrites). */
  private def morWarehouse(spark: SparkSession): String =
    Fixtures.memo(spark, "graft-mor") { base =>
      import graft.table.Merge
      val (dir, delta) = delStateEpoch1(spark, base)
      Merge.mergeOnRead(spark, dir, delta, "pk", Some("is_delete"))
      dir
    }

  /** The DELETION-VECTOR merge warehouse behind `cdc_mor_posdelete` —
    * FOURTH storage strategy over the same stream, same oracle: every
    * delta-touched key's OLD version is masked POSITIONALLY
    * ([[graft.table.Merge.deleteWhere]] — (file, row-ordinal) pairs,
    * zero data files rewritten, and later masked scans anti-join on
    * scan metadata instead of reading key columns), then the delta's
    * surviving rows append as plain data. The Delta deletion-vector
    * MERGE shape. */
  private def posDelWarehouse(spark: SparkSession): String =
    Fixtures.memo(spark, "graft-posdelwh") { base =>
      import graft.table.{Merge, SnapshotLog}
      val (dir, delta) = delStateEpoch1(spark, base)
      val touched = delta.select(col("pk")).distinct()
        .collect().map(_.getInt(0)).toSeq
      Merge.deleteWhere(spark, dir, col("pk").isin(touched: _*))
      val survivors = delta.filter(!coalesce(col("is_delete"), lit(false)))
        .drop("is_delete")
      if (!survivors.isEmpty)
        SnapshotLog.commit(spark, dir, "append",
          SnapshotLog.writeData(survivors, dir, statsCol = Some("pk")),
          summary = Map("table" -> "orders_del_state"))
      dir
    }

  /** The LINEAGE-stamped copy-on-write twin of [[morWarehouse]]: the
    * SAME epoch-1 state and epoch-2 delta, applied as an `upsert` commit
    * with `lineage = true` so the change feed is derivable from it. */
  private def cowLineageWarehouse(spark: SparkSession): String =
    Fixtures.memo(spark, "graft-cowlin") { base =>
      import graft.table.Merge
      val (dir, delta) = delStateEpoch1(spark, base)
      Merge.applyChanges(spark, dir, delta, "pk", Some("is_delete"), lineage = true)
      dir
    }

  /** [[morWarehouse]] plus the maintenance step: pending equality
    * deletes folded back into clustered data by
    * [[graft.table.Merge.materializeDeletes]] (a `replace` commit). */
  private def morMatWarehouse(spark: SparkSession): String =
    Fixtures.memo(spark, "graft-mormat") { base =>
      import graft.table.Merge
      val (dir, delta) = delStateEpoch1(spark, base)
      Merge.mergeOnRead(spark, dir, delta, "pk", Some("is_delete"))
      Merge.materializeDeletes(spark, dir)
      dir
    }

  /** The two drifting-schema epochs committed as consecutive SNAPSHOTS
    * of one table (epoch 1 under the old source shape, epoch 2 under
    * the widened/renamed/extended one), with the rename declared between
    * them — epoch 2's `shipping_address` is stored as `address`. */
  private def driftSnapshotWarehouse(spark: SparkSession): String =
    Fixtures.memo(spark, "graft-driftsnap") { base =>
      import graft.table.SnapshotLog
      val dir = s"$base/orders_drift"
      val (e1, e2) = driftEpochs(spark)
      SnapshotLog.commit(spark, dir, "append", SnapshotLog.writeData(e1, dir))
      renameAddress(spark, dir)
      SnapshotLog.commit(spark, dir, "append", SnapshotLog.writeData(e2, dir))
      dir
    }

  /** The drift epochs' one rename, declared on the table: a
    * metadata-only field-registry commit. */
  private def renameAddress(spark: SparkSession, dir: String): Unit =
    spark.sql(s"ALTER TABLE '$dir' RENAME COLUMN address TO shipping_address")

  /** Four ingest-ordered appends of orders (round-robin by orderkey, so
    * every file spans the whole key range — the zone-map-blind layout)
    * with per-file orderkey BLOOMS in the manifests. */
  private def bloomWarehouse(spark: SparkSession, dir: String): String =
    Fixtures.memo(spark, "graft-bloomwh", dir) { base =>
      import graft.table.SnapshotLog
      val tdir = s"$base/orders_bloom"
      val ord = graft.schema.Tables(spark, dir, "orders")
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
      for (slice <- 0 until 4)
        SnapshotLog.commit(spark, tdir, "append",
          SnapshotLog.writeData(
            ord.filter(pmod(col("o_orderkey"), lit(4)) === slice).coalesce(1),
            tdir, statsCol = Some("o_orderkey"), bloomCol = Some("o_orderkey")))
      base
    }

  /** A snapshot table over the driver's events parquet, Z-ORDER
    * compacted on (user_id, minute) with per-column manifest stats —
    * the 2-D [[graft.table.SnapshotLog.readPruned]] fixture. The initial
    * append is deliberately layout-random (`repartition(8)`) so the
    * compaction, not ingest luck, is what localizes the dimensions. */
  private def zoneWarehouse(spark: SparkSession, dir: String): String =
    Fixtures.memo(spark, "graft-zone", dir) { base =>
      import graft.table.SnapshotLog
      val tdir = s"$base/events_parquet"
      val ev = graft.schema.Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts) div 60000000").as("minute"), col("event_type"))
      SnapshotLog.commit(spark, tdir, "append",
        SnapshotLog.writeData(ev.repartition(8), tdir,
          statsCols = Seq("user_id", "minute")))
      // size the rewrite to ~16 tiles whatever the sf
      val bytes = SnapshotLog.filesAt(spark, tdir).map(_.bytes).sum
      Compaction.compactSnapshotted(spark, base, "events",
        targetBytes = math.max(1L, bytes / 16), clusterZOrder = Seq("user_id", "minute"))
      base
    }

  /** A date-partitioned snapshot table over the driver's events parquet:
    * rows clustered by event day via range partitioning, per-file
    * partition-value sets recorded in the manifest for
    * [[graft.table.SnapshotLog.readPruned]] pruning. */
  private def partitionedWarehouse(spark: SparkSession, dir: String): String =
    Fixtures.memo(spark, "graft-partwh", dir) { base =>
      import graft.table.SnapshotLog
      val tdir = s"$base/events_bydate"
      val ev = graft.schema.Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          to_date(col("ts")).cast("string").as("event_date"))
        .repartitionByRange(8, col("event_date"))
      SnapshotLog.commit(spark, tdir, "append",
        SnapshotLog.writeData(ev, tdir, statsCol = Some("event_id"),
          partitionCols = Seq("event_date")))
      tdir
    }

  /** A 3-snapshot orders table whose head is a ROLLBACK: epoch-1 append,
    * epoch-2 append, then [[graft.table.SnapshotLog.rollback]] to
    * snapshot 1 — current-state reads must equal epoch 1 exactly. */
  private def rollbackWarehouse(spark: SparkSession): String =
    Fixtures.memo(spark, "graft-rollback") { base =>
      import graft.table.SnapshotLog
      val dir = s"$base/orders_parquet"
      val all = parse(spark, "orders")
      SnapshotLog.commit(spark, dir, "append",
        SnapshotLog.writeData(all.filter(col("kafka_offset") <= 5), dir,
          statsCol = Some("kafka_offset")))
      SnapshotLog.commit(spark, dir, "append",
        SnapshotLog.writeData(all.filter(col("kafka_offset") >= 6), dir,
          statsCol = Some("kafka_offset")))
      SnapshotLog.rollback(spark, dir, toSnapshot = 1L)
      dir
    }

  private def snapshotWarehouse(spark: SparkSession): String =
    // the fixture topics are immutable within a session, so the built
    // 3-snapshot warehouse is reusable across queries and bench passes
    Fixtures.memo(spark, "graft-snapwh")(buildSnapshotWarehouse(spark, _))

  private def buildSnapshotWarehouse(spark: SparkSession, base: String): String = {
    import graft.table.SnapshotLog
    val dir = s"$base/orders_parquet"
    val all = parse(spark, "orders")
    val f1 = SnapshotLog.writeData(all.filter(col("kafka_offset") <= 5), dir,
      statsCol = Some("kafka_offset"))
    SnapshotLog.commit(spark, dir, "append", f1, summary = Map("table" -> "orders"))
    val f2 = SnapshotLog.writeData(all.filter(col("kafka_offset") >= 6), dir,
      statsCol = Some("kafka_offset"))
    SnapshotLog.commit(spark, dir, "append", f2, summary = Map("table" -> "orders"))
    Compaction.compact(spark, base, "orders", targetBytes = 1L << 30)
    base
  }

  val oracles: Map[String, String] = Map(
    "cdc_parse_orders" ->
      s"""SELECT $ordersProj
         |FROM ${wireSql("orders")} ORDER BY kafka_offset""".stripMargin,
    "cdc_parse_customers" ->
      s"""SELECT CAST(json_extract_string(value, '$$.customer_id') AS INTEGER) AS customer_id,
         |  json_extract_string(value, '$$.email') AS email,
         |  json_extract_string(value, '$$.first_name') AS first_name,
         |  json_extract_string(value, '$$.last_name') AS last_name,
         |  json_extract_string(value, '$$.phone') AS phone,
         |  "timestamp" AS kafka_timestamp, topic, "offset" AS kafka_offset
         |FROM ${wireSql("customers")} ORDER BY kafka_offset""".stripMargin,
    "cdc_parse_products" ->
      s"""SELECT CAST(json_extract_string(value, '$$.product_id') AS INTEGER) AS product_id,
         |  json_extract_string(value, '$$.product_name') AS product_name,
         |  json_extract_string(value, '$$.category') AS category,
         |  json_extract_string(value, '$$.price') AS price,
         |  CAST(json_extract_string(value, '$$.stock_quantity') AS INTEGER) AS stock_quantity,
         |  "timestamp" AS kafka_timestamp, topic, "offset" AS kafka_offset
         |FROM ${wireSql("products")} ORDER BY kafka_offset""".stripMargin,
    "cdc_parse_order_items" ->
      s"""SELECT CAST(json_extract_string(value, '$$.order_item_id') AS INTEGER) AS order_item_id,
         |  CAST(json_extract_string(value, '$$.order_id') AS INTEGER) AS order_id,
         |  CAST(json_extract_string(value, '$$.product_id') AS INTEGER) AS product_id,
         |  CAST(json_extract_string(value, '$$.quantity') AS INTEGER) AS quantity,
         |  json_extract_string(value, '$$.unit_price') AS unit_price,
         |  json_extract_string(value, '$$.subtotal') AS subtotal,
         |  "timestamp" AS kafka_timestamp, topic, "offset" AS kafka_offset
         |FROM ${wireSql("order_items")} ORDER BY kafka_offset""".stripMargin,
    "cdc_incremental_orders" ->
      s"""SELECT $ordersProj
         |FROM ${wireSql("orders")} WHERE "offset" >= 6 ORDER BY kafka_offset""".stripMargin,
    // regex-resolved subscription: orders bounded at offset ≥ 6,
    // products unbounded
    "cdc_pattern_read" ->
      s"""SELECT topic, count(*) AS n, max("offset") AS hwm FROM (
         |  SELECT topic, "offset" FROM ${wireSql("orders")} WHERE "offset" >= 6
         |  UNION ALL
         |  SELECT topic, "offset" FROM ${wireSql("products")})
         |GROUP BY topic ORDER BY topic""".stripMargin,
    // one pass over two topics: orders bounded at offset ≥ 6, customers
    // unbounded (no saved state → earliest)
    "cdc_multi_topic_read" ->
      s"""SELECT topic, count(*) AS n, max("offset") AS hwm FROM (
         |  SELECT topic, "offset" FROM ${wireSql("orders")} WHERE "offset" >= 6
         |  UNION ALL
         |  SELECT topic, "offset" FROM ${wireSql("customers")})
         |GROUP BY topic ORDER BY topic""".stripMargin,
    // per-partition resume bounds over the 3-partition topic; partitions
    // without a bound read from earliest
    "cdc_incremental_multipart" ->
      s"""SELECT $ordersProj
         |FROM ${wireSql("orders_mp")}
         |WHERE (partition = 0 AND "offset" >= 2)
         |   OR (partition = 1 AND "offset" >= 2)
         |   OR partition NOT IN (0, 1)
         |ORDER BY order_id""".stripMargin,
    // string-keyed COW merge == latest-per-key compaction with the
    // synthetic string pk replayed
    "cdc_merge_string_key" ->
      s"""WITH p AS (SELECT $ordersProj FROM ${wireSql("orders")})
         |SELECT 'ord-' || order_id AS pk, order_id, status, total_amount, kafka_offset
         |FROM (SELECT *, row_number() OVER (PARTITION BY order_id
         |                                   ORDER BY kafka_offset DESC) AS rk
         |      FROM p WHERE order_id IS NOT NULL) t
         |WHERE rk = 1
         |ORDER BY order_id""".stripMargin,
    // COW merge under schema drift == latest-per-key over the
    // drift-shaped replay (epoch 1 in the old shape with customer_id
    // null, epoch 2 in the new shape; delta wins on match)
    "cdc_merge_drift" ->
      s"""WITH p AS (SELECT $ordersProj FROM ${wireSql("orders")}),
         |v AS (
         |  SELECT CAST(order_id AS BIGINT) AS order_id, status,
         |    round(CAST(total_amount AS DOUBLE), 4) AS amount,
         |    shipping_address, kafka_offset, CAST(NULL AS INTEGER) AS customer_id
         |  FROM p WHERE kafka_offset <= 5 AND order_id IS NOT NULL
         |  UNION ALL
         |  SELECT CAST(order_id AS BIGINT), status,
         |    round(CAST(total_amount AS DOUBLE), 4),
         |    shipping_address, kafka_offset, customer_id
         |  FROM p WHERE kafka_offset >= 6 AND order_id IS NOT NULL)
         |SELECT order_id, status, amount, shipping_address, kafka_offset, customer_id
         |FROM (SELECT *, row_number() OVER (PARTITION BY order_id
         |                                   ORDER BY kafka_offset DESC) AS rk
         |      FROM v) t
         |WHERE rk = 1
         |ORDER BY order_id""".stripMargin,
    // storage-level delete-aware merge: equals delete-aware compaction
    // over the full stream (same oracle as cdc_delete_aware_state)
    "cdc_merge_cow_deletes" ->
      s"""WITH p AS (
         |  SELECT CAST(json_extract_string(value, '$$.order_id') AS INTEGER) AS order_id,
         |    CAST(json_extract_string(value, '$$.customer_id') AS INTEGER) AS customer_id,
         |    json_extract_string(value, '$$.status') AS status,
         |    json_extract_string(value, '$$.total_amount') AS total_amount,
         |    value IS NULL AS is_tombstone,
         |    coalesce(CAST(json_extract_string(value, '$$.order_id') AS INTEGER),
         |             CAST(json_extract_string(key, '$$.order_id') AS INTEGER)) AS pk,
         |    "offset" AS kafka_offset
         |  FROM ${wireSql("orders_del")})
         |SELECT order_id, customer_id, status, total_amount, kafka_offset
         |FROM (SELECT *, row_number() OVER (PARTITION BY pk
         |                                   ORDER BY kafka_offset DESC) AS rk
         |      FROM p) t
         |WHERE rk = 1 AND NOT is_tombstone
         |ORDER BY order_id""".stripMargin,
    // merge-on-read: same invariant as the COW form — the masked read
    // equals delete-aware compaction over the full stream
    "cdc_merge_mor" ->
      s"""WITH p AS (
         |  SELECT CAST(json_extract_string(value, '$$.order_id') AS INTEGER) AS order_id,
         |    CAST(json_extract_string(value, '$$.customer_id') AS INTEGER) AS customer_id,
         |    json_extract_string(value, '$$.status') AS status,
         |    json_extract_string(value, '$$.total_amount') AS total_amount,
         |    value IS NULL AS is_tombstone,
         |    coalesce(CAST(json_extract_string(value, '$$.order_id') AS INTEGER),
         |             CAST(json_extract_string(key, '$$.order_id') AS INTEGER)) AS pk,
         |    "offset" AS kafka_offset
         |  FROM ${wireSql("orders_del")})
         |SELECT order_id, customer_id, status, total_amount, kafka_offset
         |FROM (SELECT *, row_number() OVER (PARTITION BY pk
         |                                   ORDER BY kafka_offset DESC) AS rk
         |      FROM p) t
         |WHERE rk = 1 AND NOT is_tombstone
         |ORDER BY order_id""".stripMargin,
    // deletion-vector merge: fourth storage strategy, same invariant
    "cdc_mor_posdelete" ->
      s"""WITH p AS (
         |  SELECT CAST(json_extract_string(value, '$$.order_id') AS INTEGER) AS order_id,
         |    CAST(json_extract_string(value, '$$.customer_id') AS INTEGER) AS customer_id,
         |    json_extract_string(value, '$$.status') AS status,
         |    json_extract_string(value, '$$.total_amount') AS total_amount,
         |    value IS NULL AS is_tombstone,
         |    coalesce(CAST(json_extract_string(value, '$$.order_id') AS INTEGER),
         |             CAST(json_extract_string(key, '$$.order_id') AS INTEGER)) AS pk,
         |    "offset" AS kafka_offset
         |  FROM ${wireSql("orders_del")})
         |SELECT order_id, customer_id, status, total_amount, kafka_offset
         |FROM (SELECT *, row_number() OVER (PARTITION BY pk
         |                                   ORDER BY kafka_offset DESC) AS rk
         |      FROM p) t
         |WHERE rk = 1 AND NOT is_tombstone
         |ORDER BY order_id""".stripMargin,
    // materializing the delete masks must change nothing: third storage
    // strategy, same invariant
    "cdc_mor_materialized" ->
      s"""WITH p AS (
         |  SELECT CAST(json_extract_string(value, '$$.order_id') AS INTEGER) AS order_id,
         |    CAST(json_extract_string(value, '$$.customer_id') AS INTEGER) AS customer_id,
         |    json_extract_string(value, '$$.status') AS status,
         |    json_extract_string(value, '$$.total_amount') AS total_amount,
         |    value IS NULL AS is_tombstone,
         |    coalesce(CAST(json_extract_string(value, '$$.order_id') AS INTEGER),
         |             CAST(json_extract_string(key, '$$.order_id') AS INTEGER)) AS pk,
         |    "offset" AS kafka_offset
         |  FROM ${wireSql("orders_del")})
         |SELECT order_id, customer_id, status, total_amount, kafka_offset
         |FROM (SELECT *, row_number() OVER (PARTITION BY pk
         |                                   ORDER BY kafka_offset DESC) AS rk
         |      FROM p) t
         |WHERE rk = 1 AND NOT is_tombstone
         |ORDER BY order_id""".stripMargin,
    // row-level change feed from the rowdelta commit: epoch-2 latest per
    // key — tombstone-latest keys emit a key-only delete row, the rest
    // upsert (the delete+re-insert of pk 3 collapses to its upsert)
    "cdc_mor_changefeed" ->
      s"""WITH p AS (
         |  SELECT CAST(json_extract_string(value, '$$.order_id') AS INTEGER) AS order_id,
         |    CAST(json_extract_string(value, '$$.customer_id') AS INTEGER) AS customer_id,
         |    json_extract_string(value, '$$.status') AS status,
         |    json_extract_string(value, '$$.total_amount') AS total_amount,
         |    value IS NULL AS is_tombstone,
         |    coalesce(CAST(json_extract_string(value, '$$.order_id') AS INTEGER),
         |             CAST(json_extract_string(key, '$$.order_id') AS INTEGER)) AS pk,
         |    "offset" AS kafka_offset
         |  FROM ${wireSql("orders_del")})
         |SELECT pk,
         |  CASE WHEN is_tombstone THEN NULL ELSE order_id END AS order_id,
         |  CASE WHEN is_tombstone THEN NULL ELSE customer_id END AS customer_id,
         |  CASE WHEN is_tombstone THEN NULL ELSE status END AS status,
         |  CASE WHEN is_tombstone THEN NULL ELSE total_amount END AS total_amount,
         |  CASE WHEN is_tombstone THEN NULL ELSE kafka_offset END AS kafka_offset,
         |  CASE WHEN is_tombstone THEN 'delete' ELSE 'upsert' END AS change_op,
         |  CAST(2 AS BIGINT) AS change_snapshot
         |FROM (SELECT *, row_number() OVER (PARTITION BY pk
         |                                   ORDER BY kafka_offset DESC) AS rk
         |      FROM p WHERE kafka_offset >= 4) t
         |WHERE rk = 1
         |ORDER BY pk""".stripMargin,
    // lineage-COW change feed == the MOR feed == epoch-2 latest per key
    // (tombstone-latest keys delete key-only, the rest upsert)
    "cdc_cow_changefeed" ->
      s"""WITH p AS (
         |  SELECT CAST(json_extract_string(value, '$$.order_id') AS INTEGER) AS order_id,
         |    CAST(json_extract_string(value, '$$.customer_id') AS INTEGER) AS customer_id,
         |    json_extract_string(value, '$$.status') AS status,
         |    json_extract_string(value, '$$.total_amount') AS total_amount,
         |    value IS NULL AS is_tombstone,
         |    coalesce(CAST(json_extract_string(value, '$$.order_id') AS INTEGER),
         |             CAST(json_extract_string(key, '$$.order_id') AS INTEGER)) AS pk,
         |    "offset" AS kafka_offset
         |  FROM ${wireSql("orders_del")})
         |SELECT pk,
         |  CASE WHEN is_tombstone THEN NULL ELSE order_id END AS order_id,
         |  CASE WHEN is_tombstone THEN NULL ELSE customer_id END AS customer_id,
         |  CASE WHEN is_tombstone THEN NULL ELSE status END AS status,
         |  CASE WHEN is_tombstone THEN NULL ELSE total_amount END AS total_amount,
         |  CASE WHEN is_tombstone THEN NULL ELSE kafka_offset END AS kafka_offset,
         |  CASE WHEN is_tombstone THEN 'delete' ELSE 'upsert' END AS change_op,
         |  CAST(2 AS BIGINT) AS change_snapshot
         |FROM (SELECT *, row_number() OVER (PARTITION BY pk
         |                                   ORDER BY kafka_offset DESC) AS rk
         |      FROM p WHERE kafka_offset >= 4) t
         |WHERE rk = 1
         |ORDER BY pk""".stripMargin,
    // MOR history: append (epoch-1 live rows) → rowdelta (delta rows +
    // delete entries for keys present in epoch 1; live data rows are an
    // upper bound while masks pend) → materializing replace (exact again)
    "cdc_mor_history" ->
      s"""WITH p AS (
         |  SELECT value IS NULL AS is_tombstone,
         |    coalesce(CAST(json_extract_string(value, '$$.order_id') AS INTEGER),
         |             CAST(json_extract_string(key, '$$.order_id') AS INTEGER)) AS pk,
         |    "offset" AS kafka_offset
         |  FROM ${wireSql("orders_del")}),
         |e1 AS (SELECT pk FROM (SELECT *, row_number() OVER (PARTITION BY pk
         |         ORDER BY kafka_offset DESC) AS rk
         |       FROM p WHERE kafka_offset <= 3) t WHERE rk = 1 AND NOT is_tombstone),
         |e2 AS (SELECT pk, is_tombstone FROM (SELECT *, row_number() OVER (PARTITION BY pk
         |         ORDER BY kafka_offset DESC) AS rk
         |       FROM p WHERE kafka_offset >= 4) t WHERE rk = 1),
         |fin AS (SELECT pk FROM (SELECT *, row_number() OVER (PARTITION BY pk
         |         ORDER BY kafka_offset DESC) AS rk
         |       FROM p) t WHERE rk = 1 AND NOT is_tombstone)
         |SELECT CAST(1 AS BIGINT) AS snapshot_id, 'append' AS op,
         |  (SELECT count(*) FROM e1) AS rows_added,
         |  CAST(0 AS BIGINT) AS rows_deleted,
         |  (SELECT count(*) FROM e1) AS rows_live
         |UNION ALL SELECT 2, 'rowdelta',
         |  (SELECT count(*) FROM e2 WHERE NOT is_tombstone),
         |  (SELECT count(*) FROM e2 WHERE pk IN (SELECT pk FROM e1)),
         |  (SELECT count(*) FROM e1) + (SELECT count(*) FROM e2 WHERE NOT is_tombstone)
         |UNION ALL SELECT 3, 'replace',
         |  (SELECT count(*) FROM fin), 0, (SELECT count(*) FROM fin)
         |ORDER BY snapshot_id""".stripMargin,
    // snapshot-layer drift read == the epoch-merge widening (same oracle)
    "cdc_snapshot_schema_drift" ->
      s"""WITH p AS (SELECT $ordersProj
         |  FROM ${wireSql("orders")})
         |SELECT CAST(order_id AS BIGINT) AS order_id, status,
         |  round(CAST(total_amount AS DOUBLE), 4) AS amount,
         |  shipping_address, kafka_offset, CAST(NULL AS INTEGER) AS customer_id
         |FROM p WHERE kafka_offset <= 5
         |UNION ALL
         |SELECT CAST(order_id AS BIGINT), status,
         |  round(CAST(total_amount AS DOUBLE), 4),
         |  shipping_address, kafka_offset, customer_id
         |FROM p WHERE kafka_offset >= 6
         |ORDER BY kafka_offset""".stripMargin,
    // bloom-pruned point lookups == the plain IN filter (no false
    // negatives); the 3 smallest distinct orderkeys are the lookup set
    "cdc_point_lookup" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_orderkey IN (SELECT DISTINCT o_orderkey FROM orders
        |                     ORDER BY o_orderkey LIMIT 3)
        |ORDER BY o_orderkey""".stripMargin,
    // zone-map pruned 2-D range read == the plain SQL WHERE (pruning may
    // only skip files, never lose qualifying rows); the minute band
    // derives from the data's own global minute bounds exactly as the
    // engine derives it from manifest stats
    "cdc_zone_map_2d" ->
      """WITH e AS (SELECT event_id, user_id,
        |    epoch_us(ts) // 60000000 AS minute, event_type FROM events),
        |b AS (SELECT min(minute) AS m0, max(minute) AS m1 FROM e)
        |SELECT event_id, user_id, minute, event_type FROM e, b
        |WHERE user_id BETWEEN 10 AND 19
        |  AND minute BETWEEN m0 + (m1 - m0 + 1) // 4
        |                 AND m0 + (m1 - m0 + 1) // 4 + 1439
        |ORDER BY event_id""".stripMargin,
    // rollback to snapshot 1 == current read equals epoch 1 (offsets ≤ 5)
    "cdc_table_rollback" ->
      s"""SELECT $ordersProj
         |FROM ${wireSql("orders")} WHERE "offset" <= 5 ORDER BY kafka_offset""".stripMargin,
    // storage-level merge invariant: the upserted COW table equals
    // full-stream latest-state compaction (same oracle as cdc_latest_state)
    "cdc_merge_cow" ->
      s"""WITH p AS (SELECT $ordersProj
         |  FROM ${wireSql("orders")})
         |SELECT order_id, customer_id, order_date, status, total_amount,
         |  shipping_address, kafka_timestamp, topic, kafka_offset
         |FROM (SELECT *, row_number() OVER (PARTITION BY order_id
         |                                   ORDER BY kafka_offset DESC) AS rk
         |      FROM p WHERE order_id IS NOT NULL) t
         |WHERE rk = 1 ORDER BY order_id""".stripMargin,
    // manifest-derived history: appends carry their epoch's rows, the
    // compaction replace rewrites everything while changing nothing
    "cdc_table_history" ->
      s"""WITH w AS (SELECT
         |    count(*) FILTER (WHERE "offset" <= 5) AS e1,
         |    count(*) FILTER (WHERE "offset" >= 6) AS e2
         |  FROM ${wireSql("orders")})
         |SELECT CAST(1 AS BIGINT) AS snapshot_id, 'append' AS op,
         |  e1 AS rows_added, CAST(0 AS BIGINT) AS rows_deleted, e1 AS rows_live FROM w
         |UNION ALL SELECT 2, 'append', e2, 0, e1 + e2 FROM w
         |UNION ALL SELECT 3, 'replace', e1 + e2, 0, e1 + e2 FROM w
         |ORDER BY snapshot_id""".stripMargin,
    // time travel to snapshot 1 == full recompute of epoch 1 (offsets ≤ 5)
    "cdc_timetravel" ->
      s"""SELECT $ordersProj
         |FROM ${wireSql("orders")} WHERE "offset" <= 5 ORDER BY kafka_offset""".stripMargin,
    // partition-pruned day read == the plain WHERE over the full table
    // (pruning may only skip, never lose)
    "cdc_partition_pruned_read" ->
      """SELECT event_id, user_id, event_type,
        |  CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date
        |FROM events
        |WHERE CAST(ts AS DATE) = (SELECT min(CAST(ts AS DATE)) FROM events)
        |ORDER BY event_id""".stripMargin,
    // snapshot-diff after snapshot 1 == epoch 2 exactly (offsets ≥ 6);
    // the intervening compaction rewrite must contribute nothing
    "cdc_snapshot_diff" ->
      s"""SELECT $ordersProj
         |FROM ${wireSql("orders")} WHERE "offset" >= 6 ORDER BY kafka_offset""".stripMargin,
    "cdc_filter_completed" ->
      s"""SELECT $ordersProj
         |FROM ${wireSql("orders")}
         |WHERE json_extract_string(value, '$$.status') = 'COMPLETED'
         |ORDER BY kafka_offset""".stripMargin,
    "cdc_count_orders" ->
      s"""SELECT count(*) AS n FROM ${wireSql("orders")}""",
    "cdc_max_offset_orders" ->
      s"""SELECT max("offset") AS hwm FROM ${wireSql("orders")}""",
    "cdc_typed_orders" ->
      s"""SELECT CAST(json_extract_string(value, '$$.order_id') AS INTEGER) AS order_id,
         |  make_timestamp(CAST(json_extract_string(value, '$$.order_date') AS BIGINT)) AS order_date_ts,
         |  CAST(json_extract_string(value, '$$.total_amount') AS DECIMAL(10,2)) AS total_amount_dec,
         |  "offset" AS kafka_offset
         |FROM ${wireSql("orders")} ORDER BY kafka_offset""".stripMargin,
    "cdc_latest_state" ->
      s"""WITH p AS (SELECT $ordersProj
         |  FROM ${wireSql("orders")})
         |SELECT order_id, customer_id, order_date, status, total_amount,
         |  shipping_address, kafka_timestamp, topic, kafka_offset
         |FROM (SELECT *, row_number() OVER (PARTITION BY order_id
         |                                   ORDER BY kafka_offset DESC) AS rk
         |      FROM p WHERE order_id IS NOT NULL) t
         |WHERE rk = 1 ORDER BY order_id""".stripMargin,
    // the merge invariant IS the oracle: merging the watermark snapshot
    // with the post-watermark delta must reproduce full-stream compaction
    "cdc_merge_snapshot" ->
      s"""WITH p AS (SELECT $ordersProj
         |  FROM ${wireSql("orders")})
         |SELECT order_id, customer_id, order_date, status, total_amount,
         |  shipping_address, kafka_timestamp, topic, kafka_offset
         |FROM (SELECT *, row_number() OVER (PARTITION BY order_id
         |                                   ORDER BY kafka_offset DESC) AS rk
         |      FROM p WHERE order_id IS NOT NULL) t
         |WHERE rk = 1 ORDER BY order_id""".stripMargin,
    "cdc_scd2_history" ->
      s"""WITH p AS (SELECT $ordersProj
         |  FROM ${wireSql("orders")})
         |SELECT order_id, status, total_amount,
         |  kafka_offset AS valid_from_offset,
         |  lead(kafka_offset) OVER (PARTITION BY order_id
         |                           ORDER BY kafka_offset) AS valid_to_offset,
         |  lead(kafka_offset) OVER (PARTITION BY order_id
         |                           ORDER BY kafka_offset) IS NULL AS is_current
         |FROM p WHERE order_id IS NOT NULL
         |ORDER BY order_id, valid_from_offset""".stripMargin,
    // tombstone = null value; its key column identifies the deleted row
    "cdc_delete_aware_state" ->
      s"""WITH p AS (
         |  SELECT CAST(json_extract_string(value, '$$.order_id') AS INTEGER) AS order_id,
         |    CAST(json_extract_string(value, '$$.customer_id') AS INTEGER) AS customer_id,
         |    json_extract_string(value, '$$.status') AS status,
         |    json_extract_string(value, '$$.total_amount') AS total_amount,
         |    value IS NULL AS is_tombstone,
         |    coalesce(CAST(json_extract_string(value, '$$.order_id') AS INTEGER),
         |             CAST(json_extract_string(key, '$$.order_id') AS INTEGER)) AS pk,
         |    "offset" AS kafka_offset
         |  FROM ${wireSql("orders_del")})
         |SELECT order_id, customer_id, status, total_amount, kafka_offset
         |FROM (SELECT *, row_number() OVER (PARTITION BY pk
         |                                   ORDER BY kafka_offset DESC) AS rk
         |      FROM p) t
         |WHERE rk = 1 AND NOT is_tombstone
         |ORDER BY order_id""".stripMargin,
    // the maintenance invariant IS the oracle: the incrementally
    // maintained grouped view must equal a full recompute over the
    // compacted stream
    "cdc_incremental_agg" ->
      s"""WITH p AS (SELECT $ordersProj
         |  FROM ${wireSql("orders")}),
         |c AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY order_id
         |                                   ORDER BY kafka_offset DESC) AS rk
         |      FROM p WHERE order_id IS NOT NULL) t WHERE rk = 1)
         |SELECT status, count(*) AS n_orders,
         |  CAST(sum(CAST(total_amount AS DECIMAL(10,2))) AS DOUBLE) AS total_amount
         |FROM c GROUP BY status ORDER BY status""".stripMargin,
    // additive schema evolution: old-epoch rows null-fill the columns the
    // narrow schema lacked; name-based union is what makes this safe
    "cdc_schema_drift" ->
      s"""WITH p AS (SELECT $ordersProj
         |  FROM ${wireSql("orders")})
         |SELECT order_id, CAST(NULL AS INTEGER) AS customer_id, status,
         |  total_amount, CAST(NULL AS VARCHAR) AS shipping_address, kafka_offset
         |FROM p WHERE kafka_offset <= 5
         |UNION ALL
         |SELECT order_id, customer_id, status, total_amount,
         |  shipping_address, kafka_offset
         |FROM p WHERE kafka_offset >= 6
         |ORDER BY kafka_offset""".stripMargin,
    // widened merge: epoch 1 history arrives under the LUB types with the
    // rename applied and the added column null-filled
    "cdc_schema_drift_widening" ->
      s"""WITH p AS (SELECT $ordersProj
         |  FROM ${wireSql("orders")})
         |SELECT CAST(order_id AS BIGINT) AS order_id, status,
         |  round(CAST(total_amount AS DOUBLE), 4) AS amount,
         |  shipping_address, kafka_offset, CAST(NULL AS INTEGER) AS customer_id
         |FROM p WHERE kafka_offset <= 5
         |UNION ALL
         |SELECT CAST(order_id AS BIGINT), status,
         |  round(CAST(total_amount AS DOUBLE), 4),
         |  shipping_address, kafka_offset, customer_id
         |FROM p WHERE kafka_offset >= 6
         |ORDER BY kafka_offset""".stripMargin,
    // the v1→v2 transition: one rename, one addition, two widenings, all
    // carrying epoch v2's row count
    "cdc_schema_drift_report" ->
      s"""WITH n2 AS (SELECT count(*) AS n_rows FROM ${wireSql("orders")}
         |            WHERE "offset" >= 6)
         |SELECT * FROM (
         |  SELECT 'v2' AS epoch, 'shipping_address' AS "column",
         |    'renamed' AS change, 'address' AS from_val,
         |    'shipping_address' AS to_val, n_rows FROM n2
         |  UNION ALL SELECT 'v2', 'customer_id', 'added', NULL, 'int', n_rows FROM n2
         |  UNION ALL SELECT 'v2', 'order_id', 'widened', 'int', 'bigint', n_rows FROM n2
         |  UNION ALL SELECT 'v2', 'amount', 'widened', 'decimal(10,2)',
         |    'decimal(12,4)', n_rows FROM n2
         |) ORDER BY epoch, "column", change""".stripMargin,
    "cdc_reconcile_checksums" ->
      Seq("customers", "order_items", "orders", "products").map(checksumSql)
        .mkString("", "\nUNION ALL\n", "\nORDER BY tbl"),
    "cdc_reconcile_counts" ->
      s"""SELECT 'customers' AS tbl, count(*) AS n FROM ${wireSql("customers")}
         |UNION ALL SELECT 'order_items', count(*) FROM ${wireSql("order_items")}
         |UNION ALL SELECT 'orders', count(*) FROM ${wireSql("orders")}
         |UNION ALL SELECT 'products', count(*) FROM ${wireSql("products")}
         |ORDER BY tbl""".stripMargin,
    "cdc_unknown_table_fallback" ->
      s"""SELECT CAST(CASE WHEN json_valid(value) THEN json_extract_string(value, '$$.order_id') END AS INTEGER) AS order_id,
         |  CAST(CASE WHEN json_valid(value) THEN json_extract_string(value, '$$.customer_id') END AS INTEGER) AS customer_id,
         |  CAST(CASE WHEN json_valid(value) THEN json_extract_string(value, '$$.order_date') END AS BIGINT) AS order_date,
         |  CASE WHEN json_valid(value) THEN json_extract_string(value, '$$.status') END AS status,
         |  CASE WHEN json_valid(value) THEN json_extract_string(value, '$$.total_amount') END AS total_amount,
         |  CASE WHEN json_valid(value) THEN json_extract_string(value, '$$.shipping_address') END AS shipping_address,
         |  "timestamp" AS kafka_timestamp, topic, "offset" AS kafka_offset
         |FROM ${wireSql("weird")} ORDER BY kafka_offset""".stripMargin,
    "cdc_dlq_split" ->
      s"""SELECT "offset" AS kafka_offset, value AS raw_value,
         |  CASE WHEN value IS NULL THEN 'tombstone'
         |       WHEN NOT json_valid(value) THEN 'corrupt'
         |       ELSE 'ok' END AS kind
         |FROM ${wireSql("weird")} ORDER BY kafka_offset""".stripMargin
  )
}
