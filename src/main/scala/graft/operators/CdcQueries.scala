package graft.operators

import graft.{Dec, QueryGroup}
import graft.sources.{AvroWire, Tables}
import graft.streaming.{BucketedJoinView, IncrementalJoinView,
  IncrementalMinMax, IncrementalView}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One unwrapped insert row as fed to the warehouse sink (the
  * `cdc_sink_warehouse` micro-batch feed element; `month` is the
  * PHYSICAL partition column the sink lays the table out by, `day` a
  * data column (parquet min/max row-group stats still skip files on a
  * day predicate). Partition grain is a FILE-COUNT decision, the same
  * data-volume rule as shuffle width: every micro-batch opens one file
  * per touched partition dir, so day-grain × thousands of covered days
  * explodes into tiny files (measured: 2406 day dirs × 4 batches ≈
  * 10k files, 123 s at sf0.1) while month-grain bounds the fan-out
  * (~81 dirs) and keeps the pruning a downstream read wants. */
final case class WarehouseFeedRow(
    o_orderkey: Long,
    o_custkey: Long,
    o_totalprice: String,
    o_orderdate_us: Long,
    day: String,
    month: String)

/** Driver-checkable queries for the CDC core (SURVEY.md §2.C ops 2, 3, 18
  * and the §7.2 end-to-end slice). The change log is synthesized
  * deterministically from `orders` (see [[CdcOps.synthOrdersChangelog]]),
  * so every oracle is plain SQL over the same table. */
object CdcQueries extends QueryGroup {
  import OracleSql._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // op 2: envelope parse — event counts by op (tombstones pass through).
    // Reads the bronze (parsed-once) changelog; the first consumer pays
    // the decode, exactly like the deployed parse-once topology.
    "cdc_parse_counts" -> ((s, dir) => {
      CdcOps.parsedOrders(s, dir)
        .groupBy(coalesce(col("env.op"), lit("tombstone")).as("op"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("op")
    }),

    // op 3 (B1): topic → table routing via the configured RegexRouter regex
    "cdc_route" -> ((s, dir) => {
      CdcOps.route(CdcOps.parsedOrders(s, dir))
        .select(col("topic"), col("tbl")).distinct().orderBy("topic")
    }),

    // op 3 (B2-B4): unwrap with delete-rewrite; all non-tombstone events
    "cdc_unwrap" -> ((s, dir) => {
      CdcOps.ordersUnwrapped(s, dir)
        .filter(!col("_tombstone"))
        .select("tbl", "o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate_us", "o_orderpriority", "__deleted",
          "_op")
        .orderBy("o_orderkey", "_op", "__deleted")
    }),

    // op 18: latest-by-key compaction → current orders state
    "cdc_compact" -> ((s, dir) => {
      CdcOps.ordersCompacted(s, dir)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate_us", "o_orderpriority")
        .orderBy("o_orderkey")
    }),

    // POINT-IN-TIME REPLAY (time travel): the table's state AS OF an LSN
    // cutoff — the recovery/debug/audit op every changelog deployment
    // has (replay the archive up to position X and diff against the
    // corrupted downstream). Same unwrap + latest-by-key compaction as
    // cdc_compact, applied to the `_lsn ≤ cutoff` PREFIX of the log:
    // events past the cutoff — later updates, later deletes — must be
    // invisible, so keys deleted after the cutoff are PRESENT here and
    // keys updated after it show their pre-update row. Cutoff = 60% of
    // the key range in lsn units (max(o_orderkey)·6 — a bounded scalar
    // broadcast, exact in both engines). Scale shape: the lsn filter
    // pushes into the scan; one keyed window, as every compaction.
    "cdc_time_travel" -> ((s, dir) => {
      val cut = Tables.scan(s, dir, "orders")
        .agg((max(col("o_orderkey")) * 6).as("_cut"))
      val asOf = CdcOps.ordersUnwrapped(s, dir)
        .crossJoin(broadcast(cut))
        .filter(col("_lsn") <= col("_cut"))
      CdcOps.compactLatest(asOf,
        keys = Seq("o_orderkey"), ordering = Seq(col("_lsn").desc))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate_us", "o_orderpriority")
        .orderBy("o_orderkey")
    }),

    // DELIVERY-COMPLETENESS AUDIT — the pipeline-operations check every
    // at-least-once CDC consumer runs: against the changelog archive
    // (source of truth), a delivered copy is audited for LOST positions
    // (never delivered) and REPLAYED positions (delivered more than
    // once). The degraded copy is synthesized deterministically — drop
    // lsn%97==13 (a lost batch), re-deliver lsn%101==7 (an at-least-once
    // replay) — and the audit must RECOVER exactly those sets by
    // grouping the delivered stream per lsn and full-outer-joining
    // against the source positions: one hash shuffle on lsn (the audit
    // key), then a per-table rollup — the same two-stage shape at 100 TB,
    // where the lsn-grain join is the only data-sized exchange and the
    // report is table-grain. Tombstones carry no position and are
    // excluded on both sides.
    "cdc_delivery_audit" -> ((s, dir) => {
      val src = CdcOps.parsedOrders(s, dir)
        .filter(col("env.op").isNotNull)
        .select(col("env.source.table").as("tbl"),
          col("env.source.lsn").as("lsn"))
      // audit unit = the POSITION set (the archive itself already holds
      // upstream at-least-once copies — k%20 updates arrive twice); the
      // delivered side keeps every copy, so dc counts total deliveries
      val srcPos = src.distinct()
      val delivered = src.filter(!(col("lsn") % 97 === 13))
        .unionAll(src.filter(col("lsn") % 101 === 7 &&
          !(col("lsn") % 97 === 13)))
      val dcnt = delivered.groupBy("tbl", "lsn")
        .agg(count(lit(1)).as("dc"))
      srcPos.join(dcnt, Seq("tbl", "lsn"), "left_outer")
        .groupBy("tbl")
        .agg(count(lit(1)).as("n_source"),
          sum(coalesce(col("dc"), lit(0L))).cast("long").as("n_delivered"),
          sum(when(col("dc") > 1, 1L).otherwise(0L)).cast("long")
            .as("n_dup_lsns"),
          sum(when(col("dc").isNull, 1L).otherwise(0L)).cast("long")
            .as("n_missing"),
          min(when(col("dc").isNull, col("lsn"))).as("min_missing_lsn"),
          max(when(col("dc").isNull, col("lsn"))).as("max_missing_lsn"))
        .orderBy("tbl")
    }),

    // CHUNK-HASH RECONCILIATION — the source-vs-target data-verification
    // pass run after a backfill or suspected divergence (the operational
    // companion of incremental snapshots): both sides digest rows
    // MAP-SIDE into a 48-bit content hash, aggregate (count, hash-sum)
    // per pk-range CHUNK, and only chunk fingerprints cross the wire —
    // at 100 TB the exchange is chunks (thousands of rows), never data.
    // Mismatched chunks localize the damage to a pk range the operator
    // can re-snapshot (the report below IS that range list). Target
    // drift is synthesized deterministically: key%127==9 missing
    // downstream, key%113==5 corrupted (price zeroed).
    "cdc_reconcile" -> ((s, dir) => {
      def digest(df: DataFrame): DataFrame = df
        .select((col("o_orderkey") / 512).cast("long").as("chunk"),
          conv(substring(md5(concat_ws("|",
            col("o_orderkey").cast("string"), col("o_orderstatus"),
            col("o_totalprice"))), 1, 12), 16, 10)
            .cast("long").as("d"))
        .groupBy("chunk")
        .agg(count(lit(1)).as("cnt"), sum(col("d")).as("hsum"))
      // materialize the compacted state once: both digest branches read
      // it (a production reconciler reads two PERSISTED tables — the
      // recompute-per-branch of the compaction window is a fixture
      // artifact, not part of the operator); 3 narrow columns, so the
      // checkpoint is small at any SF
      val state = CdcOps.ordersCompacted(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .localCheckpoint()
      val srcC = digest(state)
      val tgtC = digest(state
        .filter(!(col("o_orderkey") % 127 === 9))
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 113 === 5, lit("0.00"))
            .otherwise(col("o_totalprice"))))
      srcC.join(tgtC.withColumnRenamed("cnt", "t_cnt")
          .withColumnRenamed("hsum", "t_hsum"), Seq("chunk"), "full_outer")
        .filter(coalesce(col("cnt"), lit(-1L)) =!=
            coalesce(col("t_cnt"), lit(-1L)) ||
          coalesce(col("hsum"), lit(-1L)) =!=
            coalesce(col("t_hsum"), lit(-1L)))
        .select(col("chunk"),
          coalesce(col("cnt"), lit(0L)).as("src_cnt"),
          coalesce(col("t_cnt"), lit(0L)).as("tgt_cnt"),
          (coalesce(col("cnt"), lit(0L)) - coalesce(col("t_cnt"), lit(0L)))
            .as("cnt_diff"))
        .orderBy("chunk")
    }),

    // GTID-SET coverage (MySQL semantics; public Debezium/MySQL GTID
    // format "uuid:1-5:8-12"): from the observed per-server transaction
    // ids, RECONSTRUCT the interval-encoded GTID set — the islands
    // computation a replication monitor runs to answer "which
    // transactions has this replica actually got, and where are the
    // holes". Fixture: 3 source servers (k%3), dense per-server txids
    // (k div 3), ~1.1% deterministic holes (k%89==7 lost). One windowed
    // islands pass per server (grp = txid − row_number, the standard
    // O(n) gaps-and-islands), then the range strings aggregate
    // ORDER-STABLY via sort_array(collect_list(struct)) — ranges per
    // server ≈ holes + 1, so the reconstructed set string is
    // holes-sized, not transaction-sized, at any scale.
    "cdc_gtid_coverage" -> ((s, dir) => {
      val tx = Tables.scan(s, dir, "orders")
        .filter(!(col("o_orderkey") % 89 === 7))
        .select(concat(lit("s"), (col("o_orderkey") % 3).cast("string"))
            .as("server_uuid"),
          expr("o_orderkey div 3").as("t"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("server_uuid").orderBy("t")
      val isl = tx.withColumn("grp", col("t") - row_number().over(w))
        .groupBy("server_uuid", "grp")
        .agg(min(col("t")).as("lo"), max(col("t")).as("hi"),
          count(lit(1)).as("n"))
        .withColumn("rs", when(col("lo") === col("hi"),
            col("lo").cast("string"))
          .otherwise(concat(col("lo").cast("string"), lit("-"),
            col("hi").cast("string"))))
      isl.groupBy("server_uuid")
        .agg(array_join(expr(
            "transform(sort_array(collect_list(struct(lo, rs))), " +
              "x -> x.rs)"), ":").as("ranges_str"),
          count(lit(1)).as("n_ranges"), sum(col("n")).as("n_txns"),
          min(col("lo")).as("lo0"), max(col("hi")).as("hi1"))
        .select(col("server_uuid"),
          concat(col("server_uuid"), lit(":"), col("ranges_str"))
            .as("gtid_set"),
          col("n_ranges"), col("n_txns"),
          (col("hi1") - col("lo0") + 1 - col("n_txns")).as("n_holes"))
        .orderBy("server_uuid")
    }),

    // A2: MySQL-connector compaction — binlog (file, pos) ordering across
    // a log rotation. The fixture's updates have numerically smaller pos
    // than their inserts (later file), so pos-only ordering would pick the
    // stale insert and fail the oracle's hash compare. The file half
    // orders by the parsed numeric suffix (`_file_seq`) — raw-string
    // ordering inverts when the suffix rolls past 6 digits
    // (MySqlOrderingSpec proves the counterfactual).
    "cdc_compact_mysql" -> ((s, dir) => {
      val un = CdcOps.unwrap(CdcOps.parsedOrdersMySql(s, dir))
      CdcOps.compactLatest(un,
        keys = Seq("o_orderkey"),
        ordering = Seq(col("_file_seq").desc, col("_pos").desc))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate_us", "o_orderpriority")
        .orderBy("o_orderkey")
    }),

    // A3: MongoDB-connector compaction — change-stream envelope variant
    // (document as JSON string, delete = key-only event) through the
    // unified parse seam; ordering key is Mongo's (ts_ms, ord), with ord
    // riding the integer-position slot (_pos). Same fixture event mix →
    // same oracle as cdc_compact.
    "cdc_compact_mongo" -> ((s, dir) => {
      val un = CdcOps.unwrap(CdcOps.parsedOrdersMongo(s, dir))
      CdcOps.compactLatest(un,
        keys = Seq("o_orderkey"),
        ordering = Seq(col("_ts_ms").desc, col("_pos").desc))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate_us", "o_orderpriority")
        .orderBy("o_orderkey")
    }),

    // A4: snapshot-then-stream — op='r' bulk snapshot (lsn=0) ∪ WAL tail
    // (updates/deletes only, no base inserts); compaction must let the
    // tail supersede snapshot rows per key. Same expected state as
    // cdc_compact, reached via the other capture path.
    "cdc_snapshot_union" -> ((s, dir) => {
      val un = CdcOps.unwrap(CdcOps.parsedOrdersSnapshot(s, dir)
        .unionByName(CdcOps.parsedOrdersTail(s, dir)))
      CdcOps.compactLatest(un,
        keys = Seq("o_orderkey"), ordering = Seq(col("_lsn").desc))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate_us", "o_orderpriority")
        .orderBy("o_orderkey")
    }),

    // op 18's history-preserving twin: SCD type-2 materialization. Latest-
    // state compaction keeps one row per key; the warehouse history table
    // keeps EVERY version with its validity interval — [valid_from,
    // valid_to) in source LSN order, open (null, is_current) for the live
    // version, and a delete closes the last interval without opening one.
    // One hash shuffle (the per-key window); replay-safe WITHOUT a
    // distinct: an at-least-once duplicate has the same (key, lsn), so it
    // surfaces as a zero-width interval (valid_from = valid_to) and is
    // dropped — genuine versions always have distinct LSNs, so no real
    // interval is ever zero-width.
    "cdc_scd2" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderkey").orderBy("_lsn")
      CdcOps.ordersUnwrapped(s, dir)
        .filter(!col("_tombstone"))
        .withColumn("valid_to", lead(col("_lsn"), 1).over(w))
        .filter(col("_op") =!= "d"
          && !(col("valid_to") <=> col("_lsn"))) // replay → zero-width
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("_lsn").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.cast("int").as("is_current"))
        .orderBy("o_orderkey", "valid_from")
    }),

    // POINT-IN-TIME join against the SCD2 dimension — the bitemporal
    // consumer op: every fact carries a replay POSITION and must see the
    // dimension version valid AT that position, not current state (the
    // "as the consumer replaying at p saw it" contract an audit/backfill
    // needs). Facts = lineitem rows at pos = 10·l_orderkey +
    // (3·l_linenumber mod 12), spanning before/inside/after each order's
    // version boundaries; dimension = the same SCD2 build as cdc_scd2.
    // Versions per key are bounded (≤3 — one per change event), so the
    // PIT join is an ordinary keyed equi-join with a residual interval
    // predicate: one hash/SMJ shuffle on the key, NO range-join
    // machinery needed at any scale. LEFT join surfaces post-delete
    // positions as NULL-dimension facts (the row was gone at p).
    "join_scd2_pit" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderkey").orderBy("_lsn")
      val dim = CdcOps.ordersUnwrapped(s, dir)
        .filter(!col("_tombstone"))
        .withColumn("valid_to", lead(col("_lsn"), 1).over(w))
        .filter(col("_op") =!= "d"
          && !(col("valid_to") <=> col("_lsn")))
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("_lsn").as("valid_from"), col("valid_to"))
      val f = Tables.scan(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_orderkey") * 10 + pmod(col("l_linenumber") * 3, lit(12)))
            .as("pos"))
      f.join(dim,
          col("l_orderkey") === col("o_orderkey") &&
            col("pos") >= col("valid_from") &&
            (col("valid_to").isNull || col("pos") < col("valid_to")),
          "left")
        .select(col("l_orderkey"), col("l_linenumber"), col("pos"),
          col("o_orderstatus"), col("valid_from"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // dead-letter routing: the corrupt-record path every at-least-once
    // pipeline needs. A changelog with a deterministic malformed minority
    // flows through the SAME parse as everything else; records the parser
    // flags `_corrupt` (non-null value, unparseable envelope) are routed
    // to the DLQ projection — key recovered from the (intact) record key,
    // payload length for triage — instead of flowing into unwrap as
    // all-null live rows. Map-side end to end: parse, flag, filter,
    // project; no shuffle before the harness ORDER BY.
    "cdc_dead_letter" -> ((s, dir) => {
      val bad = graft.sources.Debezium.parseEnvelope(
        CdcOps.synthOrdersCorruptTail(s, dir),
        graft.sources.Debezium.ordersRowSchema)
      CdcOps.parsedOrders(s, dir).unionByName(bad)
        .filter(col("_corrupt"))
        .select(
          get_json_object(col("key"), "$.o_orderkey").cast("long")
            .as("o_orderkey"),
          length(col("value")).as("payload_chars"))
        .orderBy("o_orderkey")
    }),

    // DLQ REPLAY — the operational complement of `cdc_dead_letter` (the
    // errors.tolerance → DLQ → reprocess loop every Connect deployment
    // runs): the first delivery of the %97 insert envelopes arrived
    // TRUNCATED and was dead-lettered, so first-pass state is missing
    // those inserts; the upstream then re-publishes the REPAIRED records
    // — under an EVOLVED producer schema (`ADD COLUMN o_note text`,
    // applied to the consumer registry via SchemaEvolution.evolve) and
    // at-least-once (each repaired record delivered twice) — and the
    // replay re-enters compaction EXACTLY-ONCE: the (key, lsn) window
    // collapses the duplicate deliveries, a replayed insert can never
    // resurrect a delete (the delete's lsn is higher), and the final
    // state equals the never-corrupted run (the cdc_compact oracle) plus
    // the repair marker on exactly the keys whose current version IS the
    // replayed insert. Replay is DRIVEN BY the DLQ (left-semi on the
    // dead-letter keys), not by re-reading the topic.
    "cdc_dlq_replay" -> ((s, dir) =>
      dlqReplayState(s, dir, deliveries = 2)
        .orderBy("o_orderkey")),

    // A7/A10: the idempotent upsert-by-key SINK graded end-to-end — the
    // changelog driven through Sinks.upsertBatch in two micro-batches
    // (inserts, then the update/delete tail incl. the at-least-once
    // replays) into the hash-bucketed keyed state table, then read back.
    // Highest-position wins per key, so a delete's __deleted rewrite row
    // (the key's max lsn) IS the winner for deleted keys and the live
    // filter at read time yields exactly the compacted current state —
    // the same oracle as cdc_compact, reached through the SINK layout
    // (bucket pruning, two-phase publish) instead of the in-query window.
    "cdc_sink_upsert" -> ((s, dir) =>
      standing(s, dir, "upsert").orderBy("o_orderkey")),

    // A8/A9 GRADED — the warehouse sink round trip: the insert slice of
    // the changelog streamed through [[graft.streaming.Sinks
    // .appendWarehouse]] in REAL micro-batches (Append mode, parquet
    // files + checkpoint — exactly-once per file commit) into a
    // MONTH-PARTITIONED table, then read BACK and aggregated. The graded
    // facts: the append is lossless (per-day counts/sums/distincts equal
    // the source slice) and the layout is the pruning layout a
    // downstream read wants (month is a physical partition column —
    // PlanSpec asserts PartitionFilters on a month-bounded read; day
    // predicates still skip at the FILE level via parquet min/max
    // stats). See [[WarehouseFeedRow]] for why the grain is month, not
    // day: partition grain bounds files-per-micro-batch. The ClickHouse
    // sink (A9) shares this path verbatim (a format/url swap when a
    // server exists). Chunk size = |slice|/4 so the feed is ≥4
    // micro-batches at EVERY sf, not one bulk load.
    "cdc_sink_warehouse" -> ((s, dir) =>
      standing(s, dir, "warehouse").orderBy("day")),

    // A11 GRADED — the Kafka re-publish SHAPE as an oracle-checked fact:
    // [[graft.streaming.Sinks.toKafkaShape]] turns the compacted current
    // state into (key, value) JSON records — key = PK JSON, value = row
    // JSON — which is everything `writeStream.format("kafka")` needs
    // (the broker swap is one line and stays spec/wiring territory, A6).
    // The oracle rebuilds the EXACT JSON text by concatenation: Spark's
    // to_json emits compact JSON in struct-field order with no spaces,
    // and every graded field is a long or a string (the decimal-as-string
    // type mode keeps o_totalprice textual), so the bytes are fully
    // deterministic cross-engine. %4=1 slice: shape, not bulk, is the
    // graded surface.
    "cdc_kafka_shape" -> ((s, dir) => {
      import graft.streaming.Sinks
      val cur = CdcOps.ordersCompacted(s, dir)
        .filter(col("o_orderkey") % 4 === 1)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      Sinks.toKafkaShape(cur, Seq("o_orderkey"))
        .orderBy("key")
    }),

    // A5: schema evolution graded end-to-end — the registry starts at the
    // PRE-DDL shape (o_custkey still INT), three DDLs evolve it (DROP
    // o_orderpriority, widen o_custkey int→bigint, ADD note), and the
    // PRE-DDL insert envelopes are parsed under the EVOLVED schema. The
    // forward-compat contract is the result: every envelope still parses
    // (row count = orders count — nothing dead-lettered), the widened
    // column reads its narrow values losslessly (sum matches the base
    // table), the added column is null everywhere (n_notes = 0), and the
    // dropped column is gone from the output schema. The oracle states
    // all of that declaratively over `orders`.
    "cdc_schema_evolution" -> ((s, dir) => {
      import graft.sources.{Debezium, SchemaEvolution}
      import org.apache.spark.sql.types.{IntegerType, StructType}
      val narrow = StructType(Debezium.ordersRowSchema.fields.map(f =>
        if (f.name == "o_custkey") f.copy(dataType = IntegerType) else f))
      val evolved = SchemaEvolution.evolve(
        Map("orders" -> narrow),
        Seq("ALTER TABLE orders DROP COLUMN o_orderpriority",
          "ALTER TABLE orders ALTER COLUMN o_custkey TYPE bigint",
          "ALTER TABLE orders ADD COLUMN note text"))("orders")
      Debezium.parseEnvelope(CdcOps.synthOrdersChangelog(s, dir), evolved)
        .filter(col("env.op") === "c")
        .select(col("env.after.*"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_custkey")).as("sum_custkey"),
          count(col("note")).as("n_notes"))
        .orderBy("o_orderstatus")
    }),

    // Op 41, Spark-4 form, graded end-to-end: the same changelog driven
    // through [[graft.streaming.TwsCompaction]] (transformWithState over
    // the RocksDB state store — the state path a 100 TB keyed-state
    // deployment runs) as four real micro-batches, then the Update-mode
    // emissions folded to final state. Same oracle predicate as
    // cdc_compact, reached through the modern stateful API instead of the
    // in-query window — proving the two compaction paths agree on real
    // data, not just the spec fixtures.
    "cdc_compact_tws" -> ((s, dir) => {
      import graft.streaming.{KeyedChange, TwsCompaction}
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.OutputMode
      import s.implicits._
      val payloadCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate_us", "o_orderpriority")
      // keyed subset (o_orderkey % 5 = 0, same rationale as
      // cdc_sink_upsert): MemoryStream is driver-fed by construction —
      // the production feed is the Kafka source — so the graded slice is
      // bounded; tombstones carry no row and are dropped before keying
      // lsn order computed on EXECUTORS (sort before the driver sees a
      // row); the driver then streams the result through toLocalIterator
      // in bounded chunks, so its live allocation is O(chunk), not
      // O(slice) — the whole-slice collect()+sortBy this replaces was
      // ~10⁵ rows through the driver at sf1 and grows with sf.
      val keyed = CdcOps.ordersUnwrapped(s, dir)
        .filter(!col("_tombstone") && col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey").as("key"), col("_lsn").as("lsn"),
          (col("__deleted") === "true").as("deleted"),
          to_json(struct(payloadCols.map(col): _*)).as("payload"))
        .as[KeyedChange].sort("lsn")
      val total = keyed.count()
      // chunk = micro-batch size: ≥2 batches at every sf (cross-batch
      // state is exercised by the graded path, not just the spec), capped
      // at 64k rows so driver memory stays bounded at any sf. Fewer,
      // larger batches than the old fixed-4 split: each micro-batch is a
      // full RocksDB open+commit across every state partition, pure
      // per-batch overhead that dominated this query's bench time.
      val chunk = math.max(1L, math.min(65536L, total / 2 + 1)).toInt
      // The stream runs on its own session clone with the RocksDB
      // provider and state width 4 (r16 A/B: 8→4 measured 2.63→2.00 s,
      // 4→2 regressed to 2.31 — commit fan-out vs per-store work
      // crosses over): a stateful query's state-store count is sized
      // to the STATE volume, not the session's analytic shuffle width
      // — every instance is a live RocksDB opened+committed per
      // micro-batch. A production deployment makes the same call per
      // stateful job (state partitions ≈ state size / target store
      // size).
      // NOT set: rocksdb.changelogCheckpointing (r17 A/B, 5-rep
      // subset min: 2.41 → 2.75 s WITH changelog on) — with 2
      // micro-batches × 4 tiny stores the full snapshot per commit
      // is already small and the changelog layer is pure extra
      // bookkeeping; at production state sizes (GB-scale stores,
      // many batches) it is the right flag, here it measures worse
      graft.Sessions.scoped(s,
          "spark.sql.streaming.stateStore.providerClass" ->
            ("org.apache.spark.sql.execution.streaming.state." +
              "RocksDBStateStoreProvider"),
          "spark.sql.shuffle.partitions" -> "4") { c =>
        val sinkName = "graft_tws_compact"
        val in = MemoryStream[KeyedChange](c)
        val q = TwsCompaction.compact(in.toDS())
          .writeStream.format("memory").queryName(sinkName)
          .outputMode(OutputMode.Update).start()
        import scala.jdk.CollectionConverters._
        keyed.toLocalIterator().asScala.grouped(chunk).foreach {
          b => in.addData(b.toIndexedSeq: _*); q.processAllAvailable()
        }
        // fold Update-mode emissions to final state: max (lsn, deleted)
        // per key — the processor's own rank — then drop deleted keys
        c.table(sinkName)
          .groupBy(col("key"))
          .agg(max(struct(col("lsn"), col("deleted"), col("payload")))
            .as("st"))
          .filter(!col("st.deleted"))
          .select(from_json(col("st.payload"),
            graft.sources.Debezium.ordersRowSchema).as("row"))
          .select(payloadCols.map(c => col(s"row.$c")): _*)
          .orderBy("o_orderkey")
      }
    }),

    // A5 continued: RENAME COLUMN + narrowing rejection graded end-to-end.
    // The DDL stream renames o_totalprice → o_amount and then attempts a
    // NARROWING o_custkey bigint→int, which the registry must
    // log-and-ignore (asserted inline — a silently applied narrowing
    // would throw here and the entry would grade red). Pre-DDL insert
    // envelopes still carry the OLD field name — a rename is metadata in
    // the source database, old events are never rewritten — so parsing
    // under the evolved registry augments the schema with the
    // original-name twin from [[SchemaEvolution.renameLineage]] and
    // coalesces new ← old. The oracle states the contract over `orders`:
    // every old envelope's o_totalprice value flows into o_amount.
    "cdc_schema_rename" -> ((s, dir) => {
      import graft.sources.{Debezium, SchemaEvolution}
      import org.apache.spark.sql.types.{LongType, StructType}
      val ddls = Seq(
        "ALTER TABLE orders RENAME COLUMN o_totalprice TO o_amount",
        "ALTER TABLE orders ALTER COLUMN o_custkey TYPE int")
      val evolved = SchemaEvolution.evolve(
        Map("orders" -> Debezium.ordersRowSchema), ddls)("orders")
      require(evolved("o_custkey").dataType == LongType,
        "narrowing DDL must be rejected, not applied")
      require(evolved.fieldNames.contains("o_amount")
        && !evolved.fieldNames.contains("o_totalprice"))
      val lineage = SchemaEvolution.renameLineage(
        Map("orders" -> Debezium.ordersRowSchema), ddls)
        .getOrElse("orders", Map.empty)
      val withOldNames = StructType(evolved.fields ++ lineage.collect {
        case (to, from) if from != to =>
          evolved.fields.find(_.name == to).get.copy(name = from)
      })
      val parsed = Debezium
        .parseEnvelope(CdcOps.synthOrdersChangelog(s, dir), withOldNames)
        .filter(col("env.op") === "c")
        .select(col("env.after.*"))
      val aliased = lineage.foldLeft(parsed) { case (df, (to, from)) =>
        if (from == to) df
        else df.withColumn(to, coalesce(col(to), col(from))).drop(from)
      }
      aliased.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum((col("o_amount").cast("decimal(12,2)") * 100).cast("long"))
            .as("amount_cents"),
          sum(col("o_custkey")).as("sum_custkey"))
        .orderBy("o_orderstatus")
    }),

    // A12 over the WIRE: provisioning through the Kafka-Connect-shaped
    // REST facade ([[graft.ConnectRest]]) instead of the programmatic
    // builder — the exact flow the reference's setup job runs (curl -X
    // POST :8083/connectors with the Debezium connector JSON, then poll
    // status). The accepted config materializes the same
    // CdcPipelineConfig the builder would produce, and the graded result
    // is that pipeline's compacted `orders` state over a keyed subset of
    // the fixture changelog (o_orderkey % 5 = 0, the subset that carries
    // every op kind incl. the %10-keyed updates/replays, selected via the
    // raw record KEY — a tiny-JSON probe per record, no envelope parse;
    // the REST path grades the control plane, compaction-at-volume is
    // cdc_compact's job). Same oracle predicate as cdc_compact
    // restricted to the subset. ConnectRestSpec covers the endpoint
    // surface
    // (list/get/status/pause/resume/delete, 400/404/409 discipline).
    "cdc_rest_provision" -> ((s, dir) => {
      import graft.sources.Debezium
      val server = graft.ConnectRest.start(
        schemas = Map("orders" -> Debezium.ordersRowSchema),
        keys = Map("orders" -> Seq("o_orderkey")))
      try {
        val body =
          """{"name": "postgres-orders",
            | "config": {
            |  "connector.class": "io.debezium.connector.postgresql.PostgresConnector",
            |  "table.include.list": "public.orders",
            |  "topic.prefix": "prod.postgres",
            |  "decimal.handling.mode": "string",
            |  "time.precision.mode": "adaptive_time_microseconds",
            |  "transforms": "route,unwrap",
            |  "transforms.unwrap.drop.tombstones": "false",
            |  "transforms.unwrap.delete.handling.mode": "rewrite"
            |}}""".stripMargin
        val client = java.net.http.HttpClient.newHttpClient()
        val post = java.net.http.HttpRequest.newBuilder()
          .uri(java.net.URI.create(
            s"http://127.0.0.1:${server.port}/connectors"))
          .header("Content-Type", "application/json")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
          .build()
        val resp = client.send(post,
          java.net.http.HttpResponse.BodyHandlers.ofString())
        require(resp.statusCode() == 201,
          s"provisioning failed: ${resp.statusCode()} ${resp.body()}")
        val status = client.send(
          java.net.http.HttpRequest.newBuilder().uri(java.net.URI.create(
            s"http://127.0.0.1:${server.port}/connectors/postgres-orders/status"))
            .GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        require(status.statusCode() == 200
          && status.body().contains("\"RUNNING\""),
          s"connector not RUNNING: ${status.body()}")
        val cfg = server.pipelineConfig("postgres-orders")
          .getOrElse(sys.error("registered connector missing"))
        val raw = CdcOps.synthOrdersChangelog(s, dir)
          .filter(get_json_object(col("key"), "$.o_orderkey")
            .cast("long") % 5 === 0)
        new graft.CdcPipeline(cfg).table(raw, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate_us", "o_orderpriority")
          .orderBy("o_orderkey")
      } finally server.close()
    }),

    // Connect pause/resume wired to the DATA PLANE: the connector is
    // provisioned and paused/resumed over the real REST wire, and the
    // shared ConnectorGate gates CdcPipeline emission — window 1
    // (inserts, lsn%10=0) flows while RUNNING; window 2 (updates,
    // deletes, tombstones) is attempted while PAUSED and MUST emit zero
    // rows (asserted inline — a leaky gate grades red); after resume the
    // same window flows in full. Final state equals the never-paused
    // run's: pause defers, never drops — exactly Connect's contract.
    "cdc_pause_resume" -> ((s, dir) => {
      import graft.sources.Debezium
      val server = graft.ConnectRest.start(
        schemas = Map("orders" -> Debezium.ordersRowSchema),
        keys = Map("orders" -> Seq("o_orderkey")))
      try {
        val client = java.net.http.HttpClient.newHttpClient()
        val base = s"http://127.0.0.1:${server.port}/connectors"
        val body =
          """{"name": "pauser",
            | "config": {
            |  "connector.class": "io.debezium.connector.postgresql.PostgresConnector",
            |  "table.include.list": "public.orders",
            |  "decimal.handling.mode": "string",
            |  "time.precision.mode": "adaptive_time_microseconds"
            |}}""".stripMargin
        val post = client.send(
          java.net.http.HttpRequest.newBuilder()
            .uri(java.net.URI.create(base))
            .header("Content-Type", "application/json")
            .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
            .build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        require(post.statusCode() == 201,
          s"provisioning failed: ${post.statusCode()} ${post.body()}")
        def put(action: String): Unit = {
          val r = client.send(
            java.net.http.HttpRequest.newBuilder()
              .uri(java.net.URI.create(s"$base/pauser/$action"))
              .PUT(java.net.http.HttpRequest.BodyPublishers.noBody())
              .build(),
            java.net.http.HttpResponse.BodyHandlers.ofString())
          require(r.statusCode() == 202, s"$action failed: ${r.statusCode()}")
        }
        val cfg = server.pipelineConfig("pauser").get
        val pipeline =
          new graft.CdcPipeline(cfg, gate = server.gate("pauser"))
        // the sliced-and-window-keyed topic is INPUT synthesis (two
        // consumer fetch windows of a Kafka topic — a deployment reads
        // these from the broker, it never re-derives them), so it rides
        // the fixture cache tier; without it each window branch re-probed
        // the key/value JSON over the full fixture (the sweep's one >15×
        // sf1 residue). The parse inside unwrapped stays graded work.
        val sliced = graft.BoundedDfCache.getOrPersist(
          s, s"${graft.BoundedDfCache.FixturePrefix}cdc:pauseslice:$dir")(
          CdcOps.synthOrdersChangelog(s, dir)
            .filter(get_json_object(col("key"), "$.o_orderkey")
              .cast("long") % 4 === 2)
            .withColumn("_w_lsn",
              get_json_object(col("value"), "$.source.lsn").cast("long")))
        // window 1 = inserts; window 2 = updates + deletes + tombstones
        // (value-less tombstones have no lsn → coalesce routes them here)
        val w1 = sliced
          .filter(coalesce(col("_w_lsn") % 10 === 0, lit(false)))
          .drop("_w_lsn")
        val w2 = sliced
          .filter(coalesce(col("_w_lsn") % 10 =!= 0, lit(true)))
          .drop("_w_lsn")
        val part1 = pipeline.unwrapped(w1, "orders")
        put("pause")
        require(pipeline.unwrapped(w2, "orders").count() == 0,
          "PAUSED connector emitted rows — the gate is not wired to " +
            "the data plane")
        put("resume")
        val part2 = pipeline.unwrapped(w2, "orders")
        CdcOps.compactLatest(part1.unionByName(part2),
          Seq("o_orderkey"), cfg.orderingColumns.map(col(_).desc))
          .select("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate_us", "o_orderpriority")
          .orderBy("o_orderkey")
      } finally server.close()
    }),

    // incremental view maintenance: the parsed change log applied in
    // three sequential micro-batches (inserts, then updates incl. the
    // at-least-once replay, then deletes + tombstones) through
    // [[graft.streaming.IncrementalView]]'s additive delta merge into
    // versioned snapshots; the returned frame is the final committed
    // view. The oracle states the same result declaratively over the
    // base table — IVM's whole claim is that the incrementally
    // maintained view equals the from-scratch recompute, and that claim
    // is exactly what the hash gate checks.
    "cdc_ivm_view" -> ((s, dir) =>
      ivmView(s, dir).orderBy("o_orderstatus")),

    // IVM of MIN/MAX under deletes — the NON-distributive aggregate case:
    // when the current minimum row is deleted (every %7 key, including
    // some per-status minima), a min-of-deltas fold has already forgotten
    // the runner-up; [[graft.streaming.IncrementalMinMax]] keeps each
    // group's value multiset as signed counts, so the aggregate
    // re-emerges from the surviving support. Same three op-sliced batches
    // and shared deduped event table as cdc_ivm_view; oracle = the
    // from-scratch min/max/count per status over the surviving rows.
    "cdc_ivm_minmax" -> ((s, dir) =>
      ivmMinMax(s, dir).orderBy("o_orderstatus")),

    // IVM over a TWO-TABLE EQUI-JOIN view (the reference's "enriched
    // data" consumer): revenue + order count per customer segment,
    // maintained from the changelogs of BOTH tables through
    // [[graft.streaming.IncrementalJoinView]]'s bilinear delta
    // propagation (Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB) in three sequential
    // micro-batches: inserts, then updates (orders status flips — which
    // net to ZERO at the join key and must vanish — plus customer
    // segment moves, which relocate every joined order's revenue), then
    // deletes on both sides (including same-batch order+customer
    // coincidences, where the cross term prevents double-removal). The
    // oracle recomputes the view from scratch over the base tables —
    // IVM's claim is exactly that equality.
    "cdc_ivm_join_view" -> ((s, dir) =>
      ivmJoin(s, dir).orderBy("seg")),

    // the SAME join view maintained through the HASH-BUCKETED state
    // layout ([[graft.streaming.BucketedJoinView]]) — the 100 TB storage
    // path: a batch rewrites only the buckets its delta keys hash into
    // (per-bucket `_applied` markers gate the non-idempotent additive
    // merge on replay), and because A and B bucket on the same key hash,
    // the bilinear-term probes read only touched buckets too. Same three
    // op-sliced batches and shared event projections as
    // cdc_ivm_join_view; oracle = the identical from-scratch recompute,
    // so the gate checks the layout changed NOTHING about the algebra.
    "cdc_ivm_join_bucketed" -> ((s, dir) =>
      ivmJoinBucketed(s, dir).orderBy("seg")),

    // the DataSourceV2 connector path (§2.A source surface): the same
    // changelog, archived to Kafka-archive-shaped JSON-line files and read
    // back through spark.read.format("debezium-json") — a real
    // TableProvider with in-reader filter pushdown (op IS NOT NULL kills
    // tombstones before they become rows), column pruning, and
    // block-aligned file splits — then compacted to current state through
    // the SAME compactLatest operator. Same expected state as cdc_compact,
    // reached via the archive-replay capture path (the bootstrap story a
    // 100 TB deployment actually uses: object-store archive → backfill).
    "cdc_dsv2_compact" -> ((s, dir) => {
      val raw = s.read.format("debezium-json")
        .load(CdcOps.ordersChangelogArchive(s, dir))
      val live = raw.filter(col("op").isNotNull)
        .withColumn("row", from_json(
          coalesce(col("after"), col("before")),
          graft.sources.Debezium.ordersRowSchema))
        .withColumn("__deleted",
          when(col("op") === "d", "true").otherwise("false"))
        .select(col("row.*") +: Seq(col("__deleted"),
          col("lsn").as("_lsn"), col("_tombstone")): _*)
      CdcOps.compactLatest(live,
        keys = Seq("o_orderkey"), ordering = Seq(col("_lsn").desc))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate_us", "o_orderpriority")
        .orderBy("o_orderkey")
    }),

    // §7.2 flagship slice: change log → compact → join dim → aggregate
    // A4': incremental snapshot (Debezium incremental snapshots / DBLog
    // watermark algorithm) — key-chunked snapshot reads, each at its own
    // WAL position, merged with the live stream; stale chunk rows are
    // superseded by events past the chunk's low watermark via the ONE
    // standard compaction window (chunk rows ride at lsn = LW). The
    // final state must equal cdc_compact's no matter how stale the
    // early chunks were — that equivalence IS the algorithm's contract.
    "cdc_incremental_snapshot" -> ((s, dir) => {
      CdcOps.ordersIncrementalSnapshot(s, dir)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate_us", "o_orderpriority")
        .orderBy("o_orderkey")
    }),

    // CONTENT-BASED routing (the public Debezium ContentBasedRouter
    // SMT: an expression over the event PAYLOAD picks the destination
    // topic — the "route hot/flagged rows to their own topic" pattern,
    // vs RegexRouter's name-only routing): deletes to orders.deleted,
    // X-status images to orders.flagged, everything else to orders.std,
    // with op taking precedence over content exactly as a router chain
    // evaluates. Pure map-side CASE over the unwrapped stream; the
    // grade is the per-destination event census + lsn span.
    "cdc_content_route" -> ((s, dir) => {
      CdcOps.ordersUnwrapped(s, dir)
        .filter(!col("_tombstone"))
        .withColumn("topic",
          when(col("_op") === "d", "orders.deleted")
            .when(col("o_orderstatus") === "X", "orders.flagged")
            .otherwise("orders.std"))
        .groupBy("topic")
        .agg(count(lit(1)).as("n_events"),
          min(col("_lsn")).as("min_lsn"), max(col("_lsn")).as("max_lsn"))
        .orderBy("topic")
    }),

    // B-chain PII transforms (public Kafka Connect/Debezium SMTs:
    // `MaskField` / column.mask.with.length.chars — replace a sensitive
    // column with a fixed-length mask BEFORE it ever reaches a sink —
    // and column.truncate.to.length.chars — cap an unbounded column at
    // the sink's width): configured on the users feed as mask(c_name,
    // '*'×10) + truncate(c_mktsegment, 4). The transforms are pure
    // map-side projections applied in the SMT chain position (on the
    // unwrapped stream, before compaction), so the sink-visible state —
    // including delete rewrites and the k%5 balance update — never
    // contains the raw PII. One compaction shuffle, same as cdc_compact.
    "cdc_mask_truncate" -> ((s, dir) => {
      val masked = CdcOps.unwrap(CdcOps.parsedUsers(s, dir))
        .withColumn("c_name", lit("*" * 10))
        .withColumn("c_mktsegment", substring(col("c_mktsegment"), 1, 4))
      CdcOps.compactLatest(masked,
        keys = Seq("c_custkey"), ordering = Seq(col("_lsn").desc))
        .select(col("c_custkey"), col("c_name").as("c_name_masked"),
          col("c_mktsegment").as("c_mktsegment_trunc"), col("c_acctbal"))
        .orderBy("c_custkey")
    }),

    // Confluent Schema-Registry WIRE FORMAT (the reference's deployed
    // registry payload: magic 0x00 + 4-byte schema id + Avro body; the
    // spark-avro module does not resolve offline, so the body is decoded
    // by Apache Avro's own GenericDatumReader at the typed codec seam —
    // see sources/AvroWire.scala): a mixed-schema-id topic (inserts
    // written under registry v1, updates/deletes under v2 which adds a
    // defaulted o_comment) decodes under the v2 READER schema —
    // per-record writer dispatch + Avro schema resolution — then rides
    // the standard compaction. The surviving update rows carry v2's
    // comment; v1-written survivors surface the default null, proving
    // the resolution actually ran.
    "cdc_compact_avro" -> ((s, dir) => {
      CdcOps.compactLatest(avroDecoded(s, dir),
        keys = Seq("o_orderkey"), ordering = Seq(col("_lsn").desc))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate_us", "o_orderpriority", "o_comment")
        .orderBy("o_orderkey")
    }),

    // A4' operational half: SIGNAL-DRIVEN ad-hoc incremental snapshot
    // (public Debezium signaling). Two execute-snapshot signals arrive
    // mid-stream — 'adhoc-orders' first, then 'adhoc-users' for a
    // different table — and each starts a chunked re-sync of ONLY its
    // named collection, gated in the data plane (a collection no signal
    // names gets zero chunk rows) with every chunk read positioned after
    // its signal's WAL lsn. Chunks ride the existing DBLog watermark
    // merge; the oracle is the straight-compaction final state of both
    // tables, which the signal-gated path must reach exactly.
    "cdc_signal_snapshot" -> ((s, dir) =>
      CdcOps.signalSnapshotState(s, dir).orderBy("tab", "pk")),

    // B10: ByLogicalTableRouter — two tenants' topics collapse onto one
    // logical `orders` table; the SAME primary keys exist in both, so
    // the merged compaction keys on (physical topic, PK) — the key
    // enrichment that stops one tenant's events from superseding the
    // other's. Final state: tenant1 under its own update/delete rules,
    // tenant2 under its different ones, side by side.
    "cdc_shard_merge" -> ((s, dir) => {
      CdcOps.shardMergedState(s, dir)
        .select(
          regexp_extract(col("_topic"), CdcOps.topicPattern, 2)
            .as("shard"),
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate_us"),
          col("o_orderpriority"))
        .orderBy("shard", "o_orderkey")
    }),

    // B7: Outbox Event Router SMT — the outbox table's CDC feed becomes
    // per-aggregate event streams: INSERTs only (cleanup DELETEs +
    // tombstones dropped), topic = outbox.event.<aggregatetype>, key =
    // aggregateid, payload verbatim. Pure projection+filter — no shuffle.
    "cdc_outbox" -> ((s, dir) =>
      CdcOps.outboxRoute(CdcOps.parsedOutbox(s, dir))
        .orderBy("event_id")),

    // Transaction-metadata reconstruction (provide.transaction.metadata
    // analog): per-transaction END summaries over the orders ∪ users
    // multi-table changelog — replay-deduped event counts, sorted
    // per-collection counts, lsn span. Same-key orders/users events share
    // txId = lsn/2, so multi-collection transactions actually occur.
    "cdc_txn_meta" -> ((s, dir) =>
      CdcOps.txnMetaShared(s, dir).orderBy("txid")),

    // Transactional apply (the consumer side of provide.transaction.
    // metadata) under per-topic consumer lag — the production tearing
    // scenario: the users topic's consumer group runs ~30% behind the
    // orders topic's, so a multi-collection transaction can have its
    // orders half in and its users half still in flight. A transaction
    // is applied iff its END record arrived AND every data event is in;
    // torn transactions report arrived < expected, applied = false —
    // buffered, never half-applied.
    "cdc_txn_apply" -> ((s, dir) => {
      import graft.streaming.TxnApply
      val ev = CdcOps.txnEventsShared(s, dir)
      val meta = CdcOps.txnMetaShared(s, dir)
        .select("txid", "event_count", "max_lsn")
      // ONE bounded driver scalar job (a single row), quotientPays
      // discipline: both per-topic maxima via conditional aggregation
      val r = ev.agg(
        max(when(col("collection") === "users", col("lsn"))).as("mu"),
        max(col("lsn")).as("mx")).head()
      val usersOffset = java.lang.Math.floorDiv(r.getLong(0) * 7, 10)
      val seen = ev.filter( // orders + tx topics caught up, users lagging
        col("collection") =!= "users" || col("lsn") <= usersOffset)
      TxnApply.applyStatusBatch(seen, meta, r.getLong(1)).orderBy("txid")
    }),

    // Same apply decision when the TRANSACTION topic itself lags: END
    // records ride at a transaction's max lsn, and the tx consumer has
    // only reached 80% of the feed — every transaction whose END is
    // beyond that cutoff reports expected = NULL ("END not yet seen", the
    // third tear mode) and must never be applied no matter how many data
    // events arrived. Covers the null-expected branch of
    // applyStatusBatch the caught-up variant above makes vacuous.
    "cdc_txn_apply_lag" -> ((s, dir) => {
      import graft.streaming.TxnApply
      val ev = CdcOps.txnEventsShared(s, dir)
      val meta = CdcOps.txnMetaShared(s, dir)
        .select("txid", "event_count", "max_lsn")
      val r = ev.agg(
        max(when(col("collection") === "users", col("lsn"))).as("mu"),
        max(col("lsn")).as("mx")).head()
      val usersOffset = java.lang.Math.floorDiv(r.getLong(0) * 7, 10)
      val endCutoff = java.lang.Math.floorDiv(r.getLong(1) * 8, 10)
      val seen = ev.filter(
        col("collection") =!= "users" || col("lsn") <= usersOffset)
      TxnApply.applyStatusBatch(seen, meta, endCutoff).orderBy("txid")
    }),

    // B9 STREAMING form with EVICTION ARMED — the opt-in
    // ProcessingTimeTimeout mode of [[graft.streaming.TxnApply]] graded
    // end-to-end (the batch twins above grade the apply DECISION; this
    // grades the stateful operator itself). The txid%4 slice of the
    // orders ∪ users transaction feed is driven through real
    // micro-batches: data events, then the transaction topic's END
    // records, then an at-least-once REDELIVERY of the first chunk in a
    // strictly later batch — inside the one-hour replay window, so the
    // replay must hit the applied-tombstone branch (which re-arms the
    // eviction clock) and emit nothing. Timeout REGISTRATION runs for
    // every applied transaction against the real state store; the
    // window is sized so no timer can fire mid-run, keeping the graded
    // output deterministic — eviction FIRING (timing-dependent by
    // nature) is pinned by TxnApplySpec instead. Output = one
    // TxnApplied row per transaction; a double-apply would duplicate a
    // txid and hash-mismatch the oracle, and the in-query require makes
    // the no-op contract fail loudly even before grading.
    "cdc_txn_apply_evict" -> ((s, dir) =>
      standing(s, dir, "txnevict").orderBy("txid")),

    "cdc_revenue_by_segment" -> ((s, dir) => {
      val state = CdcOps.ordersCompacted(s, dir)
      val cust = Tables.scan(s, dir, "customer")
      state
        .join(cust, state("o_custkey") === cust("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          Dec.toDbl(sum(Dec.d2(col("o_totalprice")))).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("c_mktsegment")
    }))

  /** One STANDING-CONSUMER pipeline under its own cache tag
    * `cdc:standing:<kind>`: `upsert` (ES-style upsert sink), `warehouse`
    * (month-partitioned warehouse append) or `txnevict` (transactional
    * apply with eviction armed). Each query builds only its own pipeline;
    * [[graft.Prewarm]] runs the three side by side, as a deployment runs
    * its sinks and consumers. The shared inputs resolve before the tag's
    * build starts, so the tag times its own pipeline only. The batch
    * stages that feed the streams run at the session's width; the two
    * streaming pipelines start on their own [[graft.Sessions.scoped]]
    * clones at state width 8, so nothing here writes the session's
    * conf. */
  private[graft] def standing(
      s: SparkSession, dir: String, kind: String): DataFrame = {
    if (kind == "txnevict") {
      CdcOps.txnEventsShared(s, dir); CdcOps.txnMetaShared(s, dir)
    } else CdcOps.ordersUnwrapped(s, dir)
    graft.BoundedDfCache.getOrPersist(s, s"cdc:standing:$kind:$dir") {
      kind match {
        case "upsert" => buildSinkUpsert(s, dir)
        case "warehouse" => buildSinkWarehouse(s, dir)
        case "txnevict" => buildTxnApplyEvict(s, dir)
      }
    }
  }

  /** `cdc_sink_upsert`'s pipeline: keyed subset (o_orderkey % 4 = 0) —
    * every sink semantic (bucket merge, two-phase publish, replay
    * idempotence, delete rewrite winning on position) is exercised
    * identically at a quarter the bulk volume; a sink's graded contract
    * is micro-batches against keyed state, not a full-corpus load, and
    * the oracle restates the same predicate. 16 buckets sizes to this
    * state (the production rule: buckets scale with state, like ES
    * shards). */
  private def buildSinkUpsert(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.Sinks
    val un = CdcOps.ordersUnwrapped(s, dir)
      .filter(!col("_tombstone") && col("o_orderkey") % 4 === 0)
    val tmp = graft.TmpPaths.fresh(
      graft.TmpPaths.perProcess("graft-sink-upsert", dir))
    Sinks.upsertBatch(un.filter(col("_op") === "c"),
      0L, tmp, "o_orderkey", "_lsn", nBuckets = 16)
    Sinks.upsertBatch(un.filter(col("_op") =!= "c"),
      1L, tmp, "o_orderkey", "_lsn", nBuckets = 16)
    Sinks.readState(s, tmp)
      .filter(col("__deleted") =!= "true")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate_us", "o_orderpriority")
      .orderBy("o_orderkey")
  }

  /** `cdc_sink_warehouse`'s pipeline (see the queries-map entry comment
    * for the month-grain and in-order-feed rationale). */
  private def buildSinkWarehouse(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.Sinks
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    val rows = CdcOps.ordersUnwrapped(s, dir)
      .filter(col("_op") === "c" && col("o_orderkey") % 4 === 3)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate_us"),
        date_format(timestamp_micros(col("o_orderdate_us")),
          "yyyy-MM-dd").as("day"),
        date_format(timestamp_micros(col("o_orderdate_us")),
          "yyyy-MM").as("month"))
      // feed in event-time order — the arrival order a changelog tail
      // actually has. Each micro-batch then touches a CONTIGUOUS month
      // range (~months/batches dirs) instead of every month in the
      // corpus: total files drop ~batches× (324 → ~84 at sf0.1), and
      // at deployment scale in-order arrival is what keeps a
      // time-partitioned streaming append from writing every
      // partition dir every trigger.
      .orderBy("o_orderdate_us", "o_orderkey")
      .as[WarehouseFeedRow]
    val tmp = graft.TmpPaths.fresh(
      graft.TmpPaths.perProcess("graft-sink-warehouse", dir))
    // bounded scalar: sizes the chunks so every sf feeds ~4 batches
    val chunk = math.max(1L, (rows.count() + 3) / 4).toInt
    // the stream's state width is 8 on its own session clone, whatever
    // the session's analytic width
    graft.Sessions.scoped(s, "spark.sql.shuffle.partitions" -> "8") { c =>
      val in = MemoryStream[WarehouseFeedRow](c)
      val q = Sinks.appendWarehouse(in.toDF(), s"$tmp/data",
        s"$tmp/ckpt", "month", interval = "0 seconds").start()
      import scala.jdk.CollectionConverters._
      rows.toLocalIterator().asScala.grouped(chunk).foreach { b =>
        in.addData(b.toIndexedSeq: _*)
        q.processAllAvailable()
      }
    }
    s.read.parquet(s"$tmp/data")
      .groupBy(col("day").cast("date").as("day"))
      .agg(count(lit(1)).as("n_orders"),
        Dec.toDbl(sum(Dec.d2(col("o_totalprice")))).as("sum_price"),
        countDistinct(col("o_custkey")).as("n_cust"))
      .orderBy("day")
  }

  /** `cdc_txn_apply_evict`'s pipeline (see the queries-map entry comment
    * for the eviction/redelivery protocol). */
  private def buildTxnApplyEvict(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{TxnApply, TxnFeedEvent}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import s.implicits._
    val evAll = CdcOps.txnEventsShared(s, dir)
      .filter(col("txid") % 4 === 0)
    val meta = CdcOps.txnMetaShared(s, dir)
      .filter(col("txid") % 4 === 0)
    val dataFeed = evAll.select(col("txid"), col("collection"),
        col("lsn"), lit(false).as("end"), lit(-1L).as("expected"))
      .as[TxnFeedEvent].sort("lsn")
    val endFeed = meta.select(col("txid"), lit("txn").as("collection"),
        col("max_lsn").as("lsn"), lit(true).as("end"),
        col("event_count").as("expected"))
      .as[TxnFeedEvent].sort("txid")
    val nTx = meta.count() // bounded scalar: the applied-count check
    // state-store count follows state volume, not analytic width — same
    // per-stateful-job sizing call as cdc_compact_tws: width 8 on the
    // stream's own session clone. With no-data batches off the stream
    // runs only data batches, so processAllAvailable drains it like every
    // other standing pipeline; pending evictions fire on the next data
    // batch (see TxnApply.apply).
    graft.Sessions.scoped(s, "spark.sql.shuffle.partitions" -> "8",
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") { c =>
      val sinkName = "graft_txn_apply_evict"
      val in = MemoryStream[TxnFeedEvent](c)
      val q = TxnApply(in.toDS(),
          replayWindowMs = Some(TxnApply.DefaultReplayWindowMs))
        .writeStream
        .format("memory").queryName(sinkName)
        .outputMode(OutputMode.Update).start()
      import scala.jdk.CollectionConverters._
      // bounded driver transfer: chunked toLocalIterator, tws-style
      var replayChunk: IndexedSeq[TxnFeedEvent] = IndexedSeq.empty
      dataFeed.toLocalIterator().asScala.grouped(65536).foreach { b =>
        val chunk = b.toIndexedSeq
        if (replayChunk.isEmpty) replayChunk = chunk
        in.addData(chunk: _*)
      }
      endFeed.toLocalIterator().asScala.grouped(65536).foreach {
        b => in.addData(b.toIndexedSeq: _*)
      }
      q.processAllAvailable()
      require(c.table(sinkName).count() == nTx,
        s"cdc_txn_apply_evict: expected $nTx applied transactions")
      // redelivery in a strictly later batch (added only after every
      // apply was observed): data replays dedup against tombstones,
      // replayed ENDs hit the applied branch — all no-ops
      in.addData(replayChunk: _*)
      q.processAllAvailable()
      require(c.table(sinkName).count() == nTx,
        "in-window replay re-applied a transaction — the applied " +
          "tombstone (or its eviction re-arm) is broken")
      c.table(sinkName)
        .select(col("txid"), col("event_count"), col("min_lsn"),
          col("max_lsn"))
        .orderBy("txid")
    }
  }

  /** One incrementally-maintained view under its own cache tag
    * `cdc:ivm:<kind>`: the changelog applied in three SEQUENTIAL op-sliced
    * micro-batches — inserts (and snapshot reads); updates incl. the
    * at-least-once replay; deletes — through `apply(factOps, dimOps,
    * batchId, path)`, then the committed view read back by `read`.
    * Tombstones carry no row and never reach a delta, so the op = 'd'
    * slice is the whole delete batch. Each query builds only its own
    * view; [[graft.Prewarm]] runs the four side by side, as a deployment
    * runs its standing views. Every oracle is the from-scratch recompute
    * over the base tables: IVM's whole claim is that equality, and the
    * hash gate checks it. The batches run at the session's width. */
  private def ivm(s: SparkSession, dir: String, kind: String)(
      apply: (Seq[String], Seq[String], Long, String) => Unit)(
      read: String => Option[DataFrame]): DataFrame =
    graft.BoundedDfCache.getOrPersist(s, s"cdc:ivm:$kind:$dir") {
      val tmp = graft.TmpPaths.fresh(
        graft.TmpPaths.perProcess(s"graft-ivm-$kind", dir))
      Seq(Seq("c", "r") -> Seq("c"), Seq("u") -> Seq("u"),
          Seq("d") -> Seq("d")).zipWithIndex.foreach {
        case ((fact, dim), b) => apply(fact, dim, b.toLong, tmp)
      }
      read(tmp).get
    }

  private def ops(df: DataFrame, o: Seq[String]): DataFrame =
    df.filter(col("op").isin(o: _*))

  // The delta projections the views share, each built once under its own
  // tag and resolved before a view's tag starts, so the view's tag times
  // its own pipeline only.
  private def ivmEvents(s: SparkSession, dir: String): DataFrame =
    graft.BoundedDfCache.getOrPersist(s, s"cdc:ivmevents:$dir")(
      IncrementalView.eventsOf(CdcOps.parsedOrders(s, dir)))

  private def ivmJoinEvents(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = (
    graft.BoundedDfCache.getOrPersist(s, s"cdc:ivmjoin-fact:$dir")(
      IncrementalJoinView.factEvents(CdcOps.parsedOrders(s, dir))),
    graft.BoundedDfCache.getOrPersist(s, s"cdc:ivmjoin-dim:$dir")(
      IncrementalJoinView.dimEvents(CdcOps.parsedCustomerDim(s, dir))))

  /** `cdc_ivm_view`: [[IncrementalView]]'s additive delta merge into
    * versioned snapshots. */
  private def ivmView(s: SparkSession, dir: String): DataFrame = {
    val ev = ivmEvents(s, dir)
    ivm(s, dir, "view")((o, _, b, tmp) =>
      IncrementalView.applyBatchEvents(ops(ev, o), b, tmp))(
      IncrementalView.readView(s, _))
  }

  /** `cdc_ivm_minmax`: [[IncrementalMinMax]]'s signed-count value
    * multisets — MIN/MAX under deletes, the non-distributive case where
    * the aggregate must re-emerge from the surviving support. */
  private def ivmMinMax(s: SparkSession, dir: String): DataFrame = {
    val ev = ivmEvents(s, dir)
    ivm(s, dir, "minmax")((o, _, b, tmp) =>
      IncrementalMinMax.applyBatchEvents(ops(ev, o), b, tmp))(
      IncrementalMinMax.readView(s, _))
  }

  /** `cdc_ivm_join_view`: [[IncrementalJoinView]]'s bilinear delta
    * propagation Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB from BOTH
    * changelogs. */
  private def ivmJoin(s: SparkSession, dir: String): DataFrame = {
    val (fe, de) = ivmJoinEvents(s, dir)
    ivm(s, dir, "join")((f, d, b, tmp) =>
      IncrementalJoinView.applyBatchEvents(ops(fe, f), ops(de, d), b, tmp))(
      IncrementalJoinView.readView(s, _))
  }

  /** `cdc_ivm_join_bucketed`: the same join view through
    * [[BucketedJoinView]]'s hash-bucketed state layout (a batch rewrites
    * only touched buckets, `_applied` markers gate replay — the 100 TB
    * storage path). */
  private def ivmJoinBucketed(s: SparkSession, dir: String): DataFrame = {
    val (fe, de) = ivmJoinEvents(s, dir)
    ivm(s, dir, "bkt")((f, d, b, tmp) =>
      BucketedJoinView.applyBatchEvents(
        ops(fe, f), ops(de, d), b, tmp, 8))(
      BucketedJoinView.readView(s, _))
  }

  /** `cdc_dlq_replay`'s pipeline, parameterized over how many times the
    * at-least-once replay delivers each repaired record so the no-op spec
    * can pin deliveries ∈ {1,2,4} to identical state. */
  private[graft] def dlqReplayState(
      s: SparkSession, dir: String, deliveries: Int): DataFrame = {
    import graft.sources.{Debezium, SchemaEvolution}
    val keyOf = get_json_object(col("key"), "$.o_orderkey").cast("long")
    // first delivery: the %97 insert envelopes arrived truncated — they
    // are NOT in the applied stream (the corrupt parse dead-letters them;
    // cdc_dead_letter grades that path), everything else applied intact.
    // Tombstones have a null op — use null-safe equality so they survive
    // the exclusion filter.
    val firstPass = CdcOps.unwrap(
      CdcOps.parsedOrders(s, dir)
        .filter(!(keyOf % 97 === 0 && col("env.op") <=> "c")))
    // the DLQ drives the replay: repaired records re-enter iff their key
    // was actually dead-lettered (left-semi against the corrupt parse)
    val dlqKeys = Debezium.parseEnvelope(
        CdcOps.synthOrdersCorruptTail(s, dir), Debezium.ordersRowSchema)
      .filter(col("_corrupt"))
      .select(keyOf.as("o_orderkey")).distinct()
    // consumer registry evolved by the repair deploy's DDL; pre-DDL rows
    // parse unchanged under the widened registry (o_note absent → null)
    val evolved = SchemaEvolution.evolve(
      Map("orders" -> Debezium.ordersRowSchema),
      Seq("ALTER TABLE orders ADD COLUMN o_note text"))("orders")
    val repairedOnce = Debezium.parseEnvelope(
      CdcOps.synthOrdersDlqRepaired(s, dir), evolved)
    val repaired = Seq.fill(deliveries)(repairedOnce).reduce(_ unionByName _)
    val replayed = CdcOps.unwrap(repaired)
      .join(broadcast(dlqKeys), Seq("o_orderkey"), "left_semi")
    CdcOps.compactLatest(
      firstPass.unionByName(replayed, allowMissingColumns = true),
      keys = Seq("o_orderkey"),
      ordering = Seq(col("_lsn").desc))
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate_us", "o_orderpriority", "o_note")
  }

  val oracles: Map[String, String] = Map(
    "cdc_parse_counts" ->
      """SELECT op, CAST(cnt AS BIGINT) AS cnt FROM (
        |  SELECT 'c' AS op, COUNT(*) AS cnt FROM orders
        |  UNION ALL SELECT 'd', COUNT(*) FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL SELECT 'tombstone', COUNT(*) FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL SELECT 'u',
        |    SUM(CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END
        |      + CASE WHEN o_orderkey % 20 = 0 THEN 1 ELSE 0 END)
        |  FROM orders)
        |ORDER BY op""".stripMargin,

    "cdc_route" ->
      "SELECT 'prod.postgres.orders' AS topic, 'orders' AS tbl",

    "cdc_unwrap" -> (ordersBase +
      s"""SELECT * FROM (
         |  SELECT 'orders' AS tbl, o_orderkey, o_custkey, o_orderstatus,
         |         o_totalprice, o_orderdate_us, o_orderpriority,
         |         'false' AS __deleted, 'c' AS _op
         |  FROM base
         |  UNION ALL
         |  SELECT 'orders', o_orderkey, o_custkey, 'X', o_totalprice,
         |         o_orderdate_us, o_orderpriority, 'false', 'u'
         |  FROM base WHERE o_orderkey % 10 = 0
         |  UNION ALL
         |  SELECT 'orders', o_orderkey, o_custkey, 'X', o_totalprice,
         |         o_orderdate_us, o_orderpriority, 'false', 'u'
         |  FROM base WHERE o_orderkey % 20 = 0
         |  UNION ALL
         |  SELECT 'orders', o_orderkey, o_custkey,
         |         $finalStatus,
         |         o_totalprice, o_orderdate_us, o_orderpriority, 'true', 'd'
         |  FROM base WHERE o_orderkey % 7 = 0)
         |ORDER BY o_orderkey, _op, __deleted""".stripMargin),

    "cdc_compact" -> compactedOrders(),

    // the fixture's lsn layout (insert k·10, update k·10+5, delete
    // k·10+8) replayed only up to the cutoff: updates/deletes past it
    // never happened
    "cdc_time_travel" -> (ordersBase.stripSuffix("\n") +
      """, mk AS (SELECT MAX(o_orderkey) * 6 AS c FROM orders)
        |SELECT o_orderkey, o_custkey,
        |       CASE WHEN o_orderkey % 10 = 0
        |                 AND o_orderkey * 10 + 5 <= mk.c THEN 'X'
        |            ELSE o_orderstatus END AS o_orderstatus,
        |       o_totalprice, o_orderdate_us, o_orderpriority
        |FROM base CROSS JOIN mk
        |WHERE o_orderkey * 10 <= mk.c
        |  AND NOT (o_orderkey % 7 = 0 AND o_orderkey * 10 + 8 <= mk.c)
        |ORDER BY o_orderkey""".stripMargin),

    // the fixture's position universe with base multiplicity b (k%20
    // updates already arrive twice upstream) and the degradation rules
    // restated arithmetically: %97==13 lost, else %101==7 doubles every
    // copy; a position is dup-delivered when its final count exceeds 1
    "cdc_delivery_audit" ->
      """WITH u AS (
        |  SELECT o_orderkey * 10 AS lsn, 1 AS b FROM orders
        |  UNION ALL
        |  SELECT o_orderkey * 10 + 5,
        |    CASE WHEN o_orderkey % 20 = 0 THEN 2 ELSE 1 END
        |  FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey * 10 + 8, 1 FROM orders
        |  WHERE o_orderkey % 7 = 0)
        |SELECT 'orders' AS tbl, COUNT(*) AS n_source,
        |  CAST(SUM(CASE WHEN lsn % 97 = 13 THEN 0
        |                WHEN lsn % 101 = 7 THEN 2 * b ELSE b END)
        |    AS BIGINT) AS n_delivered,
        |  CAST(SUM(CASE WHEN lsn % 97 <> 13
        |                 AND (lsn % 101 = 7 OR b > 1)
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lsns,
        |  CAST(SUM(CASE WHEN lsn % 97 = 13 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_missing,
        |  MIN(CASE WHEN lsn % 97 = 13 THEN lsn END) AS min_missing_lsn,
        |  MAX(CASE WHEN lsn % 97 = 13 THEN lsn END) AS max_missing_lsn
        |FROM u""".stripMargin,

    // the same islands (grp = t − row_number) and the same
    // order-stable range-string aggregation
    "cdc_gtid_coverage" ->
      """WITH tx AS (SELECT concat('s', CAST(o_orderkey % 3 AS VARCHAR))
        |    AS server_uuid, o_orderkey // 3 AS t
        |  FROM orders WHERE o_orderkey % 89 <> 7),
        |i AS (SELECT server_uuid, t,
        |    t - ROW_NUMBER() OVER (PARTITION BY server_uuid ORDER BY t)
        |      AS grp
        |  FROM tx),
        |r AS (SELECT server_uuid, grp, MIN(t) AS lo, MAX(t) AS hi,
        |    COUNT(*) AS n FROM i GROUP BY 1, 2),
        |rs AS (SELECT server_uuid, lo, hi, n,
        |    CASE WHEN lo = hi THEN CAST(lo AS VARCHAR)
        |         ELSE CAST(lo AS VARCHAR) || '-' || CAST(hi AS VARCHAR)
        |    END AS rs
        |  FROM r)
        |SELECT server_uuid,
        |  server_uuid || ':' || string_agg(rs, ':' ORDER BY lo)
        |    AS gtid_set,
        |  COUNT(*) AS n_ranges, CAST(SUM(n) AS BIGINT) AS n_txns,
        |  CAST(MAX(hi) - MIN(lo) + 1 - CAST(SUM(n) AS BIGINT) AS BIGINT)
        |    AS n_holes
        |FROM rs GROUP BY server_uuid ORDER BY server_uuid""".stripMargin,

    // compacted state (the cdc_compact oracle) digested twice — pristine
    // and with the drift rules applied — then chunk fingerprints compared
    "cdc_reconcile" -> (ordersBase.stripSuffix("\n") +
      s""", st AS (SELECT o_orderkey,
         |    $finalStatus
         |      AS o_orderstatus,
         |    o_totalprice
         |  FROM base WHERE o_orderkey % 7 <> 0),
         |sd AS (SELECT o_orderkey // 512 AS chunk,
         |    CAST(concat('0x', substr(md5(concat_ws('|',
         |      CAST(o_orderkey AS VARCHAR), o_orderstatus, o_totalprice)),
         |      1, 12)) AS BIGINT) AS d
         |  FROM st),
         |sc AS (SELECT chunk, COUNT(*) AS cnt, CAST(SUM(d) AS BIGINT)
         |    AS hsum FROM sd GROUP BY 1),
         |t0 AS (SELECT o_orderkey, o_orderstatus,
         |    CASE WHEN o_orderkey % 113 = 5 THEN '0.00'
         |         ELSE o_totalprice END AS o_totalprice
         |  FROM st WHERE o_orderkey % 127 <> 9),
         |td AS (SELECT o_orderkey // 512 AS chunk,
         |    CAST(concat('0x', substr(md5(concat_ws('|',
         |      CAST(o_orderkey AS VARCHAR), o_orderstatus, o_totalprice)),
         |      1, 12)) AS BIGINT) AS d
         |  FROM t0),
         |tc AS (SELECT chunk, COUNT(*) AS t_cnt, CAST(SUM(d) AS BIGINT)
         |    AS t_hsum FROM td GROUP BY 1)
         |SELECT COALESCE(sc.chunk, tc.chunk) AS chunk,
         |  COALESCE(cnt, 0) AS src_cnt, COALESCE(t_cnt, 0) AS tgt_cnt,
         |  COALESCE(cnt, 0) - COALESCE(t_cnt, 0) AS cnt_diff
         |FROM sc FULL OUTER JOIN tc ON sc.chunk = tc.chunk
         |WHERE COALESCE(cnt, -1) <> COALESCE(t_cnt, -1)
         |   OR COALESCE(hsum, -1) <> COALESCE(t_hsum, -1)
         |ORDER BY chunk""".stripMargin),

    "cdc_compact_mysql" -> compactedOrders(),

    "cdc_compact_mongo" -> compactedOrders(),

    "cdc_snapshot_union" -> compactedOrders(),

    // the oracle re-derives the version timeline from the synthesis rules
    // (insert lsn=10k; update lsn=10k+5 when k%10=0 — the k%20 replay is
    // NOT generated, mirroring the engine's replay elimination; delete
    // lsn=10k+8 when k%7=0 closes the last interval)
    "cdc_scd2" -> (ordersBase +
      s""", ev AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice,
         |         o_orderkey * 10 AS lsn, 'c' AS op
         |  FROM base
         |  UNION ALL
         |  SELECT o_orderkey, 'X', o_totalprice, o_orderkey * 10 + 5, 'u'
         |  FROM base WHERE o_orderkey % 10 = 0
         |  UNION ALL
         |  SELECT o_orderkey,
         |         $finalStatus,
         |         o_totalprice, o_orderkey * 10 + 8, 'd'
         |  FROM base WHERE o_orderkey % 7 = 0),
         |v AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice,
         |         lsn AS valid_from,
         |         LEAD(lsn) OVER (PARTITION BY o_orderkey ORDER BY lsn)
         |           AS valid_to,
         |         op
         |  FROM ev)
         |SELECT o_orderkey, o_orderstatus, o_totalprice, valid_from, valid_to,
         |       CAST(valid_to IS NULL AS INT) AS is_current
         |FROM v WHERE op <> 'd'
         |ORDER BY o_orderkey, valid_from""".stripMargin),

    "cdc_dsv2_compact" -> compactedOrders(),

    "cdc_dead_letter" ->
      """SELECT o_orderkey, 40 AS payload_chars
        |FROM orders WHERE o_orderkey % 97 = 0
        |ORDER BY o_orderkey""".stripMargin,

    // the no-corruption counterfactual: the replayed state must equal the
    // cdc_compact oracle exactly, plus the repair marker on precisely the
    // keys whose CURRENT version is the replayed insert (dead-lettered
    // %97 keys that were neither later updated nor deleted)
    "cdc_dlq_replay" -> compactedOrders(cols =
      """,
        |       CASE WHEN o_orderkey % 97 = 0 AND o_orderkey % 10 <> 0
        |            THEN 'dlq-replay' END AS o_note""".stripMargin),

    "cdc_sink_upsert" -> compactedOrders(" AND o_orderkey % 4 = 0"),

    // exact-text JSON by concatenation over the compacted current state
    // (the same %7<>0 + status-X predicate every compaction oracle uses)
    "cdc_kafka_shape" -> (ordersBase +
      s"""SELECT '{"o_orderkey":' || o_orderkey || '}' AS key,
         |  '{"o_orderkey":' || o_orderkey || ',"o_orderstatus":"'
         |    || $finalStatus
         |    || '","o_totalprice":"' || o_totalprice || '"}' AS value
         |FROM base
         |WHERE o_orderkey % 7 <> 0 AND o_orderkey % 4 = 1
         |ORDER BY key""".stripMargin),

    // the 'c' event set is one insert per order with ORIGINAL values
    // (updates/deletes are separate events), so the appended table is
    // exactly the keyed slice of the base table
    "cdc_sink_warehouse" ->
      """SELECT CAST(o_orderdate AS DATE) AS day,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR)
        |    AS DOUBLE) AS sum_price,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust
        |FROM orders WHERE o_orderkey % 4 = 3
        |GROUP BY 1 ORDER BY day""".stripMargin,

    "cdc_schema_evolution" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_custkey,
        |  CAST(0 AS BIGINT) AS n_notes
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "cdc_compact_tws" -> compactedOrders(" AND o_orderkey % 5 = 0"),

    // same current-state predicate as cdc_compact on the %5 subset — the
    // REST-provisioned pipeline must land exactly where the builder does
    // pause defers, never drops: the final state of the paused+resumed
    // run is EXACTLY the never-paused compacted slice
    "cdc_pause_resume" -> compactedOrders(" AND o_orderkey % 4 = 2"),

    "cdc_rest_provision" -> compactedOrders(" AND o_orderkey % 5 = 0"),

    "cdc_schema_rename" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2))
        |    AS VARCHAR) AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT)
        |    AS amount_cents,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_custkey
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "cdc_ivm_view" ->
      s"""WITH fin AS (SELECT
         |    $finalStatus
         |      AS o_orderstatus,
         |    CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR)
         |      AS DECIMAL(12,2)) AS price
         |  FROM orders WHERE o_orderkey % 7 <> 0)
         |SELECT o_orderstatus,
         |  CAST(SUM(CAST(price * 100 AS BIGINT)) AS BIGINT) AS revenue_cents,
         |  COUNT(*) AS n_orders
         |FROM fin GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin,

    // min/max recompute over the surviving rows — deletes included, so a
    // delta-fold min that forgot the runner-up would hash-mismatch here
    "cdc_ivm_minmax" ->
      s"""WITH fin AS (SELECT
         |    $finalStatus
         |      AS o_orderstatus,
         |    CAST(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR)
         |      AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
         |  FROM orders WHERE o_orderkey % 7 <> 0)
         |SELECT o_orderstatus,
         |  CAST(MIN(cents) AS BIGINT) AS min_cents,
         |  CAST(MAX(cents) AS BIGINT) AS max_cents,
         |  COUNT(*) AS n_orders
         |FROM fin GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin,

    // join-view recompute: final customer dimension (segment moves %4,
    // deletes %9) ⋈ final orders state (deletes %7; status flips don't
    // touch the join key), aggregated by segment — the from-scratch twin
    // of the incrementally maintained view
    "cdc_ivm_join_view" ->
      """WITH cust AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 4 = 0 THEN 'MOVED' ELSE c_mktsegment END
        |      AS seg
        |  FROM customer WHERE c_custkey % 9 <> 0),
        |ords AS (
        |  SELECT o_custkey,
        |    CAST(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR)
        |      AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 7 <> 0)
        |SELECT seg, CAST(SUM(cents) AS BIGINT) AS revenue_cents,
        |       COUNT(*) AS n_orders
        |FROM ords JOIN cust ON o_custkey = c_custkey
        |GROUP BY seg ORDER BY seg""".stripMargin,

    // identical recompute: the bucketed layout must change NOTHING about
    // the maintained view's algebra
    "cdc_ivm_join_bucketed" ->
      """WITH cust AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 4 = 0 THEN 'MOVED' ELSE c_mktsegment END
        |      AS seg
        |  FROM customer WHERE c_custkey % 9 <> 0),
        |ords AS (
        |  SELECT o_custkey,
        |    CAST(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR)
        |      AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 7 <> 0)
        |SELECT seg, CAST(SUM(cents) AS BIGINT) AS revenue_cents,
        |       COUNT(*) AS n_orders
        |FROM ords JOIN cust ON o_custkey = c_custkey
        |GROUP BY seg ORDER BY seg""".stripMargin,

    // two tenants' states re-derived independently: tenant1 follows the
    // standard update/delete rules, tenant2 its own — proof the merge
    // never let one tenant's events supersede the other's same-PK rows
    "cdc_shard_merge" -> (ordersBase +
      s"""SELECT * FROM (
         |  SELECT 'tenant1' AS shard, o_orderkey, o_custkey,
         |         $finalStatus
         |           AS o_orderstatus,
         |         o_totalprice, o_orderdate_us, o_orderpriority
         |  FROM base WHERE o_orderkey % 7 <> 0
         |  UNION ALL
         |  SELECT 'tenant2', o_orderkey, o_custkey,
         |         CASE WHEN o_orderkey % 6 = 0 THEN 'Y' ELSE o_orderstatus END,
         |         o_totalprice, o_orderdate_us, o_orderpriority
         |  FROM base)
         |ORDER BY shard, o_orderkey""".stripMargin),

    // the incremental-snapshot contract: the merged chunked-snapshot ∪
    // stream state is EXACTLY the compacted current state — the oracle
    // is cdc_compact's, reached through the chunk/watermark merge path
    "cdc_incremental_snapshot" -> compactedOrders(),

    // the routed census from the synthesis rules: inserts at 10k (std,
    // or flagged if the source status were X), update + verbatim replay
    // at 10k+5 (flagged), delete at 10k+8 (deleted)
    "cdc_content_route" ->
      """WITH ev AS (
        |  SELECT CASE WHEN o_orderstatus = 'X' THEN 'orders.flagged'
        |              ELSE 'orders.std' END AS topic,
        |         o_orderkey * 10 AS lsn
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders.flagged', o_orderkey * 10 + 5 FROM orders
        |  WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT 'orders.flagged', o_orderkey * 10 + 5 FROM orders
        |  WHERE o_orderkey % 20 = 0
        |  UNION ALL
        |  SELECT 'orders.deleted', o_orderkey * 10 + 8 FROM orders
        |  WHERE o_orderkey % 7 = 0)
        |SELECT topic, COUNT(*) AS n_events,
        |  MIN(lsn) AS min_lsn, MAX(lsn) AS max_lsn
        |FROM ev GROUP BY 1 ORDER BY topic""".stripMargin,

    // the PIT state restated from the synthesis rules: at position p the
    // row is absent past its delete (k%7, p ≥ 10k+8), shows the update
    // from 10k+5 (k%10), else the insert image; valid_from names the
    // matched version's open position
    "join_scd2_pit" ->
      """WITH f AS (SELECT l_orderkey, l_linenumber,
        |    l_orderkey * 10 + (l_linenumber * 3) % 12 AS pos
        |  FROM lineitem)
        |SELECT f.l_orderkey, f.l_linenumber, f.pos,
        |  CASE WHEN f.l_orderkey % 7 = 0
        |            AND f.pos >= f.l_orderkey * 10 + 8 THEN NULL
        |       WHEN f.l_orderkey % 10 = 0
        |            AND f.pos >= f.l_orderkey * 10 + 5 THEN 'X'
        |       ELSE o.o_orderstatus END AS o_orderstatus,
        |  CASE WHEN f.l_orderkey % 7 = 0
        |            AND f.pos >= f.l_orderkey * 10 + 8 THEN NULL
        |       WHEN f.l_orderkey % 10 = 0
        |            AND f.pos >= f.l_orderkey * 10 + 5
        |       THEN f.l_orderkey * 10 + 5
        |       ELSE f.l_orderkey * 10 END AS valid_from
        |FROM f JOIN orders o ON o.o_orderkey = f.l_orderkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // the masked/truncated users state: name fully masked, segment
    // capped at 4 chars, the k%5 balance update applied (users has no
    // deletes — every customer survives)
    "cdc_mask_truncate" ->
      """SELECT c_custkey, repeat('*', 10) AS c_name_masked,
        |       substr(c_mktsegment, 1, 4) AS c_mktsegment_trunc,
        |       CAST(CAST(c_acctbal +
        |           CASE WHEN c_custkey % 5 = 0 THEN 100 ELSE 0 END
        |         AS DECIMAL(12,2)) AS VARCHAR) AS c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // cdc_compact's state plus the v2-schema comment: 'rev2' exactly on
    // surviving update rows (k%10==0 not deleted), default-null on
    // v1-written survivors
    "cdc_compact_avro" -> compactedOrders(cols =
      """,
        |       CASE WHEN o_orderkey % 10 = 0 THEN 'rev2'
        |            ELSE NULL END AS o_comment""".stripMargin),

    // straight compaction of BOTH signaled tables (orders under its
    // update/delete rules, users under its k%5 +100 balance update) —
    // the state the signal-gated chunk path must reach; decimal→string
    // via DECIMAL(12,2), the fixture's decimal.handling.mode
    "cdc_signal_snapshot" ->
      s"""WITH o AS (
         |  SELECT 'orders' AS tab, o_orderkey AS pk,
         |    concat_ws('|',
         |      $finalStatus,
         |      CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR),
         |      o_orderpriority) AS state
         |  FROM orders WHERE o_orderkey % 7 <> 0),
         |u AS (
         |  SELECT 'users' AS tab, c_custkey AS pk,
         |    concat_ws('|', c_name,
         |      CAST(CAST(c_acctbal +
         |          CASE WHEN c_custkey % 5 = 0 THEN 100 ELSE 0 END
         |        AS DECIMAL(12,2)) AS VARCHAR),
         |      c_mktsegment) AS state
         |  FROM customer)
         |SELECT tab, pk, state FROM o
         |UNION ALL SELECT tab, pk, state FROM u
         |ORDER BY tab, pk""".stripMargin,

    // the router's contract over the synthesized outbox feed: the routed
    // stream IS the events table re-keyed — inserts only, deletes and
    // tombstones invisible
    "cdc_outbox" ->
      """SELECT 'outbox.event.' || event_type AS topic,
        |       CAST(user_id AS VARCHAR) AS key,
        |       event_id,
        |       event_type AS type,
        |       props AS payload,
        |       epoch_ms(ts) AS ts_ms
        |FROM events
        |ORDER BY event_id""".stripMargin,

    // re-derives the per-transaction event sets from the synthesis rules
    // (txId = lsn/2; the k%20 replay is NOT generated — the engine
    // eliminates it by (collection, lsn) before counting)
    "cdc_txn_meta" ->
      s"""WITH $txnEvents,
         |per AS (
         |  SELECT txid, tbl, COUNT(*) AS n, MIN(lsn) AS lo, MAX(lsn) AS hi
         |  FROM ev GROUP BY txid, tbl)
         |SELECT txid, CAST(SUM(n) AS BIGINT) AS event_count,
         |       array_to_string(list_sort(list(tbl || ':' || CAST(n AS VARCHAR))), ',')
         |         AS data_collections,
         |       MIN(lo) AS min_lsn, MAX(hi) AS max_lsn
         |FROM per GROUP BY txid ORDER BY txid""".stripMargin,

    // apply-status oracle: same re-derived tx sets as cdc_txn_meta; the
    // users topic is truncated at 70% of its own max lsn (integer
    // floor-division, exact in both engines), orders and the transaction
    // topic are caught up
    "cdc_txn_apply" ->
      s"""WITH $txnEvents,
         |tx AS (SELECT txid, COUNT(*) AS event_count, MAX(lsn) AS max_lsn
         |       FROM ev GROUP BY txid),
         |ucut AS (SELECT (7 * MAX(lsn)) // 10 AS c FROM ev WHERE tbl = 'users'),
         |seen AS (SELECT txid FROM ev, ucut
         |         WHERE tbl = 'orders' OR lsn <= c),
         |arr AS (SELECT txid, COUNT(*) AS arrived FROM seen GROUP BY txid)
         |SELECT t.txid, COALESCE(a.arrived, 0) AS arrived,
         |       t.event_count AS expected,
         |       (COALESCE(a.arrived, 0) = t.event_count) AS applied
         |FROM tx t LEFT JOIN arr a USING (txid)
         |ORDER BY t.txid""".stripMargin,

    // the lagging-tx-topic variant: END cutoff at 80% of the global max
    // lsn — expected is NULL past it, applied additionally gated on it
    "cdc_txn_apply_lag" ->
      s"""WITH $txnEvents,
         |tx AS (SELECT txid, COUNT(*) AS event_count, MAX(lsn) AS max_lsn
         |       FROM ev GROUP BY txid),
         |ucut AS (SELECT (7 * MAX(lsn)) // 10 AS c FROM ev WHERE tbl = 'users'),
         |tcut AS (SELECT (8 * MAX(lsn)) // 10 AS c FROM ev),
         |seen AS (SELECT txid FROM ev, ucut
         |         WHERE tbl = 'orders' OR lsn <= c),
         |arr AS (SELECT txid, COUNT(*) AS arrived FROM seen GROUP BY txid)
         |SELECT t.txid, COALESCE(a.arrived, 0) AS arrived,
         |       CASE WHEN t.max_lsn <= tcut.c THEN t.event_count END
         |         AS expected,
         |       (t.max_lsn <= tcut.c
         |        AND COALESCE(a.arrived, 0) = t.event_count) AS applied
         |FROM tx t LEFT JOIN arr a USING (txid) CROSS JOIN tcut
         |ORDER BY t.txid""".stripMargin,

    // the streaming eviction-armed apply: every transaction in the
    // txid%4 slice completes (data + END all fed), each exactly once —
    // one row per txid with the dedup-free feed's count and lsn span
    "cdc_txn_apply_evict" ->
      s"""WITH $txnEvents
         |SELECT txid, CAST(COUNT(*) AS BIGINT) AS event_count,
         |  CAST(MIN(lsn) AS BIGINT) AS min_lsn,
         |  CAST(MAX(lsn) AS BIGINT) AS max_lsn
         |FROM ev WHERE txid % 4 = 0
         |GROUP BY txid ORDER BY txid""".stripMargin,

    "cdc_revenue_by_segment" ->
      """SELECT c_mktsegment,
        |  CAST(CAST(SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR)
        |       AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 7 <> 0
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)

  /** The Confluent wire-format changelog decoded under the v2 reader
    * schema (bronze, shared; see `cdc_compact_avro`). */
  private def avroDecoded(s: SparkSession, dir: String): DataFrame =
    graft.BoundedDfCache.getOrPersist(s, s"cdc:avro-decoded:$dir")(
      AvroWire.decodeOrdersConfluent(AvroWire.synthConfluentChangelog(s, dir)))

  /** Warm-start targets (weights = sf0.1 build seconds; read them off
    * the per-task wall seconds of the `[prewarm]` line that
    * [[graft.Prewarm.run]] ends with). */
  override def prewarm: Seq[graft.Prewarm.Task] = Seq(
    graft.Prewarm.Task("cdc:ivm:view", 1.6, (s, d) => { ivmView(s, d); () }),
    graft.Prewarm.Task("cdc:ivm:minmax", 3.3,
      (s, d) => { ivmMinMax(s, d); () }),
    graft.Prewarm.Task("cdc:ivm:join", 6.2, (s, d) => { ivmJoin(s, d); () }),
    graft.Prewarm.Task("cdc:ivm:bkt", 7.2,
      (s, d) => { ivmJoinBucketed(s, d); () }),
    graft.Prewarm.Task("cdc:standing:upsert", 3.3,
      (s, d) => { standing(s, d, "upsert"); () }),
    graft.Prewarm.Task("cdc:standing:warehouse", 4.0,
      (s, d) => { standing(s, d, "warehouse"); () }),
    graft.Prewarm.Task("cdc:standing:txnevict", 6.4,
      (s, d) => { standing(s, d, "txnevict"); () }),
    graft.Prewarm.Task("cdc:signal", 2.7,
      (s, d) => { CdcOps.signalSnapshotState(s, d); () }),
    graft.Prewarm.Task("cdc:parsed", 2.0, (s, d) => {
      CdcOps.txnMetaShared(s, d); CdcOps.parsedSharded(s, d)
      CdcOps.parsedOrdersTail(s, d); CdcOps.parsedOrdersSnapshot(s, d)
      CdcOps.parsedOrdersMySql(s, d); CdcOps.parsedOrdersMongo(s, d)
      CdcOps.parsedUsers(s, d); CdcOps.parsedOutbox(s, d)
      CdcOps.parsedOrdersSnapshotChunks(s, d); avroDecoded(s, d)
      ()
    }))

}
