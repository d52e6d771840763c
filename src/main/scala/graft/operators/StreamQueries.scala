package graft.operators

import graft.QueryGroup
import graft.sources.Tables
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One arrival of the `stream_late_data` feed: event time + grouping key
  * (top-level so the product encoder is stable across the driver-fed
  * MemoryStream seam, like [[graft.streaming.TxnFeedEvent]]). */
final case class LateFeedEvent(ts: java.sql.Timestamp, event_type: String)

/** One arrival of the `stream_session_live` feed (same top-level-encoder
  * rule as [[LateFeedEvent]]). */
final case class SessionFeedEvent(ts: java.sql.Timestamp, user_id: Long)

/** One arrival of either side of the `stream_join_live` feed (same
  * top-level-encoder rule as [[LateFeedEvent]]; the two sides use two
  * separate MemoryStreams of this shape — one stream per query consumer,
  * per the committed-offset rule). */
final case class JoinFeedEvent(
    ts: java.sql.Timestamp, user_id: Long, eid: Long)

/** Batch-verifiable forms of the streaming operators (SURVEY.md §2.C ops
  * 37-40): the same `window()` / `session_window()` / dedup expressions run
  * identically over a bounded DataFrame, which is what makes them
  * DuckDB-oracle-checkable. The unbounded forms (watermarks, state store,
  * triggers) live in [[graft.streaming.StreamOps]] /
  * [[graft.streaming.StatefulCompaction]] and are covered by
  * StreamingSpec with MemoryStream sources.
  */
object StreamQueries extends QueryGroup {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // op 37: tumbling 1-minute windows per event_type
    "stream_tumbling" -> ((s, dir) => {
      Tables.scan(s, dir, "events")
        .groupBy(window(col("ts"), "1 minute"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("w_start"), col("event_type"),
          col("n"))
        .orderBy("w_start", "event_type")
    }),

    // op 38: sliding 5-minute windows, 1-minute slide — each event lands in
    // 5 overlapping windows. NOT two-level-regrouped like agg_threshold
    // (r17 A/B, 5-rep subset min: 0.51 → 0.67 s WITH minute-grain
    // pre-aggregation): this corpus averages ~1 event per minute, so the
    // pre-aggregate reduces nothing and just adds a second exchange —
    // the regroup pays exactly when the slide grain is coarse relative
    // to event density (agg_threshold's hour grain is ~50:1 here and
    // won 30%). At production density (≫1 event/slide) the regroup is
    // the right shape; at this SF the direct window explode is.
    "stream_sliding" -> ((s, dir) => {
      Tables.scan(s, dir, "events")
        .groupBy(window(col("ts"), "5 minutes", "1 minute"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100).cast("long")).as("sum_cents"))
        .select(col("window.start").as("w_start"), col("n"),
          col("sum_cents"))
        .orderBy("w_start")
    }),

    // op 39: gap-based session windows per user (10-minute gap)
    "stream_session" -> ((s, dir) => {
      Tables.scan(s, dir, "events")
        .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"), col("n"))
        .orderBy("user_id", "s_start")
    }),

    // op 36 GRADED END TO END — watermark + late-data semantics through a
    // REAL Structured Streaming query (withWatermark + tumbling window +
    // Update mode over the state store), not a batch twin: the
    // event_id%8 slice of `events` is replayed as five deterministic
    // micro-batches — arrival order = event-time quartiles (ntile over
    // (ts, event_id)), except every fifth sliced event STRAGGLES into the
    // next batch, arriving up to ~7.5 days late against a 12-hour
    // watermark delay. The engine must drop the stragglers whose window
    // fell behind the watermark and merge the ones still inside it; the
    // oracle restates Spark's contract relationally (per-batch ratcheting
    // watermark = ms-truncated running max event time − delay; a row
    // survives iff its day-window's END is above the watermark its batch
    // ran under). Final counts = last Update emission per key (counts
    // only grow, so max = last — the tws fold shape). Output is one row
    // per (day, event_type) — constant ~150 rows at EVERY scale factor,
    // while the dropped-row set grows with the corpus. State width 4
    // (state-store sizing, as every stateful graded query).
    "stream_late_data" -> ((s, dir) => {
      lateFeed(s, dir)
        // cast back to NTZ wall-clock (session is UTC): an LTZ parquet
        // column reads tz-aware downstream and would break the
        // tz-naive compare against the oracle's date_trunc
        .select(col("window.start").cast("timestamp_ntz").as("w_start"),
          col("event_type"), col("cnt"))
        .orderBy("w_start", "event_type")
    }),

    // op 42 GRADED (output modes) — the Append/Update DISTINCTION as an
    // oracle-checked fact: the SAME feed, watermark, and window as
    // `stream_late_data`, but in APPEND mode, where a window may emit
    // only once the watermark passes its end. With no flush sentinel,
    // the emitted set is therefore the strict subset of windows already
    // FINALIZED when the feed ends (end ≤ final watermark) — the last
    // day-and-a-half of windows are admitted, counted in state, and yet
    // correctly absent from the output. The oracle adds exactly that
    // final-watermark filter on top of the late-data admission CTEs.
    // (Triggers are wall-clock scheduling and stay spec-covered —
    // SinksAndJoinsSpec; this grades the mode semantics.)
    "stream_append_mode" -> ((s, dir) => {
      lateFeed(s, dir).filter(col("appended").isNotNull)
        .select(col("window.start").cast("timestamp_ntz").as("w_start"),
          col("event_type"), col("appended").as("cnt"))
        .orderBy("w_start", "event_type")
    }),

    // op 39 GRADED END TO END — gap-session windows through a REAL
    // Structured Streaming query (withWatermark + session_window merge
    // state + Append mode), not the batch twin: the event_id%4 slice is
    // replayed as five deterministic event-time-ordered micro-batches,
    // so sessions straddling a batch boundary MERGE in the state store
    // across triggers (the per-user session a batch opens is extended by
    // the next batch's events — the contract `stream_session`'s batch
    // form cannot exercise). Append mode emits a session only once the
    // ratcheting watermark passes its end, so the output is the strict
    // subset of merged sessions finalized when the feed ends — the
    // oracle restates exactly that: gaps-and-islands per user (strict
    // 4-hour gap, half-open session windows) gated on end ≤ final
    // watermark (ms-truncated max event time − 12 h). The feed is
    // event-time-ordered and delay (12 h) ≥ gap (4 h), so no admitted
    // event can ever extend an already-evicted session — which is what
    // makes the relational restatement exact (an out-of-order feed
    // would need eviction-time session extents; that late-vs-state
    // interplay is graded separately by `stream_late_data`).
    "stream_session_live" -> ((s, dir) => {
      sessionLiveSink(s, dir)
        .select(col("user_id"),
          col("session_window.start").cast("timestamp_ntz").as("s_start"),
          col("session_window.end").cast("timestamp_ntz").as("s_end"),
          col("n"))
        .orderBy("user_id", "s_start")
    }),

    // op 15 GRADED END TO END — watermarked stream-stream LEFT-OUTER
    // interval join through a REAL two-MemoryStream Structured Streaming
    // query (Append mode), not the batch twin: disjoint event slices
    // replay as three lockstep micro-batches; matches emit as both sides
    // arrive, while an UNMATCHED left row null-pads only once the global
    // watermark (min of both sources', ratcheting at trigger boundaries)
    // passes its 2-hour match-window end and the symmetric-hash state
    // evicts it. The feeds are event-time-ordered, so no admitted row is
    // ever late and no left row is evicted before its in-window matches
    // arrive — which makes the relational restatement exact: the full
    // interval join UNION the anti-join gated on l_ts + 2 h < final
    // watermark (ms-truncated least of the two sides' max event times
    // − 12 h). The strict `<` is Spark's own eviction predicate (state
    // removes keys strictly below the state watermark).
    "stream_join_live" -> ((s, dir) => {
      joinLiveSink(s, dir)
        .select(col("user_id"), col("l_eid"),
          col("l_ts").cast("timestamp_ntz").as("l_ts"),
          col("r_ts").cast("timestamp_ntz").as("r_ts"),
          col("r_eid"))
        .orderBy("user_id", "l_eid", "r_eid")
    }),

    // op 40 (batch form): at-least-once replay dedup — the log replayed
    // twice must collapse back to exactly the original rows
    "stream_dedup" -> ((s, dir) => {
      val ev = Tables.scan(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      ev.unionByName(ev)
        .dropDuplicates("event_id")
        .orderBy("event_id")
    }),

    // op 20' (the `for: 5m` half of alerting): sustained-condition alert
    // runs — hourly event counts per type that meet the threshold for ≥ 3
    // CONTIGUOUS hours (a spike alone never fires). Batch twin of the
    // standing evaluator [[graft.streaming.AlertRules.sustainedAlerts]];
    // the islands form here is also the backfill path a deployment runs
    // to score historical rule coverage.
    "alert_sustained" -> ((s, dir) => {
      // the hourly aggregate IS the shared ts:hourly frame (identical
      // expression tree, r17) — was a private corpus scan + groupBy
      graft.streaming.AlertRules.sustainedRuns(
        TimeSeriesQueries.hourlyCounts(s, dir).withColumnRenamed("y", "n"),
        keyCol = "event_type", threshold = 4L, minRun = 3)
        .orderBy("event_type", "run_start")
    }),

    // op 43''' — MULTI-WINDOW BURN-RATE, the SRE-workbook alert shape
    // (two trailing windows must BOTH burn error budget before paging —
    // the short window catches the spike, the long window proves it
    // isn't a blip): SLI = error sample (value ≥ 150), hour-grain
    // totals, trailing 1 h and 6 h windows. Rates are EXACT integer
    // parts-per-million (err·10⁶ div tot — no cross-engine float
    // division anywhere), the page condition is exact cross-
    // multiplication (err·10 > tot ⟺ rate > 10%), and the graded
    // output is the TOP-20 burn hours by (6 h ppm, 1 h ppm, hour) —
    // deterministic and non-empty at every SF even when nothing
    // crosses the page line (zero alerts at scale is the healthy
    // steady state; the boolean carries the rule verdict). Scale
    // shape: ONE corpus-sized pass (the hourly aggregate); the 6 h
    // window and the ranking run on the ≤span-hours axis
    // (monitoring-series cardinality) — the bounded-axis global
    // window every alert rule here uses; top-20 is a TakeOrdered.
    "alert_burn_rate" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = Tables.scan(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(sum(when(col("value") >= 150.0, 1L).otherwise(0L)).as("err"),
          count(lit(1)).as("tot"))
        // hour index for the range frame: NTZ → LTZ cast first (session
        // is UTC, so the wall clock is unchanged — the unix_micros rule)
        .withColumn("hi",
          (unix_micros(col("h").cast("timestamp")) / 3600000000L)
            .cast("long"))
      val w6 = Window.orderBy(col("hi")).rangeBetween(-5, 0)
      hourly
        .withColumn("err_6h", sum(col("err")).over(w6))
        .withColumn("tot_6h", sum(col("tot")).over(w6))
        .select(col("h").cast("timestamp_ntz").as("h"),
          col("err").as("err_1h"), col("tot").as("tot_1h"),
          col("err_6h"), col("tot_6h"),
          expr("err * 1000000L div tot").as("rate_ppm_1h"),
          expr("err_6h * 1000000L div tot_6h").as("rate_ppm_6h"),
          (col("err") * 10 > col("tot")
            && col("err_6h") * 10 > col("tot_6h")).as("page"))
        .orderBy(col("rate_ppm_6h").desc, col("rate_ppm_1h").desc,
          col("h"))
        .limit(20)
    }),

    // op 43' (the reference's two AVAILABILITY alert rules — reference:
    // helm-charts/cdc-system/templates/monitoring/prometheus-rules.yaml:21-37:
    // `up == 0 for 2m` → KafkaConnectDown, `state != RUNNING for 1m` →
    // ConnectorNotRunning — instantiated over a synthesized scrape):
    // a monitoring scrape has a sample for EVERY evaluation interval,
    // so the status stream is a dense per-connector bucket grid over the
    // monitoring span — absence of events IS the down signal. Evaluation
    // interval here is 1 hour (the corpus's natural cadence; the
    // reference's 2m/1m `for:` durations are 2-buckets/1-bucket of its
    // 1m interval, mapped 1:1 onto minRun). Grid size is
    // connectors × span-buckets — monitoring-series cardinality,
    // independent of event volume, so the crossJoin stays tiny at any
    // data scale.
    // op 43'' (the reference's PRIMARY alert rule — reference:
    // helm-charts/cdc-system/templates/monitoring/prometheus-rules.yaml:
    // 12-19: `kafka_consumer_lag > 1000 for 5m → warning` — the consumer
    // backlog SLO every CDC deployment watches first): lag is a DERIVED
    // series — produced offsets minus committed offsets per partition on
    // the scrape grid — so the query synthesizes the offset ledger
    // deterministically from `events` (two partitions = event_id%2;
    // produced = cumulative per-hour event count on the dense grid;
    // committed trails produced by one evaluation — the healthy
    // steady-state backlog — EXCEPT partition 0's consumer stalls at a
    // fixed date and its committed offset freezes, the classic wedged-
    // consumer incident) and fires the rule with the SAME sustained-run
    // machinery as the other two alert rules (threshold 1000 messages,
    // `for:` mapped to 5 evaluation buckets like alert_availability maps
    // 2m/1m). Partition 1's steady one-bucket lag never alerts — the
    // negative case rides in the same output. Grid is partitions ×
    // span-hours (monitoring-series cardinality, corpus-size-
    // independent); the only corpus-sized work is one per-hour count.
    "alert_consumer_lag" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val stallTs = lit("2024-01-12 00:00:00").cast("timestamp_ntz")
      val ev = Tables.scan(s, dir, "events")
      // span off the shared hourly rollup (trunc is monotone+idempotent,
      // so min/max of h equal the trunc'd raw min/max) — one less corpus
      // scan; the per-(partition, hour) count below still needs the raw
      // event grain (its key is event_id-derived)
      val span = TimeSeriesQueries.hourlyCounts(s, dir)
        .agg(min(col("h")).as("t0"), max(col("h")).as("t1"))
      val hours = span
        .select(explode(expr("sequence(t0, t1, interval 1 hour)")).as("h"))
      val perHour = ev
        .groupBy((col("event_id") % 2).as("part"),
          date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      val grid = s.range(2).select(col("id").as("part")).crossJoin(hours)
        .join(perHour, Seq("part", "h"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
      val wP = Window.partitionBy("part").orderBy("h")
      val cum = grid.withColumn("produced", sum(col("n")).over(wP))
      // produced is monotone, so max over pre-stall hours IS the offset
      // the wedged consumer froze at; bounded (1-row) broadcast join
      val freeze = cum
        .filter(col("part") === 0 && col("h") < stallTs)
        .groupBy("part").agg(max(col("produced")).as("_freeze"))
      val lagged = cum
        .withColumn("_trail",
          coalesce(lag(col("produced"), 1).over(wP), lit(0L)))
        .join(broadcast(freeze), Seq("part"), "left")
        .withColumn("lag_n",
          col("produced") - when(
            col("part") === 0 && col("h") >= stallTs, col("_freeze"))
            .otherwise(col("_trail")))
      graft.streaming.AlertRules.sustainedRuns(
        lagged.select(col("part"), col("h"), col("lag_n").as("n")),
        keyCol = "part", threshold = 1001L, minRun = 5)
        .orderBy("part", "run_start")
    }),

    // op 43'''' — HEARTBEAT/LIVENESS stall (public Debezium
    // `heartbeat.interval.ms`: the connector publishes a heartbeat
    // record every interval even when the captured tables' WAL is
    // silent, so a MISSING heartbeat separates "connector dead /
    // replication wedged" from "no changes to ship" — the liveness
    // signal the three graded traffic rules cannot see). Heartbeats
    // ride the hour grid; the synthesized feed drops (a) a contiguous
    // SILENT-WAL STRETCH on the postgres connector — the incident:
    // span/4 hours into the series, max(3, span/10) hours long — and
    // (b) isolated single misses every 37 hours on both connectors
    // (scrape hiccups; 37-hour spacing means they are never contiguous,
    // so these sub-minRun runs must NOT page). The mysql connector has
    // only (b) — the standing negative case rides in the same grid and
    // contributes zero output rows. The islands rule fires on ≥3
    // consecutive missed heartbeats via the SAME sustainedRuns
    // machinery as the other graded rules (n=1 marks a missed bucket).
    // Scale shape: grid is connectors × span-hours (monitoring-series
    // cardinality, corpus-size-independent); the only corpus-sized work
    // is the one span aggregate.
    "alert_heartbeat_stall" -> ((s, dir) => {
      // span off the shared hourly rollup — this query's ONLY
      // corpus-sized work drops to zero (the grid is span-bounded)
      val span = TimeSeriesQueries.hourlyCounts(s, dir)
        .agg(min(col("h")).as("t0"), max(col("h")).as("t1"))
      val hours = span
        .select(
          explode(expr("sequence(t0, t1, interval 1 hour)")).as("h"),
          (unix_micros(col("t0").cast("timestamp")) / 3600000000L)
            .cast("long").as("t0i"),
          (unix_micros(col("t1").cast("timestamp")) / 3600000000L)
            .cast("long").as("t1i"))
        .withColumn("hi",
          (unix_micros(col("h").cast("timestamp")) / 3600000000L)
            .cast("long"))
        .withColumn("off", col("hi") - col("t0i"))
        .withColumn("span_h", col("t1i") - col("t0i") + 1)
      val grid = s.range(2)
        .select(when(col("id") === 0, "postgres-prod")
          .otherwise("mysql-prod").as("server"))
        .crossJoin(hours) // bounded: 2 connectors × span-hours
      val missed = grid.filter(
        (col("server") === "postgres-prod" &&
          col("off") >= expr("span_h div 4") &&
          col("off") < expr("span_h div 4") +
            greatest(lit(3L), expr("span_h div 10"))) ||
        col("off") % 37 === 0)
        .select(col("server"), col("h"), lit(1L).as("n"))
      graft.streaming.AlertRules.sustainedRuns(
        missed, keyCol = "server", threshold = 1L, minRun = 3)
        .orderBy("server", "run_start")
    }),

    // op 43 GRADED EXPOSITION — the scrape surface itself (reference
    // deploys prometheus scraping the connect/exporter endpoints;
    // prometheus-config.yaml:26-59): a deterministic per-(query, hour)
    // batch ledger renders through the REAL text-exposition writer
    // (format 0.0.4, HELP/TYPE framing, label escaping) and is scraped
    // back by the REAL parser — the full exporter→scrape round trip on
    // the graded path; the compare runs on the PARSED samples, so the
    // oracle restates (metric, labels, value) while text formatting
    // stays the renderer's concern (Double.toString round-trips exactly
    // through the parser at any magnitude). The driver transfer is the
    // bounded monitoring ledger — types × span-hours, corpus-size-
    // independent; the only corpus-sized work is the hourly aggregate.
    "cdc_prometheus_metrics" -> ((s, dir) => {
      import graft.streaming.{Prometheus, StreamingMetrics}
      // the ledger IS the shared ts:hourly frame (identical expression
      // tree, r17); the collect stays bounded — types × span-hours
      val ledger = TimeSeriesQueries.hourlyCounts(s, dir)
        .withColumnRenamed("y", "n")
        .orderBy("event_type", "h")
        .collect()
      val batches = ledger.toSeq.zipWithIndex.map { case (r, i) =>
        val n = r.getLong(2)
        StreamingMetrics.BatchMetrics(
          queryName = r.getString(0),
          batchId = i.toLong,
          inputRows = n,
          // gauges carry exact integer-valued doubles so the oracle can
          // restate them from the same hourly counts
          inputRowsPerSec = n.toDouble,
          processedRowsPerSec = n.toDouble,
          batchDurationMs = n * 3)
      }
      val text = Prometheus.render(batches,
        Seq("postgres-orders" -> "RUNNING", "mysql-inventory" -> "PAUSED"))
      val samples = Prometheus.parse(text).map { sm =>
        (sm.name,
          sm.labels.toSeq.sorted
            .map { case (k, v) => s"$k=$v" }.mkString(","),
          sm.value)
      }
      import s.implicits._
      samples.toDF("metric", "labels", "value")
        .orderBy("metric", "labels")
    }),

    "alert_availability" -> ((s, dir) => {
      val status = statusGrid(s, dir)
      def runs(cond: org.apache.spark.sql.Column, minRun: Int, rule: String) =
        graft.streaming.AlertRules.sustainedRuns(
          status.select(col("connector"), col("h"),
            when(cond, 1L).otherwise(0L).as("n")),
          keyCol = "connector", threshold = 1L, minRun = minRun)
          .select(lit(rule).as("rule"), col("connector"),
            col("run_start"), col("run_end"), col("n_hours"))
      runs(col("up") === 0L, 2, "ConnectDown")
        .unionByName(runs(col("state") =!= "RUNNING", 1, "ConnectorNotRunning"))
        .orderBy("rule", "connector", "run_start")
    }))

  /** Connector × hour status grid for the availability rules —
    * session-cached: both rule evaluations reference it, and without the
    * persist the unioned plan would re-run the full-table per-hour
    * aggregation, the span agg, and the distinct once PER RULE — the
    * grid itself is connectors × hours (tiny), so caching it caps the
    * events scans at one per session. */
  private def statusGrid(s: SparkSession, dir: String): DataFrame =
    graft.BoundedDfCache.getOrPersist(
        s, s"alert:status:$dir") {
        val ev = Tables.scan(s, dir, "events")
        val perHour = ev
          .groupBy(col("event_type").as("connector"),
            date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("n_ev"), max(col("value")).as("max_v"))
        val span = ev.agg(date_trunc("hour", min(col("ts"))).as("t0"),
          date_trunc("hour", max(col("ts"))).as("t1"))
        val hours = span
          .select(explode(expr("sequence(t0, t1, interval 1 hour)")).as("h"))
        ev.select(col("event_type").as("connector")).distinct()
          .crossJoin(hours)
          .join(perHour, Seq("connector", "h"), "left")
          // up: the connector produced anything this interval; state: a
          // poison sample (value ≥ 200, a fixed liveness threshold) marks
          // the task FAILED even though the process is up
          .withColumn("up", when(col("n_ev").isNull, 0L).otherwise(1L))
          .withColumn("state", when(col("n_ev").isNull, lit("DOWN"))
            .when(col("max_v") >= 200.0, lit("FAILED"))
            .otherwise(lit("RUNNING")))
      }

  /** `ntile(k) - 1` over the total order (ts, event_id) — the feed
    * fixtures' batch index — as a [[GlobalOrder]] rank plus
    * [[GlobalOrder.ntile0]]; event_id is unique, so the order is total.
    * Honest A/B against the direct global ntile (sf1, isolated, noop
    * sink): old 2.96/0.76/0.66 s vs new 3.23/1.44/1.05 s for
    * sess/join/late — the old form was NOT compute-bound at measured
    * SFs (the 127 s `fixture:streamfeed:sess` window in the r17 sf1
    * sweep was the one-task stage starving for cores among the other
    * prewarm builds, a contention artifact both forms show; that phase
    * is one blocking step before the queries, so no query's time holds
    * it). The two-phase form is kept for the SHAPE: a single-partition
    * sort of the whole slice is a hard straggler at 10×+ this corpus.
    * FeedBatchEquivalenceSpec re-proves equality against the direct
    * ntile on real corpus slices. */
  private[graft] def twoPhaseNtile0(df: DataFrame, k: Int): DataFrame =
    // the hour of ts is a prefix of (ts, event_id) order
    GlobalOrder.prefixBefore(
        df.withColumn("_fb", date_trunc("hour", col("ts"))), "_fb",
        Seq(col("ts"), col("event_id")), lit(1L))
      .withColumn("_tile0",
        GlobalOrder.ntile0(col("before") + 1L, col("total"), k).cast("int"))
      .drop("_fb", "before", "total")

  /** One replay feed's batch table. The feeds are pure test-INPUT
    * synthesis (ordered event slices a deployment would read from Kafka,
    * not fabricate), so they carry FIXTURE tags and survive bench rep
    * boundaries. The sort fixes the deterministic replay order [[replay]]
    * groups on (within-batch tie order is irrelevant to the graded
    * semantics: addData treats a batch as an unordered set). */
  private def feedFixture(s: SparkSession, dir: String, name: String,
      sortCols: Seq[String])(build: => DataFrame): DataFrame =
    graft.BoundedDfCache.getOrPersist(
      s, s"${graft.BoundedDfCache.FixturePrefix}streamfeed:$name:$dir")(
      build.sort(sortCols.map(col): _*))

  /** The late feed: the event_id%8 slice as five deterministic
    * micro-batches — event-time quartiles, every fifth sliced event
    * straggling one batch. */
  private def lateBatches(s: SparkSession, dir: String): DataFrame =
    feedFixture(s, dir, "late", Seq("batch", "ts")) {
      twoPhaseNtile0(
        Tables.scan(s, dir, "events")
          .filter(col("event_id") % 8 === 0)
          .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
            col("event_type")), 4)
        .withColumn("batch",
          col("_tile0") + when(col("event_id") % 40 === 0, 1).otherwise(0))
        .select(col("batch"), col("ts"), col("event_type"))
    }

  /** The session feed: the event_id%4 slice as five event-time-ordered
    * micro-batches. */
  private def sessBatches(s: SparkSession, dir: String): DataFrame =
    feedFixture(s, dir, "sess", Seq("batch", "ts")) {
      twoPhaseNtile0(
        Tables.scan(s, dir, "events")
          .filter(col("event_id") % 4 === 1)
          .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
            col("user_id")), 5)
        .select(col("_tile0").as("batch"), col("ts"), col("user_id"))
    }

  /** The stream-stream join feed: two DISJOINT slices (left %8=2, right
    * %8=6 — off the late feed's %8=0 and the session feed's %4=1),
    * batched by ntile(3) over the UNION's event-time order so both sides
    * stay event-time-ordered and their watermarks interleave within one
    * batch span of each other. THREE batches, not five: the graded
    * semantics are batch-count-independent (matches = the full interval
    * join under ordered feeds at any batching; the null-pad gate uses
    * only the FINAL watermark), two state-carrying boundaries already
    * exercise cross-trigger matching/eviction, and each join trigger
    * commits 4 state stores per partition — the per-batch fixed cost this
    * feed's wall-clock is made of. */
  private def joinBatches(s: SparkSession, dir: String): DataFrame =
    feedFixture(s, dir, "join", Seq("batch", "ts", "event_id")) {
      twoPhaseNtile0(
        Tables.scan(s, dir, "events")
          .filter(col("event_id") % 8 === 2 || col("event_id") % 8 === 6)
          .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
            col("user_id"),
            (col("event_id") % 8 === 2).as("is_left")), 3)
        .select(col("_tile0").as("batch"), col("ts"), col("user_id"),
          col("event_id"), col("is_left"))
    }

  /** Feed `batches` (batch index first, in arrival order) to `flush` one
    * micro-batch at a time, through a bounded driver transfer
    * (toLocalIterator). */
  private def replay[E](batches: DataFrame)(event: Row => E)(
      flush: Seq[E] => Unit): Unit = {
    import scala.jdk.CollectionConverters._
    var cur = -1
    val buf = scala.collection.mutable.ArrayBuffer.empty[E]
    batches.toLocalIterator().asScala.foreach { r =>
      if (r.getInt(0) != cur) {
        if (buf.nonEmpty) flush(buf.toSeq)
        buf.clear(); cur = r.getInt(0)
      }
      buf += event(r)
    }
    if (buf.nonEmpty) flush(buf.toSeq)
  }

  /** One standing replay pipeline under its own cache tag
    * `stream:<name>`: `run` starts its queries on a
    * [[graft.Sessions.scoped]] clone at state width `width` and drains
    * its feed; the loan stops them. Each query builds only its own
    * pipeline; [[graft.Prewarm]] runs the three side by side, as one
    * cluster hosts several standing queries over independent topics.
    * The watermarks ratchet exactly at trigger boundaries like deployed
    * streams. The checkpoints are pure commit-protocol scratch (a
    * MemoryStream cannot recover from one), so they live on tmpfs when
    * available, wiped up front (a leftover dir from a previous rep would
    * make a fresh query try to RESUME it) and freed when the pipeline
    * ends. State widths
    * are sized to the state volume — a few hundred keys at the bench SF,
    * where more partitions are per-trigger commit fan-out, not
    * parallelism; results are width-independent, and a deployment sizes
    * the width at query start. */
  private def standingFeed(s: SparkSession, dir: String, name: String,
      width: Int)(run: (SparkSession, String) => DataFrame): DataFrame =
    graft.BoundedDfCache.getOrPersist(s, s"stream:$name:$dir") {
      val ck = graft.TmpPaths.fresh(
        graft.TmpPaths.ephemeral(s"graft-$name-ck", dir))
      try graft.Sessions.scoped(
        s, "spark.sql.shuffle.partitions" -> width.toString)(run(_, ck))
      finally graft.TmpPaths.fresh(ck)
    }

  /** `stream_late_data` and `stream_append_mode`'s pipeline: the late
    * feed through withWatermark(12 h) + 1-day tumbling windows in BOTH
    * output modes. Each mode reads its own MemoryStream fed the identical
    * batch sequence (MemoryStream keeps a single committed offset and
    * truncates on commit, so two queries on one stream race the trim;
    * per-consumer offsets are exactly the Kafka contract), and both
    * drain before the next add, so each add is the same micro-batch in
    * each. One row per (window, event_type): `cnt` is the Update mode's
    * final count (counts only grow, so the last emission is the max),
    * and `appended` is the Append mode's emitted count, null where the
    * window was not final when the feed ended. Width 4. */
  private def lateFeed(s: SparkSession, dir: String): DataFrame = {
    val batches = lateBatches(s, dir)
    standingFeed(s, dir, "late", 4) { (c, ck) =>
      import c.implicits._
      def start(mode: OutputMode, name: String) = {
        val in = MemoryStream[LateFeedEvent](c)
        val q = in.toDS()
          .withWatermark("ts", "12 hours")
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .writeStream.format("memory")
          .option("checkpointLocation", s"$ck/$name")
          .queryName(name).outputMode(mode).start()
        (in, q)
      }
      val (inU, qU) = start(OutputMode.Update, "graft_stream_late")
      val (inA, qA) = start(OutputMode.Append, "graft_stream_append")
      replay(batches)(r =>
        LateFeedEvent(r.getTimestamp(1), r.getString(2))) { b =>
        inU.addData(b); inA.addData(b)
        qU.processAllAvailable(); qA.processAllAvailable()
      }
      c.table("graft_stream_late")
        .groupBy(col("window"), col("event_type"))
        .agg(max(col("cnt")).as("cnt"))
        .join(c.table("graft_stream_append")
            .withColumnRenamed("cnt", "appended"),
          Seq("window", "event_type"), "left_outer")
    }
  }

  /** `stream_session_live`'s pipeline: the session feed through
    * withWatermark(12 h) + session_window(4 h) in Append mode — sessions
    * straddling batch boundaries merge in the state store (3 merged
    * sessions at sf0.01, 19 at sf0.1; StreamingSpec pins ≥1). The
    * session_window memory-sink shape. Width 4. */
  private[graft] def sessionLiveSink(
      s: SparkSession, dir: String): DataFrame = {
    val batches = sessBatches(s, dir)
    standingFeed(s, dir, "session", 4) { (c, ck) =>
      import c.implicits._
      val in = MemoryStream[SessionFeedEvent](c)
      val q = in.toDS()
        .withWatermark("ts", "12 hours")
        .groupBy(session_window(col("ts"), "4 hours"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory")
        .option("checkpointLocation", s"$ck/session")
        .queryName("graft_stream_session")
        .outputMode(OutputMode.Append).start()
      replay(batches)(r =>
        SessionFeedEvent(r.getTimestamp(1), r.getLong(2))) { b =>
        in.addData(b); q.processAllAvailable()
      }
      c.table("graft_stream_session")
    }
  }

  /** `stream_join_live`'s pipeline (op 15 end to end): watermarked
    * two-stream LEFT-OUTER interval join — matches emit when both sides
    * have arrived; an unmatched left row null-pads only once the GLOBAL
    * watermark (min of both sources' ratcheting watermarks, the default
    * multipleWatermarkPolicy) passes the end of its 2-hour match window
    * and the state store evicts it. Both sides of a batch land before
    * the trigger, so each micro-batch advances both watermarks in
    * lockstep. The join-output shape (user_id, l_eid, l_ts, r_ts, r_eid).
    * Width 2: each trigger commits 4 state stores per partition and the
    * state is a few hundred keys; pairs matching/evicting ACROSS batch
    * cuts is a property of the ntile(3) BATCHING, not of the state
    * fan-out (StreamJoinPropertySpec re-proves the contract across
    * randomized batchings). */
  private[graft] def joinLiveSink(s: SparkSession, dir: String): DataFrame = {
    val batches = joinBatches(s, dir)
    standingFeed(s, dir, "join", 2) { (c, ck) =>
      import c.implicits._
      val inL = MemoryStream[JoinFeedEvent](c)
      val inR = MemoryStream[JoinFeedEvent](c)
      val l = inL.toDS()
        .select(col("ts").as("l_ts"), col("user_id"),
          col("eid").as("l_eid"))
        .withWatermark("l_ts", "12 hours")
      val r = inR.toDS()
        .select(col("ts").as("r_ts"), col("user_id").as("r_uid"),
          col("eid").as("r_eid"))
        .withWatermark("r_ts", "12 hours")
      val q = l.join(r,
          expr("""user_id = r_uid AND
                 |r_ts >= l_ts AND r_ts <= l_ts + interval 2 hours"""
            .stripMargin),
          "left_outer")
        .select(col("user_id"), col("l_eid"), col("l_ts"),
          col("r_ts"), col("r_eid"))
        .writeStream.format("memory")
        .option("checkpointLocation", s"$ck/join")
        .queryName("graft_stream_join")
        .outputMode(OutputMode.Append).start()
      replay(batches)(r => (
        JoinFeedEvent(r.getTimestamp(1), r.getLong(2), r.getLong(3)),
        r.getBoolean(4))) { b =>
        val (left, right) = b.partition(_._2)
        if (left.nonEmpty) inL.addData(left.map(_._1))
        if (right.nonEmpty) inR.addData(right.map(_._1))
        q.processAllAvailable()
      }
      c.table("graft_stream_join")
    }
  }

  val oracles: Map[String, String] = Map(
    // Spark's watermark contract restated: per-batch ratcheting watermark
    // (ms-truncated running max event time − 12 h, the engine's own ms
    // resolution), a row admitted iff its batch ran before any watermark
    // existed or its day-window's END is above that batch's watermark
    "stream_late_data" ->
      """WITH e AS (SELECT event_id, ts, event_type FROM events
        |  WHERE event_id % 8 = 0),
        |b AS (SELECT ts, event_type,
        |    (ntile(4) OVER (ORDER BY ts, event_id) - 1)
        |      + CASE WHEN event_id % 40 = 0 THEN 1 ELSE 0 END AS batch
        |  FROM e),
        |mx AS (SELECT batch, MAX(ts) AS mts FROM b GROUP BY batch),
        |wm AS (SELECT x.batch,
        |    date_trunc('milliseconds', MAX(m.mts)) - INTERVAL 12 HOUR
        |      AS wm_prev
        |  FROM (SELECT DISTINCT batch FROM b) x
        |  LEFT JOIN mx m ON m.batch < x.batch
        |  GROUP BY x.batch),
        |adm AS (SELECT b.ts, b.event_type
        |  FROM b JOIN wm ON b.batch = wm.batch
        |  WHERE wm.wm_prev IS NULL
        |     OR date_trunc('day', b.ts) + INTERVAL 1 DAY > wm.wm_prev)
        |SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM adm GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

    // Append mode = the late-data admission chain PLUS the finalization
    // gate: only windows whose end the FINAL watermark passed may emit
    "stream_append_mode" ->
      """WITH e AS (SELECT event_id, ts, event_type FROM events
        |  WHERE event_id % 8 = 0),
        |b AS (SELECT ts, event_type,
        |    (ntile(4) OVER (ORDER BY ts, event_id) - 1)
        |      + CASE WHEN event_id % 40 = 0 THEN 1 ELSE 0 END AS batch
        |  FROM e),
        |mx AS (SELECT batch, MAX(ts) AS mts FROM b GROUP BY batch),
        |wm AS (SELECT x.batch,
        |    date_trunc('milliseconds', MAX(m.mts)) - INTERVAL 12 HOUR
        |      AS wm_prev
        |  FROM (SELECT DISTINCT batch FROM b) x
        |  LEFT JOIN mx m ON m.batch < x.batch
        |  GROUP BY x.batch),
        |adm AS (SELECT b.ts, b.event_type
        |  FROM b JOIN wm ON b.batch = wm.batch
        |  WHERE wm.wm_prev IS NULL
        |     OR date_trunc('day', b.ts) + INTERVAL 1 DAY > wm.wm_prev),
        |fw AS (SELECT date_trunc('milliseconds', MAX(ts))
        |    - INTERVAL 12 HOUR AS w FROM b)
        |SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start,
        |  event_type, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM adm, fw
        |WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= fw.w
        |GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

    // the streaming session contract restated: gaps-and-islands per user
    // with Spark's half-open session windows (two events chain iff
    // ts − prev < gap, STRICT — [t, t+gap) ∩ [t', t'+gap) = ∅ at exactly
    // gap), session end = last event + gap, and Append mode's
    // finalization gate: emit iff end ≤ final watermark (ms-truncated
    // max event time − 12 h). The feed is event-time-ordered with
    // delay ≥ gap, so batch-final extents are the streaming extents
    // (see the queries-map comment).
    "stream_session_live" ->
      """WITH e AS (SELECT user_id, ts FROM events WHERE event_id % 4 = 1),
        |m AS (SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM e),
        |g AS (SELECT user_id, ts,
        |    SUM(CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 4 HOUR
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |sess AS (SELECT user_id, MIN(ts) AS s_start,
        |    MAX(ts) + INTERVAL 4 HOUR AS s_end, COUNT(*) AS n
        |  FROM g GROUP BY user_id, sid),
        |fw AS (SELECT date_trunc('milliseconds', MAX(ts))
        |    - INTERVAL 12 HOUR AS w FROM e)
        |SELECT user_id, s_start, s_end, CAST(n AS BIGINT) AS n
        |FROM sess, fw WHERE s_end <= fw.w
        |ORDER BY user_id, s_start""".stripMargin,

    // the stream-stream outer-join contract restated: matches = the plain
    // interval join (ordered feeds → every match is emitted); null-padded
    // rows = unmatched lefts whose match window the FINAL global watermark
    // (least of the two sides' ms-truncated max event times − 12 h)
    // strictly passed — lefts still inside it sit unemitted in state
    "stream_join_live" ->
      """WITH l AS (SELECT event_id AS l_eid, user_id, ts AS l_ts
        |  FROM events WHERE event_id % 8 = 2),
        |r AS (SELECT event_id AS r_eid, user_id AS r_uid, ts AS r_ts
        |  FROM events WHERE event_id % 8 = 6),
        |fw AS (SELECT least(
        |    (SELECT date_trunc('milliseconds', MAX(l_ts)) FROM l),
        |    (SELECT date_trunc('milliseconds', MAX(r_ts)) FROM r))
        |    - INTERVAL 12 HOUR AS w),
        |m AS (SELECT l.user_id, l.l_eid, l.l_ts, r.r_ts, r.r_eid
        |  FROM l JOIN r ON r.r_uid = l.user_id
        |    AND r.r_ts >= l.l_ts AND r.r_ts <= l.l_ts + INTERVAL 2 HOUR),
        |u AS (SELECT l.user_id, l.l_eid, l.l_ts,
        |    CAST(NULL AS TIMESTAMP) AS r_ts, CAST(NULL AS BIGINT) AS r_eid
        |  FROM l CROSS JOIN fw
        |  WHERE l.l_ts + INTERVAL 2 HOUR < fw.w
        |    AND NOT EXISTS (SELECT 1 FROM r
        |      WHERE r.r_uid = l.user_id AND r.r_ts >= l.l_ts
        |        AND r.r_ts <= l.l_ts + INTERVAL 2 HOUR))
        |SELECT * FROM m UNION ALL SELECT * FROM u
        |ORDER BY user_id, l_eid, r_eid""".stripMargin,

    "stream_tumbling" ->
      """SELECT date_trunc('minute', ts) AS w_start, event_type,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

    "stream_sliding" ->
      """SELECT date_trunc('minute', ts) - k.k * INTERVAL 1 MINUTE AS w_start,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM events CROSS JOIN (SELECT unnest(range(0, 5)) AS k) k
        |GROUP BY 1 ORDER BY w_start""".stripMargin,

    "stream_session" ->
      """WITH o AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |m AS (SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM o),
        |g AS (SELECT user_id, ts,
        |    SUM(CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 10 MINUTE
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, MIN(ts) AS s_start,
        |  MAX(ts) + INTERVAL 10 MINUTE AS s_end, COUNT(*) AS n
        |FROM g GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin,

    "stream_dedup" ->
      """SELECT DISTINCT event_id, user_id, event_type, value
        |FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
        |ORDER BY event_id""".stripMargin,

    // the lag rule restated: dense (partition × hour) grid, cumulative
    // produced offsets, committed = one-bucket trail except the wedged
    // partition freezes at the stall date; islands over lag > 1000,
    // runs ≥ 5 evaluations survive (the `for: 5m` gate)
    "alert_consumer_lag" ->
      """WITH span AS (SELECT date_trunc('hour', MIN(ts)) AS t0,
        |    date_trunc('hour', MAX(ts)) AS t1 FROM events),
        |hrs AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS h
        |  FROM span),
        |parts AS (SELECT CAST(0 AS BIGINT) AS part
        |  UNION ALL SELECT CAST(1 AS BIGINT)),
        |ph AS (SELECT event_id % 2 AS part, date_trunc('hour', ts) AS h,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |grid AS (SELECT p.part, g.h, COALESCE(ph.n, 0) AS n
        |  FROM parts p CROSS JOIN hrs g
        |  LEFT JOIN ph ON ph.part = p.part AND ph.h = g.h),
        |cum AS (SELECT part, h,
        |    SUM(n) OVER (PARTITION BY part ORDER BY h) AS produced
        |  FROM grid),
        |fz AS (SELECT MAX(produced) AS freeze FROM cum
        |  WHERE part = 0 AND h < TIMESTAMP '2024-01-12 00:00:00'),
        |lagt AS (SELECT part, h, produced,
        |    CASE WHEN part = 0 AND h >= TIMESTAMP '2024-01-12 00:00:00'
        |         THEN fz.freeze
        |         ELSE COALESCE(lag(produced) OVER (
        |           PARTITION BY part ORDER BY h), 0) END AS committed
        |  FROM cum CROSS JOIN fz),
        |f AS (SELECT part, h, produced - committed AS lg,
        |    row_number() OVER (PARTITION BY part ORDER BY h) AS rn
        |  FROM lagt WHERE produced - committed >= 1001),
        |g2 AS (SELECT *, CAST(epoch(h) AS BIGINT) // 3600 - rn AS grp
        |  FROM f)
        |SELECT part, MIN(h) AS run_start, MAX(h) AS run_end,
        |  COUNT(*) AS n_hours, CAST(MAX(lg) AS BIGINT) AS peak
        |FROM g2 GROUP BY part, grp HAVING COUNT(*) >= 5
        |ORDER BY part, run_start""".stripMargin,

    // the exposition families restated from the same hourly ledger:
    // per query (= event_type) the batch count, cumulative rows, last
    // hour's integer-valued rates, and 3× duration; plus the two fixed
    // connector gauges. Values exact-integer-valued doubles; the HUGEINT
    // window sum is cast inside the DOUBLE
    "cdc_prometheus_metrics" ->
      """WITH hr AS (SELECT event_type, date_trunc('hour', ts) AS h,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY h DESC) AS rn FROM hr),
        |agg AS (SELECT event_type,
        |    CAST(COUNT(*) AS DOUBLE) AS batches,
        |    CAST(SUM(n) AS DOUBLE) AS rows_total,
        |    CAST(MAX(CASE WHEN rn = 1 THEN n END) AS DOUBLE) AS last_n
        |  FROM rk GROUP BY 1),
        |sm AS (
        |  SELECT 'graft_connector_up' AS metric,
        |    'connector=postgres-orders' AS labels,
        |    CAST(1 AS DOUBLE) AS value
        |  UNION ALL SELECT 'graft_connector_up',
        |    'connector=mysql-inventory', CAST(0 AS DOUBLE)
        |  UNION ALL SELECT 'graft_stream_batches_total',
        |    'query=' || event_type, batches FROM agg
        |  UNION ALL SELECT 'graft_stream_input_rows_total',
        |    'query=' || event_type, rows_total FROM agg
        |  UNION ALL SELECT 'graft_stream_input_rows_per_second',
        |    'query=' || event_type, last_n FROM agg
        |  UNION ALL SELECT 'graft_stream_processed_rows_per_second',
        |    'query=' || event_type, last_n FROM agg
        |  UNION ALL SELECT 'graft_stream_batch_duration_ms',
        |    'query=' || event_type, last_n * 3 FROM agg)
        |SELECT metric, labels, value FROM sm
        |ORDER BY metric, labels""".stripMargin,

    // the heartbeat-miss set restated on the same dense grid: stall
    // stretch (postgres only) ∪ 37-hour hiccups (both connectors),
    // islands over contiguity, runs ≥ 3 survive; mysql's isolated
    // misses never reach minRun, so only postgres rows emerge
    "alert_heartbeat_stall" ->
      """WITH span AS (SELECT date_trunc('hour', MIN(ts)) AS t0,
        |    date_trunc('hour', MAX(ts)) AS t1 FROM events),
        |hrs AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS h
        |  FROM span),
        |idx AS (SELECT h,
        |    CAST(epoch(h) AS BIGINT) // 3600
        |      - (SELECT CAST(epoch(t0) AS BIGINT) // 3600 FROM span)
        |      AS off,
        |    (SELECT CAST(epoch(t1) AS BIGINT) // 3600
        |      - CAST(epoch(t0) AS BIGINT) // 3600 + 1 FROM span) AS span_h
        |  FROM hrs),
        |srv AS (SELECT 'postgres-prod' AS server
        |  UNION ALL SELECT 'mysql-prod'),
        |miss AS (SELECT s.server, i.h,
        |    row_number() OVER (PARTITION BY s.server ORDER BY i.h) AS rn,
        |    CAST(epoch(i.h) AS BIGINT) // 3600 AS hi
        |  FROM srv s CROSS JOIN idx i
        |  WHERE (s.server = 'postgres-prod' AND i.off >= i.span_h // 4
        |         AND i.off < i.span_h // 4 + greatest(3, i.span_h // 10))
        |     OR i.off % 37 = 0)
        |SELECT server, MIN(h) AS run_start, MAX(h) AS run_end,
        |  COUNT(*) AS n_hours, CAST(1 AS BIGINT) AS peak
        |FROM (SELECT *, hi - rn AS grp FROM miss)
        |GROUP BY server, grp HAVING COUNT(*) >= 3
        |ORDER BY server, run_start""".stripMargin,

    // the two-window burn restated: hour aggregate, trailing 6 h range
    // frame, exact ppm integer division, exact cross-multiplied page
    // condition, top-20 by the same deterministic ordering. Every
    // windowed sum CAST back to BIGINT (DuckDB window SUM widens to
    // int128 — the alert_consumer_lag lesson, enforced by the
    // type-aware gate).
    "alert_burn_rate" ->
      """WITH hr AS (SELECT date_trunc('hour', ts) AS h,
        |    SUM(CASE WHEN value >= 150 THEN 1 ELSE 0 END) AS err,
        |    COUNT(*) AS tot
        |  FROM events GROUP BY 1),
        |w AS (SELECT h, err, tot,
        |    CAST(SUM(err) OVER (ORDER BY h RANGE BETWEEN
        |      INTERVAL 5 HOUR PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS err_6h,
        |    CAST(SUM(tot) OVER (ORDER BY h RANGE BETWEEN
        |      INTERVAL 5 HOUR PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS tot_6h
        |  FROM hr)
        |SELECT h, CAST(err AS BIGINT) AS err_1h,
        |  CAST(tot AS BIGINT) AS tot_1h, err_6h, tot_6h,
        |  CAST(err * 1000000 // tot AS BIGINT) AS rate_ppm_1h,
        |  CAST(err_6h * 1000000 // tot_6h AS BIGINT) AS rate_ppm_6h,
        |  (err * 10 > tot AND err_6h * 10 > tot_6h) AS page
        |FROM w
        |ORDER BY rate_ppm_6h DESC, rate_ppm_1h DESC, h
        |LIMIT 20""".stripMargin,

    "alert_sustained" ->
      """WITH m AS (SELECT event_type, date_trunc('hour', ts) AS h,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |f AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |  FROM m WHERE n >= 4),
        |g AS (SELECT *, CAST(epoch(h) AS BIGINT) // 3600 - rn AS grp
        |  FROM f)
        |SELECT event_type, MIN(h) AS run_start, MAX(h) AS run_end,
        |  COUNT(*) AS n_hours, MAX(n) AS peak
        |FROM g GROUP BY event_type, grp
        |HAVING COUNT(*) >= 3
        |ORDER BY event_type, run_start""".stripMargin,

    "alert_availability" ->
      """WITH span AS (SELECT date_trunc('hour', MIN(ts)) AS t0,
        |    date_trunc('hour', MAX(ts)) AS t1 FROM events),
        |hrs AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS h
        |  FROM span),
        |conns AS (SELECT DISTINCT event_type AS connector FROM events),
        |ph AS (SELECT event_type AS connector, date_trunc('hour', ts) AS h,
        |    COUNT(*) AS n_ev, MAX(value) AS max_v
        |  FROM events GROUP BY 1, 2),
        |status AS (SELECT g.connector, g.h,
        |    CASE WHEN p.n_ev IS NULL THEN 0 ELSE 1 END AS up,
        |    CASE WHEN p.n_ev IS NULL THEN 'DOWN'
        |         WHEN p.max_v >= 200.0 THEN 'FAILED'
        |         ELSE 'RUNNING' END AS state
        |  FROM (SELECT connector, h FROM conns CROSS JOIN hrs) g
        |  LEFT JOIN ph p USING (connector, h)),
        |r1 AS (SELECT connector, h,
        |    row_number() OVER (PARTITION BY connector ORDER BY h) AS rn
        |  FROM status WHERE up = 0),
        |r1o AS (SELECT 'ConnectDown' AS rule, connector,
        |    MIN(h) AS run_start, MAX(h) AS run_end, COUNT(*) AS n_hours
        |  FROM (SELECT *, CAST(epoch(h) AS BIGINT) // 3600 - rn AS grp
        |    FROM r1)
        |  GROUP BY connector, grp HAVING COUNT(*) >= 2),
        |r2 AS (SELECT connector, h,
        |    row_number() OVER (PARTITION BY connector ORDER BY h) AS rn
        |  FROM status WHERE state != 'RUNNING'),
        |r2o AS (SELECT 'ConnectorNotRunning' AS rule, connector,
        |    MIN(h) AS run_start, MAX(h) AS run_end, COUNT(*) AS n_hours
        |  FROM (SELECT *, CAST(epoch(h) AS BIGINT) // 3600 - rn AS grp
        |    FROM r2)
        |  GROUP BY connector, grp HAVING COUNT(*) >= 1)
        |SELECT * FROM r1o UNION ALL SELECT * FROM r2o
        |ORDER BY rule, connector, run_start""".stripMargin)

  /** Warm-start targets (see [[graft.Prewarm]]). */
  override def prewarm: Seq[graft.Prewarm.Task] = Seq(
    graft.Prewarm.Task("stream:late", 5.2, (s, d) => { lateFeed(s, d); () }),
    graft.Prewarm.Task("stream:session", 4.2,
      (s, d) => { sessionLiveSink(s, d); () }),
    graft.Prewarm.Task("stream:join", 4.7,
      (s, d) => { joinLiveSink(s, d); () }),
    graft.Prewarm.Task("alert:status", 0.5,
      (s, d) => { statusGrid(s, d); () }))

}
