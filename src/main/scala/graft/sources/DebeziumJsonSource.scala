package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapred.{FileSplit, JobConf, LineRecordReader}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `spark.read.format("debezium-json")` — a DataSourceV2 [[TableProvider]]
  * over Kafka-archive-shaped Debezium change-record files: newline-delimited
  * JSON, one record per line, `{"topic":…,"key":…,"value":"<envelope>"}`
  * with the envelope itself a JSON string (exactly what a Kafka→object-store
  * archiver emits for the reference's schemaless-JSON topics — reference:
  * k8s-manifests/environments/prod/prod-resources.yaml:10-13). A tombstone
  * archives with `value` null/absent.
  *
  * The table exposes a TYPED projection of the envelope — `op`, `ts_ms`,
  * `lsn`, `tbl`, plus the raw `before`/`after` document strings for the
  * schema-aware `from_json` downstream — so the 100 TB access paths cost
  * what they should:
  *
  *   - **Column pruning** ([[SupportsPushDownRequiredColumns]]): the
  *     per-line envelope decode is skipped ENTIRELY when neither the
  *     required columns nor the pushed filters touch an envelope-derived
  *     field — an archive audit over `topic`/`key` never pays the decode.
  *   - **Filter pushdown** ([[SupportsPushDownFilters]]): predicates on
  *     `topic`/`op`/`tbl`/`lsn`/`ts_ms` are evaluated inside the reader so
  *     non-matching lines never become Spark rows (a WAL-position resume —
  *     `lsn > X` — reads and drops in place rather than materializing the
  *     whole archive). Pushdown here is best-effort/advisory: every pushed
  *     filter is also returned as a post-scan residual, so Spark re-checks
  *     and correctness never depends on the reader's evaluator.
  *   - **Block-aligned splits**: files split at `maxSplitBytes` (option,
  *     default 128 MiB) and Hadoop's [[LineRecordReader]] resolves lines
  *     straddling split boundaries — a 1 GiB archive file becomes 8
  *     parallel partitions, not one task. Compressed files (by codec
  *     suffix) stay unsplit.
  *   - **Statistics** ([[SupportsReportStatistics]]): total file bytes,
  *     scaled by the projection's share of the full row width, feed AQE's
  *     broadcast decisions when the archive joins a dimension.
  *
  * Corrupt lines (unparseable outer record or envelope) surface as
  * `_corrupt = true` with the raw line preserved in `value` — the same
  * dead-letter contract as [[Debezium.parseEnvelope]], never a crash and
  * never a silent drop.
  */
class DebeziumJsonSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "debezium-json"

  // without this Spark rejects `.schema(...)` with its own error before
  // getTable is ever called with a user schema — the validation below
  // was unreachable for the exact path it advertised (round-7 ADVICE)
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DebeziumJsonTable.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // the table schema is FIXED — honor a user-supplied schema only when
    // it is the real schema or a column subset of it; silently reading
    // with different names/types than the user asked for breeds
    // downstream type confusion (round-6 ADVICE)
    val fixed = DebeziumJsonTable.schema
    val bad = schema.fields.filter(f =>
      !fixed.fields.exists(g =>
        g.name.equalsIgnoreCase(f.name) && g.dataType == f.dataType))
    require(bad.isEmpty,
      s"debezium-json has a fixed schema $fixed; user-specified fields " +
        s"${bad.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")} " +
        "do not match it (drop .schema(...) or pass a column subset)")
    // honor the validated subset: the table reports the user's columns in
    // the user's order, normalized to the fixed schema's canonical casing
    // so the reader's name-keyed row assembly resolves them
    val tableSchema = StructType(schema.fields.map(f =>
      fixed.fields.find(_.name.equalsIgnoreCase(f.name)).get))
    new DebeziumJsonTable(tableSchema, properties.asScala.toMap)
  }
}

object DebeziumJsonTable {
  /** Fixed table schema. `before`/`after` stay raw JSON strings — the row
    * schema is per-table knowledge the consumer applies via `from_json`
    * (same split of responsibilities as [[Debezium.envelopeSchema]]). */
  val schema: StructType = StructType(Seq(
    StructField("topic", StringType),
    StructField("key", StringType),
    StructField("op", StringType),
    StructField("ts_ms", LongType),
    StructField("lsn", LongType),
    StructField("tbl", StringType),
    StructField("before", StringType),
    StructField("after", StringType),
    StructField("value", StringType),
    StructField("_tombstone", BooleanType),
    StructField("_corrupt", BooleanType)))

  /** Columns whose value requires decoding the envelope JSON. */
  val envelopeFields: Set[String] =
    Set("op", "ts_ms", "lsn", "tbl", "before", "after", "_corrupt")
}

class DebeziumJsonTable(
    tableSchema: StructType, properties: Map[String, String])
    extends Table with SupportsRead {

  /** Full-schema form (no user subset). */
  def this(properties: Map[String, String]) =
    this(DebeziumJsonTable.schema, properties)

  private val path = properties.getOrElse("path",
    throw new IllegalArgumentException(
      "debezium-json requires a path: spark.read.format(\"debezium-json\").load(dir)"))

  override def name(): String = s"debezium-json:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    val maxSplit = Option(options.get("maxSplitBytes"))
      .map(_.toLong).getOrElse(128L * 1024 * 1024)
    val maxFiles = Option(options.get("maxFilesPerTrigger"))
      .map(_.toInt).getOrElse(-1)
    val slack = Option(options.get("offsetSlackMs"))
      .map(_.toLong).getOrElse(10L * 60 * 1000)
    new DebeziumScanBuilder(path, maxSplit, maxFiles, slack, tableSchema)
  }
}

class DebeziumScanBuilder(
    path: String, maxSplitBytes: Long, maxFilesPerTrigger: Int = -1,
    offsetSlackMs: Long = 10L * 60 * 1000,
    tableSchema: StructType = DebeziumJsonTable.schema)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit {

  // starts from the TABLE's schema (the user's validated subset when one
  // was supplied); Spark's column pruning narrows it further
  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1

  /** Accept filters our reader can evaluate; return ALL filters as
    * post-scan residuals (advisory pushdown — see class doc). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(DebeziumFilterEval.supports)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // driver-side metadata ops (count over the archive) prune to zero
    // columns; the reader still iterates lines and emits empty rows
    required = requiredSchema

  /** LIMIT pushdown: each partition reader stops after `n` emitted rows
    * (post-filter), so `df.limit(5)` over a terabyte archive reads a few
    * lines per split instead of the whole file set. Partial by
    * construction — the cap is per PARTITION — so Spark keeps its global
    * limit above the scan. */
  override def pushLimit(n: Int): Boolean = { limit = n; true }
  override def isPartiallyPushed: Boolean = true

  override def build(): Scan =
    new DebeziumScan(path, required, pushed, limit, maxSplitBytes,
      maxFilesPerTrigger, offsetSlackMs)
}

class DebeziumScan(
    path: String,
    required: StructType,
    pushed: Array[Filter],
    limit: Int,
    maxSplitBytes: Long,
    maxFilesPerTrigger: Int = -1,
    offsetSlackMs: Long = 10L * 60 * 1000)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def description(): String =
    s"DebeziumJsonScan path=$path " +
      s"ReadSchema=[${required.fieldNames.mkString(",")}] " +
      s"PushedFilters=[${pushed.mkString(", ")}]" +
      (if (limit >= 0) s" PushedLimit=$limit" else "")

  // resolved on the driver at planning time; shipped as a plain Map so the
  // readers need no Hadoop Configuration serialization support
  private def hadoopConf: Configuration =
    SparkSession.active.sessionState.newHadoopConf()

  /** (path, length, modTimeMs) for every data file under the root. */
  private[sources] def currentFiles(): Seq[(String, Long, Long)] = listFiles()
  private[sources] def readerFactory(): PartitionReaderFactory =
    createReaderFactory()
  private[sources] def slackMs: Long = offsetSlackMs

  private def listFiles(): Seq[(String, Long, Long)] = {
    val conf = hadoopConf
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def expand(p: Path): Seq[(String, Long, Long)] = {
      val st = fs.getFileStatus(p)
      if (st.isDirectory)
        fs.listStatus(p).toSeq
          .filterNot(s => {
            val n = s.getPath.getName
            n.startsWith("_") || n.startsWith(".")
          })
          .flatMap(s => expand(s.getPath))
      else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    }
    expand(root)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val codecs = new CompressionCodecFactory(hadoopConf)
    val files = listFiles()
    // Spark's own FilePartition.maxSplitBytes sizing: pack the whole scan
    // into ~one split per core (floored by a 4 MiB open cost, capped by
    // the option). With the option alone a 10× archive keeps the same
    // split SIZE and scales wall time linearly on a fixed cluster — the
    // r12 sf1 sweep measured exactly that (6×180 MB files → 12 splits on
    // 32 cores, 16.8× the sf0.1 time); bytes-per-core keeps per-task
    // bytes constant as the archive grows until the option cap binds.
    val totalBytes = files.map(_._2).sum
    val parallelism = math.max(1,
      org.apache.spark.sql.SparkSession.active
        .sparkContext.defaultParallelism)
    val openCost = 4L * 1024 * 1024
    val effSplit = math.max(1L, math.min(maxSplitBytes,
      math.max(openCost, totalBytes / parallelism + 1)))
    files.flatMap { case (file, len, _) =>
      val splittable = codecs.getCodec(new Path(file)) == null
      if (!splittable || len <= effSplit) {
        Seq(DebeziumInputPartition(file, 0, len))
      } else {
        // LineRecordReader skips the partial first line of a non-zero
        // offset and reads through the end of the line straddling the
        // split end, so fixed-size offsets are safe cut points
        (0L until len by effSplit).map(off =>
          DebeziumInputPartition(file, off, math.min(effSplit, len - off)))
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val confMap = hadoopConf.asScala
      .map(e => (e.getKey, e.getValue)).toMap
    DebeziumReaderFactory(confMap, required.fieldNames, pushed, limit)
  }

  override def estimateStatistics(): Statistics = {
    val totalBytes = listFiles().map(_._2).sum.toLong
    // prorate by projected share of the row width so a pruned scan
    // advertises a proportionally smaller size to the join planner
    val frac = math.max(1, required.size).toDouble /
      DebeziumJsonTable.schema.size
    new Statistics {
      override def sizeInBytes() =
        util.OptionalLong.of((totalBytes * frac).toLong max 1L)
      override def numRows() = util.OptionalLong.empty()
    }
  }

  /** Streaming mode: `spark.readStream.format("debezium-json")` tails the
    * archive directory — each micro-batch ingests exactly the files that
    * appeared since the last committed offset (the archiver's
    * append-only contract: files are immutable once written, new data
    * arrives as new files). Filter pushdown and column pruning from the
    * scan builder apply to the streaming reads identically. */
  override def toMicroBatchStream(
      checkpointLocation: String): streaming.MicroBatchStream =
    new DebeziumMicroBatchStream(this, maxFilesPerTrigger)
}

/** COMPACTED file offset — bounded size however large the archive grows,
  * the same idea as Kafka Connect's compacted `connect-offsets` topic
  * (reference: prod-resources.yaml:14-15) and FileStreamSource's offset
  * log compaction.
  *
  * An offset is `(cutoffMs, recent)`:
  *   - every file with modTime ≤ `cutoffMs` is IMPLIED seen;
  *   - `recent` lists the explicitly-seen files newer than the cutoff,
  *     each with the modTime recorded when it was admitted.
  * `recent` holds only the files inside the slack window behind the
  * newest seen file (plus any admitted backlog not yet below the
  * cutoff), so the serialized JSON is bounded by arrival-rate × slack —
  * NOT by archive size. The previous file-set form grew with the file
  * count and capped practical archives at ~1e5 files.
  *
  * Contract (same as the built-in file source's cleanup/retention): new
  * archive files arrive with fresh modTimes. A file surfacing with a
  * modTime older than `cutoffMs` (an object-store copy that preserves
  * mtimes after the window passed) is treated as already seen; size the
  * slack to cover producer clock skew + copy latency. */
case class DebeziumCompactedOffset(
    cutoffMs: Long, recent: Seq[(String, Long)])
    extends streaming.Offset {
  def isSeen(file: String, modTime: Long): Boolean =
    modTime <= cutoffMs || recentNames(file)
  @transient lazy val recentNames: Set[String] = recent.map(_._1).toSet
  override def json(): String = {
    val nf = com.fasterxml.jackson.databind.node.JsonNodeFactory.instance
    val o = nf.objectNode()
    o.put("cutoffMs", cutoffMs)
    val arr = o.putArray("recent")
    recent.sortBy(r => (r._2, r._1)).foreach { case (f, mt) =>
      val e = arr.addArray(); e.add(f); e.add(mt)
    }
    o.toString
  }
}

class DebeziumMicroBatchStream(scan: DebeziumScan, maxFilesPerTrigger: Int)
    extends streaming.MicroBatchStream
    with streaming.SupportsAdmissionControl {
  import streaming.{Offset, ReadLimit}

  override def initialOffset(): Offset =
    DebeziumCompactedOffset(Long.MinValue, Nil)

  /** Backpressure knob: `maxFilesPerTrigger` caps how many new archive
    * files one micro-batch admits, so a backlog (or a bulk re-archive)
    * drains in bounded batches instead of one giant catch-up batch —
    * the same admission control the built-in file source offers. */
  override def getDefaultReadLimit: ReadLimit =
    if (maxFilesPerTrigger > 0) ReadLimit.maxFiles(maxFilesPerTrigger)
    else ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[DebeziumCompactedOffset]
    val all = scan.currentFiles()
    // oldest-first admission so a capped drain processes the backlog in
    // arrival order and the cutoff can advance behind it
    val unseen = all.filterNot { case (f, _, mt) => s.isSeen(f, mt) }
      .sortBy { case (f, _, mt) => (mt, f) }
    val admitted = limit match {
      case m: streaming.ReadMaxFiles => unseen.take(m.maxFiles())
      case _ => unseen
    }
    val leftover = unseen.drop(admitted.size)
    val admittedEntries = admitted.map { case (f, _, mt) => (f, mt) }
    // the watermark driver is the newest modTime among seen files in the
    // listing
    val seenNames = s.recentNames ++ admittedEntries.map(_._1)
    val maxSeenListed = all
      .collect { case (f, _, mt) if mt <= s.cutoffMs || seenNames(f) => mt }
    // the cutoff may advance to (newest seen − slack), but never past a
    // still-unprocessed file — an implied-seen unprocessed file would be
    // silent data loss — and never regress
    val newCutoff = math.max(s.cutoffMs,
      (if (maxSeenListed.isEmpty) Long.MinValue
       else maxSeenListed.max - scan.slackMs) min
        leftover.headOption.map(_._3 - 1).getOrElse(Long.MaxValue))
    // prior entries keep their recorded mtime (immutable names make that
    // exact without a listing). Entries at or below the cutoff are now
    // implied-seen and compact away; this batch's admissions ALWAYS stay
    // explicit (planInputPartitions reconstructs the batch from them,
    // even when a catch-up batch admits files already older than the
    // advancing cutoff).
    val keepPrev = s.recent.filter(_._2 > newCutoff)
    DebeziumCompactedOffset(newCutoff,
      (keepPrev ++ admittedEntries).distinct)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control entry point")

  override def deserializeOffset(json: String): Offset = {
    val node = new ObjectMapper().readTree(json)
    val rec = node.get("recent")
    DebeziumCompactedOffset(
      node.get("cutoffMs").asLong(),
      (0 until rec.size()).map { i =>
        val e = rec.get(i); (e.get(0).asText(), e.get(1).asLong())
      })
  }

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[DebeziumCompactedOffset]
    val e = end.asInstanceOf[DebeziumCompactedOffset]
    // the batch = files the END offset tracks explicitly that START had
    // not seen — reconstructible from the two offsets alone (recovery
    // replans a committed batch without trusting a fresh listing)
    val fresh = e.recent.filter { case (f, mt) => !s.isSeen(f, mt) }
    val sizes = scan.currentFiles()
      .map { case (f, len, _) => (f, len) }.toMap
    fresh.map { case (f, _) =>
      // a file named in the committed offset but absent from the listing
      // is DATA LOSS (mutated archive / inconsistent object-store
      // listing) — fail loudly instead of silently skipping it
      // (round-6 ADVICE)
      val len = sizes.getOrElse(f, throw new IllegalStateException(
        s"debezium-json stream: file $f is part of the committed offset " +
          "range but no longer listed under the archive root — the " +
          "archive was mutated or the listing is inconsistent; refusing " +
          "to silently drop its records"))
      DebeziumInputPartition(f, 0, len)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scan.readerFactory()

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class DebeziumInputPartition(file: String, start: Long, length: Long)
    extends InputPartition

case class DebeziumReaderFactory(
    confMap: Map[String, String],
    requiredFields: Array[String],
    pushed: Array[Filter],
    limit: Int)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val dp = p.asInstanceOf[DebeziumInputPartition]
    new DebeziumPartitionReader(dp, confMap, requiredFields, pushed, limit)
  }
}

/** Streams one split: Hadoop [[LineRecordReader]] for line framing,
  * Jackson for the record/envelope JSON. Constant memory — one line and
  * one output row live at a time. */
class DebeziumPartitionReader(
    part: DebeziumInputPartition,
    confMap: Map[String, String],
    requiredFields: Array[String],
    pushed: Array[Filter],
    limit: Int = -1)
    extends PartitionReader[InternalRow] {

  private val conf = {
    val c = new JobConf(false)
    confMap.foreach { case (k, v) => c.set(k, v) }
    c
  }
  private val reader = new LineRecordReader(conf,
    new FileSplit(new Path(part.file), part.start, part.length,
      Array.empty[String]))
  private val lineKey = reader.createKey()
  private val lineVal = reader.createValue()
  private val mapper = new ObjectMapper()

  // decode the envelope only if a required column or a pushed filter needs
  // it — the pruning contract that makes topic/key-only scans cheap
  private val needEnvelope: Boolean =
    (requiredFields.toSet ++ pushed.flatMap(_.references))
      .exists(DebeziumJsonTable.envelopeFields)

  private var current: InternalRow = _
  private var emitted = 0

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false // pushed per-partition cap
    while (reader.next(lineKey, lineVal)) {
      val row = decode(lineVal.toString)
      if (row != null && pushed.forall(DebeziumFilterEval.eval(_, row))) {
        current = project(row)
        emitted += 1
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()

  /** Full typed record as a field-name map (null = SQL NULL). Blank lines
    * yield null (skipped); corrupt lines yield a `_corrupt` row. */
  private def decode(line: String): Map[String, Any] = {
    if (line.trim.isEmpty) return null
    val outer =
      try mapper.readTree(line)
      catch { case _: Exception => null }
    if (outer == null || !outer.isObject)
      return corruptRow(topic = null, key = null, raw = line)

    def str(n: JsonNode): String =
      if (n == null || n.isNull) null
      else if (n.isTextual) n.asText()
      else n.toString
    val topic = str(outer.get("topic"))
    val key = str(outer.get("key"))
    val value = str(outer.get("value"))

    if (value == null)
      return Map("topic" -> topic, "key" -> key, "op" -> null,
        "ts_ms" -> null, "lsn" -> null, "tbl" -> null, "before" -> null,
        "after" -> null, "value" -> null,
        "_tombstone" -> true, "_corrupt" -> false)
    if (!needEnvelope)
      return Map("topic" -> topic, "key" -> key, "op" -> null,
        "ts_ms" -> null, "lsn" -> null, "tbl" -> null, "before" -> null,
        "after" -> null, "value" -> value,
        "_tombstone" -> false, "_corrupt" -> false)

    val env =
      try mapper.readTree(value)
      catch { case _: Exception => null }
    // same corruption contract as Debezium.parseEnvelope: a non-null
    // value whose envelope lacks the mandatory `op` is corrupt
    if (env == null || !env.isObject || str(env.get("op")) == null)
      return corruptRow(topic, key, value)

    def lng(n: JsonNode): Any =
      if (n == null || n.isNull || !n.isNumber) null else n.asLong()
    val source = env.get("source")
    Map(
      "topic" -> topic,
      "key" -> key,
      "op" -> str(env.get("op")),
      "ts_ms" -> lng(env.get("ts_ms")),
      "lsn" -> (if (source == null) null else lng(source.get("lsn"))),
      "tbl" -> (if (source == null) null else str(source.get("table"))),
      "before" -> str(env.get("before")),
      "after" -> str(env.get("after")),
      "value" -> value,
      "_tombstone" -> false,
      "_corrupt" -> false)
  }

  private def corruptRow(
      topic: String, key: String, raw: String): Map[String, Any] =
    Map("topic" -> topic, "key" -> key, "op" -> null, "ts_ms" -> null,
      "lsn" -> null, "tbl" -> null, "before" -> null, "after" -> null,
      "value" -> raw, "_tombstone" -> false, "_corrupt" -> true)

  private def project(row: Map[String, Any]): InternalRow = {
    val out = new GenericInternalRow(requiredFields.length)
    var i = 0
    while (i < requiredFields.length) {
      out.update(i, row(requiredFields(i)) match {
        case null => null
        case s: String => UTF8String.fromString(s)
        case other => other // Long / Boolean box as-is
      })
      i += 1
    }
    out
  }
}

/** Reader-side evaluator for the pushed [[Filter]] subset. Mirrors SQL
  * ternary logic on NULLs: a comparison against NULL never matches. */
object DebeziumFilterEval {
  def supports(f: Filter): Boolean = f match {
    case EqualTo(a, _) => known(a)
    case GreaterThan(a, _) => known(a)
    case GreaterThanOrEqual(a, _) => known(a)
    case LessThan(a, _) => known(a)
    case LessThanOrEqual(a, _) => known(a)
    case In(a, _) => known(a)
    case IsNull(a) => known(a)
    case IsNotNull(a) => known(a)
    case StringStartsWith(a, _) => known(a)
    case And(l, r) => supports(l) && supports(r)
    case _ => false
  }
  private def known(a: String): Boolean =
    DebeziumJsonTable.schema.fieldNames.contains(a)

  def eval(f: Filter, row: Map[String, Any]): Boolean = f match {
    case EqualTo(a, v) => nn(row(a), v)(cmp(_, _) == 0)
    case GreaterThan(a, v) => nn(row(a), v)(cmp(_, _) > 0)
    case GreaterThanOrEqual(a, v) => nn(row(a), v)(cmp(_, _) >= 0)
    case LessThan(a, v) => nn(row(a), v)(cmp(_, _) < 0)
    case LessThanOrEqual(a, v) => nn(row(a), v)(cmp(_, _) <= 0)
    // null elements in the IN list can never match under ternary logic —
    // skip them instead of feeding null into cmp (which would NPE on the
    // toString fallback and crash the scan task)
    case In(a, vs) =>
      row(a) != null && vs.exists(v => v != null && cmp(row(a), v) == 0)
    case IsNull(a) => row(a) == null
    case IsNotNull(a) => row(a) != null
    case StringStartsWith(a, p) =>
      row(a) != null && row(a).toString.startsWith(p)
    case And(l, r) => eval(l, row) && eval(r, row)
    case _ => true // unsupported never pushed; Spark's residual decides
  }
  private def nn(x: Any, v: Any)(p: (Any, Any) => Boolean): Boolean =
    x != null && v != null && p(x, v)
  private def cmp(x: Any, v: Any): Int = (x, v) match {
    case (a: java.lang.Number, b: java.lang.Number) =>
      java.lang.Long.compare(a.longValue(), b.longValue())
    case (a: java.lang.Boolean, b: java.lang.Boolean) => a.compareTo(b)
    case (a, b) => a.toString.compareTo(b.toString)
  }
}
