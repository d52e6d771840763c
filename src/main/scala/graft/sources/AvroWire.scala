package graft.sources

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Confluent Schema-Registry WIRE FORMAT over Avro — the native payload
  * of the registry the reference deploys (2 replicas of
  * cp-schema-registry, helm-charts/cdc-system/values.yaml:64-69): every
  * Kafka key/value is `[magic 0x00][4-byte big-endian schema id][Avro
  * binary body]`, and consumers resolve the id against the registry to
  * decode. The format and the framing are public (Confluent wire-format
  * docs); the Avro binary body is decoded by Apache Avro's OWN
  * `GenericDatumReader` (avro jar on the Spark runtime classpath) — only
  * the 5-byte frame is parsed here, exactly the `substring(value, 6)`
  * every spark-avro consumer of registry-framed topics performs.
  *
  * Registry reduction (SURVEY §1.2): the schema authority is a bounded
  * id→schema map, closed over by the decode closure the way a registry
  * client caches schemas per id. TWO value schema VERSIONS share the
  * registry subject — v2 adds a nullable-with-default `o_comment` — so
  * the decode path exercises per-record writer-schema dispatch AND Avro
  * schema resolution (v1-written records surface under the v2 reader
  * schema with the default filled), the compatibility story the
  * registry exists to provide. Keys are framed too (their own id).
  *
  * Scale shape: decode is a typed mapPartitions at the codec seam (the
  * multimodal-decode pattern) — schemas parsed and readers built ONCE
  * per partition and reused per record, decoders recycled via the
  * DecoderFactory reuse parameter, no shuffle; everything downstream is
  * ordinary DataFrame code.
  */
object AvroWire {

  /** Registry-framed Kafka record; a null `value` is a tombstone (the
    * frame wraps the Avro body only — a tombstone has no body at all). */
  final case class AvroMsg(key: Array[Byte], value: Array[Byte])

  /** Decoded orders envelope (the v2 reader-schema surface). */
  final case class DecodedOrder(
      o_orderkey: Long,
      o_custkey: Option[Long],
      o_orderstatus: Option[String],
      o_totalprice: Option[String],
      o_orderdate_us: Option[Long],
      o_orderpriority: Option[String],
      o_comment: Option[String],
      __deleted: Option[String],
      _lsn: Option[Long],
      _tombstone: Boolean)

  private val KeySchemaJson =
    """{"type":"record","name":"Key","namespace":"graft.avro","fields":[
      |{"name":"o_orderkey","type":"long"}]}""".stripMargin

  private def rowFields(withComment: Boolean): String =
    """{"name":"o_orderkey","type":"long"},
      |{"name":"o_custkey","type":"long"},
      |{"name":"o_orderstatus","type":"string"},
      |{"name":"o_totalprice","type":"string"},
      |{"name":"o_orderdate_us","type":"long"},
      |{"name":"o_orderpriority","type":"string"}""".stripMargin +
      (if (withComment)
        """,
          |{"name":"o_comment","type":["null","string"],"default":null}"""
          .stripMargin
      else "")

  // v1 and v2 share the full name (one registry subject, two versions)
  // — Avro schema resolution requires it, exactly as compatible
  // registry versions share their subject
  private def envelopeJson(withComment: Boolean): String =
    s"""{"type":"record","name":"Envelope","namespace":"graft.avro",
       |"fields":[
       |{"name":"before","type":["null",
       |  {"type":"record","name":"OrdersRow","fields":[
       |  ${rowFields(withComment)}]}]},
       |{"name":"after","type":["null","OrdersRow"]},
       |{"name":"op","type":"string"},
       |{"name":"lsn","type":"long"}]}""".stripMargin

  /** The registry: id → schema JSON. Ids are arbitrary registry-assigned
    * ints (they carry no ordering meaning on the wire). */
  val KeyId = 3
  val EnvelopeV1Id = 7
  val EnvelopeV2Id = 8
  val registry: Map[Int, String] = Map(
    KeyId -> KeySchemaJson,
    EnvelopeV1Id -> envelopeJson(withComment = false),
    EnvelopeV2Id -> envelopeJson(withComment = true))

  private def frame(id: Int, body: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](5 + body.length)
    out(0) = 0
    out(1) = (id >>> 24).toByte
    out(2) = (id >>> 16).toByte
    out(3) = (id >>> 8).toByte
    out(4) = id.toByte
    System.arraycopy(body, 0, out, 5, body.length)
    out
  }

  private def framedId(bytes: Array[Byte]): Int = {
    // fail LOUDLY on a bad frame: silently treating it as garbage would
    // let a mis-serialized topic flow through as corrupt nulls
    require(bytes.length >= 5 && bytes(0) == 0,
      s"not Confluent-wire-format framed (len=${bytes.length}, " +
        s"magic=${if (bytes.isEmpty) "none" else bytes(0).toString})")
    ((bytes(1) & 0xff) << 24) | ((bytes(2) & 0xff) << 16) |
      ((bytes(3) & 0xff) << 8) | (bytes(4) & 0xff)
  }

  /** Registry-framed Avro `orders` changelog fixture, same deterministic
    * rules as the JSON changelog (insert k·10; update k·10+5 status→'X'
    * for k%10==0, written with the NEWER v2 schema carrying
    * o_comment='rev2'; delete k·10+8 + tombstone for k%7==0) so the
    * compacted state answers to the cdc_compact oracle plus the comment
    * column. Inserts are written with the OLD v1 schema — the mixed-id
    * topic a rolling producer upgrade leaves behind. */
  def synthConfluentChangelog(
      spark: SparkSession, sfDir: String): DataFrame =
    graft.BoundedDfCache.getOrPersist(
      spark, s"${graft.BoundedDfCache.FixturePrefix}avrowire:$sfDir") {
      import spark.implicits._
      val base = Tables.scan(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("decimal(12,2)").cast("string")
            .as("o_totalprice"),
          unix_micros(col("o_orderdate").cast("timestamp"))
            .as("o_orderdate_us"),
          col("o_orderpriority"))
        .as[(Long, Long, String, String, Long, String)]
      base.mapPartitions { it =>
        // one serializer stack per PARTITION (schemas, writers, buffer)
        val keySchema = new Schema.Parser().parse(KeySchemaJson)
        val v1 = new Schema.Parser().parse(registry(EnvelopeV1Id))
        val v2 = new Schema.Parser().parse(registry(EnvelopeV2Id))
        val keyWriter = new GenericDatumWriter[GenericRecord](keySchema)
        val w1 = new GenericDatumWriter[GenericRecord](v1)
        val w2 = new GenericDatumWriter[GenericRecord](v2)
        def ser(w: GenericDatumWriter[GenericRecord],
            rec: GenericRecord): Array[Byte] = {
          val bos = new java.io.ByteArrayOutputStream(128)
          val enc = EncoderFactory.get.binaryEncoder(bos, null)
          w.write(rec, enc)
          enc.flush()
          bos.toByteArray
        }
        def rowRec(schema: Schema, k: Long, ck: Long, status: String,
            price: String, dateUs: Long, prio: String,
            comment: String): GenericRecord = {
          val rs = schema.getField("after").schema.getTypes.get(1)
          val r = new GenericData.Record(rs)
          r.put("o_orderkey", k); r.put("o_custkey", ck)
          r.put("o_orderstatus", status); r.put("o_totalprice", price)
          r.put("o_orderdate_us", dateUs); r.put("o_orderpriority", prio)
          if (rs.getField("o_comment") != null) r.put("o_comment", comment)
          r
        }
        def env(schema: Schema, before: GenericRecord,
            after: GenericRecord, op: String, lsn: Long): GenericRecord = {
          val e = new GenericData.Record(schema)
          e.put("before", before); e.put("after", after)
          e.put("op", op); e.put("lsn", lsn)
          e
        }
        it.flatMap { case (k, ck, status, price, dateUs, prio) =>
          val keyRec = new GenericData.Record(keySchema)
          keyRec.put("o_orderkey", k)
          val keyB = frame(KeyId, ser(keyWriter, keyRec))
          val ins = AvroMsg(keyB, frame(EnvelopeV1Id, ser(w1,
            env(v1, null,
              rowRec(v1, k, ck, status, price, dateUs, prio, null),
              "c", k * 10))))
          val upd =
            if (k % 10 == 0)
              Seq(AvroMsg(keyB, frame(EnvelopeV2Id, ser(w2,
                env(v2,
                  rowRec(v2, k, ck, status, price, dateUs, prio, null),
                  rowRec(v2, k, ck, "X", price, dateUs, prio, "rev2"),
                  "u", k * 10 + 5)))))
            else Nil
          val del =
            if (k % 7 == 0)
              Seq(
                AvroMsg(keyB, frame(EnvelopeV2Id, ser(w2,
                  env(v2,
                    rowRec(v2, k, ck, status, price, dateUs, prio, null),
                    null, "d", k * 10 + 8)))),
                AvroMsg(keyB, null)) // tombstone: unframed absent body
            else Nil
          Iterator(ins) ++ upd ++ del
        }
      }.toDF()
        // keyed-topic layout: spread the single-split orders scan across
        // the session's parallelism
        .repartition(spark.sparkContext.defaultParallelism, col("key"))
    }

  /** Decode a registry-framed (key, value) stream into the typed orders
    * envelope under the v2 READER schema: per-record writer dispatch by
    * embedded schema id, Avro schema resolution filling v1's missing
    * `o_comment` with its default, tombstones keyed via the framed KEY
    * decode. Output shape feeds [[graft.operators.CdcOps.compactLatest]]
    * directly. */
  def decodeOrdersConfluent(raw: DataFrame): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    raw.select(col("key"), col("value")).as[(Array[Byte], Array[Byte])]
      .mapPartitions { it =>
        // one decoder stack per PARTITION: registry lookups cached by id
        // (the registry-client cache), decoders recycled via the reuse
        // parameter so per-record allocation is the body buffer only
        val readerSchema =
          new Schema.Parser().parse(registry(EnvelopeV2Id))
        val keyReader = new GenericDatumReader[GenericRecord](
          new Schema.Parser().parse(registry(KeyId)))
        val readers =
          scala.collection.mutable.Map.empty[Int, GenericDatumReader[GenericRecord]]
        var keyDec: org.apache.avro.io.BinaryDecoder = null
        var valDec: org.apache.avro.io.BinaryDecoder = null
        def reader(id: Int): GenericDatumReader[GenericRecord] =
          readers.getOrElseUpdate(id, {
            val writerSchema = new Schema.Parser().parse(
              registry.getOrElse(id, throw new IllegalArgumentException(
                s"schema id $id not in registry")))
            new GenericDatumReader[GenericRecord](writerSchema, readerSchema)
          })
        def str(r: GenericRecord, f: String): Option[String] =
          Option(r.get(f)).map(_.toString)
        it.map { case (kb, vb) =>
          val kId = framedId(kb)
          require(kId == KeyId, s"unexpected key schema id $kId")
          keyDec = DecoderFactory.get.binaryDecoder(kb, 5, kb.length - 5,
            keyDec)
          val okey =
            keyReader.read(null, keyDec).get("o_orderkey")
              .asInstanceOf[Long]
          if (vb == null)
            DecodedOrder(okey, None, None, None, None, None, None,
              None, None, _tombstone = true)
          else {
            val id = framedId(vb)
            valDec = DecoderFactory.get.binaryDecoder(vb, 5, vb.length - 5,
              valDec)
            val rec = reader(id).read(null, valDec)
            val op = rec.get("op").toString
            val img = (if (rec.get("after") != null) rec.get("after")
              else rec.get("before")).asInstanceOf[GenericRecord]
            DecodedOrder(
              okey,
              Some(img.get("o_custkey").asInstanceOf[Long]),
              str(img, "o_orderstatus"),
              str(img, "o_totalprice"),
              Some(img.get("o_orderdate_us").asInstanceOf[Long]),
              str(img, "o_orderpriority"),
              str(img, "o_comment"),
              Some(if (op == "d") "true" else "false"),
              Some(rec.get("lsn").asInstanceOf[Long]),
              _tombstone = false)
          }
        }
      }.toDF()
  }
}
