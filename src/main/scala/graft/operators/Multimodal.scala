package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media are opaque `BinaryType` columns + typed metadata, the layout
  * used by web-scale multimodal corpora (and Spark's own `binaryFile`
  * source). Decode / resize / frame-sample run per-partition so each
  * task amortizes codec setup. Uncompressed formats decode for REAL
  * with pure-JVM codecs ([[decodeBmp24]], [[decodeWavPcm16]]) —
  * byte-level header parses with no external library, oracle-checked
  * end-to-end. Compressed codecs (PNG/JPEG/MP3) are STUBBED with a
  * deterministic fake (this container has no media libraries — see the
  * builder brief); swap `decodeStub` for a JNI/javacv call in
  * production.
  */
object Multimodal {

  /** Canonical schema for a multimodal asset table. */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),   // image|audio|video
    StructField("mime", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = false),    // opaque bytes
    StructField("width", IntegerType, nullable = true),      // image/video
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true)))  // audio/video

  /** Deterministic synthetic asset table derived from the documents table
    * (payload = utf8 bytes of the text — a stand-in for real media). */
  def syntheticAssets(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("asset_id"),
      element_at(typedLit(Seq("image", "audio", "video")), (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("modality"),
      element_at(typedLit(Seq("image/png", "audio/wav", "video/mp4")), (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("mime"),
      encode(col("text"), "UTF-8").as("payload"),
      when(pmod(col("doc_id"), lit(3)) === 0, (pmod(col("doc_id"), lit(64)) * 16 + 64).cast("int")).as("width"),
      when(pmod(col("doc_id"), lit(3)) === 0, (pmod(col("doc_id"), lit(48)) * 16 + 64).cast("int")).as("height"),
      when(pmod(col("doc_id"), lit(3)) =!= 0, pmod(col("doc_id"), lit(300)) * 1000 + 1000).as("duration_ms"))

  /** STUB decode: deterministic pseudo-"pixels" from payload bytes.
    * Stands in for a real image decode; real impl would decode `payload`
    * per `mime`. Deterministic so tests can oracle it. */
  private def decodeStub(payload: Array[Byte], n: Int): Array[Float] = {
    val out = new Array[Float](n)
    var h = 1125899906842597L
    var i = 0
    while (i < payload.length) { h = h * 31 + (payload(i) & 0xff); i += 1 }
    i = 0
    while (i < n) {
      h ^= h << 13; h ^= h >>> 7; h ^= h << 17
      out(i) = ((h & 0xffff).toFloat / 65535.0f); i += 1
    }
    out
  }

  private val featureSchema = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("feature", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("n_bytes", LongType, nullable = false)))

  /** Decode + feature-extract: per-partition batch processing (the Scala
    * analogue of `mapInPandas` — one codec context per task, rows stream
    * through in Arrow-sized batches, output schema fixed up front). */
  def extractFeatures(assets: DataFrame, dim: Int = 16): DataFrame = {
    val spark = assets.sparkSession
    val rdd = assets.select("asset_id", "modality", "payload").rdd.mapPartitions { it =>
      // (real impl: initialize codec ONCE here, per task)
      it.map { r =>
        val payload = r.getAs[Array[Byte]]("payload")
        Row(r.getAs[Long]("asset_id"), r.getAs[String]("modality"),
          decodeStub(payload, dim).toSeq, payload.length.toLong)
      }
    }
    spark.createDataFrame(rdd, featureSchema)
  }

  // ------------------------------------------------------------------
  // REAL pure-JVM codecs: 24-bit uncompressed BMP and 16-bit PCM WAV.
  // No external media library needed — these are byte-level header
  // parses + pixel/sample reads, so the decode path (schema, batching,
  // per-partition execution) runs against genuine binary payloads and
  // is oracle-checked end-to-end (q70/q71). Compressed formats (PNG/
  // JPEG/MP3) stay stubbed: the container has no codec libraries.
  // ------------------------------------------------------------------

  /** Encode a solid-color 24-bit bottom-up BMP (54-byte header + BGR
    * rows padded to 4 bytes — the classic BITMAPINFOHEADER layout). */
  def encodeBmp24(w: Int, h: Int, r: Int, g: Int, b: Int): Array[Byte] = {
    val rowBytes = (w * 3 + 3) / 4 * 4
    val size = 54 + rowBytes * h
    val buf = java.nio.ByteBuffer.allocate(size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(54)
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
    buf.putInt(0).putInt(rowBytes * h).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        buf.put(b.toByte).put(g.toByte).put(r.toByte)
        x += 1
      }
      var p = w * 3
      while (p < rowBytes) { buf.put(0.toByte); p += 1 }
      y += 1
    }
    buf.array()
  }

  /** Decode a 24-bit uncompressed BMP: header-parsed dims + per-channel
    * pixel sums (padding bytes skipped via the row stride). Returns
    * (width, height, sumR, sumG, sumB). */
  def decodeBmp24(bytes: Array[Byte]): (Int, Int, Long, Long, Long) = {
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 54 && buf.get(0) == 'B' && buf.get(1) == 'M', "not a BMP")
    val pixelOffset = buf.getInt(10)
    val w = buf.getInt(18)
    val h = buf.getInt(22)
    val bpp = buf.getShort(28)
    val compression = buf.getInt(30)
    require(bpp == 24 && compression == 0, s"unsupported BMP: bpp=$bpp comp=$compression")
    val rowBytes = (w * 3 + 3) / 4 * 4
    var (sr, sg, sb) = (0L, 0L, 0L)
    var y = 0
    while (y < h) {
      val base = pixelOffset + y * rowBytes
      var x = 0
      while (x < w) {
        sb += bytes(base + x * 3) & 0xff
        sg += bytes(base + x * 3 + 1) & 0xff
        sr += bytes(base + x * 3 + 2) & 0xff
        x += 1
      }
      y += 1
    }
    (w, h, sr, sg, sb)
  }

  /** Encode 16-bit mono PCM samples as a RIFF/WAVE file. */
  def encodeWavPcm16(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(36 + dataLen).put("WAVE".getBytes)
    buf.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
    buf.putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
    buf.put("data".getBytes).putInt(dataLen)
    samples.foreach(buf.putShort)
    buf.array()
  }

  /** Decode a PCM-16 WAV: chunk-scans for `fmt ` and `data` (robust to
    * extra chunks like LIST/INFO), returns (sampleRate, nSamples,
    * sumAmplitude). */
  def decodeWavPcm16(bytes: Array[Byte]): (Int, Int, Long) = {
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 44 && new String(bytes, 0, 4) == "RIFF" &&
      new String(bytes, 8, 4) == "WAVE", "not a WAV")
    var pos = 12
    var sampleRate = -1
    var nSamples = 0
    var sum = 0L
    while (pos + 8 <= bytes.length) {
      val id = new String(bytes, pos, 4)
      val len = buf.getInt(pos + 4)
      id match {
        case "fmt " =>
          require(buf.getShort(pos + 8) == 1 && buf.getShort(pos + 22) == 16,
            "unsupported WAV: not PCM16")
          sampleRate = buf.getInt(pos + 12)
        case "data" =>
          nSamples = len / 2
          var i = 0
          while (i < nSamples) { sum += buf.getShort(pos + 8 + i * 2); i += 1 }
        case _ => () // skip unknown chunks (LIST/INFO/fact)
      }
      pos += 8 + len + (len & 1) // chunks are word-aligned
    }
    require(sampleRate > 0, "WAV: missing fmt chunk")
    (sampleRate, nSamples, sum)
  }

  /** PCM16 samples of a WAV payload (chunk-scanning, like
    * [[decodeWavPcm16]] but retaining the waveform for fingerprints). */
  def decodeWavSamples(bytes: Array[Byte]): Array[Short] = {
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 44 && new String(bytes, 0, 4) == "RIFF" &&
      new String(bytes, 8, 4) == "WAVE", "not a WAV")
    var pos = 12
    var out: Array[Short] = Array.empty
    while (pos + 8 <= bytes.length) {
      val id = new String(bytes, pos, 4)
      val len = buf.getInt(pos + 4)
      id match {
        case "fmt " =>
          require(buf.getShort(pos + 8) == 1 && buf.getShort(pos + 22) == 16,
            "unsupported WAV: not PCM16")
        case "data" =>
          val n = len / 2
          out = new Array[Short](n)
          var i = 0
          while (i < n) { out(i) = buf.getShort(pos + 8 + i * 2); i += 1 }
        case _ => ()
      }
      pos += 8 + len + (len & 1)
    }
    out
  }

  /** Energy-envelope audio fingerprint — the dHash idea applied to PCM:
    * split the waveform into 65 equal windows, take the integer mean
    * |amplitude| of each, set bit i when env(i+1) > env(i). Robust to
    * gain-preserving edits the way dHash is robust to brightness; 64
    * bits, Hamming = perceptual distance, pairs through
    * [[graft.operators.Dedup.hammingPairs64]]. Fewer than 65 samples →
    * hash 0 (no envelope to compare). */
  def audioEnvHash64(samples: Array[Short]): Long = {
    val nw = 65
    val n = samples.length
    if (n < nw) return 0L
    val env = new Array[Long](nw)
    var i = 0
    while (i < nw) {
      val s0 = i * n / nw
      val s1 = (i + 1) * n / nw
      var s = 0L
      var j = s0
      while (j < s1) { s += math.abs(samples(j).toInt); j += 1 }
      env(i) = s / (s1 - s0)
      i += 1
    }
    var hash = 0L
    i = 0
    while (i < 64) {
      if (env(i + 1) > env(i)) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** Per-asset audio fingerprints: (asset_id, ahash). */
  def audioEnvHashes(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    val schema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("ahash", LongType, nullable = false)))
    val rdd = assets.select("asset_id", "payload").rdd.mapPartitions { it =>
      it.map { r =>
        Row(r.getLong(0),
          audioEnvHash64(decodeWavSamples(r.getAs[Array[Byte]]("payload"))))
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Per-window amplitude for synthetic envelope-hash WAVs — quadratic
    * residues again (see [[gradientGray]]): decorrelated envelopes, so
    * only the planted twins are near-dups. */
  def envAmp(id: Long, w: Int): Int = {
    val t = id * 113 + w * 29
    ((t * t) % 241).toInt * 100
  }

  /** Synthetic envelope WAVs: 65 windows × m samples of constant
    * amplitude [[envAmp]] (windows align with the decoder's i·n/65
    * bounds exactly, so the integer window means are closed-form);
    * every `plantEvery` ids a twin (id+1000000) raises window 0 by 100
    * — at most ONE envelope bit flips. */
  /** One synthetic envelope WAV (see [[syntheticEnvWavAssets]]). */
  def envWavBytes(id: Long, tweak: Boolean): Array[Byte] = {
    val m = (id % 4).toInt + 2 // samples per window: 2..5
    val samples = new Array[Short](65 * m)
    var w = 0
    while (w < 65) {
      val a = (if (tweak && w == 0) envAmp(id, 0) + 100 else envAmp(id, w)).toShort
      var j = 0
      while (j < m) { samples(w * m + j) = a; j += 1 }
      w += 1
    }
    encodeWavPcm16(16000, samples)
  }

  def syntheticEnvWavAssets(docs: DataFrame, plantEvery: Long = 10L): DataFrame = {
    val spark = docs.sparkSession
    val schema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val rdd = docs.select("doc_id").rdd.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(0)
        val base = Row(id, envWavBytes(id, tweak = false))
        if (id % plantEvery == 0)
          Seq(base, Row(id + 1000000L, envWavBytes(id, tweak = true)))
        else Seq(base)
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** DuckDB closed-form replication of the envelope hash over the
    * synthetic WAVs (same pattern as [[dHashOracleSql]]). */
  def audioEnvOracleSql(plantEvery: Long = 10L): String = {
    val pow2 = (0 until 64).map(j =>
      s"($j, ${java.lang.Long.toUnsignedString(1L << j)}::HUGEINT)").mkString(", ")
    val two64 = "18446744073709551616"
    def toSigned(e: String) =
      s"CAST(CASE WHEN $e >= 9223372036854775808 THEN $e - $two64 ELSE $e END AS BIGINT)"
    s"""WITH ids AS (
       |  SELECT doc_id AS aid, doc_id AS src, FALSE AS tweak FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, doc_id, TRUE FROM documents WHERE doc_id % $plantEvery = 0),
       |env AS (SELECT i.aid, w.w,
       |  CASE WHEN i.tweak AND w.w = 0
       |       THEN ((i.src * 113) * (i.src * 113)) % 241 * 100 + 100
       |       ELSE ((i.src * 113 + w.w * 29) * (i.src * 113 + w.w * 29)) % 241 * 100
       |  END AS e
       |  FROM ids i CROSS JOIN (SELECT unnest(generate_series(0, 64)) AS w) w),
       |bits AS (SELECT a.aid, a.w AS bit
       |  FROM env a JOIN env b ON b.aid = a.aid AND b.w = a.w + 1
       |  WHERE a.w < 64 AND b.e > a.e),
       |hs AS (SELECT i.aid, COALESCE(SUM(p.p), 0::HUGEINT) AS h
       |  FROM ids i LEFT JOIN bits t ON i.aid = t.aid
       |  LEFT JOIN (VALUES $pow2) p(j, p) ON t.bit = p.j
       |  GROUP BY i.aid)
       |SELECT aid AS asset_id, ${toSigned("h")} AS ahash FROM hs""".stripMargin
  }

  /** Synthetic REAL-BMP asset table: one solid-color BMP per document,
    * dimensions and color pure arithmetic over doc_id — so an oracle
    * can predict the decoded stats in closed form. */
  def syntheticBmpAssets(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val schema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val rdd = docs.select("doc_id").rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val w = (id % 16).toInt + 1
        val h = (id % 8).toInt + 1
        Row(id, encodeBmp24(w, h, (id % 256).toInt,
          (id * 7 % 256).toInt, (id * 13 % 256).toInt))
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Synthetic REAL-WAV asset table (constant-amplitude PCM16 mono). */
  def syntheticWavAssets(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val schema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val rdd = docs.select("doc_id").rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val n = ((id % 50).toInt + 1) * 100
        val v = ((id % 30000) - 15000).toShort
        Row(id, encodeWavPcm16(16000, Array.fill(n)(v)))
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Decode BMP payloads per partition → header dims + mean channel
    * values in [0,1] (sum/nPixels/255, exact doubles for the oracle). */
  def decodeBmpStats(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    val schema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("mean_r", DoubleType, nullable = false),
      StructField("mean_g", DoubleType, nullable = false),
      StructField("mean_b", DoubleType, nullable = false)))
    val rdd = assets.select("asset_id", "payload").rdd.mapPartitions { it =>
      it.map { r =>
        val (w, h, sr, sg, sb) = decodeBmp24(r.getAs[Array[Byte]]("payload"))
        val n = w.toLong * h
        Row(r.getLong(0), w, h,
          sr.toDouble / n / 255.0, sg.toDouble / n / 255.0, sb.toDouble / n / 255.0)
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Decode WAV payloads per partition → rate, sample count, mean
    * amplitude in [-1,1] (sum/n/32768, exact doubles for the oracle). */
  def decodeWavStats(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    val schema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("sample_rate", IntegerType, nullable = false),
      StructField("n_samples", IntegerType, nullable = false),
      StructField("mean_amp", DoubleType, nullable = false)))
    val rdd = assets.select("asset_id", "payload").rdd.mapPartitions { it =>
      it.map { r =>
        val (rate, n, sum) = decodeWavPcm16(r.getAs[Array[Byte]]("payload"))
        Row(r.getLong(0), rate, n, sum.toDouble / n / 32768.0)
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Frame-sample stub: for video assets, emit one row per sampled frame
    * (every `everyMs` ms of duration) with a deterministic frame feature.
    * Pure-native row expansion: `sequence` + `explode` keeps the fan-out
    * inside codegen; only the (tiny) per-frame features materialize. */
  def sampleFrames(assets: DataFrame, everyMs: Long = 10000L): DataFrame =
    assets.where(col("modality") === "video")
      .select(col("asset_id"), col("duration_ms"),
        explode(sequence(lit(0L), col("duration_ms") - 1, lit(everyMs))).as("frame_ts_ms"))
      .select(col("asset_id"), col("frame_ts_ms"),
        xxhash64(col("asset_id"), col("frame_ts_ms")).as("frame_fingerprint"))

  /** Resize stub for images: records the plumbing (old/new dims + scale
    * factor) without a codec; deterministic and fully native. */
  def resizePlan(assets: DataFrame, targetW: Int, targetH: Int): DataFrame =
    assets.where(col("modality") === "image")
      .select(col("asset_id"), col("width"), col("height"),
        lit(targetW).as("target_w"), lit(targetH).as("target_h"),
        round(least(lit(targetW).cast("double") / col("width"),
          lit(targetH).cast("double") / col("height")), 6).as("scale"))

  // ── perceptual image hashing (dHash) ─────────────────────────────────

  /** Gray value for synthetic dHash test images — pure arithmetic over
    * (image id, x, y) so the 64-bit hash is predictable in CLOSED FORM
    * by an independent engine. Quadratic residues mod 251, NOT a linear
    * gradient: dHash sees cell DIFFERENCES, so any shared-slope family
    * hashes near-identically and every image pairs with every other —
    * squares decorrelate the bit patterns (expected cross-image Hamming
    * ≈ 32), leaving the planted one-pixel twins as the only near-dups. */
  def gradientGray(id: Long, x: Int, y: Int): Int = {
    val t = id * 131 + x * 9 + y * 83
    ((t * t) % 251).toInt
  }

  /** Encode a gray 24-bit BMP from a per-pixel value function. */
  def encodeBmp24Gray(w: Int, h: Int, f: (Int, Int) => Int): Array[Byte] = {
    val rowBytes = (w * 3 + 3) / 4 * 4
    val size = 54 + rowBytes * h
    val buf = java.nio.ByteBuffer.allocate(size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(54)
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
    buf.putInt(0).putInt(rowBytes * h).putInt(2835).putInt(2835).putInt(0).putInt(0)
    // BMP rows are stored BOTTOM-UP: row y=0 of the image is the LAST
    // stored row, so the writer iterates image rows in reverse
    var y = h - 1
    while (y >= 0) {
      var x = 0
      while (x < w) {
        val v = f(x, y) & 0xFF
        buf.put(v.toByte).put(v.toByte).put(v.toByte)
        x += 1
      }
      var p = w * 3
      while (p < rowBytes) { buf.put(0.toByte); p += 1 }
      y -= 1
    }
    buf.array()
  }

  /** Synthetic gradient-BMP assets for perceptual dedup: one 9×8 gray
    * gradient image per document, plus — every `plantEvery` ids — a
    * NEAR-DUPLICATE twin (id + 1000000) differing only in pixel (0,0),
    * which can flip at most ONE dHash bit. All pixel values are closed-
    * form arithmetic, so decoded hashes are exactly oracle-checkable. */
  def syntheticGradientBmpAssets(docs: DataFrame, plantEvery: Long = 10L): DataFrame = {
    val spark = docs.sparkSession
    val schema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val rdd = docs.select("doc_id").rdd.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(0)
        val base = Row(id, encodeBmp24Gray(9, 8, (x, y) => gradientGray(id, x, y)))
        if (id % plantEvery == 0)
          Seq(base, Row(id + 1000000L, encodeBmp24Gray(9, 8, (x, y) =>
            if (x == 0 && y == 0) (gradientGray(id, 0, 0) + 1) % 256
            else gradientGray(id, x, y))))
        else Seq(base)
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Decode a 24-bit BMP into a TOP-DOWN luma grid (integer luma
    * (299r+587g+114b)/1000 — equal to the gray value for gray images). */
  def decodeBmp24Luma(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 54 && buf.get(0) == 'B' && buf.get(1) == 'M', "not a BMP")
    val pixelOffset = buf.getInt(10)
    val w = buf.getInt(18)
    val h = buf.getInt(22)
    require(buf.getShort(28) == 24 && buf.getInt(30) == 0, "unsupported BMP")
    val rowBytes = (w * 3 + 3) / 4 * 4
    val out = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val base = pixelOffset + (h - 1 - y) * rowBytes // stored bottom-up
      var x = 0
      while (x < w) {
        val b = bytes(base + x * 3) & 0xFF
        val g = bytes(base + x * 3 + 1) & 0xFF
        val r = bytes(base + x * 3 + 2) & 0xFF
        out(y * w + x) = (299 * r + 587 * g + 114 * b) / 1000
        x += 1
      }
      y += 1
    }
    (w, h, out)
  }

  /** dHash-64 of a luma grid: box-pool to a 9×8 grid (integer floor
    * mean — identity for 9×8 inputs), then bit y·8+x is set when
    * cell(x+1, y) > cell(x, y). The standard difference hash: robust to
    * uniform brightness shifts, 64 bits, Hamming distance = perceptual
    * distance. */
  def dHash64(w: Int, h: Int, luma: Array[Int]): Long = {
    val grid =
      if (w == 9 && h == 8) luma
      else {
        val g = new Array[Int](72)
        var gy = 0
        while (gy < 8) {
          val y0 = gy * h / 8; val y1 = math.max(y0 + 1, (gy + 1) * h / 8)
          var gx = 0
          while (gx < 9) {
            val x0 = gx * w / 9; val x1 = math.max(x0 + 1, (gx + 1) * w / 9)
            var s = 0L; var c = 0
            var yy = y0
            while (yy < y1) {
              var xx = x0
              while (xx < x1) { s += luma(yy * w + xx); c += 1; xx += 1 }
              yy += 1
            }
            g(gy * 9 + gx) = (s / c).toInt
            gx += 1
          }
          gy += 1
        }
        g
      }
    var hash = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (grid(y * 9 + x + 1) > grid(y * 9 + x)) hash |= (1L << (y * 8 + x))
        x += 1
      }
      y += 1
    }
    hash
  }

  /** DuckDB closed-form replication of dHash over the synthetic
    * gradient assets: pixel values are arithmetic over (id, x, y), so
    * the comparison bits and the 64-bit value (HUGEINT power sum →
    * signed) are computable with no byte-level decode. An exact oracle
    * over the REAL decode path — wrong stride, orientation, or luma
    * math on the Spark side breaks the hash match. */
  def dHashOracleSql(plantEvery: Long = 10L): String = {
    val pow2 = (0 until 64).map(j =>
      s"($j, ${java.lang.Long.toUnsignedString(1L << j)}::HUGEINT)").mkString(", ")
    val two64 = "18446744073709551616"
    def toSigned(e: String) =
      s"CAST(CASE WHEN $e >= 9223372036854775808 THEN $e - $two64 ELSE $e END AS BIGINT)"
    s"""WITH ids AS (
       |  SELECT doc_id AS aid, doc_id AS src, FALSE AS tweak FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, doc_id, TRUE FROM documents WHERE doc_id % $plantEvery = 0),
       |g AS (SELECT xx.x, yy.y FROM (SELECT unnest(generate_series(0, 8)) AS x) xx,
       |      (SELECT unnest(generate_series(0, 7)) AS y) yy),
       |px AS (SELECT i.aid, g.x, g.y,
       |  CASE WHEN i.tweak AND g.x = 0 AND g.y = 0
       |       THEN (((i.src * 131) * (i.src * 131)) % 251 + 1) % 256
       |       ELSE ((i.src * 131 + g.x * 9 + g.y * 83) *
       |             (i.src * 131 + g.x * 9 + g.y * 83)) % 251
       |  END AS v
       |  FROM ids i CROSS JOIN g),
       |bits AS (SELECT a.aid, (a.y * 8 + a.x) AS bit
       |  FROM px a JOIN px b ON b.aid = a.aid AND b.y = a.y AND b.x = a.x + 1
       |  WHERE a.x < 8 AND b.v > a.v),
       |hs AS (SELECT i.aid, COALESCE(SUM(p.p), 0::HUGEINT) AS h
       |  FROM ids i LEFT JOIN bits t ON i.aid = t.aid
       |  LEFT JOIN (VALUES $pow2) p(j, p) ON t.bit = p.j
       |  GROUP BY i.aid)
       |SELECT aid AS asset_id, ${toSigned("h")} AS dhash FROM hs""".stripMargin
  }

  /** DuckDB replication of dHash near-dup pairs (exact popcount). */
  def dHashPairsOracleSql(plantEvery: Long = 10L, maxHamming: Int = 2): String =
    s"""SELECT a.asset_id AS id_a, b.asset_id AS id_b,
       |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
       |FROM (${dHashOracleSql(plantEvery)}) a JOIN (${dHashOracleSql(plantEvery)}) b
       |  ON a.asset_id < b.asset_id
       |WHERE bit_count(xor(a.dhash, b.dhash)) <= $maxHamming""".stripMargin

  /** Per-asset perceptual hashes: decode + dHash per partition, output
    * (asset_id, dhash) — the image-dedup signature table. Feed to
    * [[Dedup.hammingPairs64]] for near-duplicate pairs. */
  def imageDHashes(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    val schema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("dhash", LongType, nullable = false)))
    val rdd = assets.select("asset_id", "payload").rdd.mapPartitions { it =>
      it.map { r =>
        val (w, h, luma) = decodeBmp24Luma(r.getAs[Array[Byte]]("payload"))
        Row(r.getLong(0), dHash64(w, h, luma))
      }
    }
    spark.createDataFrame(rdd, schema)
  }
}
