package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.GraftSqlBridge.materialize
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque binary columns with typed
  * metadata, decoded/feature-extracted in partition-batched passes.
  *
  * The decode step is REAL for JDK-supported raster formats
  * (PNG/BMP/GIF/JPEG via `javax.imageio`, headless-safe) and falls back
  * to a deterministic byte-derived STUB for payloads no reader accepts
  * (the testdata's UTF-8 text stand-ins). The Spark-side plumbing is
  * real either way — binary columns, typed Dataset batch shape,
  * mapPartitions-per-batch decode (the Scala analogue of mapInPandas:
  * one decoder init per partition, streamed row batches).
  *
  * At 100 TB: binary payloads ride in their own column so Parquet column
  * pruning skips them unless the decode stage is in the plan; partitions
  * sized by spark.sql.files.maxPartitionBytes bound decoder memory.
  */
object Multimodal {
  /** ImageIO's default stream cache spools every read/write through a
    * disk temp file; under host IO contention that file traffic
    * serializes decode across all tasks (the round-9 loaded-host
    * q399 2.9 s → 68.6 s amplifier). Heap-backed streams only —
    * referenced by every decode/encode call site so the switch flips
    * once per JVM (driver and executors alike) before first use. */
  private[graft] lazy val imageIoNoCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  case class MediaRow(doc_id: Long, media: Array[Byte])
  case class DecodedRow(doc_id: Long, n_bytes: Long, width: Long,
      height: Long, channels: Long, fingerprint: String)

  /** Attach a binary payload column (testdata stand-in: UTF-8 text bytes;
    * production: real image/audio bytes read from Parquet/files). */
  def withBinaryPayload(docs: DataFrame): DataFrame =
    docs.withColumn("media", col("text").cast("binary"))

  /** REAL image decode via `javax.imageio` — returns None when no
    * registered reader accepts the bytes (not an image). PNG/BMP/GIF
    * round-trip losslessly, which is what lets [[aHashRealPng]] be
    * oracle-gated: the decoded raster equals the encoded content
    * bit-for-bit. */
  private[llm] def decodeImage(r: MediaRow): Option[DecodedRow] =
    try {
      imageIoNoCache
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.media))
      if (img == null) None
      else Some(DecodedRow(r.doc_id, r.media.length.toLong,
        img.getWidth.toLong, img.getHeight.toLong,
        img.getColorModel.getNumComponents.toLong,
        java.security.MessageDigest.getInstance("MD5").digest(r.media)
          .map("%02x".format(_)).mkString))
    } catch { case _: java.io.IOException => None }

  /** STUB decode — deterministic pseudo-dimensions from byte length, for
    * payloads that are not decodable images (testdata text bytes). */
  private def decodeStub(r: MediaRow): DecodedRow = {
    val nb = r.media.length.toLong
    DecodedRow(r.doc_id, nb, 64L + nb % 512L, 64L + (nb / 7L) % 512L, 3L,
      // fingerprint of the payload (hex md5), computed per-row
      java.security.MessageDigest.getInstance("MD5").digest(r.media)
        .map("%02x".format(_)).mkString)
  }

  /** Partition-batched decode: one decoder per partition, rows streamed.
    * Tries the REAL `javax.imageio` decode first; payloads no reader
    * accepts get the deterministic stub metadata. */
  def decode(spark: SparkSession, media: DataFrame): Dataset[DecodedRow] = {
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[MediaRow]
      .mapPartitions { it =>
        // decoder/model init would happen once per partition here
        it.map(r => decodeImage(r).getOrElse(decodeStub(r)))
      }
  }

  /** STUB resize: recompute target dimensions preserving aspect, payload
    * untouched (a real build transcodes; the plumbing — schema in/out,
    * per-partition batching — is what this exercises). */
  def resizeStub(spark: SparkSession, media: DataFrame,
      maxSide: Long): Dataset[DecodedRow] = {
    import spark.implicits._
    decode(spark, media).map { d =>
      val scale = maxSide.toDouble / math.max(d.width, d.height)
      if (scale >= 1.0) d
      else d.copy(width = (d.width * scale).toLong,
        height = (d.height * scale).toLong)
    }
  }

  case class FrameRow(doc_id: Long, frame_idx: Long, frame_fingerprint: String)

  /** STUB frame sampling ("video" payloads): emit `n` evenly-spaced frame
    * fingerprints per payload — the one-row-to-many-frames batch shape of
    * a real frame sampler, with a deterministic fake extractor. */
  def frameSampleStub(spark: SparkSession, media: DataFrame,
      n: Int): Dataset[FrameRow] = {
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[MediaRow]
      .flatMap { r =>
        val md = java.security.MessageDigest.getInstance("MD5")
        (0 until n).map { i =>
          md.reset()
          md.update(r.media)
          md.update(i.toByte)
          FrameRow(r.doc_id, i.toLong,
            md.digest().map("%02x".format(_)).mkString)
        }
      }
  }

  /** Column-expression twin of the stub (oracle-checkable end-to-end): the
    * same arithmetic as decodeStub in pure codegen'd expressions. */
  def decodeStubColumns(media: DataFrame): DataFrame =
    media.select(col("doc_id"),
      octet_length(col("media")).cast("long").as("n_bytes"),
      (lit(64L) + octet_length(col("media")).cast("long") % 512L).as("width"),
      (lit(64L) + (octet_length(col("media")).cast("long") / 7L).cast("long") % 512L).as("height"),
      lit(3L).as("channels"),
      md5(col("media")).as("fingerprint"))

  /** Sliding byte windows over the binary payload — the audio/waveform
    * featurization batch shape (window length + hop/stride, short tail
    * window kept; a payload shorter than one window yields exactly one).
    * Pure codegen'd expressions (sequence + explode + byte substr):
    * windowing at 100 TB must ride the scan, not a lambda. The md5 per
    * window stands in for the frame transform — a real featurizer
    * replaces that one column.
    *
    * Output: (doc_id, win_idx, off, win_md5), off = byte offset 0-based.
    */
  def byteWindows(media: DataFrame, winLen: Int, stride: Int): DataFrame = {
    require(winLen > 0 && stride > 0)
    val nWins =
      expr(s"((greatest(octet_length(media), $winLen) - $winLen) div $stride) + 1")
    media.select(col("doc_id"), col("media"),
        explode(sequence(lit(0L), nWins - 1)).as("win_idx"))
      .select(col("doc_id"), col("win_idx"),
        (col("win_idx") * stride).as("off"),
        md5(col("media").substr((col("win_idx") * stride + 1).cast("int"),
          lit(winLen))).as("win_md5"))
  }

  /** Deterministic 16×16 RGB PNG payload per doc id — real image bytes
    * (encoded by the JDK's PNG writer) whose pixel content is a pure
    * integer function of (doc_id, x, y). Because PNG is LOSSLESS, a
    * real decode recovers exactly these values, which is what lets the
    * DuckDB oracle replay [[aHashRealPng]] analytically without an
    * image decoder of its own: if the ImageIO decode path were wrong,
    * the oracle comparison would fail. */
  def pngPayload(docId: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        val r = ((docId * 31 + x * 7 + y * 13) % 256).toInt
        val g = ((docId * 17 + x * 11 + y * 3) % 256).toInt
        val b = ((docId * 23 + x * 5 + y * 19) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    imageIoNoCache
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Variable-dimension variant of [[pngPayload]]: a REAL PNG whose size
    * is a pure integer function of the id (w = 8 + id mod 9,
    * h = 8 + 7·id mod 9) with the same per-pixel formula — the corpus
    * stand-in for [[parsePngHeader]], where the point is that the
    * header-declared dimensions VARY and must be read back out of the
    * encoded bytes. */
  def pngPayloadSized(docId: Long): Array[Byte] = {
    val w = (8 + docId % 9).toInt
    val h = (8 + (docId * 7) % 9).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((docId * 31 + x * 7 + y * 13) % 256).toInt
        val g = ((docId * 17 + x * 11 + y * 3) % 256).toInt
        val b = ((docId * 23 + x * 5 + y * 19) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    imageIoNoCache
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  def withPngPayloadSized(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(it => it.map(id => MediaRow(id, pngPayloadSized(id))))
      .toDF()
  }

  /** PNG IHDR header parse as PURE COLUMN EXPRESSIONS over the binary
    * payload — the "extract image metadata without decoding pixels" fast
    * path every multimodal ingest runs before deciding what to decode:
    * signature check + big-endian field reads at fixed offsets (PNG
    * spec: 8-byte signature, 4-byte length, "IHDR", then width(4)
    * height(4) bitDepth(1) colorType(1) compression(1) filter(1)
    * interlace(1)). No UDF, no decoder — `substring` on binary +
    * `conv(hex(...))` stay in whole-stage codegen, so at 100 TB this
    * runs at scan speed and Parquet still prunes the payload column out
    * of every query that doesn't touch it.
    *
    * @return doc_id, sig_ok, width, height, bit_depth, color_type,
    *         interlace
    */
  def parsePngHeader(media: DataFrame): DataFrame = {
    def be(off: Int, len: Int) =
      conv(hex(col("media").substr(lit(off), lit(len))), 16, 10).cast("long")
    media.select(col("doc_id"),
      (hex(col("media").substr(lit(1), lit(8))) === "89504E470D0A1A0A")
        .as("sig_ok"),
      be(17, 4).as("width"), be(21, 4).as("height"),
      be(25, 1).as("bit_depth"), be(26, 1).as("color_type"),
      be(29, 1).as("interlace"))
  }

  /** Deterministic 16-bit little-endian PCM payload per doc id — REAL
    * audio-container bytes (the WAV data-chunk encoding) whose sample
    * values are a pure integer function of (doc_id, t):
    * s_t = (37·id + t²) mod 4001 − 2000, n = 64 + 16·(id mod 4) samples
    * (always whole 16-sample windows). As with [[pngPayloadSized]], the
    * generative formula is what lets the oracle check the BYTE PARSE:
    * the engine must recover every sample from the raw bytes
    * (little-endian, sign bit), and a wrong endianness/sign would
    * mismatch on essentially every row. */
  def pcmPayload(docId: Long): Array[Byte] = {
    val n = (64 + 16 * (docId % 4)).toInt
    val out = new Array[Byte](2 * n)
    var t = 0
    while (t < n) {
      val s = ((docId * 37 + t.toLong * t) % 4001 - 2000).toInt
      out(2 * t) = (s & 0xFF).toByte
      out(2 * t + 1) = ((s >> 8) & 0xFF).toByte
      t += 1
    }
    out
  }

  def withPcmPayload(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(it => it.map(id => MediaRow(id, pcmPayload(id))))
      .toDF()
  }

  /** Windowed PCM16 energy — the waveform feature pass of an audio
    * ingest (VAD gates, silence trimming, loudness bucketing all start
    * from per-window energy), decoding the SAMPLES from the binary
    * column with pure expressions: little-endian int16 with sign
    * correction via substr + conv(hex), then per-16-sample-window exact
    * integer Σs and Σs² (energy; RMS = √(Σs²/n) is left to the consumer
    * so the emitted relation stays float-free). One map-side transform +
    * a posexplode of window stats — the corpus never shuffles samples,
    * only the window-stat rows. */
  def pcmWindowEnergy(media: DataFrame, winLen: Int = 16): DataFrame = {
    val n = (length(col("media")) / 2).cast("int")
    val sample = (t: org.apache.spark.sql.Column) => {
      val lo = conv(hex(col("media").substr(t * 2 + 1, lit(1))), 16, 10)
        .cast("long")
      val hi = conv(hex(col("media").substr(t * 2 + 2, lit(1))), 16, 10)
        .cast("long")
      val v = lo + hi * 256L
      when(v >= 32768L, v - 65536L).otherwise(v)
    }
    val nw = floor(n / lit(winLen)).cast("int")
    media
      .withColumn("samples", transform(sequence(lit(0), n - 1), sample))
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), nw - 1), wi =>
          slice(col("samples"), wi * winLen + 1, lit(winLen))))
        .as(Seq("win", "w")))
      .select(col("doc_id"), col("win").cast("long").as("win"),
        aggregate(col("w"), lit(0L), (a, v) => a + v).as("sum_s"),
        aggregate(col("w"), lit(0L), (a, v) => a + v * v).as("sum_sq"))
  }

  /** (doc_id, media=PNG bytes) for each input doc id — the image-corpus
    * stand-in with REAL encoded payloads. */
  def withPngPayload(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(it => it.map(id => MediaRow(id, pngPayload(id))))
      .toDF()
  }

  case class AHashRow(doc_id: Long, width: Long, height: Long, ahash: Long)

  /** REAL-decode average-hash: `javax.imageio` decode → exact 8×8
    * block-averaged luma grid → 63-bit above-floor-mean hash (the same
    * bit/mean conventions as [[aHashNearDup]]'s stub). All integer
    * arithmetic in a fixed order — per-channel block mean is a floor
    * division of the block sum, luma is the floor of the ITU-R 601
    * integer combination — so for lossless payloads the hash replays
    * bit-for-bit from the encoded content. Fails loudly on a
    * non-decodable payload rather than silently stubbing: this is the
    * REAL path. */
  def aHashRealPng(spark: SparkSession, media: DataFrame): Dataset[AHashRow] = {
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[MediaRow]
      .mapPartitions { it =>
        imageIoNoCache
        it.map { r =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.media))
          require(img != null,
            s"payload for doc ${r.doc_id} is not a decodable image")
          val w = img.getWidth
          val hgt = img.getHeight
          require(w % 8 == 0 && hgt % 8 == 0,
            s"dims ${w}x$hgt not divisible into an 8x8 grid")
          val bw = w / 8
          val bh = hgt / 8
          val n = (bw * bh).toLong
          val luma = new Array[Long](64)
          var i = 0
          while (i < 64) {
            val gx = i % 8
            val gy = i / 8
            var rs = 0L; var gs = 0L; var bs = 0L
            var yy = gy * bh
            while (yy < (gy + 1) * bh) {
              var xx = gx * bw
              while (xx < (gx + 1) * bw) {
                val p = img.getRGB(xx, yy)
                rs += (p >> 16) & 0xFF
                gs += (p >> 8) & 0xFF
                bs += p & 0xFF
                xx += 1
              }
              yy += 1
            }
            luma(i) = (299L * (rs / n) + 587L * (gs / n) + 114L * (bs / n)) / 1000L
            i += 1
          }
          val mean = luma.take(63).sum / 63L
          var h = 0L
          i = 0
          while (i < 63) {
            if (luma(i) > mean) h |= 1L << i
            i += 1
          }
          AHashRow(r.doc_id, w.toLong, hgt.toLong, h)
        }
      }
  }

  /** 16-point DCT-II basis, scaled: C[k][n] = round(1e4·cos(π(2n+1)k/32)).
    * Computed ONCE here and inlined verbatim into the DuckDB oracle
    * (LlmQueries builds the VALUES table from THIS array), so both
    * engines share bit-identical integer constants and neither
    * evaluates a transcendental inside the checked output. */
  val dctC: Array[Array[Long]] = Array.tabulate(16, 16) { (k, n) =>
    math.round(10000.0 * math.cos(math.Pi * (2 * n + 1) * k / 32))
  }

  case class PHashRow(doc_id: Long, phash: Long, median_f: Long)

  /** REAL-decode pHash (DCT perceptual hash): `javax.imageio` decode →
    * exact per-pixel ITU-R 601 integer luma → 2-D 16-point DCT-II in
    * EXACT integer arithmetic with the shared [[dctC]] basis (scaled
    * 1e4; |F| ≤ 255·16²·1e8 fits long) → the 63 low-frequency
    * coefficients (u,v ≤ 7, DC excluded) thresholded at their exact
    * median (32nd smallest) — the classic pHash shape, but every step
    * integer so a lossless payload replays bit-for-bit on any engine.
    * Unlike [[aHashRealPng]]'s block means, the DCT sees structure, not
    * just brightness: it is the standard near-dup hash for re-encoded
    * or lightly-edited images. */
  def pHashRealPng(spark: SparkSession,
      media: DataFrame): Dataset[PHashRow] = {
    import spark.implicits._
    val c = dctC
    media.select(col("doc_id"), col("media")).as[MediaRow]
      .mapPartitions { it =>
        imageIoNoCache
        it.map { r =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.media))
          require(img != null,
            s"payload for doc ${r.doc_id} is not a decodable image")
          require(img.getWidth == 16 && img.getHeight == 16,
            s"pHash expects 16x16, got ${img.getWidth}x${img.getHeight}")
          val lum = Array.ofDim[Long](16, 16)
          var y = 0
          while (y < 16) {
            var x = 0
            while (x < 16) {
              val p = img.getRGB(x, y)
              lum(y)(x) = (299L * ((p >> 16) & 0xFF) +
                587L * ((p >> 8) & 0xFF) + 114L * (p & 0xFF)) / 1000L
              x += 1
            }
            y += 1
          }
          // F[u][v] = Σ_y Σ_x lum[y][x]·C[u][y]·C[v][x], u,v in 0..7
          val f = new Array[Long](64)
          var u = 0
          while (u < 8) {
            var v = 0
            while (v < 8) {
              var acc = 0L
              var yy = 0
              while (yy < 16) {
                var xx = 0
                var rowAcc = 0L
                while (xx < 16) {
                  rowAcc += lum(yy)(xx) * c(v)(xx)
                  xx += 1
                }
                acc += rowAcc * c(u)(yy)
                yy += 1
              }
              f(u * 8 + v) = acc
              v += 1
            }
            u += 1
          }
          val ac = f.drop(1) // 63 coefficients, DC excluded
          val median = ac.sorted.apply(31) // exact 32nd smallest
          var h = 0L
          var i = 0
          while (i < 63) {
            if (ac(i) > median) h |= 1L << i
            i += 1
          }
          PHashRow(r.doc_id, h, median)
        }
      }
  }

  /** Perceptual-hash near-duplicate detection over binary payloads —
    * the image-dedup shape (aHash/pHash family) on the stubbed decode:
    * 63 evenly-spaced sample bytes stand in for the 8x8 grayscale
    * grid (a real decoder replaces the sampling, nothing else), each
    * "pixel" contributes one hash bit (above the integer mean), and
    * candidate pairs come from SimHash-style band blocking (3 bands x
    * 21 bits — a pair survives iff some band matches exactly, the q37
    * discipline) with an exact popcount(xor) hamming verify. All
    * integer arithmetic — floor-div sampling positions, floor mean —
    * so the hash replays bit-for-bit. Payload bytes are sampled via
    * codegen'd substring, never a UDF; the banded join shuffles only
    * (band, value, id, hash) — ids and longs, no payloads.
    *
    * Guarantees: exact-duplicate payloads always pair (hamming 0 ⇒
    * all bands equal); near-dups within `maxHamming` are found iff
    * one band is untouched (recall < 1, the standard banding
    * trade-off — spec-pinned candidates ⊆ brute-force pairs). */
  def aHashNearDup(media: DataFrame, maxHamming: Int = 8): DataFrame = {
    val px = media.select(col("doc_id"), col("media"),
        octet_length(col("media")).as("nb"))
      .select(col("doc_id"), col("media"), col("nb"),
        explode(sequence(lit(0), lit(62))).as("i"))
      .select(col("doc_id"), col("i"),
        expr("""ascii(CAST(substring(media,
          CAST((i * nb) div 64 AS INT) + 1, 1) AS STRING))""").as("v"))
    val mean = px.groupBy("doc_id")
      .agg(expr("sum(v) div 63").as("mean"))
    val h = materialize(px.join(mean, "doc_id") // id + 63-bit hash per payload
      .groupBy("doc_id")
      .agg(sum(expr(
        "CASE WHEN v > mean THEN shiftleft(CAST(1 AS BIGINT), i)" +
          " ELSE 0L END")).as("h"))).df
    val bands = h.select(col("doc_id"), col("h"),
        explode(sequence(lit(0), lit(2))).as("b"))
      .select(col("doc_id"), col("h"), col("b"),
        expr("(h >> CAST(21 * b AS INT)) & 2097151").as("bval"))
    val a = bands.select(col("doc_id").as("d1"), col("h").as("h1"),
      col("b"), col("bval"))
    val c = bands.select(col("doc_id").as("d2"), col("h").as("h2"),
      col("b"), col("bval"))
    a.join(c, Seq("b", "bval")).filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        expr("CAST(bit_count(h1 ^ h2) AS BIGINT)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
