package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column processing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed in executor-side batches via
  * `mapPartitions` over typed Datasets (the Scala analog of
  * arrow-batched Python UDFs).
  *
  * The codecs for the simple open formats are REAL, implemented as pure
  * byte parsing with no external libraries: P6 PPM (Netpbm) images are
  * header-parsed and pixel-decoded, RIFF/WAVE PCM16 audio is chunk-walked
  * to samples, and "video" is a stream of concatenated PPM frames (the
  * Netpbm convention ffmpeg's ppm pipe emits) split by parsing each frame
  * header. Feature extraction computes real signal statistics — grayscale
  * thumbnails for images, windowed RMS for audio. [[Codecs]] remains the
  * seam where compressed formats (JPEG/FLAC/MP4) would plug in native
  * decoders; everything around the seam — schema, batching, partitioning,
  * null handling, generator shapes — is format-independent.
  *
  * Scale posture: assets never pass through the driver; decode and
  * feature extraction run per-partition with constant memory per row;
  * frame sampling is a generator (1 asset → N frame rows) via flatMap —
  * the same shape as `explode` but with imperative batch control where a
  * decoder owns buffers.
  */
object Multimodal {

  final case class MediaAsset(asset_id: Long, kind: String, bytes: Array[Byte],
      meta: Map[String, String])
  final case class DecodedMeta(asset_id: Long, kind: String, width: Int,
      height: Int, channels: Int, n_bytes: Long, sample_rate: Int, n_frames: Int)
  final case class MediaFeature(asset_id: Long, feature: Array[Float])
  final case class Frame(asset_id: Long, frame_idx: Int, frame_bytes: Array[Byte])
  final case class Thumbnail(asset_id: Long, width: Int, height: Int,
      thumb: Array[Byte])

  implicit val assetEnc: Encoder[MediaAsset] = Encoders.product[MediaAsset]
  implicit val decodedEnc: Encoder[DecodedMeta] = Encoders.product[DecodedMeta]
  implicit val featureEnc: Encoder[MediaFeature] = Encoders.product[MediaFeature]
  implicit val frameEnc: Encoder[Frame] = Encoders.product[Frame]
  implicit val thumbEnc: Encoder[Thumbnail] = Encoders.product[Thumbnail]

  /** Real codecs for the simple open formats; the seam for the rest. */
  object Codecs {

    // ---------- P6 PPM (Netpbm raw RGB) ----------

    /** Encode w×h raw RGB (3 bytes/pixel) as a P6 PPM. */
    def encodePpm(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
      require(rgb.length == w * h * 3, s"need ${w * h * 3} bytes, got ${rgb.length}")
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val out = new Array[Byte](header.length + rgb.length)
      System.arraycopy(header, 0, out, 0, header.length)
      System.arraycopy(rgb, 0, out, header.length, rgb.length)
      out
    }

    /** Parse one P6 frame starting at `off`: (width, height, pixelOffset,
      * endOffset). Handles arbitrary whitespace and `#` comments in the
      * header, maxval must be 255 (8-bit). */
    private def parsePpmHeader(bytes: Array[Byte], off: Int): (Int, Int, Int, Int) = {
      require(off + 2 <= bytes.length && bytes(off) == 'P' && bytes(off + 1) == '6',
        s"not a P6 PPM at offset $off")
      var i = off + 2
      def skipSpace(): Unit = {
        var in = true
        while (in && i < bytes.length) {
          val c = bytes(i)
          if (c == '#') { while (i < bytes.length && bytes(i) != '\n') i += 1 }
          else if (c == ' ' || c == '\t' || c == '\n' || c == '\r') i += 1
          else in = false
        }
      }
      def readInt(): Int = {
        skipSpace()
        var v = 0
        require(i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9', "bad PPM int")
        while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
          v = v * 10 + (bytes(i) - '0'); i += 1
        }
        v
      }
      val w = readInt(); val h = readInt(); val maxval = readInt()
      require(maxval == 255, s"only 8-bit PPM supported, maxval=$maxval")
      i += 1 // single whitespace after maxval, then raw pixels
      val pixelOff = i
      val end = pixelOff + w * h * 3
      require(end <= bytes.length, "truncated PPM pixel data")
      (w, h, pixelOff, end)
    }

    /** Decode a P6 PPM to (width, height, raw RGB pixels). */
    def decodePpm(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
      val (w, h, po, end) = parsePpmHeader(bytes, 0)
      (w, h, java.util.Arrays.copyOfRange(bytes, po, end))
    }

    /** Nearest-neighbor resize of raw RGB. */
    def resizeNearest(w: Int, h: Int, rgb: Array[Byte], nw: Int, nh: Int): Array[Byte] = {
      val out = new Array[Byte](nw * nh * 3)
      var y = 0
      while (y < nh) {
        val sy = y * h / nh
        var x = 0
        while (x < nw) {
          val sx = x * w / nw
          val si = (sy * w + sx) * 3
          val di = (y * nw + x) * 3
          out(di) = rgb(si); out(di + 1) = rgb(si + 1); out(di + 2) = rgb(si + 2)
          x += 1
        }
        y += 1
      }
      out
    }

    /** Walk a concatenated-P6 stream without copying: per frame
      * (width, height, startOffset, endOffset). Lets counting/metadata
      * passes stay allocation-free. */
    def ppmFrameOffsets(bytes: Array[Byte]): Iterator[(Int, Int, Int, Int)] =
      new Iterator[(Int, Int, Int, Int)] {
        private var off = 0
        def hasNext: Boolean = off < bytes.length
        def next(): (Int, Int, Int, Int) = {
          val (w, h, _, end) = parsePpmHeader(bytes, off)
          val r = (w, h, off, end)
          off = end
          r
        }
      }

    /** Split a concatenated-P6 stream (the `ffmpeg -f image2pipe` PPM
      * convention) into individual encoded frames by walking headers. */
    def splitPpmFrames(bytes: Array[Byte]): Iterator[Array[Byte]] =
      ppmFrameOffsets(bytes).map { case (_, _, start, end) =>
        java.util.Arrays.copyOfRange(bytes, start, end)
      }

    // ---------- RIFF/WAVE PCM16 ----------

    /** Encode PCM16 mono samples at `sampleRate` as a canonical 44-byte
      * header WAV. */
    def encodeWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1) // PCM, mono
        .putInt(sampleRate).putInt(sampleRate * 2)
        .putShort(2).putShort(16) // block align, bits/sample
      bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(bb.putShort)
      bb.array()
    }

    /** Decode a PCM16 WAV by walking RIFF chunks (fmt before data;
      * unknown chunks skipped): (sampleRate, channels, samples). */
    def decodeWav(bytes: Array[Byte]): (Int, Int, Array[Short]) = {
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fourcc(): String = { val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII") }
      require(fourcc() == "RIFF", "not a RIFF file"); bb.getInt
      require(fourcc() == "WAVE", "not a WAVE file")
      var sampleRate = 0; var channels = 0; var bits = 0
      var samples: Array[Short] = null
      while (bb.remaining() >= 8 && samples == null) {
        val id = fourcc(); val len = bb.getInt
        id match {
          case "fmt " =>
            val fmtEnd = bb.position() + len
            val audioFormat = bb.getShort
            require(audioFormat == 1, s"only PCM supported, format=$audioFormat")
            channels = bb.getShort.toInt
            require(channels > 0, s"invalid channel count: $channels")
            sampleRate = bb.getInt
            bb.getInt; bb.getShort // byte rate, block align
            bits = bb.getShort.toInt
            require(bits == 16, s"only PCM16 supported, bits=$bits")
            bb.position(fmtEnd)
          case "data" =>
            require(sampleRate > 0, "data chunk before fmt")
            val n = len / 2
            val out = new Array[Short](n)
            var i = 0
            while (i < n) { out(i) = bb.getShort; i += 1 }
            samples = out
          case _ => bb.position(bb.position() + len + (len & 1))
        }
      }
      require(samples != null, "no data chunk")
      (sampleRate, channels, samples)
    }

    // ---------- features (real signal statistics) ----------

    /** Image feature: grayscale thumbnail, `side`×`side` nearest-neighbor,
      * normalized to [0,1] — dim = side². */
    def imageFeature(w: Int, h: Int, rgb: Array[Byte], side: Int = 4): Array[Float] = {
      val small = resizeNearest(w, h, rgb, side, side)
      val out = new Array[Float](side * side)
      var i = 0
      while (i < out.length) {
        val r = small(i * 3) & 0xFF; val g = small(i * 3 + 1) & 0xFF
        val b = small(i * 3 + 2) & 0xFF
        out(i) = (0.299f * r + 0.587f * g + 0.114f * b) / 255.0f
        i += 1
      }
      out
    }

    /** 64-bit average-hash (aHash) perceptual signature: 8×8 nearest-
      * neighbor downsample → integer luma → bit j set iff luma(j) is
      * strictly above the integer mean. All-integer arithmetic —
      * deterministic across JVMs and platforms. Robust to uniform
      * brightness shifts (the mean shifts with the pixels), which is
      * exactly the variation between consecutive synthetic video
      * frames. */
    def aHash(w: Int, h: Int, rgb: Array[Byte]): Long = {
      val small = resizeNearest(w, h, rgb, 8, 8)
      val luma = new Array[Int](64)
      var sum = 0L
      var i = 0
      while (i < 64) {
        val r = small(i * 3) & 0xFF; val g = small(i * 3 + 1) & 0xFF
        val b = small(i * 3 + 2) & 0xFF
        luma(i) = (299 * r + 587 * g + 114 * b) / 1000
        sum += luma(i)
        i += 1
      }
      val mean = sum / 64
      var sig = 0L
      i = 0
      while (i < 64) { if (luma(i) > mean) sig |= (1L << i); i += 1 }
      sig
    }

    /** Dominant-frequency estimate in Hz from the mean zero-crossing
      * rate: a sign change per half-period means f ≈ crossings /
      * (2 · duration). Exact integer crossing count; one final
      * division. The simplest real content fingerprint for tonal
      * audio — amplitude- and duration-invariant. */
    def dominantFreq(sampleRate: Int, samples: Array[Short]): Double = {
      if (samples.length < 2) return 0.0
      var zc = 0L
      var i = 1
      while (i < samples.length) {
        if ((samples(i - 1) < 0) != (samples(i) < 0)) zc += 1
        i += 1
      }
      zc.toDouble * sampleRate / (2.0 * (samples.length - 1))
    }

    /** Audio feature: RMS energy over `dim` equal windows, normalized by
      * full scale. */
    def audioFeature(samples: Array[Short], dim: Int = 16): Array[Float] = {
      val out = new Array[Float](dim)
      if (samples.isEmpty) return out
      val win = math.max(1, samples.length / dim)
      var wIdx = 0
      while (wIdx < dim) {
        val from = wIdx * win
        val to = if (wIdx == dim - 1) samples.length else math.min(samples.length, from + win)
        var acc = 0.0; var i = from
        while (i < to) { val s = samples(i).toDouble; acc += s * s; i += 1 }
        out(wIdx) = if (to > from) (math.sqrt(acc / (to - from)) / 32768.0).toFloat else 0.0f
        wIdx += 1
      }
      out
    }
  }

  /** Build a deterministic media table from the documents corpus: REAL
    * encoded payloads (P6 images, PCM16 WAVs, concatenated-PPM frame
    * streams) whose content derives from each document — realistic
    * binary columns without external assets. */
  def syntheticAssets(spark: SparkSession, d: String): Dataset[MediaAsset] = {
    import spark.implicits._
    graft.sources.Tables.documents(spark, d)
      .select($"doc_id", $"text", $"lang")
      .as[(Long, String, String)]
      .map { case (id, text, lang) =>
        val t = text.getBytes("UTF-8")
        def rgb(w: Int, h: Int, salt: Int): Array[Byte] = {
          val px = new Array[Byte](w * h * 3)
          var i = 0
          while (i < px.length) {
            px(i) = ((t(i % t.length) + i * 31 + salt) & 0xFF).toByte
            i += 1
          }
          px
        }
        (id % 3) match {
          case 0 =>
            val w = 8 + (id % 9).toInt; val h = 8 + (id % 7).toInt
            MediaAsset(id, "image", Codecs.encodePpm(w, h, rgb(w, h, 0)),
              Map("lang" -> lang, "codec" -> "ppm"))
          case 1 =>
            val sr = 8000
            val n = 400 + (id % 400).toInt
            val f = 200 + (id % 200).toInt
            // Integer phase-accumulator triangle wave, NOT sin(): the
            // q110 oracle resynthesizes these samples in SQL, and a
            // transcendental would hang that exactness on Math.sin and
            // libm agreeing to the last ulp at truncation boundaries
            // (they're only specified to 1 ulp). Integer ramp math is
            // platform-free on both engines; the zero-crossing
            // fingerprint the analysis needs (2 crossings/cycle at f Hz)
            // is identical.
            val samples = Array.tabulate(n) { i =>
              val pos = ((i.toLong * f) % sr).toInt // cycle position
              val amp =
                if (pos < sr / 2) (pos * 6000) / (sr / 2) - 3000
                else 3000 - (((pos - sr / 2) * 6000) / (sr / 2))
              amp.toShort
            }
            MediaAsset(id, "audio", Codecs.encodeWav(sr, samples),
              Map("lang" -> lang, "codec" -> "wav"))
          case _ =>
            val w = 8 + (id % 5).toInt; val h = 8 + (id % 3).toInt
            val nFrames = 3 + (id % 4).toInt
            val frames = (0 until nFrames).map(j => Codecs.encodePpm(w, h, rgb(w, h, j)))
            MediaAsset(id, "video", frames.reduce(_ ++ _),
              Map("lang" -> lang, "codec" -> "ppm-stream"))
        }
      }
  }

  /** Batched decode: per-partition loop, constant memory per row. Real
    * header/chunk parsing per format. */
  def decode(assets: Dataset[MediaAsset]): Dataset[DecodedMeta] =
    assets.mapPartitions { it =>
      it.map { a =>
        a.kind match {
          case "image" =>
            val (w, h, _) = Codecs.decodePpm(a.bytes)
            DecodedMeta(a.asset_id, a.kind, w, h, 3, a.bytes.length.toLong, 0, 1)
          case "audio" =>
            val (sr, ch, samples) = Codecs.decodeWav(a.bytes)
            DecodedMeta(a.asset_id, a.kind, samples.length / ch, 1, ch,
              a.bytes.length.toLong, sr, 0)
          case _ =>
            var n = 0; var w = 0; var h = 0
            Codecs.ppmFrameOffsets(a.bytes).foreach { case (fw, fh, _, _) =>
              if (n == 0) { w = fw; h = fh }
              n += 1
            }
            DecodedMeta(a.asset_id, a.kind, w, h, 3, a.bytes.length.toLong, 0, n)
        }
      }
    }

  /** Batched feature extraction into a fixed-dim embedding column:
    * grayscale thumbnail for visual kinds, windowed RMS for audio. */
  def extractFeatures(assets: Dataset[MediaAsset], dim: Int = 16): Dataset[MediaFeature] = {
    val side = math.max(1, math.sqrt(dim.toDouble).toInt)
    assets.mapPartitions { it =>
      it.map { a =>
        val f = a.kind match {
          case "image" =>
            val (w, h, px) = Codecs.decodePpm(a.bytes)
            Codecs.imageFeature(w, h, px, side).padTo(dim, 0.0f)
          case "audio" =>
            val (_, _, samples) = Codecs.decodeWav(a.bytes)
            Codecs.audioFeature(samples, dim)
          case _ =>
            val first = Codecs.splitPpmFrames(a.bytes).next()
            val (w, h, px) = Codecs.decodePpm(first)
            Codecs.imageFeature(w, h, px, side).padTo(dim, 0.0f)
        }
        MediaFeature(a.asset_id, f)
      }
    }
  }

  /** Nearest-neighbor thumbnails for visual assets (binary → binary
    * transform; video uses its first frame). */
  def thumbnails(assets: Dataset[MediaAsset], side: Int = 4): Dataset[Thumbnail] =
    assets.filter(a => a.kind == "image" || a.kind == "video").mapPartitions { it =>
      it.map { a =>
        val enc = if (a.kind == "image") a.bytes else Codecs.splitPpmFrames(a.bytes).next()
        val (w, h, px) = Codecs.decodePpm(enc)
        Thumbnail(a.asset_id, side, side,
          Codecs.encodePpm(side, side, Codecs.resizeNearest(w, h, px, side, side)))
      }
    }

  /** Frame sampling: 1 video asset → every `step`-th frame (generator
    * shape), frames parsed from the concatenated-PPM stream. */
  def sampleFrames(assets: Dataset[MediaAsset], step: Int = 1): Dataset[Frame] = {
    require(step > 0, s"step must be positive, got $step")
    assets.filter(_.kind == "video").flatMap { a =>
      Codecs.splitPpmFrames(a.bytes).zipWithIndex.collect {
        case (b, i) if i % step == 0 => Frame(a.asset_id, i, b)
      }
    }
  }

  /** Perceptual hashes of every visual surface in the corpus: images
    * (frame_idx 0) and each decoded video frame. Real decode + aHash,
    * per-partition loop; key = asset_id·100 + frame_idx packs the pair
    * into the single long id [[graft.operators.Dedup.hammingBlockedPairs]]
    * blocks on (frame counts are single digits; at production scale make
    * the key a proper struct or widen the factor). */
  // The decoded-signature table is the multimodal family's derived
  // index: pair detection (q108) and clustering (q109) both consume it,
  // and the PPM decode + aHash pass dominates either query's cost —
  // same materialize-once discipline as the text shingle index.
  //
  // KEYED ON (session, data dir), NOT the canonicalized asset plan
  // (r18): syntheticAssets is a typed pipeline, and the lambda INSTANCE
  // inside its MapElements node differs per invocation, so two
  // plan-keyed lookups for the same corpus never compared equal — the
  // bench's new cache-stats line caught it red-handed (frameHashCache:
  // 0 hits, 12 misses, 6 evictions across a full run), meaning q34/
  // q108/q109/q110 re-ran the whole decode+aHash pass EVERY invocation
  // since the cache was introduced. The (session, dir) pair is exactly
  // the determinism domain of syntheticAssets, the same keying
  // MetaDerive.fileCache already uses.
  private val frameHashCache =
    new graft.util.PlanCache[(SparkSession, String), DataFrame](
      maxEntries = 4, onEvict = _.unpersist(), name = "frameHashCache")

  def frameHashes(spark: SparkSession, d: String): DataFrame =
    frameHashCache.getOrElseUpdate((spark, d))(
      frameHashesUncached(syntheticAssets(spark, d)).cache())

  private def frameHashesUncached(assets: Dataset[MediaAsset]): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.filter(a => a.kind == "image" || a.kind == "video")
      .flatMap { a =>
        if (a.kind == "image") {
          val (w, h, px) = Codecs.decodePpm(a.bytes)
          Iterator((a.asset_id * 100L, Codecs.aHash(w, h, px)))
        } else Codecs.splitPpmFrames(a.bytes).zipWithIndex.map { case (b, i) =>
          val (w, h, px) = Codecs.decodePpm(b)
          (a.asset_id * 100L + i, Codecs.aHash(w, h, px))
        }
      }
      .toDF("frame_key", "ahash")
  }

  /** Visual near-dup pairs across ALL images and video frames: aHash
    * signatures within `maxHamming` bits, found by the same lossless
    * 8-bit-chunk pigeonhole blocking as text SimHash — no all-pairs
    * scan of the frame table. Consecutive frames of one video differ by
    * a uniform brightness shift, which aHash's mean-relative threshold
    * absorbs, so intra-video near-dups (and cross-asset repeats of the
    * same visual) surface at small distances. Hash is deterministic
    * pixel math but no SQL engine can decode PPM — rows-only query,
    * brute-force parity in the spec. */
  def frameNearDup(spark: SparkSession, d: String, maxHamming: Int = 7): DataFrame = {
    import org.apache.spark.sql.functions.col
    // Identical-signature collapse (hammingNearDupPairs): repeated
    // visuals are the COMMON case in a frame corpus (consecutive video
    // frames, reposted images), and the block join must never see the
    // duplication — the scale probe measured 7x fewer generated
    // candidates at 10x. Output is unchanged (dist-0 pairs re-expand).
    graft.operators.Dedup.hammingNearDupPairs(
        frameHashes(spark, d), "frame_key", "ahash", maxHamming)
      .select(
        (col("id_a") / 100L).cast("long").as("asset_a"),
        (col("id_a") % 100L).cast("int").as("frame_a"),
        (col("id_b") / 100L).cast("long").as("asset_b"),
        (col("id_b") % 100L).cast("int").as("frame_b"),
        col("dist"))
      .orderBy("asset_a", "frame_a", "asset_b", "frame_b")
  }

  /** Visual dup CLUSTERS — the scale-correct output shape. The pair
    * list ([[frameNearDup]]) is inherently quadratic inside any group
    * of identical signatures (n identical frames → n(n−1)/2 rows), so
    * the production path groups identical hashes FIRST (one groupBy —
    * exact visual dups collapse to a signature row), runs the hamming
    * block-join over DISTINCT signatures only, and labels whole
    * signature groups with connected components. Output per cluster:
    * keeper (min frame key), total frames, distinct signatures. */
  def visualDupClusters(spark: SparkSession, d: String,
      maxHamming: Int = 7): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val hashes = frameHashes(spark, d)
    val sigs = hashes.groupBy($"ahash")
      .agg(count(lit(1)).as("n_frames"), min($"frame_key").as("rep"))
      .cache()
    val sigEdges = graft.operators.Dedup.hammingBlockedPairs(
      sigs.select($"ahash".as("id"), $"ahash".as("sig")), "id", "sig", maxHamming)
    val labels = graft.operators.Dedup.connectedComponents(sigEdges)
      .withColumnRenamed("id", "ahash")
    sigs.join(labels, Seq("ahash"), "left")
      .select($"ahash", $"n_frames", $"rep",
        coalesce($"label", $"ahash").as("label"))
      .groupBy($"label")
      .agg(sum($"n_frames").as("n_frames"),
        count(lit(1)).as("n_signatures"),
        min($"rep").as("keeper"))
      .select($"keeper", $"n_frames", $"n_signatures")
      .orderBy($"keeper")
  }

  /** Audio near-dup groups by content fingerprint: decode every WAV,
    * estimate the dominant frequency from zero crossings, quantize to
    * `bucketHz` bins, and group — same tone at a different length or
    * gain lands in the same bucket (the zero-crossing estimate is
    * amplitude- and duration-invariant). Buckets with one member are
    * dropped: the output is the dup-REVIEW list. Scan-side decode +
    * one low-cardinality groupBy; at 100 TB the decode dominates and
    * parallelizes per file. Quantization boundaries sit on exact
    * integer-division results, so grouping is deterministic. */
  // Audio fingerprints share the frameHashCache discipline (r18): the
  // WAV decode + zero-crossing pass is the query's dominant cost and is
  // deterministic in (session, dir, bucketHz) — before this the decode
  // re-ran on every invocation.
  private val audioBucketCache =
    new graft.util.PlanCache[(SparkSession, String, Int), DataFrame](
      maxEntries = 4, onEvict = _.unpersist(), name = "audioBucketCache")

  private def audioBuckets(spark: SparkSession, d: String,
      bucketHz: Int): DataFrame =
    audioBucketCache.getOrElseUpdate((spark, d, bucketHz)) {
      import spark.implicits._
      syntheticAssets(spark, d).filter(_.kind == "audio")
        .map { a =>
          val (sr, _, samples) = Codecs.decodeWav(a.bytes)
          val f = Codecs.dominantFreq(sr, samples)
          (a.asset_id, (math.round(f / bucketHz) * bucketHz).toInt)
        }
        .toDF("asset_id", "f_bucket")
        .cache()
    }

  def audioDupGroups(spark: SparkSession, d: String,
      bucketHz: Int = 25): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    audioBuckets(spark, d, bucketHz)
      .groupBy($"f_bucket")
      .agg(count(lit(1)).as("n_assets"),
        min($"asset_id").as("first_asset"), max($"asset_id").as("last_asset"))
      .where($"n_assets" >= 2)
      .orderBy($"f_bucket")
  }

  /** Whole-pipeline summary per kind — the query a pipeline dashboard
    * would run. Every column is an exact integer over the DECODED
    * metadata (count / byte totals / width totals / frame totals), so
    * the result is oracle-checkable: the asset construction is
    * deterministic in doc_id, and the encoded byte lengths follow the
    * container math (P6 header + 3wh; 44-byte RIFF header + 2n), which
    * DuckDB can recompute from the documents table without decoding a
    * single payload ([[q34Sql]]). The engine side still runs the REAL
    * decoders — the oracle checks that the decode round-trip lands
    * exactly on the container math. */
  def pipelineSummary(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val assets = syntheticAssets(spark, d)
    val decoded = decode(assets)
    decoded.toDF()
      .groupBy($"kind")
      .agg(count(lit(1)).as("n_assets"), sum($"n_bytes").as("total_bytes"),
        sum($"width").as("total_width"),
        max($"sample_rate").as("max_sample_rate"),
        sum($"n_frames").as("total_frames"))
      .orderBy($"kind")
  }

  /** DuckDB oracle for [[pipelineSummary]]: replays the deterministic
    * asset-construction arithmetic (kind by doc_id mod 3; image/video
    * dimensions and audio sample counts from doc_id; P6 header length
    * `3 + len(w) + 1 + len(h) + 5` and 44-byte WAV header) and the
    * decoder's metadata mapping, without touching any bytes. */
  val q34Sql: String =
    """WITH a AS (
      |  SELECT doc_id, doc_id % 3 AS m,
      |         8 + doc_id % 9 AS iw, 8 + doc_id % 7 AS ih,
      |         400 + doc_id % 400 AS n_samp,
      |         8 + doc_id % 5 AS vw, 8 + doc_id % 3 AS vh,
      |         3 + doc_id % 4 AS nf
      |  FROM documents
      |), decoded AS (
      |  SELECT 'image' AS kind,
      |         3 + length(CAST(iw AS VARCHAR)) + 1 + length(CAST(ih AS VARCHAR)) + 5
      |           + iw * ih * 3 AS n_bytes,
      |         iw AS width, 0 AS sample_rate, 1 AS n_frames
      |  FROM a WHERE m = 0
      |  UNION ALL
      |  SELECT 'audio', 44 + 2 * n_samp, n_samp, 8000, 0 FROM a WHERE m = 1
      |  UNION ALL
      |  SELECT 'video',
      |         nf * (3 + length(CAST(vw AS VARCHAR)) + 1 + length(CAST(vh AS VARCHAR)) + 5
      |           + vw * vh * 3),
      |         vw, 0, nf
      |  FROM a WHERE m = 2
      |)
      |SELECT kind, count(*) AS n_assets,
      |       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
      |       CAST(sum(width) AS BIGINT) AS total_width,
      |       CAST(max(sample_rate) AS INTEGER) AS max_sample_rate,
      |       CAST(sum(n_frames) AS BIGINT) AS total_frames
      |FROM decoded GROUP BY kind ORDER BY kind""".stripMargin

  /** Full oracle for [[frameNearDup]]: the aHash kernel is pure integer
    * math over bytes that are themselves integer-derived from the
    * document text ((t(i mod len) + 31·i + salt) mod 256 — signedness
    * washes out mod 256), so DuckDB can recompute every frame's 64
    * luma bits from `hex(encode(text))` and take pair hamming distance
    * as the count of disagreeing bits — no 64-bit signature value is
    * ever constructed, sidestepping BIGINT sign pitfalls. The engine
    * side still runs the REAL decoder + pigeonhole-blocked join; the
    * oracle brute-forces all pairs (fine at oracle scale, and the
    * chunk blocking is lossless for dist ≤ 7 so the sets coincide). */
  val q108Sql: String =
    """WITH frames AS (
      |  SELECT doc_id*100 AS frame_key,
      |         8 + (doc_id % 9) AS w, 8 + (doc_id % 7) AS h, 0 AS salt,
      |         hex(encode(text)) AS hx, octet_length(encode(text)) AS len
      |  FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id*100 + j, 8 + (doc_id % 5), 8 + (doc_id % 3), CAST(j AS INT),
      |         hex(encode(text)), octet_length(encode(text))
      |  FROM documents CROSS JOIN generate_series(0, 6) AS t(j)
      |  WHERE doc_id % 3 = 2 AND j < 3 + (doc_id % 4)
      |), pts AS (
      |  -- the 64 nearest-neighbour sample points of the 8x8 downscale
      |  SELECT frame_key, len, hx, salt, (y*8 + x) AS bit,
      |         ((y*h)//8 * w + (x*w)//8) * 3 AS si
      |  FROM frames CROSS JOIN generate_series(0,7) AS gy(y)
      |              CROSS JOIN generate_series(0,7) AS gx(x)
      |), luma AS (
      |  SELECT frame_key, bit,
      |    (299 * ((('0x' || substr(hx, 2*((si+0) % len)+1, 2))::INT + (si+0)*31 + salt) % 256)
      |     + 587 * ((('0x' || substr(hx, 2*((si+1) % len)+1, 2))::INT + (si+1)*31 + salt) % 256)
      |     + 114 * ((('0x' || substr(hx, 2*((si+2) % len)+1, 2))::INT + (si+2)*31 + salt) % 256)) // 1000 AS l
      |  FROM pts
      |), bits AS (
      |  SELECT frame_key, bit,
      |         CASE WHEN l > SUM(l) OVER (PARTITION BY frame_key) // 64 THEN 1 ELSE 0 END AS b
      |  FROM luma
      |), dists AS (
      |  SELECT a.frame_key AS ka, b.frame_key AS kb,
      |         SUM(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) AS dist
      |  FROM bits a JOIN bits b ON a.bit = b.bit AND a.frame_key < b.frame_key
      |  GROUP BY 1, 2 HAVING dist <= 7
      |)
      |SELECT ka // 100 AS asset_a, CAST(ka % 100 AS INT) AS frame_a,
      |       kb // 100 AS asset_b, CAST(kb % 100 AS INT) AS frame_b,
      |       CAST(dist AS INT) AS dist
      |FROM dists ORDER BY asset_a, frame_a, asset_b, frame_b""".stripMargin

  /** Full oracle for [[visualDupClusters]]: same recomputed aHash bits
    * as [[q108Sql]], identical signatures collapsed via the 64-char
    * bit-string (sidesteps signed-BIGINT construction), near-dup edges
    * between DISTINCT signatures by disagreeing-bit count, and the
    * connected components the engine derives iteratively expressed as
    * a recursive-CTE transitive closure + min-label — exact because the
    * edge sets coincide (chunk blocking is lossless at dist ≤ 7) and
    * the output partition is label-invariant. The closure is only
    * feasible because it runs over distinct signatures (hundreds), not
    * frames — the same reason the engine's CC loop scales. */
  val q109Sql: String =
    """WITH RECURSIVE frames AS (
      |  SELECT doc_id*100 AS frame_key,
      |         8 + (doc_id % 9) AS w, 8 + (doc_id % 7) AS h, 0 AS salt,
      |         hex(encode(text)) AS hx, octet_length(encode(text)) AS len
      |  FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id*100 + j, 8 + (doc_id % 5), 8 + (doc_id % 3), CAST(j AS INT),
      |         hex(encode(text)), octet_length(encode(text))
      |  FROM documents CROSS JOIN generate_series(0, 6) AS t(j)
      |  WHERE doc_id % 3 = 2 AND j < 3 + (doc_id % 4)
      |), pts AS (
      |  SELECT frame_key, len, hx, salt, (y*8 + x) AS bit,
      |         ((y*h)//8 * w + (x*w)//8) * 3 AS si
      |  FROM frames CROSS JOIN generate_series(0,7) AS gy(y)
      |              CROSS JOIN generate_series(0,7) AS gx(x)
      |), luma AS (
      |  SELECT frame_key, bit,
      |    (299 * ((('0x' || substr(hx, 2*((si+0) % len)+1, 2))::INT + (si+0)*31 + salt) % 256)
      |     + 587 * ((('0x' || substr(hx, 2*((si+1) % len)+1, 2))::INT + (si+1)*31 + salt) % 256)
      |     + 114 * ((('0x' || substr(hx, 2*((si+2) % len)+1, 2))::INT + (si+2)*31 + salt) % 256)) // 1000 AS l
      |  FROM pts
      |), bits AS (
      |  SELECT frame_key, bit,
      |         CASE WHEN l > SUM(l) OVER (PARTITION BY frame_key) // 64 THEN 1 ELSE 0 END AS b
      |  FROM luma
      |), sigstr AS (
      |  SELECT frame_key, string_agg(CAST(b AS VARCHAR), '' ORDER BY bit) AS sig
      |  FROM bits GROUP BY frame_key
      |), sigs AS (
      |  SELECT sig, count(*) AS n_frames, min(frame_key) AS rep
      |  FROM sigstr GROUP BY sig
      |), edges AS (
      |  SELECT a.rep AS ra, b.rep AS rb
      |  FROM sigs a JOIN sigs b ON a.rep < b.rep
      |  WHERE (SELECT count(*) FROM generate_series(1,64) g(i)
      |         WHERE substr(a.sig, CAST(i AS INT), 1) <> substr(b.sig, CAST(i AS INT), 1)) <= 7
      |), edges2 AS (
      |  SELECT ra, rb FROM edges UNION ALL SELECT rb AS ra, ra AS rb FROM edges
      |), reach(src, node) AS (
      |  SELECT rep, rep FROM sigs
      |  UNION
      |  SELECT r.src, e.rb FROM reach r JOIN edges2 e ON r.node = e.ra
      |), comp AS (
      |  SELECT src AS rep, min(node) AS label FROM reach GROUP BY src
      |)
      |SELECT min(s.rep) AS keeper, CAST(sum(s.n_frames) AS BIGINT) AS n_frames,
      |       count(*) AS n_signatures
      |FROM sigs s JOIN comp c ON s.rep = c.rep
      |GROUP BY c.label ORDER BY keeper""".stripMargin

  /** Full oracle for [[audioDupGroups]]: the WAV payload is a synthesized
    * integer triangle wave whose parameters derive from doc_id, and the
    * zero-crossing fingerprint is a sign-change count over the exact
    * integer samples — recomputable per sample in SQL with pure integer
    * arithmetic (the engine decodes the REAL PCM16 bytes; the oracle
    * resynthesizes them; no transcendental on either side, so there is
    * no cross-libm ulp hazard). Sample count is bounded by 799, so the
    * oracle materializes ≤ 800 rows per asset. */
  val q110Sql: String =
    """WITH audio AS (
      |  SELECT doc_id AS id,
      |         400 + (doc_id % 400) AS n,
      |         200 + (doc_id % 200) AS f
      |  FROM documents WHERE doc_id % 3 = 1
      |), samp AS (
      |  SELECT id, n, i,
      |         CASE WHEN (i*f) % 8000 < 4000
      |              THEN (((i*f) % 8000) * 6000) // 4000 - 3000
      |              ELSE 3000 - (((((i*f) % 8000) - 4000) * 6000) // 4000)
      |         END AS s
      |  FROM audio CROSS JOIN generate_series(0, 798) AS t(i)
      |  WHERE i < n
      |), lagged AS (
      |  SELECT id, n, s, lag(s) OVER (PARTITION BY id ORDER BY i) AS prev FROM samp
      |), zc AS (
      |  SELECT id, n, SUM(CASE WHEN (prev < 0) <> (s < 0) THEN 1 ELSE 0 END) AS z
      |  FROM lagged WHERE prev IS NOT NULL GROUP BY id, n
      |), bucket AS (
      |  SELECT id, CAST(floor(z * 8000.0 / (2.0*(n-1)) / 25 + 0.5) AS INT) * 25 AS f_bucket FROM zc
      |)
      |SELECT f_bucket, count(*) AS n_assets, min(id) AS first_asset, max(id) AS last_asset
      |FROM bucket GROUP BY 1 HAVING count(*) >= 2 ORDER BY f_bucket""".stripMargin
}
