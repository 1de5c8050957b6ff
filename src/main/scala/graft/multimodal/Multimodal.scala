package graft.multimodal

import graft.ops.Lineage
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) columns for training-data pipelines.
  *
  * Design: media is an opaque `binary` column plus a typed metadata
  * struct; decode/feature-extract/resize/frame-sample run as batched
  * partition transforms (`mapPartitions` over grouped batches — the
  * Scala analog of `mapInPandas`: one vectorized call per batch, not
  * per row). The Spark-side plumbing — schema, partitioning, batch
  * shape, null/error handling — is real and tested; the pixel/sample
  * codecs themselves are STUBBED behind [[MediaCodec]] with
  * deterministic fakes, because no image/audio libraries exist in this
  * environment. Swapping in a real codec is a one-object change.
  *
  * Scale notes: decode is map-only (no shuffle); `repartitionForDecode`
  * spreads skewed media sizes before the expensive stage; batches bound
  * peak memory to batchSize × media size.
  */
object Multimodal {

  val Image = "image"
  val Audio = "audio"
  val Video = "video"

  /** Typed metadata carried alongside the opaque bytes. */
  val metadataSchema: StructType = StructType(Seq(
    StructField("kind", StringType),          // image | audio | video
    StructField("format", StringType),        // e.g. png / wav / mp4
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("duration_ms", LongType),
    StructField("n_frames", IntegerType),
    StructField("error", StringType)))        // Result convention

  def mediaSchema(idType: DataType = LongType): StructType = StructType(Seq(
    StructField("id", idType),
    StructField("media", BinaryType),
    StructField("meta", metadataSchema)))

  /** The codec seam. Every function is TOTAL: errors surface in
    * `meta.error`, never as exceptions (Result convention — a poison
    * blob must not kill a 100 TB decode stage).
    */
  trait MediaCodec extends Serializable {
    def probe(kind: String, bytes: Array[Byte]): Row           // → metadataSchema row
    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte]
    def sampleFrames(bytes: Array[Byte], everyN: Int): Seq[Array[Byte]]
    def features(bytes: Array[Byte], dim: Int): Array[Float]

    /** Batch-level entry points — ONE call per `batchSize` chunk, so a
      * real vectorized/JNI codec amortizes per-call setup (model load,
      * pinned buffers) across the whole chunk. Defaults delegate per
      * row; a real codec overrides these.
      */
    def probeAll(kind: String, batch: Seq[Array[Byte]]): Seq[Row] =
      batch.map(probe(kind, _))
    def featuresAll(batch: Seq[Array[Byte]], dim: Int): Seq[Array[Float]] =
      batch.map(b => if (b == null) Array.empty[Float] else features(b, dim))
    def resizeAll(batch: Seq[Array[Byte]], w: Int, h: Int): Seq[Array[Byte]] =
      batch.map(b => if (b == null) null else resize(b, w, h))
  }

  /** STUB codec — deterministic fakes driven by the md5-derived
    * oracle-parity hash family ([[graft.functions.HashFns]]): every
    * fake dimension/duration/feature is pure arithmetic over
    * `hash61(bytes)`, so the DuckDB correctness oracle can compute the
    * identical values (q35/q36). Real deployments replace this with an
    * object wrapping e.g. a JNI image library; everything else in this
    * file stays unchanged.
    */
  object StubCodec extends MediaCodec {
    import graft.functions.HashFns

    private def h(bytes: Array[Byte]): Long = HashFns.hash61Bytes(bytes)

    override def probe(kind: String, bytes: Array[Byte]): Row = {
      if (bytes == null || bytes.length < 4)
        return Row(kind, null, null, null, null, null, null, "truncated media payload")
      val seed = h(bytes)
      kind match {
        case Image => Row(kind, "png", (seed % 1920 + 64).toInt, (seed % 1080 + 64).toInt,
          null, null, 1, null)
        case Audio => Row(kind, "wav", null, null, 16000, (seed % 60000 + 1000), null, null)
        case Video => Row(kind, "mp4", (seed % 1920 + 64).toInt, (seed % 1080 + 64).toInt,
          null, (seed % 600000 + 1000), (seed % 7200 + 24).toInt, null)
        case other => Row(other, null, null, null, null, null, null, s"unknown kind '$other'")
      }
    }
    override def resize(bytes: Array[Byte], w: Int, h0: Int): Array[Byte] =
      bytes.take(math.max(4, math.min(bytes.length, w * h0 / 64)))
    override def sampleFrames(bytes: Array[Byte], everyN: Int): Seq[Array[Byte]] =
      bytes.grouped(math.max(1, bytes.length / math.max(1, everyN))).take(everyN).toSeq

    /** Feature j = (hash_j(x) mod 1024) / 1024 — a dyadic rational with
      * ≤10 significant bits, exactly representable in BOTH float32 and
      * float64, so Spark's float pipeline and DuckDB's double oracle
      * compute bit-identical cosines. dim ≤ 64 (the seeded family size).
      */
    override def features(bytes: Array[Byte], dim: Int): Array[Float] = {
      require(dim <= 64, s"StubCodec supports dim <= 64, got $dim")
      val x = h(bytes)
      Array.tabulate(dim)(j => (HashFns.hashAtLong(x, j) % 1024L).toFloat / 1024.0f)
    }
  }

  /** REAL header-parsing codec: image dimensions and WAV
    * sample-rate/duration come from actual container-layout parsing
    * ([[MediaHeaders]] — PNG/GIF/BMP/JPEG/RIFF byte offsets, pure
    * JVM), so the probe stage is no longer stubbed for those paths.
    * Pixel decode (resize / frame sampling / feature extraction)
    * still delegates to [[StubCodec]]: those genuinely need an image
    * library this environment lacks, and the seam is the point.
    */
  object HeaderCodec extends MediaCodec {
    override def probe(kind: String, bytes: Array[Byte]): Row = kind match {
      case Image =>
        val d = MediaHeaders.parseImage(bytes)
        if (d == null)
          Row(kind, null, null, null, null, null, null, "unrecognized image header")
        else Row(kind, d.format, d.width, d.height, null, null, 1, null)
      case Audio =>
        val w = MediaHeaders.parseWav(bytes)
        if (w == null)
          Row(kind, null, null, null, null, null, null, "unrecognized audio header")
        else Row(kind, "wav", null, null, w.sampleRate, w.durationMs, null, null)
      case _ => StubCodec.probe(kind, bytes)
    }
    override def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] =
      StubCodec.resize(bytes, w, h)
    override def sampleFrames(bytes: Array[Byte], everyN: Int): Seq[Array[Byte]] =
      StubCodec.sampleFrames(bytes, everyN)
    override def features(bytes: Array[Byte], dim: Int): Array[Float] =
      StubCodec.features(bytes, dim)
  }

  /** Real-pixel codec: header probing from [[HeaderCodec]] plus REAL
    * pixel work from [[PngCodec]] (pure-JDK zlib — decode to RGBA,
    * nearest-neighbor resize, re-encode) and [[JpegCodec]] (baseline
    * Huffman + fixed-point IDCT; resize re-encodes losslessly as
    * PNG). Bytes outside both decodable subsets fall back to the stub
    * paths, keeping every function total.
    *
    * Features are REAL for decodable PNGs and JPEGs: the g×g grid
    * color-layout descriptor ([[PngCodec.gridFeatures]] /
    * [[JpegCodec.gridFeatures]]) with g sized so 3·g² ≥ dim, each
    * cell mean scaled to [0, 1) by /256 (dyadic rationals — exactly
    * representable in float32, the same oracle-parity discipline as
    * the stub's hash features), truncated to `dim`. A neural
    * embedding model remains out of scope; a color-layout vector is
    * what classical CBIR systems actually indexed, and it comes from
    * actual pixels. Undecodable bytes keep the stub features.
    */
  object PixelCodec extends MediaCodec {
    override def probe(kind: String, bytes: Array[Byte]): Row =
      HeaderCodec.probe(kind, bytes)
    override def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val png = PngCodec.resize(bytes, w, h)
      if (png != null) return png
      val jpg = JpegCodec.resizeToPng(bytes, w, h)
      if (jpg != null) jpg else StubCodec.resize(bytes, w, h)
    }
    override def sampleFrames(bytes: Array[Byte], everyN: Int): Seq[Array[Byte]] =
      StubCodec.sampleFrames(bytes, everyN)
    override def features(bytes: Array[Byte], dim: Int): Array[Float] = {
      require(dim >= 1, s"dim=$dim must be >= 1")
      val g = math.ceil(math.sqrt(dim / 3.0)).toInt.max(1)
      val grid = {
        val png = PngCodec.gridFeatures(bytes, g)
        if (png != null) png else JpegCodec.gridFeatures(bytes, g)
      }
      if (grid == null) StubCodec.features(bytes, dim)
      else Array.tabulate(dim)(i =>
        if (i < grid.length) grid(i).toFloat / 256.0f else 0.0f)
    }
  }

  /** Spread media rows before an expensive decode stage: binary sizes
    * are skewed, and a decode stage inherits upstream partitioning —
    * round-robin repartition rebalances without a key shuffle's hotspots.
    */
  def repartitionForDecode(df: DataFrame, partitions: Int): DataFrame =
    df.repartition(partitions)

  /** Probe/decode stage: batched partition transform producing the
    * typed metadata struct. Batch shape: `batchSize` rows per codec
    * call, bounding memory while amortizing codec setup.
    */
  def probeMetadata(df: DataFrame, idCol: String, mediaCol: String, kind: String,
                    codec: MediaCodec = StubCodec, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", df.schema(idCol).dataType),
      StructField("media", BinaryType),
      StructField("meta", metadataSchema)))
    val enc = RowEncoder.encoderFor(outSchema)
    df.select(col(idCol).as("id"), col(mediaCol).as("media"))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          val blobs = batch.map(_.getAs[Array[Byte]]("media"))
          val metas = codec.probeAll(kind, blobs)          // ONE codec call per chunk
          batch.lazyZip(blobs).lazyZip(metas).map { (r, bytes, meta) =>
            Row(r.get(0), bytes, meta)
          }
        }
      }(enc)
  }

  /** Feature-extraction stage: media → embedding column (`array<float>`),
    * ready for graft.sim.Similarity ANN.
    */
  def extractFeatures(df: DataFrame, idCol: String, mediaCol: String, dim: Int,
                      codec: MediaCodec = StubCodec, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", df.schema(idCol).dataType),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    val enc = RowEncoder.encoderFor(outSchema)
    df.select(col(idCol).as("id"), col(mediaCol).as("media"))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          val blobs = batch.map(_.getAs[Array[Byte]]("media"))
          val feats = codec.featuresAll(blobs, dim)        // ONE codec call per chunk
          batch.lazyZip(feats).map((r, f) => Row(r.get(0), f.toSeq))
        }
      }(enc)
  }

  /** REAL pixel statistics over a PNG binary column — the first decode
    * stage whose numbers come from actual pixels (PngCodec's pure-JDK
    * zlib + unfilter + color-type expansion), not the stub hash:
    * (id, width, height, mean_r_x100, mean_g_x100, mean_b_x100,
    * mean_a_x100, error). Total per the Result convention — blobs that
    * are not decodable 8-bit non-interlaced PNG yield null stats and an
    * error string. Integer ×100 means keep the surface oracle-hashable.
    *
    * Scale shape: batched map-only partition transform (same plumbing
    * as [[probeMetadata]]); per-blob cost is O(pixels), peak memory
    * batchSize × decoded size. No shuffle.
    */
  def pngPixelStats(df: DataFrame, idCol: String, mediaCol: String,
                    batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", df.schema(idCol).dataType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("mean_r_x100", LongType),
      StructField("mean_g_x100", LongType),
      StructField("mean_b_x100", LongType),
      StructField("mean_a_x100", LongType),
      StructField("error", StringType)))
    val enc = RowEncoder.encoderFor(outSchema)
    df.select(col(idCol).as("id"), col(mediaCol).as("media"))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.map { r =>
            val img = PngCodec.decode(r.getAs[Array[Byte]]("media"))
            if (img == null)
              Row(r.get(0), null, null, null, null, null, null,
                "not a decodable 8-bit non-interlaced PNG")
            else {
              val (mr, mg, mb, ma) = PngCodec.channelMeansX100(img)
              Row(r.get(0), img.width, img.height, mr, mg, mb, ma, null)
            }
          }
        }
      }(enc)
  }

  /** REAL pixel-statistics stage for BMP media — [[pngPixelStats]]'s
    * contract over [[BmpCodec]]'s stride/BGR/bottom-up decode path:
    * same output schema, same batched map-only shape, no shuffle.
    */
  def bmpPixelStats(df: DataFrame, idCol: String, mediaCol: String,
                    batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", df.schema(idCol).dataType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("mean_r_x100", LongType),
      StructField("mean_g_x100", LongType),
      StructField("mean_b_x100", LongType),
      StructField("mean_a_x100", LongType),
      StructField("error", StringType)))
    val enc = RowEncoder.encoderFor(outSchema)
    df.select(col(idCol).as("id"), col(mediaCol).as("media"))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.map { r =>
            val img = BmpCodec.decode(r.getAs[Array[Byte]]("media"))
            if (img == null)
              Row(r.get(0), null, null, null, null, null, null,
                "not a decodable uncompressed 24/32-bit BMP")
            else {
              val (mr, mg, mb, ma) = BmpCodec.channelMeansX100(img)
              Row(r.get(0), img.width, img.height, mr, mg, mb, ma, null)
            }
          }
        }
      }(enc)
  }

  /** REAL pixel-statistics stage for GIF media — [[pngPixelStats]]'s
    * contract over [[GifCodec]]'s LZW decode + palette mapping: same
    * output schema, same batched map-only shape, no shuffle.
    */
  def gifPixelStats(df: DataFrame, idCol: String, mediaCol: String,
                    batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", df.schema(idCol).dataType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("mean_r_x100", LongType),
      StructField("mean_g_x100", LongType),
      StructField("mean_b_x100", LongType),
      StructField("mean_a_x100", LongType),
      StructField("error", StringType)))
    val enc = RowEncoder.encoderFor(outSchema)
    df.select(col(idCol).as("id"), col(mediaCol).as("media"))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.map { r =>
            val img = GifCodec.decode(r.getAs[Array[Byte]]("media"))
            if (img == null)
              Row(r.get(0), null, null, null, null, null, null,
                "not a decodable non-interlaced GIF")
            else {
              val (mr, mg, mb, ma) = GifCodec.channelMeansX100(img)
              Row(r.get(0), img.width, img.height, mr, mg, mb, ma, null)
            }
          }
        }
      }(enc)
  }

  /** REAL pixel-statistics stage for baseline JPEG media —
    * [[pngPixelStats]]'s contract over [[JpegCodec]]'s Huffman +
    * fixed-point-IDCT + YCbCr decode path: same output schema, same
    * batched map-only shape, no shuffle. Closes the last stubbed
    * decode family (rounds ≤12 decoded JPEG headers only).
    */
  def jpegPixelStats(df: DataFrame, idCol: String, mediaCol: String,
                     batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", df.schema(idCol).dataType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("mean_r_x100", LongType),
      StructField("mean_g_x100", LongType),
      StructField("mean_b_x100", LongType),
      StructField("mean_a_x100", LongType),
      StructField("error", StringType)))
    val enc = RowEncoder.encoderFor(outSchema)
    df.select(col(idCol).as("id"), col(mediaCol).as("media"))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.map { r =>
            val img = JpegCodec.decode(r.getAs[Array[Byte]]("media"))
            if (img == null)
              Row(r.get(0), null, null, null, null, null, null,
                "not a decodable baseline JPEG")
            else {
              val (mr, mg, mb, ma) = JpegCodec.channelMeansX100(img)
              Row(r.get(0), img.width, img.height, mr, mg, mb, ma, null)
            }
          }
        }
      }(enc)
  }

  /** Perceptual-hash stage over decoded PNG pixels: per blob, the
    * [[PixelHash.dHash]] 32-bit halves — the image analog of the
    * SimHash text fingerprint, over REAL pixels. Same batched
    * map-only shape; no shuffle.
    */
  def pngDHash(df: DataFrame, idCol: String, mediaCol: String,
               batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", df.schema(idCol).dataType),
      StructField("dhash_lo", LongType),
      StructField("dhash_hi", LongType),
      StructField("error", StringType)))
    val enc = RowEncoder.encoderFor(outSchema)
    df.select(col(idCol).as("id"), col(mediaCol).as("media"))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.map { r =>
            val img = PngCodec.decode(r.getAs[Array[Byte]]("media"))
            if (img == null)
              Row(r.get(0), null, null,
                "not a decodable 8-bit non-interlaced PNG")
            else {
              val (lo, hi) = PixelHash.dHash(img.width, img.height, img.rgba)
              Row(r.get(0), lo, hi, null)
            }
          }
        }
      }(enc)
  }

  /** REAL PCM-sample-statistics stage for WAV media: per blob, the
    * decoded amplitude stats ([[WavCodec.pcmStats]]) — actual audio
    * samples through the RIFF chunk walk, not header metadata. Same
    * batched map-only shape as [[probeMetadata]]; per-blob cost is
    * O(samples); no shuffle.
    */
  def wavPcmStats(df: DataFrame, idCol: String, mediaCol: String,
                  batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", df.schema(idCol).dataType),
      StructField("sample_rate", IntegerType),
      StructField("n_samples", LongType),
      StructField("peak", LongType),
      StructField("sum_abs", LongType),
      StructField("energy_mean", LongType),
      StructField("zero_crossings", LongType),
      StructField("error", StringType)))
    val enc = RowEncoder.encoderFor(outSchema)
    df.select(col(idCol).as("id"), col(mediaCol).as("media"))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.map { r =>
            val wav = WavCodec.decode(r.getAs[Array[Byte]]("media"))
            if (wav == null)
              Row(r.get(0), null, null, null, null, null, null,
                "not a decodable PCM WAV")
            else {
              val (n, peak, sumAbs, energy, crossings) = WavCodec.pcmStats(wav)
              Row(r.get(0), wav.sampleRate, n, peak, sumAbs, energy,
                crossings, null)
            }
          }
        }
      }(enc)
  }

  /** Spectral tone detection over decoded WAV PCM: per blob, the
    * [[Dft]] integer-twiddle 64-point bin energies of the FIRST 64
    * decoded samples, reporting the dominant bin (energy DESC, bin
    * ASC tiebreak), its energy ÷10¹², and its per-mille share of
    * all 16 bins — "which frequency is this" with no float in the
    * loop ([[Dft]]'s shared ×10⁶ twiddle literals; exact BigInt
    * squares). Same batched map-only shape as [[wavPcmStats]]; blobs
    * shorter than 64 samples report the error column, never a padded
    * fake.
    */
  def wavToneDetect(df: DataFrame, idCol: String, mediaCol: String,
                    batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", df.schema(idCol).dataType),
      StructField("detected_bin", LongType),
      StructField("e_top_e12", LongType),
      StructField("dominance_x1000", LongType),
      StructField("error", StringType)))
    val enc = RowEncoder.encoderFor(outSchema)
    df.select(col(idCol).as("id"), col(mediaCol).as("media"))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.map { r =>
            val wav = WavCodec.decode(r.getAs[Array[Byte]]("media"))
            if (wav == null)
              Row(r.get(0), null, null, null, "not a decodable PCM WAV")
            else if (wav.samples.length < Dft.N)
              Row(r.get(0), null, null, null, s"fewer than ${Dft.N} samples")
            else {
              val e = Dft.energies(wav.samples)
              var best = 1
              var tot = BigInt(0)
              var k = 1
              while (k <= Dft.Bins) {
                if (e(k) > e(best)) best = k
                tot += e(k)
                k += 1
              }
              Row(r.get(0), best.toLong,
                (e(best) / BigInt(1000000000000L)).toLong,
                (BigInt(1000) * e(best) / tot.max(BigInt(1))).toLong, null)
            }
          }
        }
      }(enc)
  }

  /** Acoustic-fingerprint stage over decoded WAV PCM: per blob, the
    * [[WavCodec.frameHash]] 32-bit halves — the audio analog of
    * [[pngDHash]], over REAL amplitudes. Batched map-only; no
    * shuffle.
    */
  def wavFrameHash(df: DataFrame, idCol: String, mediaCol: String,
                   frameLen: Int = 64, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", df.schema(idCol).dataType),
      StructField("fp_lo", LongType),
      StructField("fp_hi", LongType),
      StructField("error", StringType)))
    val enc = RowEncoder.encoderFor(outSchema)
    df.select(col(idCol).as("id"), col(mediaCol).as("media"))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.map { r =>
            val wav = WavCodec.decode(r.getAs[Array[Byte]]("media"))
            val fp = if (wav == null) None else WavCodec.frameHash(wav, frameLen)
            fp match {
              case Some((lo, hi)) => Row(r.get(0), lo, hi, null)
              case None => Row(r.get(0), null, null,
                "not a decodable PCM WAV with >= 65 frames")
            }
          }
        }
      }(enc)
  }

  /** REAL pixel-feature stage for PNG media: per blob, the g×g
    * grid of integer per-channel RGB means over the DECODED pixels
    * ([[PngCodec.gridFeatures]] — the color-layout descriptor), as an
    * `array<bigint>` of length 3·g² ready for the similarity
    * operators (cast to float for cosine, or use as-is for exact
    * L1/L2 over integers). Undecodable blobs yield a null vector.
    * Same batched map-only shape as [[probeMetadata]].
    */
  def pngGridFeatures(df: DataFrame, idCol: String, mediaCol: String,
                      grid: Int = 2, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", df.schema(idCol).dataType),
      StructField("features", ArrayType(LongType, containsNull = false))))
    val enc = RowEncoder.encoderFor(outSchema)
    df.select(col(idCol).as("id"), col(mediaCol).as("media"))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.map { r =>
            val f = PngCodec.gridFeatures(r.getAs[Array[Byte]]("media"), grid)
            Row(r.get(0), if (f == null) null else f.toSeq)
          }
        }
      }(enc)
  }

  /** Resize stage (images): media → resized media, metadata preserved. */
  def resize(df: DataFrame, idCol: String, mediaCol: String, w: Int, h: Int,
             codec: MediaCodec = StubCodec, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", df.schema(idCol).dataType),
      StructField("media", BinaryType)))
    val enc = RowEncoder.encoderFor(outSchema)
    df.select(col(idCol).as("id"), col(mediaCol).as("media"))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          val blobs = batch.map(_.getAs[Array[Byte]]("media"))
          val resized = codec.resizeAll(blobs, w, h)       // ONE codec call per chunk
          batch.lazyZip(resized).map((r, b) => Row(r.get(0), b))
        }
      }(enc)
  }

  /** Frame-sampling stage (video): one row per sampled frame —
    * `(id, frame_idx, frame)`. Explodes inside the partition transform,
    * so a long video never materializes all frames in one row.
    */
  def sampleFrames(df: DataFrame, idCol: String, mediaCol: String, everyN: Int,
                   codec: MediaCodec = StubCodec): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", df.schema(idCol).dataType),
      StructField("frame_idx", IntegerType),
      StructField("frame", BinaryType)))
    val enc = RowEncoder.encoderFor(outSchema)
    df.select(col(idCol).as("id"), col(mediaCol).as("media"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val bytes = r.getAs[Array[Byte]]("media")
          if (bytes == null) Iterator.empty
          else codec.sampleFrames(bytes, everyN).iterator.zipWithIndex
            .map { case (frame, i) => Row(r.get(0), i, frame) }
        }
      }(enc)
  }

  /** Near-duplicate MEDIA clusters from 64-bit perceptual hashes
    * (dHash / acoustic fingerprints, packed as two sign-safe 32-bit
    * halves): band the hash into 4× 16-bit keys (any two hashes
    * within `maxHamming` ≤ 15 bits share at least one band by
    * pigeonhole — exact recall at the defaults), bucket-join per
    * band for candidates, verify by exact popcount hamming, cluster
    * by connected components, and report every cluster of ≥ 2 with
    * its min-id canonical — the [[graft.dedup.Dedup]] near-dup
    * pipeline re-expressed for the multimodal fingerprint family.
    *
    * Scale shape: candidates come ONLY from 16-bit band-key
    * equality (4 keyed self-joins' worth of rows in one
    * posexplode+join — never all-pairs); `maxBucket` drops
    * pathological band buckets (the LSH hot-bucket valve — engaged
    * by default at 4096, mirrored in the twin); CC runs on verified
    * pairs only.
    */
  def hashDupClusters(hashed: DataFrame, idCol: String,
                      loCol: String, hiCol: String,
                      maxHamming: Int = 6,
                      maxBucket: Long = 4096L): DataFrame = {
    import org.apache.spark.sql.functions._
    val h = Lineage.cut(hashed.select(col(idCol).cast("long").as("id"),
      col(loCol).as("lo"), col(hiCol).as("hi")))
    val banded = h.select(col("id"), posexplode(array(
        expr("lo & 65535"), expr("(lo >> 16) & 65535"),
        expr("hi & 65535"), expr("(hi >> 16) & 65535")))
      .as(Seq("band", "v")))
    val ok = banded.groupBy("band", "v")
      .agg(count(lit(1)).as("__bc"))
      .where(col("__bc") <= maxBucket)
      .select("band", "v")
    val guarded = banded.join(ok, Seq("band", "v"))
    val cand = guarded.select(col("band"), col("v"), col("id").as("id_a"))
      .join(guarded.select(col("band"), col("v"), col("id").as("id_b")),
        Seq("band", "v"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val pairs = cand
      .join(h.select(col("id").as("id_a"), col("lo").as("la"),
        col("hi").as("ha")), Seq("id_a"))
      .join(h.select(col("id").as("id_b"), col("lo").as("lb"),
        col("hi").as("hb")), Seq("id_b"))
      .where(expr(s"bit_count(la ^ lb) + bit_count(ha ^ hb) " +
        s"<= $maxHamming"))
      .select("id_a", "id_b")
    val (labels, _) = graft.dedup.Dedup.connectedComponents(pairs)
    labels.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
      .where(col("n_members") >= 2)
      .select(col("cluster_id"), col("n_members"))
  }
}
