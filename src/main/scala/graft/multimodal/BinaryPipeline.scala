package graft.multimodal

import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video travel as opaque
  * `binary` columns with a typed metadata struct; every decode / feature
  * op is one per-row body run by [[mapMedia]] — a narrow `mapPartitions`
  * over the projected (id, content) columns, no shuffle, schema known up
  * front.
  *
  * IMAGE decode is REAL: [[PngCodec]] parses PNG (CRC-checked chunks,
  * zlib inflate, the full Sub/Up/Average/Paeth filter set, palette
  * expansion) and [[JpegCodec]] parses baseline JPEG (Huffman → dequant
  * → IDCT → chroma upsample → YCbCr→RGB); [[decodeImages]] /
  * [[decodeJpegs]] / [[extractFeatures]] emit true dimensions and pixel
  * statistics for both. AUDIO decode is REAL too (round 15):
  * [[WavCodec]] parses RIFF/PCM WAV and [[decodeWavSegments]] emits
  * per-window energy/zero-crossing features from actual samples. VIDEO
  * containers decode for real as well (rounds 15-17): [[AviCodec]] /
  * [[Mp4Codec]] / [[GifCodec]] walk the container structure and the
  * MJPEG/GIF frame payloads run through the real image codecs.
  * `decodeStub` survives only as the opaque-bytes fallback in
  * [[extractFeatures]] for media with no recognized container. The
  * deterministic media corpora the decode gates run on live in
  * [[graft.fixtures.MediaFixtures]].
  */
object BinaryPipeline {

  final case class MediaMeta(media_type: String, declared_bytes: Long)

  /** The one media row-mapper every decode/feature op runs: project
    * (id, content) before the imperative pass (mapPartitions
    * deserializes whole rows, and the ops read only these two), then
    * `body` per row under the op's output `schema`. Narrow: no shuffle,
    * the decode cost parallelizes embarrassingly. */
  private[graft] def mapMedia(media: DataFrame, idCol: String, schema: StructType)
                             (body: (Long, Array[Byte]) => Iterator[Row]): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    media.select(col(idCol), col("content")).mapPartitions { it =>
      it.flatMap(r => body(r.getLong(0), r.getAs[Array[Byte]](1)))
    }(enc)
  }

  /** Per-channel sums (slot p % `channels` of four) and the
    * POSITION-WEIGHTED checksum Σ (p+1)·buffer[p] over a decoded
    * interleaved buffer — order-sensitive, so a strip-assembly,
    * interlace or row-flip bug breaks the gate even though plain sums
    * wouldn't. All integers: hash-exact against a SQL replay. */
  private def pixelSums(pixels: Array[Byte], channels: Int): (Array[Long], Long) = {
    val sums = new Array[Long](4)
    var weighted = 0L
    var p = 0
    while (p < pixels.length) {
      val v = pixels(p) & 0xff
      sums(p % channels) += v
      weighted += (p + 1).toLong * v
      p += 1
    }
    (sums, weighted)
  }

  /** A decoded gray/RGB JPEG in the shared decoded-image shape (bit
    * depth 8, gray → colorType 0, RGB → 2). The shape has no CMYK color
    * type — a 4-component file here would masquerade as RGB with 4
    * channels, breaking the (colorType, channels)-agree invariant
    * downstream — so CMYK fails loud, naming `where`. */
  private def jpegImage(j: JpegCodec.JpegImage, where: => String): PngCodec.PngImage = {
    require(j.components <= 3,
      s"$where is ${j.components}-component (CMYK) — decode it via decodeCmykJpegs")
    PngCodec.PngImage(j.width, j.height, 8,
      if (j.components == 1) 0 else 2, j.components, j.pixels)
  }

  /** Attach a metadata struct + content column to raw document rows
    * (binary = UTF-8 bytes here; a real corpus reads binaryFile /
    * parquet-binary). */
  def asMedia(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
              mediaType: String = "application/pdf"): DataFrame =
    docs.select(col(idCol),
      encode(col(textCol), "UTF-8").as("content"),
      struct(lit(mediaType).as("media_type"),
        expr(s"octet_length($textCol)").cast("long").as("declared_bytes")).as("meta"))

  /** STUB decode: deterministic features from bytes (byte length, digest,
    * coarse "dimensions" derived from content — stands in for
    * width/height/duration a real decoder returns). */
  private def decodeStub(content: Array[Byte]): (Long, String, Long, Long) = {
    val w = 64L + (content.length % 1024)
    val h = 64L + (java.lang.Long.remainderUnsigned(SimpleHash.of(content), 1024))
    (content.length.toLong, DigestUtils.md5Hex(content), w, h)
  }

  private object SimpleHash {
    def of(bytes: Array[Byte]): Long = {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
      h
    }
  }

  /** Frame sampling: emit frames of `frameLen` bytes at every `stride`
    * offset (stride > frameLen ⇒ sparse sampling, the video-keyframe
    * shape). One row per frame, narrow pass — no shuffle. */
  def frameSample(media: DataFrame, frameLen: Int = 100, stride: Int = 150,
                  idCol: String = "doc_id"): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("frame_idx", LongType, nullable = false),
      StructField("byte_offset", LongType, nullable = false),
      StructField("frame_md5", StringType, nullable = false)))
    mapMedia(media, idCol, schema) { (id, content) =>
      val nFrames = math.max(1, math.ceil(content.length.toDouble / stride).toInt)
      (0 until nFrames).iterator.map { i =>
        val off = i * stride
        val len = math.min(frameLen, content.length - off)
        Row(id, i.toLong, off.toLong,
          DigestUtils.md5Hex(java.util.Arrays.copyOfRange(content, off, off + len)))
      }
    }
  }

  /** Audio-style segmentation: OVERLAPPING windows of `segLen` bytes
    * every `hop` bytes (hop < segLen ⇒ each byte lands in segLen/hop
    * windows — the STFT/feature-window shape, vs [[frameSample]]'s
    * sparse keyframes) plus a per-segment stub feature (`energy` = sum
    * of unsigned byte values — stands in for RMS loudness; a real codec
    * replaces the loop body only). Same narrow `mapPartitions`
    * contract: no shuffle, schema up front. */
  def segmentAudio(media: DataFrame, segLen: Int = 200, hop: Int = 100,
                   idCol: String = "doc_id"): DataFrame = {
    require(segLen >= 1 && hop >= 1 && hop <= segLen,
      s"segmentAudio: need 1 <= hop <= segLen, got hop=$hop segLen=$segLen")
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("seg_idx", LongType, nullable = false),
      StructField("byte_offset", LongType, nullable = false),
      StructField("seg_len", LongType, nullable = false),
      StructField("energy", LongType, nullable = false),
      StructField("seg_md5", StringType, nullable = false)))
    mapMedia(media, idCol, schema) { (id, content) =>
      val nSegs = math.max(1, math.ceil(content.length.toDouble / hop).toInt)
      (0 until nSegs).iterator.map { i =>
        val off = i * hop
        val len = math.max(0, math.min(segLen, content.length - off))
        var e = 0L; var j = off
        while (j < off + len) { e += content(j) & 0xff; j += 1 }
        Row(id, i.toLong, off.toLong, len.toLong, e,
          DigestUtils.md5Hex(java.util.Arrays.copyOfRange(content, off, off + len)))
      }
    }
  }

  /** Ogg container metadata over (id, content) rows —
    * [[OggCodec.decodeMeta]] per row. */
  def decodeOggMeta(media: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("codec", StringType, nullable = false),
      StructField("sample_rate", LongType, nullable = false),
      StructField("channels", LongType, nullable = false),
      StructField("duration_ms", LongType, nullable = false),
      StructField("page_count", LongType, nullable = false),
      StructField("title", StringType, nullable = false),
      StructField("artist", StringType, nullable = false),
      StructField("album", StringType, nullable = false)))
    mapMedia(media, idCol, schema) { (id, content) =>
      val m = OggCodec.decodeMeta(content)
      Iterator.single(Row(id, m.codec, m.sampleRate.toLong, m.channels.toLong,
        m.durationMs, m.pageCount, m.title.getOrElse(""),
        m.artist.getOrElse(""), m.album.getOrElse("")))
    }
  }

  /** MP3 tag + frame-geometry extraction over (id, content) rows —
    * [[Mp3Codec.decodeMeta]] per row. */
  def decodeMp3Meta(media: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("sample_rate", LongType, nullable = false),
      StructField("channels", LongType, nullable = false),
      StructField("frame_count", LongType, nullable = false),
      StructField("audio_bytes", LongType, nullable = false),
      StructField("duration_ms", LongType, nullable = false),
      StructField("title", StringType, nullable = false),
      StructField("artist", StringType, nullable = false),
      StructField("album", StringType, nullable = false)))
    mapMedia(media, idCol, schema) { (id, content) =>
      val m = Mp3Codec.decodeMeta(content)
      Iterator.single(Row(id, m.sampleRate.toLong, m.channels.toLong, m.frameCount,
        m.audioBytes, m.durationMs, m.title.getOrElse(""),
        m.artist.getOrElse(""), m.album.getOrElse("")))
    }
  }

  /** REAL audio-window features over (id, content) rows: every content
    * blob must be a WAV or a FLAC (format-dispatched on the stream
    * marker, round 18 — the same op takes both, like the format-agnostic
    * image ops; [[WavCodec]]/[[FlacCodec]] fail loud otherwise). Decodes
    * the PCM frames, then cuts OVERLAPPING windows of `winFrames` frames
    * every `hopFrames` (hop < win = the STFT shape [[segmentAudio]]
    * models on bytes) and emits per-window INTEGER features — the sum of
    * squared samples over all channels (the energy the stub's byte sum
    * stood in for) and the zero-crossing count on channel 0 — plus the
    * decoded stream parameters. All integers, so the features are
    * hash-exact against a SQL replay. */
  def decodeWavSegments(media: DataFrame, winFrames: Int = 160, hopFrames: Int = 80,
                        idCol: String = "doc_id"): DataFrame = {
    require(winFrames >= 1 && hopFrames >= 1 && hopFrames <= winFrames,
      s"decodeWavSegments: need 1 <= hopFrames <= winFrames, got $hopFrames/$winFrames")
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("seg_idx", LongType, nullable = false),
      StructField("sample_rate", LongType, nullable = false),
      StructField("channels", LongType, nullable = false),
      StructField("bits", LongType, nullable = false),
      StructField("n_frames", LongType, nullable = false),
      StructField("sq_sum", LongType, nullable = false),
      StructField("zero_crossings", LongType, nullable = false)))
    mapMedia(media, idCol, schema) { (id, content) =>
      val a =
        if (FlacCodec.isFlac(content)) FlacCodec.decode(content)
        else WavCodec.decode(content)
      val nWins = math.max(1, math.ceil(a.frames.toDouble / hopFrames).toInt)
      (0 until nWins).iterator.map { w =>
        val start = w * hopFrames
        val stop = math.min(a.frames, start + winFrames)
        var sq = 0L
        var zc = 0L
        var i = start
        while (i < stop) {
          var c = 0
          while (c < a.channels) {
            val v = a.samples(i * a.channels + c).toLong
            sq += v * v
            c += 1
          }
          if (i > start) {
            val prev = a.samples((i - 1) * a.channels) >= 0
            val cur = a.samples(i * a.channels) >= 0
            if (prev != cur) zc += 1
          }
          i += 1
        }
        Row(id, w.toLong, a.sampleRate.toLong, a.channels.toLong,
          a.bitsPerSample.toLong, (stop - start).toLong, sq, zc)
      }
    }
  }

  /** True iff `content` starts with the 8-byte PNG signature. */
  private def isPng(content: Array[Byte]): Boolean =
    content.length >= 8 &&
      (content(0) & 0xff) == 0x89 && content(1) == 'P' && content(2) == 'N' &&
      content(3) == 'G' && content(4) == 0x0d && content(5) == 0x0a &&
      (content(6) & 0xff) == 0x1a && content(7) == 0x0a

  /** REAL image decode over (id, content) rows: every content blob must
    * be a PNG ([[PngCodec]] fails loud otherwise — no silent
    * pseudo-features on a path that promises real decode). Emits true
    * geometry plus deterministic pixel statistics: per-channel sums
    * (channel slots assigned by color semantics — gray lands in `r_sum`,
    * alpha in `a_sum`, absent channels report 0) and the md5 of the
    * unfiltered pixel buffer. */
  def decodeImages(media: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("bit_depth", LongType, nullable = false),
      StructField("color_type", LongType, nullable = false),
      StructField("channels", LongType, nullable = false),
      StructField("r_sum", LongType, nullable = false),
      StructField("g_sum", LongType, nullable = false),
      StructField("b_sum", LongType, nullable = false),
      StructField("a_sum", LongType, nullable = false),
      StructField("pixel_md5", StringType, nullable = false)))
    mapMedia(media, idCol, schema) { (id, content) =>
      val img = PngCodec.decode(content)
      // channel slot by decoded-buffer semantics: 1 = gray(r);
      // 2 = gray(r) + alpha(a); 3 = rgb; 4 = rgba
      val (s, _) = pixelSums(img.pixels, img.channels)
      val sums = if (img.channels == 2) Array(s(0), 0L, 0L, s(1)) else s
      Iterator.single(Row(id, img.width.toLong, img.height.toLong, img.bitDepth.toLong,
        img.colorType.toLong, img.channels.toLong,
        sums(0), sums(1), sums(2), sums(3), DigestUtils.md5Hex(img.pixels)))
    }
  }

  /** EXIF + geometry extraction over (id, content) JPEG rows: real
    * JPEG decode for the true raster dims, APP1 parse for the tag
    * surface, and the ORIENTATION-NORMALIZED effective dimensions —
    * the shape every geometry feature downstream must use (a reader
    * ignoring orientation 5-8 transposes the image silently). All
    * integer/string columns → hash-exact. */
  def decodeExif(media: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("orientation", LongType, nullable = false),
      StructField("oriented_width", LongType, nullable = false),
      StructField("oriented_height", LongType, nullable = false),
      StructField("make", StringType, nullable = false),
      StructField("model", StringType, nullable = false),
      StructField("date_time", StringType, nullable = false)))
    mapMedia(media, idCol, schema) { (id, content) =>
      val img = JpegCodec.decode(content)
      val exif = ExifParser.fromJpeg(content).getOrElse(
        throw new IllegalArgumentException(
          s"decodeExif: doc $id carries no EXIF APP1"))
      val (ow, oh) = ExifParser.orientedDims(
        img.width.toLong, img.height.toLong, exif.orientation)
      Iterator.single(Row(id, img.width.toLong, img.height.toLong, exif.orientation.toLong,
        ow, oh, exif.make.getOrElse(""), exif.model.getOrElse(""),
        exif.dateTime.getOrElse("")))
    }
  }

  /** Image extraction over scanned-page PDFs — [[graft.pipeline.PdfCodec.extractImages]]
    * per row, each image reduced to geometry + per-channel pixel sums
    * (the q_image_decode feature convention). */
  def decodePdfImages(media: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("page", LongType, nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("channels", LongType, nullable = false),
      StructField("r_sum", LongType, nullable = false),
      StructField("g_sum", LongType, nullable = false),
      StructField("b_sum", LongType, nullable = false)))
    mapMedia(media, idCol, schema) { (id, content) =>
      graft.pipeline.PdfCodec.extractImages(content).iterator.map { im =>
        val (sums, _) = pixelSums(im.pixels, im.channels)
        Row(id, im.page.toLong, im.width.toLong, im.height.toLong,
          im.channels.toLong, sums(0), sums(1), sums(2))
      }
    }
  }

  /** REAL TIFF decode over (id, content) rows ([[TiffCodec]] fails loud
    * on non-TIFF bytes): true geometry, per-channel sums and the
    * position-weighted checksum of [[pixelSums]]. */
  def decodeTiffs(media: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("channels", LongType, nullable = false),
      StructField("r_sum", LongType, nullable = false),
      StructField("g_sum", LongType, nullable = false),
      StructField("b_sum", LongType, nullable = false),
      StructField("weighted_sum", LongType, nullable = false)))
    mapMedia(media, idCol, schema) { (id, content) =>
      val img = TiffCodec.decode(content)
      val (sums, weighted) = pixelSums(img.pixels, img.channels)
      Iterator.single(Row(id, img.width.toLong, img.height.toLong, img.channels.toLong,
        sums(0), sums(1), sums(2), weighted))
    }
  }

  /** [[decodeTiffs]]' BMP sibling: decode through [[BmpCodec]] and emit
    * the same integer features (per-channel sums + the position-weighted
    * checksum over the packed RGB buffer). */
  def decodeBmps(media: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("r_sum", LongType, nullable = false),
      StructField("g_sum", LongType, nullable = false),
      StructField("b_sum", LongType, nullable = false),
      StructField("weighted_sum", LongType, nullable = false)))
    mapMedia(media, idCol, schema) { (id, content) =>
      val img = BmpCodec.decode(content)
      val (sums, weighted) = pixelSums(img.pixels, 3)
      Iterator.single(Row(id, img.width.toLong, img.height.toLong,
        sums(0), sums(1), sums(2), weighted))
    }
  }

  /** WebP feature decode — the [[decodeTiffs]] shape (dims + per-channel
    * sums + the position-weighted sum) over [[WebpCodec]] rows. */
  def decodeWebps(media: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("channels", LongType, nullable = false),
      StructField("r_sum", LongType, nullable = false),
      StructField("g_sum", LongType, nullable = false),
      StructField("b_sum", LongType, nullable = false),
      StructField("weighted_sum", LongType, nullable = false)))
    mapMedia(media, idCol, schema) { (id, content) =>
      val img = WebpCodec.decode(content)
      val (sums, weighted) = pixelSums(img.pixels, img.channels)
      Iterator.single(Row(id, img.width.toLong, img.height.toLong, img.channels.toLong,
        sums(0), sums(1), sums(2), weighted))
    }
  }

  /** [[decodeTiffs]] per PAGE ([[TiffCodec.pages]] walks the IFD
    * chain): one row per (doc, page) with the same integer features. */
  def decodeTiffPages(media: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("page_no", LongType, nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("channels", LongType, nullable = false),
      StructField("r_sum", LongType, nullable = false),
      StructField("g_sum", LongType, nullable = false),
      StructField("b_sum", LongType, nullable = false),
      StructField("weighted_sum", LongType, nullable = false)))
    mapMedia(media, idCol, schema) { (id, content) =>
      TiffCodec.pages(content).iterator.zipWithIndex.map { case (img, pageNo) =>
        val (sums, weighted) = pixelSums(img.pixels, img.channels)
        Row(id, pageNo.toLong, img.width.toLong, img.height.toLong,
          img.channels.toLong, sums(0), sums(1), sums(2), weighted)
      }
    }
  }

  /** REAL frame sampling + decode over video (id, content) rows: the
    * container is SNIFFED per row — RIFF/AVI streams split via
    * [[AviCodec.videoFrames]], ISO-BMFF/MP4 via [[Mp4Codec.videoFrames]]
    * (jpeg/mjpa sample entries), bare concatenated-JPEG (MJPEG) via
    * [[JpegCodec.frameOffsets]]'s marker walk — then every `stride`-th
    * frame decodes through the real codec and runs the EXISTING
    * grid-pooled tile featurizer, so the video path emits the same
    * feature space the image KNN/dedup operators consume. One row per
    * (doc, sampled frame): frame_idx, true geometry, and the
    * gx·gy·channels tile feature vector. The [[frameSample]] byte-window
    * op stays for opaque containers; this is its decoding twin. */
  def decodeFrameTiles(media: DataFrame, stride: Int = 2, gx: Int = 2, gy: Int = 2,
                       idCol: String = "doc_id"): DataFrame = {
    require(stride >= 1, s"decodeFrameTiles: stride must be >= 1, got $stride")
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("frame_idx", LongType, nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("components", LongType, nullable = false),
      StructField("features", ArrayType(DoubleType, containsNull = false), nullable = false)))
    mapMedia(media, idCol, schema) { (id, content) =>
      // stride filter runs on OFFSETS/indices, before any payload
      // copy — skipped frames cost nothing beyond the marker walk
      val images: Iterator[(PngCodec.PngImage, Int)] =
        if (WebpCodec.isWebp(content))
          // animated WebP (round 19): composited ANMF frames, the
          // GifCodec.frames contract
          WebpCodec.frames(content).iterator.zipWithIndex
            .filter(_._2 % stride == 0)
        else if (GifCodec.isGif(content))
          // animated GIF (round 16): frames arrive COMPOSITED
          // (disposal 1/2 over the background canvas) — the stride
          // filter still runs on indices before feature work, but
          // compositing is inherently sequential so skipped frames
          // cost their canvas paint, not their feature pass
          GifCodec.frames(content).iterator.zipWithIndex
            .filter(_._2 % stride == 0)
        else {
          val payloads: Iterator[(Array[Byte], Int)] =
            if (AviCodec.isAvi(content))
              AviCodec.videoFrames(content).iterator.zipWithIndex
                .filter(_._2 % stride == 0)
            else if (MkvCodec.isMkv(content))
              MkvCodec.videoFrames(content).iterator.zipWithIndex
                .filter(_._2 % stride == 0)
            else if (Mp4Codec.isMp4(content))
              Mp4Codec.videoFrames(content).iterator.zipWithIndex
                .filter(_._2 % stride == 0)
            else JpegCodec.frameOffsets(content).iterator.zipWithIndex
              .filter(_._2 % stride == 0)
              .map { case ((start, stop), f) =>
                (java.util.Arrays.copyOfRange(content, start, stop), f)
              }
          payloads.map { case (payload, f) =>
            (jpegImage(JpegCodec.decode(payload), s"decodeFrameTiles: doc $id frame $f"), f)
          }
        }
      images.map { case (img, f) =>
        Row(id, f.toLong, img.width.toLong, img.height.toLong,
          img.channels.toLong, PngCodec.tileFeatures(img, gx, gy).toSeq)
      }
    }
  }

  /** REAL CMYK JPEG decode over (id, content) rows: emits true geometry,
    * the APP14 transform actually decoded, and per-channel TRUE-CMYK
    * sums — the [[decodeJpegs]] shape. */
  def decodeCmykJpegs(media: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("components", LongType, nullable = false),
      StructField("c_sum", LongType, nullable = false),
      StructField("m_sum", LongType, nullable = false),
      StructField("y_sum", LongType, nullable = false),
      StructField("k_sum", LongType, nullable = false)))
    mapMedia(media, idCol, schema) { (id, content) =>
      val img = JpegCodec.decode(content)
      require(img.components == 4,
        s"decodeCmykJpegs: doc $id decoded ${img.components} components (want 4)")
      val (sums, _) = pixelSums(img.pixels, 4)
      Iterator.single(Row(id, img.width.toLong, img.height.toLong, 4L,
        sums(0), sums(1), sums(2), sums(3)))
    }
  }

  /** REAL JPEG decode over (id, content) rows: every content blob must
    * be a JPEG ([[JpegCodec]] fails loud otherwise). Emits true geometry
    * plus deterministic pixel statistics — per-channel sums (gray lands
    * in `r_sum`; absent channels report 0) and the md5 of the decoded
    * pixel buffer. */
  def decodeJpegs(media: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("components", LongType, nullable = false),
      StructField("r_sum", LongType, nullable = false),
      StructField("g_sum", LongType, nullable = false),
      StructField("b_sum", LongType, nullable = false),
      StructField("pixel_md5", StringType, nullable = false)))
    mapMedia(media, idCol, schema) { (id, content) =>
      // this op's schema is gray/RGB; a CMYK file (decodable since
      // round 15) must go through decodeCmykJpegs, not crash here
      val img = jpegImage(JpegCodec.decode(content), s"decodeJpegs: doc $id")
      val (sums, _) = pixelSums(img.pixels, img.channels)
      Iterator.single(Row(id, img.width.toLong, img.height.toLong, img.channels.toLong,
        sums(0), sums(1), sums(2), DigestUtils.md5Hex(img.pixels)))
    }
  }

  /** REAL image resize over (id, content) rows — PNG or JPEG in,
    * sniffed per row: decode → nearest-neighbor resample
    * ([[PngCodec.resizeNearest]]) → re-ENCODE as PNG, so the output
    * column is one normalized lossless format regardless of the input
    * wire format (thumbnail normalization, the standard pre-training
    * image pass). Output: (idCol, content, width, height). */
  def resizeImages(media: DataFrame, outW: Int, outH: Int,
                   idCol: String = "doc_id"): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("content", BinaryType, nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false)))
    mapMedia(media, idCol, schema) { (id, content) =>
      val img = PngCodec.resizeNearest(decodeAnyImage(content), outW, outH)
      Iterator.single(Row(id, PngCodec.encode(img.width, img.height, img.colorType, img.pixels),
        img.width.toLong, img.height.toLong))
    }
  }

  /** Decode PNG, JPEG, GIF, TIFF or BMP content by magic sniff into the shared
    * decoded-image shape (JPEG adapts through [[jpegImage]]; GIF decodes
    * straight to the shape); anything else fails loud — the image OPS
    * below are format-agnostic, the codecs stay format-specific. */
  private def decodeAnyImage(content: Array[Byte]): PngCodec.PngImage =
    if (isPng(content)) PngCodec.decode(content)
    else if (JpegCodec.isJpeg(content))
      jpegImage(JpegCodec.decode(content), "BinaryPipeline: a JPEG in a format-agnostic image op")
    else if (GifCodec.isGif(content)) GifCodec.decode(content)
    else if (TiffCodec.isTiff(content)) TiffCodec.decode(content)
    else if (BmpCodec.isBmp(content)) BmpCodec.decode(content)
    else if (WebpCodec.isWebp(content)) WebpCodec.decode(content)
    else throw new IllegalArgumentException(
      "BinaryPipeline: content is not PNG/JPEG/GIF/TIFF/BMP/WebP (image op on non-image bytes)")

  /** REAL GIF decode over (id, content) rows ([[GifCodec]] fails loud on
    * non-GIF bytes). Emits true geometry, per-channel sums, and the
    * position-weighted checksum of [[pixelSums]] over the decoded
    * row-major buffer, so an interlace or LZW reordering bug breaks the
    * gate. */
  def decodeGifs(media: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("channels", LongType, nullable = false),
      StructField("r_sum", LongType, nullable = false),
      StructField("g_sum", LongType, nullable = false),
      StructField("b_sum", LongType, nullable = false),
      StructField("a_sum", LongType, nullable = false),
      StructField("weighted_sum", LongType, nullable = false)))
    mapMedia(media, idCol, schema) { (id, content) =>
      val img = GifCodec.decode(content)
      val (sums, weighted) = pixelSums(img.pixels, img.channels)
      Iterator.single(Row(id, img.width.toLong, img.height.toLong, img.channels.toLong,
        sums(0), sums(1), sums(2), sums(3), weighted))
    }
  }

  /** GRID-POOLED image features over (id, content) rows — PNG or JPEG,
    * sniffed per row: decode → [[PngCodec.tileFeatures]] — a
    * gx·gy·channels double vector per image, the cheap deterministic
    * "image embedding" that drops into the engine's KNN/ANN/dedup
    * operators (brute, IVF, HNSW, SemDeDup) unchanged regardless of the
    * wire format.
    * Output: (idCol, features array<double>, width, height, channels). */
  def imageTileFeatures(media: DataFrame, gx: Int = 4, gy: Int = 4,
                        idCol: String = "doc_id"): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("features", ArrayType(DoubleType, containsNull = false), nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("channels", LongType, nullable = false)))
    mapMedia(media, idCol, schema) { (id, content) =>
      val img = decodeAnyImage(content)
      Iterator.single(Row(id, PngCodec.tileFeatures(img, gx, gy).toSeq,
        img.width.toLong, img.height.toLong, img.channels.toLong))
    }
  }

  /** Tile features for every image a PDF's pages paint (round 19 —
    * the scanned-corpus modality joining the KNN feature space):
    * [[graft.pipeline.PdfCodec.extractImages]] per row, each image
    * grid-pooled exactly like [[imageTileFeatures]]. */
  def pdfImageTileFeatures(media: DataFrame, gx: Int = 4, gy: Int = 4,
                           idCol: String = "doc_id"): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("page", LongType, nullable = false),
      StructField("features", ArrayType(DoubleType, containsNull = false), nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("channels", LongType, nullable = false)))
    mapMedia(media, idCol, schema) { (id, content) =>
      graft.pipeline.PdfCodec.extractImages(content).iterator.map { im =>
        val img = PngCodec.PngImage(im.width, im.height, 8,
          if (im.channels == 1) 0 else 2, im.channels, im.pixels)
        Row(id, im.page.toLong, PngCodec.tileFeatures(img, gx, gy).toSeq,
          im.width.toLong, im.height.toLong, im.channels.toLong)
      }
    }
  }

  /** Feature extraction over (id, content, meta) rows, one row each.
    * PNG content gets REAL dimensions from [[PngCodec]], JPEG its
    * header geometry; other media stays on the documented deterministic
    * pseudo-features. The one op that also reads `meta`, so it projects
    * its own three columns instead of going through [[mapMedia]].
    * Output: id, byte_len, content_md5, width, height, media_type. */
  def extractFeatures(media: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("byte_len", LongType, nullable = false),
      StructField("content_md5", StringType, nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("media_type", StringType, nullable = true)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    media.select(col(idCol), col("content"), col("meta.media_type")).mapPartitions { it =>
      it.map { r =>
        val content = r.getAs[Array[Byte]](1)
        val (len, digest, w, h) =
          if (isPng(content)) {
            val img = PngCodec.decode(content)
            (content.length.toLong, DigestUtils.md5Hex(content),
              img.width.toLong, img.height.toLong)
          } else if (JpegCodec.isJpeg(content)) {
            // header-only geometry — SOF0 parse, no scan decode
            val (jw, jh, _) = JpegCodec.dimensions(content)
            (content.length.toLong, DigestUtils.md5Hex(content), jw.toLong, jh.toLong)
          } else decodeStub(content)
        Row(r.getLong(0), len, digest, w, h, r.getString(2))
      }
    }(enc)
  }
}
