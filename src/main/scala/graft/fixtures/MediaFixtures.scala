package graft.fixtures

import graft.multimodal._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Deterministic in-engine media corpora: the fixture generators behind
  * the image/audio/video decode gates (the
  * [[graft.pipeline.PdfCodec.encodePdf]] convention — the engine
  * fabricates REAL files so decode parity exercises the whole codec).
  * Geometry, parameters and every sample derive from the id alone, so a
  * SQL oracle can replay the expected decode output without ever seeing
  * the bytes; each generator's scaladoc is the formula contract its
  * oracle replays. Every generator emits (idCol, content binary, meta
  * struct) — the [[graft.multimodal.BinaryPipeline.asMedia]] shape. Test
  * and bench data, not library API: the decode and feature ops live in
  * [[graft.multimodal.BinaryPipeline]]. */
object MediaFixtures {

  /** The (id, content, meta) schema every synthesizer emits — one
    * definition so schema evolution is a single edit (round-17 review:
    * the per-synthesizer copies had grown into dozens). */
  private def mediaSchema(idCol: String): StructType = StructType(Seq(
    StructField(idCol, LongType, nullable = false),
    StructField("content", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("media_type", StringType, nullable = false),
      StructField("declared_bytes", LongType, nullable = false))), nullable = false)))

  /** One row in the [[mediaSchema]] shape. */
  private def mediaRow(id: Long, bytes: Array[Byte], mediaType: String): Row =
    Row(id, bytes, Row(mediaType, bytes.length.toLong))

  /** Spread a corpus-synthesis input over the session's shuffle
    * parallelism before the heavy per-row codec work: the id column is
    * bytes-trivial to shuffle, while encode/decode is the dominant
    * cost — on a single-file local parquet scan (one partition) the
    * codec work would otherwise run single-threaded, and at corpus
    * scale the hash repartition also levels file-skewed inputs. The
    * projection also keeps the scan from deserializing every document
    * column for a synthesis that needs only the id. */
  private def spreadIds(docs: DataFrame, idCol: String): DataFrame = {
    // EXPLICIT partition count: an advisory repartition(col) would be
    // AQE-coalesced back to one partition (the id shuffle is a few KB)
    // and the codec work would serialize again
    val n = docs.sparkSession.sparkContext.defaultParallelism
    docs.select(col(idCol)).repartition(n, col(idCol))
  }

  /** Shared shell of every generator: one file per doc id through
    * `build`, wrapped in the (id, content, meta) media schema — the
    * per-format generators carry only their formulas. */
  private def synthesize(docs: DataFrame, idCol: String, mediaType: String)
                        (build: Long => Array[Byte]): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(mediaSchema(idCol))
    spreadIds(docs, idCol).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        mediaRow(id, build(id), mediaType)
      }
    }(enc)
  }

  /** `n` bytes of the linear ramp (base + i·step) mod `mod` — the
    * pixel / palette-index / code formula most corpora share. */
  private def ramp(n: Int, base: Long, step: Long, mod: Int = 256): Array[Byte] = {
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = ((base + i * step) % mod).toByte; i += 1 }
    out
  }

  /** The `n`-entry RGB palette every paletted corpus uses:
    * entry j = ((j·37)%256, (j·59+17)%256, (j·83+29)%256). */
  private def palette(n: Int): Array[Byte] = {
    val out = new Array[Byte](n * 3)
    var j = 0
    while (j < n) {
      out(3 * j) = ((j * 37) % 256).toByte
      out(3 * j + 1) = ((j * 59 + 17) % 256).toByte
      out(3 * j + 2) = ((j * 83 + 29) % 256).toByte
      j += 1
    }
    out
  }

  /** Palette indices → packed RGB through [[palette]]. */
  private def expand(idx: Array[Byte], pal: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](idx.length * 3)
    var p = 0
    while (p < idx.length) { System.arraycopy(pal, 3 * (idx(p) & 0xff), out, 3 * p, 3); p += 1 }
    out
  }

  /** Interleaved integer samples, `sample(frame, channel)` per slot. */
  private def interleave(frames: Int, channels: Int)(sample: (Int, Int) => Int): Array[Int] = {
    val out = new Array[Int](frames * channels)
    var i = 0
    while (i < frames) {
      var c = 0
      while (c < channels) { out(i * channels + c) = sample(i, c); c += 1 }
      i += 1
    }
    out
  }

  /** The flat-8x8-block raster every lossy JPEG corpus rides: all
    * `comps` channels of pixel (x, y) equal
    *   128 + 3·(((seed·31 + (x/8)·7 + (y/8)·13 + f·11) mod 53) − 26)
    * — flat blocks at a value ≡ 128 (mod 3) survive the quality-90 luma
    * DC quantizer (3) exactly, and gray color keeps chroma neutral. */
  private def flatBlocks(seed: Long, w: Int, h: Int, comps: Int, f: Int = 0): Array[Byte] = {
    val px = new Array[Byte](w * h * comps)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = (128 + 3 * ((seed * 31 + (x / 8) * 7 + (y / 8) * 13 + f * 11) % 53 - 26)).toByte
        var c = 0
        while (c < comps) { px((y * w + x) * comps + c) = v; c += 1 }
        x += 1
      }
      y += 1
    }
    px
  }

  /** The bit raster of the bilevel corpora: w = 17 + k%16,
    * h = 13 + k%12, gray `ink` where (k·37 + x·7 + y·13) mod 5 < 2,
    * else 255 − ink. */
  private def bilevel(k: Long, ink: Int): (Int, Int, Array[Byte]) = {
    val w = (17 + k % 16).toInt
    val h = (13 + k % 12).toInt
    val px = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        px(y * w + x) = (if ((k * 37 + x * 7L + y * 13L) % 5 < 2) ink else 255 - ink).toByte
        x += 1
      }
      y += 1
    }
    (w, h, px)
  }

  // ---------------------------------------------------------------- audio

  /** The PCM formula shared by [[synthesizeWavs]] and [[synthesizeFlacs]]:
    * (sampleRate, channels, bits, interleaved samples). */
  private def pcm(id: Long): (Int, Int, Int, Array[Int]) = {
    val channels = (1 + id % 2).toInt
    val bits = if (id % 3 == 0) 8 else 16
    val sampleRate = (8000 + (id % 4) * 4000).toInt
    val samples = interleave((400 + id % 257).toInt, channels) { (i, c) =>
      val raw = id * 31 + i * 7L + c * 13L
      if (bits == 8) (raw % 256).toInt - 128 else (raw % 4001).toInt - 2000
    }
    (sampleRate, channels, bits, samples)
  }

  /** Deterministic in-engine WAV synthesis over document rows — the
    * [[synthesizeImages]] recipe for the audio leg ([[WavCodec]] writes
    * REAL RIFF/PCM files). Every parameter and sample derives from
    * `doc_id` alone so a SQL oracle can replay the decoded features
    * without ever seeing the bytes:
    *   channels = 1 + doc_id % 2 (mono/stereo)
    *   bits = 8 if doc_id % 3 == 0 else 16
    *   sampleRate = 8000 + (doc_id % 4) · 4000
    *   frames = 400 + doc_id % 257
    *   sample(frame i, channel c) =
    *     8-bit:  (doc_id·31 + i·7 + c·13) mod 256 − 128
    *     16-bit: (doc_id·31 + i·7 + c·13) mod 4001 − 2000
    * Output: (idCol, content binary, meta struct) — the asMedia shape. */
  def synthesizeWavs(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(docs, idCol, "audio/wav") { id =>
      val (sampleRate, channels, bits, samples) = pcm(id)
      WavCodec.encode(sampleRate, channels, bits, samples)
    }

  /** [[synthesizeWavs]]'s FLAC sibling (round 18): the SAME sample
    * formula per doc_id — channels 1+id%2, bits 8 on id%3==0 else 16,
    * rate 8000+(id%4)·4000, frames 400+id%257, sample(i, c) as in
    * synthesizeWavs — losslessly FLAC-encoded, so `q_audio_flac`
    * carries `q_audio_wav`'s oracle VERBATIM (lossless invariance).
    * Block size and subframe/stereo strategy rotate by id so the corpus
    * exercises CONSTANT/VERBATIM/FIXED subframes, rice partitions, and
    * the left/side, right/side and mid/side decorrelations. */
  def synthesizeFlacs(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(docs, idCol, "audio/flac") { id =>
      val (sampleRate, channels, bits, samples) = pcm(id)
      FlacCodec.encode(sampleRate, channels, bits, samples,
        blockSize = if (id % 2 == 0) 192 else 256, strategy = id)
    }

  /** [[synthesizeWavs]]' IEEE-FLOAT sibling (round 16): format-3 files
    * whose float samples are exactly-representable k/32768 values with
    *   k(i, c) = (doc_id·31 + i·7 + c·13) mod 4001 − 2000,
    *   channels = 1 + doc_id % 2, frames = 350 + doc_id % 257, 16 kHz
    * so the decode contract (rint(f·32768), clamp) recovers k exactly
    * and the oracle replays the integer formulas byte-blind. */
  def synthesizeFloatWavs(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(docs, idCol, "audio/wav") { id =>
      val channels = (1 + id % 2).toInt
      val samples = interleave((350 + id % 257).toInt, channels) { (i, c) =>
        ((id * 31 + i * 7L + c * 13L) % 4001).toInt - 2000
      }
      WavCodec.encodeFloat(16000, channels, samples)
    }

  /** WAVE_FORMAT_EXTENSIBLE corpus (round 17): every file wears the
    * 0xFFFE wrapper with the KSDATAFORMAT_SUBTYPE_PCM GUID, two thirds
    * at 24-bit depth (native-scale samples in the millions) and one
    * third 16-bit — the wrapper and the depth must both be
    * results-invisible to the window features the oracle replays:
    *   channels = 1 + doc_id % 2, frames = 350 + doc_id % 257
    *   bits = 16 if doc_id % 3 = 0 else 24
    *   sample(i,c) = (doc_id·131 + i·29 + c·71) mod 10000001 − 5000000   (24-bit)
    *               = (doc_id·31 + i·7 + c·13) mod 4001 − 2000            (16-bit) */
  def synthesize24BitWavs(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(docs, idCol, "audio/wav") { id =>
      val channels = (1 + id % 2).toInt
      val bits = if (id % 3 == 0) 16 else 24
      val samples = interleave((350 + id % 257).toInt, channels) { (i, c) =>
        if (bits == 24) ((id * 131 + i * 29L + c * 71L) % 10000001).toInt - 5000000
        else ((id * 31 + i * 7L + c * 13L) % 4001).toInt - 2000
      }
      WavCodec.encode(16000, channels, bits, samples, extensible = true)
    }

  /** [[synthesizeWavs]]'s µ-law sibling: mono format-7 files whose raw
    * G.711 codes derive from doc_id —
    *   frames = 300 + doc_id % 257, sampleRate 8000,
    *   code(i) = (doc_id·31 + i·7) mod 256
    * — so the oracle replays the DECODED linear samples (16-bit scale)
    * through the expansion formula (u = 255−code; mag = (8·(u mod 16) +
    * 132)·2^((u div 16) mod 8) − 132; negative when u ≥ 128)
    * byte-blind. */
  def synthesizeMulawWavs(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(docs, idCol, "audio/wav") { id =>
      WavCodec.encodeMulaw(8000, 1, ramp((300 + id % 257).toInt, id * 31, 7))
    }

  /** [[synthesizeMulawWavs]]'s A-law twin: mono format-6 files, codes
    * code(i) = (doc_id·29 + i·13) mod 256, frames = 300 + doc_id % 257.
    * The oracle replays the A-law expansion (a = code XOR 0x55; seg 0
    * linear mag = 16·mant + 8, else (16·mant + 264)·2^(seg−1); POSITIVE
    * when a ≥ 128 — A-law's sign convention is µ-law's mirror). */
  def synthesizeAlawWavs(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(docs, idCol, "audio/wav") { id =>
      WavCodec.encodeMulaw(8000, 1, ramp((300 + id % 257).toInt, id * 29, 13), format = 6)
    }

  /** [[synthesizeMulawWavs]]'s IMA-ADPCM sibling: mono format-0x11
    * files whose WIRE content (block headers + nibble stream) derives
    * from doc_id, so the oracle can replay the decoder's predictor
    * recursion exactly (a recursive CTE over the public step table):
    *   blockAlign 36 → 65 samples/block, nBlocks = 4 + doc_id % 5
    *   block b: header predictor = (doc_id·37 + b·101) mod 4001 − 2000
    *            header step index = (doc_id + b·7) mod 89
    *   nibble k (0-63, low nibble of byte k/2 first) =
    *            (doc_id·31 + b·17 + k·7) mod 16 */
  def synthesizeAdpcmWavs(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(docs, idCol, "audio/wav") { id =>
      val nBlocks = (4 + id % 5).toInt
      val blocks = (0 until nBlocks).map { b =>
        val pred = ((id * 37 + b * 101L) % 4001).toInt - 2000
        val idx = ((id + b * 7L) % 89).toInt
        val payload = new Array[Byte](32)
        var j = 0
        while (j < 32) {
          val lo = ((id * 31 + b * 17 + (2 * j) * 7L) % 16).toInt
          val hi = ((id * 31 + b * 17 + (2 * j + 1) * 7L) % 16).toInt
          payload(j) = ((hi << 4) | lo).toByte
          j += 1
        }
        (Array(pred), Array(idx), payload)
      }
      WavCodec.encodeAdpcm(8000, 1, 36, blocks)
    }

  /** [[synthesizeAdpcmWavs]]' MS-ADPCM sibling (round 16): mono
    * format-0x02 files under the standard coefficient table, wire
    * content formula-derived so the oracle replays the two-tap
    * prediction recursion exactly:
    *   blockAlign 39 → 66 samples/block, nBlocks = 3 + doc_id % 4
    *   block b: predictor = (doc_id + b) mod 7
    *            delta0 = 16 + (doc_id·13 + b·7) mod 1000
    *            iSamp1 = (doc_id·37 + b·101) mod 4001 − 2000
    *            iSamp2 = (doc_id·41 + b·59) mod 4001 − 2000
    *   nibble k (0-63, HIGH nibble of byte k/2 first) =
    *            REMAP[(doc_id·31 + b·17 + k·7) mod 16]
    * where REMAP = [0,1,2,3,13,14,15,0,4,1,12,2,6,3,10,15] biases the
    * nibble multiset toward small adaptation factors (twelve 230s, two
    * 307s, two 512s → ×1.59 per 16 nibbles): a uniform multiset grows
    * delta ~107× per cycle — a stream shape no real encoder emits and
    * one that overflows any fixed-width decoder state (the decoder
    * fail-louds past 2^30 for exactly that reason). */
  def synthesizeMsAdpcmWavs(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(docs, idCol, "audio/wav") { id =>
      val nBlocks = (3 + id % 4).toInt
      val blocks = (0 until nBlocks).map { b =>
        val pred = ((id + b) % 7).toInt
        val delta = (16 + (id * 13 + b * 7L) % 1000).toInt
        val s1 = ((id * 37 + b * 101L) % 4001).toInt - 2000
        val s2 = ((id * 41 + b * 59L) % 4001).toInt - 2000
        val remap = Array(0, 1, 2, 3, 13, 14, 15, 0, 4, 1, 12, 2, 6, 3, 10, 15)
        val payload = new Array[Byte](32)
        var j = 0
        while (j < 32) {
          val hi = remap(((id * 31 + b * 17 + (2 * j) * 7L) % 16).toInt)
          val lo = remap(((id * 31 + b * 17 + (2 * j + 1) * 7L) % 16).toInt)
          payload(j) = ((hi << 4) | lo).toByte
          j += 1
        }
        (Array(pred), Array(delta), Array(s1), Array(s2), payload)
      }
      WavCodec.encodeMsAdpcm(8000, 1, 39, blocks)
    }

  /** MP3 corpus (round 18 — metadata-first leg): structurally-real
    * files with an ID3v2.3/2.4 tag (v2.4+syncsafe frame sizes on odd
    * ids, UTF-8 text on id%4==2), MPEG-1 Layer III VBR frame headers
    * (bitrate index 1 + (id+f)%14 per frame, padding on odd frames at
    * 44.1 kHz), and a trailing ID3v1 block on id%5==0:
    *   title "Title"+(id%7), artist "Artist"+(id%5), album "Album"+(id%3)
    *   sampleRateIdx id%3 → 44100/48000/32000, mono on odd ids,
    *   frames 20 + id%17. */
  def synthesizeMp3s(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(docs, idCol, "audio/mpeg") { id =>
      Mp3Codec.encode(
        title = s"Title${id % 7}", artist = s"Artist${id % 5}",
        album = s"Album${id % 3}",
        sampleRateIdx = (id % 3).toInt, mono = id % 2 == 1,
        bitrateIdxOf = f => (1 + ((id + f) % 14)).toInt,
        nFrames = (20 + id % 17).toInt,
        // tag-version rotation: id%3 → v2.3 / v2.4 (footer on id%6==1) /
        // v2.2 — all three wire forms decode to the same formula fields,
        // so the oracle carries verbatim; v2.2 has no UTF-8 encoding
        v24 = id % 3 == 1, v22 = id % 3 == 2, footer = id % 6 == 1,
        utf8 = id % 4 == 2 && id % 3 != 2, utf16 = id % 4 == 1,
        id3v1 = id % 5 == 0, payloadSeed = id)
    }

  /** Ogg corpus (round 19, VERDICT r18 #6): codec rotates id%3 →
    * Vorbis / Opus / FLAC-in-Ogg, sample rate id%4 →
    * 44100/48000/32000/22050, channels 1 + id%2, terminal granule
    * samples = 9600 + (id%7)·480 over 2 + id%5 audio pages,
    * tags ("OggTitle"+id%7, "OggArtist"+id%5, "OggAlbum"+id%3). Every
    * page CRC-verified on decode; the oracle replays the formulas
    * byte-blind (opus durations run at 48 kHz by spec). */
  def synthesizeOggs(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(docs, idCol, "audio/ogg") { id =>
      val codec = (id % 3) match {
        case 0 => "vorbis"; case 1 => "opus"; case _ => "flac"
      }
      val rate = Seq(44100, 48000, 32000, 22050)((id % 4).toInt)
      OggCodec.encode(
        codec, rate, channels = (1 + id % 2).toInt,
        samples = 9600 + (id % 7) * 480,
        audioPages = (2 + id % 5).toInt,
        title = s"OggTitle${id % 7}", artist = s"OggArtist${id % 5}",
        album = s"OggAlbum${id % 3}", payloadSeed = id)
    }

  // ------------------------------------------------------------------ PNG

  /** Deterministic in-engine PNG synthesis over document rows — the
    * fixture generator for the image-decode gate. Geometry, color type
    * and every pixel derive from `doc_id` alone, so a SQL oracle can
    * replay the expected decode output without ever seeing the bytes:
    *   colorType = (0, 2, 6)(doc_id % 3)  — gray / RGB / RGBA
    *   width = 4 + doc_id % 13, height = 3 + doc_id % 11
    *   pixel(i) = (doc_id·31 + i·7) mod 256, channel-interleaved.
    * Output: (idCol, content binary, meta struct) — the asMedia shape. */
  def synthesizeImages(docs: DataFrame, idCol: String = "doc_id",
                       variantLayout: Boolean = false): DataFrame =
    synthesize(docs, idCol, "image/png") { id =>
      val colorType = (id % 3) match { case 0 => 0; case 1 => 2; case _ => 6 }
      val ch = colorType match { case 0 => 1; case 2 => 3; case _ => 4 }
      val w = (4 + id % 13).toInt
      val h = (3 + id % 11).toInt
      val px = ramp(w * h * ch, id * 31, 7)
      // variantLayout: same pixels in the Adam7 interlaced layout,
      // 16-bit on odd ids (v·257 widening) — the DECODED buffer is
      // byte-identical to the plain layout, so an oracle written
      // against the pixel formulas gates layout-invariance for free
      if (variantLayout)
        PngCodec.encode(w, h, colorType, px, interlace = true,
          bitDepth = if (id % 2 == 1) 16 else 8)
      else PngCodec.encode(w, h, colorType, px)
    }

  /** SUB-BYTE-depth PNG corpus (round 17 — the icon/screenshot/scan
    * shapes): depth rotates 1/2/4 by id, gray on even ids (samples the
    * spec's exact 255/(2^d−1) multiples) and PALETTE on odd (2^d
    * entries from the j·37/j·59+17/j·83+29 formulas), every fifth file
    * Adam7-interlaced:
    *   w = 6 + id%13, h = 5 + id%11, q(i) = (id·31 + i·7) mod 2^d */
  def synthesizeLowDepthPngs(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(docs, idCol, "image/png") { id =>
      val d = (id % 3) match { case 0 => 1; case 1 => 2; case _ => 4 }
      val pal = id % 2 == 1
      val w = (6 + id % 13).toInt
      val h = (5 + id % 11).toInt
      val lim = (1 << d) - 1
      val q = ramp(w * h, id * 31, 7, 1 << d)
      val px = if (pal) q else q.map(v => (v * (255 / lim)).toByte)
      PngCodec.encode(w, h, if (pal) 3 else 0, px,
        palette = if (pal) Some(palette(lim + 1)) else None,
        interlace = id % 5 == 0, bitDepth = d)
    }

  // ----------------------------------------------------------------- JPEG

  /** The [[synthesizeJpegs]] file for one id: (width, height, bytes). */
  private def flatJpeg(id: Long, progressive: Boolean = false): (Int, Int, Array[Byte]) = {
    val w = (24 + id % 13).toInt
    val h = (16 + id % 11).toInt
    val comps = if (id % 2 == 0) 1 else 3
    // progressive files carry the full successive-approximation
    // scan script; every fifth file also carries restart markers
    // (per MCU in the DC scans, per block in the AC scans)
    (w, h, JpegCodec.encode(w, h, comps, flatBlocks(id, w, h, comps), quality = 90,
      subsample = comps == 3 && id % 4 == 3,
      restartInterval = if (id % 5 == 0) 2 else 0,
      progressive = progressive))
  }

  /** Deterministic in-engine JPEG synthesis over document rows — the
    * [[synthesizeImages]] recipe for the lossy leg ([[JpegCodec]]
    * encodes REAL baseline JFIF files). The fixtures are built from the
    * codec's determinism contract so the SQL oracle can replay the
    * DECODE output exactly despite the lossy format:
    *   - every 8×8 luma block is FLAT at a value ≡ 128 (mod 3) — at
    *     quality 90 the luma DC quantizer is 3, so flat blocks survive
    *     quantization exactly;
    *   - color images are gray (R=G=B), so chroma is neutral 128 and
    *     the YCbCr round trip is exact.
    * Formulas (all from doc_id alone):
    *   width = 24 + doc_id % 13, height = 16 + doc_id % 11
    *   components = 1 if doc_id % 2 == 0 else 3 (RGB)
    *   4:2:0 subsampling when components == 3 and doc_id % 4 == 3
    *   restart interval 2 when doc_id % 5 == 0
    *   blockValue(bx, by) = 128 + 3·(((doc_id·31 + bx·7 + by·13) mod 53) − 26)
    * Output: (idCol, content binary, meta struct) — the asMedia shape. */
  def synthesizeJpegs(docs: DataFrame, idCol: String = "doc_id",
                      progressive: Boolean = false): DataFrame =
    synthesize(docs, idCol, "image/jpeg")(id => flatJpeg(id, progressive)._3)

  /** EXIF-tagged JPEG corpus (round 18, VERDICT r17 #5): the SAME JPEG
    * recipe as [[synthesizeJpegs]] with an APP1/`Exif\0\0` segment
    * spliced after SOI — orientation 1 + id%8 (so half the corpus is
    * the transposed 5-8 family), Make "Maker"+(id%5),
    * Model "Model"+(id%7), DateTime "2024:01:01 00:00:SS" with
    * SS = id%60, Exif-IFD pixel dims = the true w x h, byte order
    * alternating on id%3. */
  def synthesizeExifJpegs(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(docs, idCol, "image/jpeg") { id =>
      val (w, h, jpeg) = flatJpeg(id)
      val exif = ExifParser.encodeTiff(
        orientation = (1 + id % 8).toInt,
        make = s"Maker${id % 5}",
        model = s"Model${id % 7}",
        dateTime = f"2024:01:01 00:00:${id % 60}%02d",
        pixelX = w.toLong, pixelY = h.toLong,
        bigEndian = id % 3 == 0)
      ExifParser.spliceApp1(jpeg, exif)
    }

  /** Deterministic in-engine CMYK/YCCK JPEG synthesis — the
    * [[synthesizeJpegs]] recipe for the Adobe print-corpus leg. The
    * flat-block determinism contract applies PER CHANNEL (all four
    * planes ride the luma quant table at quality 90, and YCCK files use
    * equal C=M=Y so the chroma legs are neutral-128 exact):
    *   width = 24 + doc_id % 13, height = 16 + doc_id % 11
    *   transform = 0 (CMYK) when doc_id % 2 == 0 else 2 (YCCK)
    *   channel c value(bx, by) =
    *     127 + 3·(((doc_id·31 + bx·7 + by·13 + t·17) mod 53) − 26)
    *   where t = c for transform 0 and t = (0,0,0,3)(c) for YCCK
    *   (C=M=Y share the t=0 value; K uses t=3).
    * The base is 127 (not 128): the Adobe convention STORES 255−v, and
    * quality-90 exactness needs the STORED flat value ≡ 128 (mod 3) —
    * so the TRUE value must be ≡ 127 (mod 3).
    * Output: (idCol, content binary, meta struct) — the asMedia shape. */
  def synthesizeCmykJpegs(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(docs, idCol, "image/jpeg") { id =>
      val w = (24 + id % 13).toInt
      val h = (16 + id % 11).toInt
      val transform = if (id % 2 == 0) 0 else 2
      val px = new Array[Byte](w * h * 4)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var c = 0
          while (c < 4) {
            val t = if (transform == 0) c else if (c == 3) 3 else 0
            px((y * w + x) * 4 + c) =
              (127 + 3 * ((id * 31 + (x / 8) * 7 + (y / 8) * 13 + t * 17) % 53 - 26)).toByte
            c += 1
          }
          x += 1
        }
        y += 1
      }
      JpegCodec.encode(w, h, 4, px, quality = 90, adobeTransform = transform)
    }

  // ------------------------------------------------------------------ GIF

  /** Deterministic in-engine GIF synthesis over document rows — the
    * [[synthesizeImages]] recipe for the palette/LZW leg ([[GifCodec]]
    * writes REAL GIF89a files). Formulas (all from doc_id alone):
    *   width = 10 + doc_id % 13, height = 8 + doc_id % 11
    *   nColors-entry palette: entry j = ((id·17 + j·29) % 256,
    *     (id·19 + j·31) % 256, (id·23 + j·37) % 256)
    *   index(i) = (id·31 + i·7) % nColors, row-major pixel i
    *   interlaced when id % 4 == 1; GCE transparent index 0 when
    *   id % 5 == 2 (decodes to RGBA)
    * `nColors` trades palette realism against feature entropy: 8 (the
    * default) is the classic small-palette web GIF, but its mod-8 index
    * cycle makes tile MEANS collapse to the palette mean (every 8
    * consecutive pixels hit all entries once), so features are near-
    * parallel across ids — fine for decode gates, fatal for a cosine
    * dedup gate. 250 gives PNG-like quasi-random tile features.
    * Output: (idCol, content binary, meta struct) — the asMedia shape. */
  def synthesizeGifs(docs: DataFrame, idCol: String = "doc_id",
                     nColors: Int = 8): DataFrame = {
    require(nColors >= 2 && nColors <= 256, s"synthesizeGifs: nColors $nColors (2-256)")
    synthesize(docs, idCol, "image/gif") { id =>
      val w = (10 + id % 13).toInt
      val h = (8 + id % 11).toInt
      val pal = new Array[Byte](3 * nColors)
      var j = 0
      while (j < nColors) {
        pal(3 * j) = ((id * 17 + j * 29) % 256).toByte
        pal(3 * j + 1) = ((id * 19 + j * 31) % 256).toByte
        pal(3 * j + 2) = ((id * 23 + j * 37) % 256).toByte
        j += 1
      }
      GifCodec.encode(w, h, pal, ramp(w * h, id * 31, 7, nColors),
        interlace = id % 4 == 1,
        transparentIdx = if (id % 5 == 2) Some(0) else None)
    }
  }

  /** ANIMATED-GIF synthesis for the frame-sampling gate: one GIF89a per
    * doc whose frames exercise REAL compositing —
    *   w = 16 + id%9, h = 16 + id%7, frames = 3 + id%4
    *   palette entry i: ((i·37)%256, (i·59+17)%256, (i·83+29)%256),
    *   256 entries, background index 0, transparent index 250
    *   EVEN frames: fully opaque, index (id·31+f·11+x·7+y·13) % 250,
    *     disposal 1 when id is even else 2 (restore-to-background)
    *   ODD frames: TRANSPARENT holes where (x+y)%2 == 0, disposal 1
    * so an odd composited frame shows, in its holes, the PREVIOUS
    * frame's pixel (id even) or the background color (id odd) — both
    * closed-form replayable by the oracle. */
  def synthesizeAnimGifs(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val pal = palette(256)
    synthesize(docs, idCol, "image/gif") { id =>
      val w = (16 + id % 9).toInt
      val h = (16 + id % 7).toInt
      val frames = (0 until (3 + id % 4).toInt).map { f =>
        val idx = new Array[Byte](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            idx(y * w + x) =
              if (f % 2 == 1 && (x + y) % 2 == 0) 250.toByte
              else ((id * 31 + f * 11 + x * 7 + y * 13) % 250).toByte
            x += 1
          }
          y += 1
        }
        val transparent = if (f % 2 == 1) Some(250) else None
        val disposal = if (f % 2 == 1) 1 else if (id % 2 == 0) 1 else 2
        (idx, transparent, disposal)
      }
      GifCodec.encodeAnim(w, h, pal, frames)
    }
  }

  /** [[synthesizeAnimGifs]]' PATCH-FRAME sibling (round 16): the wire
    * shape real animated GIFs use — frame 0 full-screen, frames 1..2
    * 8×8 patches at formula positions, all opaque, disposal 1 — so a
    * composited frame f shows, at each pixel, the MOST RECENT frame
    * whose rect covers it:
    *   w = 16 + id%9, h = 16 + id%7, frames = 3 (0 full + 2 patches)
    *   patch g ≥ 1: left = (id·7 + g·5) % (w−8), top = (id·3 + g·11) % (h−8)
    *   index at GLOBAL (x,y) of frame g: (id·31 + g·11 + x·7 + y·13) % 250
    *   palette entry i: ((i·37)%256, (i·59+17)%256, (i·83+29)%256) */
  def synthesizePatchGifs(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val pal = palette(256)
    synthesize(docs, idCol, "image/gif") { id =>
      val w = (16 + id % 9).toInt
      val h = (16 + id % 7).toInt
      def rect(g: Int, left: Int, top: Int, fw: Int, fh: Int): Array[Byte] = {
        val idx = new Array[Byte](fw * fh)
        var fy = 0
        while (fy < fh) {
          var fx = 0
          while (fx < fw) {
            idx(fy * fw + fx) =
              ((id * 31 + g * 11 + (left + fx) * 7 + (top + fy) * 13) % 250).toByte
            fx += 1
          }
          fy += 1
        }
        idx
      }
      // frames 1/2/4 keep (disposal 1); frame 3 is RESTORE-TO-PREVIOUS
      // (disposal 3, round 17): its pixels appear in its own snapshot
      // but must vanish from frame 4's — the oracle's cover set
      // excludes g = 3 except at f = 3
      val patches = (1 to 4).map { g =>
        val left = ((id * 7 + g * 5) % (w - 8)).toInt
        val top = ((id * 3 + g * 11) % (h - 8)).toInt
        GifCodec.AnimFrame(left, top, 8, 8, rect(g, left, top, 8, 8), None,
          if (g == 3) 3 else 1)
      }
      GifCodec.encodeAnimFrames(w, h, pal,
        GifCodec.AnimFrame(0, 0, w, h, rect(0, 0, 0, w, h), None, 1) +: patches)
    }
  }

  // ----------------------------------------------------------------- TIFF

  /** The pixel corpus the striped/tiled/compressed TIFF generators
    * share: (w, h, channels, interleaved pixels). */
  private def tiffCorpus(id: Long): (Int, Int, Int, Array[Byte]) = {
    val w = (9 + id % 13).toInt
    val h = (7 + id % 11).toInt
    val ch = if (id % 2 == 0) 1 else 3
    (w, h, ch, ramp(w * h * ch, id * 37, 11))
  }

  /** Deterministic in-engine TIFF synthesis over document rows — the
    * [[synthesizeImages]] recipe for the scan/print-corpus leg
    * ([[TiffCodec]] writes REAL baseline TIFF). Formulas (all from
    * doc_id alone):
    *   width = 9 + doc_id % 13, height = 7 + doc_id % 11
    *   channels = 1 if doc_id % 2 == 0 else 3
    *   pixel(i) = (doc_id·37 + i·11) mod 256, channel-interleaved
    *   big-endian (MM) when doc_id % 3 == 0; PackBits when doc_id % 4 < 2;
    *   RowsPerStrip = 1 + doc_id % 5 (multi-strip assembly);
    *   WhiteIsZero storage when channels == 1 and doc_id % 5 == 3
    * Byte order, compression, strip split and photometric inversion are
    * all LAYOUT — the decoded buffer is identical across them, so one
    * formula oracle gates layout invariance for free (the
    * q_image_interlaced convention). */
  def synthesizeTiffs(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(docs, idCol, "image/tiff") { id =>
      val (w, h, ch, px) = tiffCorpus(id)
      TiffCodec.encode(w, h, ch, px,
        bigEndian = id % 3 == 0,
        packBits = id % 4 < 2,
        rowsPerStrip = (1 + id % 5).toInt,
        whiteIsZero = ch == 1 && id % 5 == 3)
    }

  /** [[synthesizeTiffs]] with LZW compression (round 16): the SAME
    * pixel formulas wired through compression 5, predictor 2 on odd
    * ids — so q_image_tiff_lzw carries the uncompressed gate's oracle
    * VERBATIM (compression is pure layout, the container-invariance
    * convention). */
  def synthesizeLzwTiffs(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(docs, idCol, "image/tiff") { id =>
      val (w, h, ch, px) = tiffCorpus(id)
      TiffCodec.encode(w, h, ch, px,
        bigEndian = id % 3 == 0,
        rowsPerStrip = (1 + id % 5).toInt,
        lzw = true, predictor2 = id % 2 == 1)
    }

  /** [[synthesizeLzwTiffs]]' Deflate sibling (round 17): the SAME pixel
    * corpus compressed with Deflate — both the modern tag 8 and the
    * older 32946 alias appear (by id), half the rows under Predictor 2,
    * mixed byte orders and strip splits. Decoded results must be
    * byte-identical to the LZW and uncompressed corpora. */
  def synthesizeDeflateTiffs(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(docs, idCol, "image/tiff") { id =>
      val (w, h, ch, px) = tiffCorpus(id)
      TiffCodec.encode(w, h, ch, px,
        bigEndian = id % 3 == 0,
        rowsPerStrip = (1 + id % 5).toInt,
        deflate = true, predictor2 = id % 2 == 1,
        oldDeflateTag = id % 4 == 1)
    }

  /** TILED-layout corpus (round 17): the SAME pixel corpus as
    * [[synthesizeTiffs]] in the §15 tile layout (16x16 tiles — the
    * small geometries force edge tiles on both axes and 2x2 grids on
    * the larger ids), under mixed compressions (none/LZW/Deflate),
    * predictor 2 on compressed odd ids, both byte orders. Decoded
    * results must be byte-identical to the striped corpus. */
  def synthesizeTiledTiffs(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(docs, idCol, "image/tiff") { id =>
      val (w, h, ch, px) = tiffCorpus(id)
      val comp = (id % 3).toInt // 0 none, 1 LZW, 2 Deflate
      TiffCodec.encode(w, h, ch, px,
        bigEndian = id % 4 == 0,
        lzw = comp == 1, deflate = comp == 2,
        predictor2 = comp != 0 && id % 2 == 1,
        tileSize = 16)
    }

  /** 16-BIT-sample corpus (round 17 — the scientific/medical scan
    * depth): the SAME pixel corpus as [[synthesizeTiffs]], each 8-bit
    * sample widened to v·257 (the spec scaling) in the file's byte
    * order, striped or 16x16-tiled by id, none/LZW/Deflate rotation.
    * Decoded results (high-byte reduction) must equal the 8-bit
    * corpus's exactly. */
  def synthesize16BitTiffs(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(docs, idCol, "image/tiff") { id =>
      val (w, h, ch, px) = tiffCorpus(id)
      val comp = (id % 3).toInt
      TiffCodec.encode(w, h, ch, px,
        bigEndian = id % 4 == 0,
        lzw = comp == 1, deflate = comp == 2,
        rowsPerStrip = if (id % 5 < 3) (1 + id % 4).toInt else 0,
        tileSize = if (id % 5 >= 3) 16 else 0,
        bits16 = true)
    }

  /** SUB-BYTE GRAY corpus (round 17): 2-bit on even ids, 4-bit (the
    * 16-level scanner setting) on odd; striped or 16x16-tiled by id%4,
    * WhiteIsZero on id%5<2, none/LZW/Deflate rotation:
    *   w = 15 + id%14, h = 11 + id%10
    *   gray(x, y) = ((id·31 + x·5 + y·11) mod 2^d) · 255/(2^d−1) */
  def synthesizeGrayTiffs(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(docs, idCol, "image/tiff") { id =>
      val d = if (id % 2 == 0) 2 else 4
      val lim = (1 << d) - 1
      val w = (15 + id % 14).toInt
      val h = (11 + id % 10).toInt
      val px = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          px(y * w + x) =
            (((id * 31 + x * 5L + y * 11L) % (lim + 1)) * (255 / lim)).toByte
          x += 1
        }
        y += 1
      }
      val comp = (id % 3).toInt
      TiffCodec.encode(w, h, 1, px,
        bigEndian = id % 7 < 3,
        lzw = comp == 1, deflate = comp == 2,
        rowsPerStrip = if (id % 4 < 2) (2 + id % 5).toInt else 0,
        whiteIsZero = id % 5 < 2,
        tileSize = if (id % 4 >= 2) 16 else 0,
        grayBits = d)
    }

  /** BILEVEL (1-bit) corpus (round 17 — the fax/document-scan sample
    * format): per doc a w x h bit raster, STRIPED on even ids and
    * 16x16-TILED on odd, photometric WhiteIsZero on id%5<2 (the fax
    * default), compression rotating none/PackBits/Deflate:
    *   w = 17 + id%16, h = 13 + id%12
    *   gray(x, y) = 255 if (id·37 + x·7 + y·13) mod 5 < 2 else 0 */
  def synthesizeBilevelTiffs(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(docs, idCol, "image/tiff") { id =>
      val (w, h, px) = bilevel(id, ink = 255)
      val comp = (id % 3).toInt // 0 none, 1 PackBits, 2 Deflate
      TiffCodec.encode(w, h, 1, px,
        bigEndian = id % 4 == 0,
        packBits = comp == 1, deflate = comp == 2,
        rowsPerStrip = if (id % 2 == 0) (2 + id % 7).toInt else 0,
        whiteIsZero = id % 5 < 2,
        tileSize = if (id % 2 == 1) 16 else 0,
        bilevel = true)
    }

  /** CCITT fax corpus (round 18 — THE scanned-document compressions):
    * the SAME bit raster as [[synthesizeBilevelTiffs]] (w = 17 + id%16,
    * h = 13 + id%12, gray(x, y) = 255 if (id·37 + x·7 + y·13) mod 5 < 2
    * else 0), so `q_image_tiff_g4` carries `q_image_tiff_bilevel`'s
    * oracle VERBATIM — compression invariance, the LZW/Deflate
    * convention. Rotation: G4 MMR on id%4 ∈ {0,1} (the dominant wild
    * form), MH ("CCITT RLE", compression 2) on id%4 == 2, G3 with EOLs
    * (compression 3) on id%4 == 3 — the 2-D stream form (T4Options 1,
    * EOL + tag-bit rows, K = 2) on id%8 == 3 and plain 1-D on
    * id%8 == 7; STRIPED on even ids and 16x16-TILED on odd (per-chunk
    * reference-line reset both ways); WhiteIsZero (the fax default) on
    * id%5<2; FillOrder 2 (LSB-first codestream bytes — where real fax
    * files live, round 19) on id%7 == 3, results-invisible under the
    * same oracle. */
  def synthesizeCcittTiffs(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(docs, idCol, "image/tiff") { id =>
      val (w, h, px) = bilevel(id, ink = 255)
      val mode = (id % 4) match {
        case 0 | 1 => 4 // G4 MMR
        case 2 => 2 // MH byte-aligned rows
        case _ => 3 // G3 with EOLs (1-D, or the 2-D tagged form)
      }
      TiffCodec.encode(w, h, 1, px,
        bigEndian = id % 4 == 0,
        rowsPerStrip = if (id % 2 == 0) (2 + id % 7).toInt else 0,
        whiteIsZero = id % 5 < 2,
        tileSize = if (id % 2 == 1) 16 else 0,
        bilevel = true,
        ccitt = mode,
        ccittT4TwoD = id % 8 == 3,
        fillOrder2 = id % 7 == 3)
    }

  /** [[synthesizeTiffs]]' MULTI-PAGE sibling (round 16 — scanned
    * documents are routinely multi-page): one TIFF per doc whose IFD
    * chain carries 2 + id%3 pages of DIFFERENT geometry:
    *   page p: w = 9 + (id+p)%13, h = 7 + (id+p)%11,
    *           ch = 1 if (id+p)%2 == 0 else 3
    *   pixel i of page p: (id·37 + p·53 + i·11) mod 256
    * byte order / PackBits / strips cycle by id like the single-page
    * corpus. */
  def synthesizeMultiTiffs(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(docs, idCol, "image/tiff") { id =>
      val pages = (0 until (2 + id % 3).toInt).map { p =>
        val w = (9 + (id + p) % 13).toInt
        val h = (7 + (id + p) % 11).toInt
        val ch = if ((id + p) % 2 == 0) 1 else 3
        (w, h, ch, ramp(w * h * ch, id * 37 + p * 53, 11))
      }
      TiffCodec.encodeMulti(pages,
        bigEndian = id % 3 == 0,
        packBits = id % 4 < 2,
        rowsPerStrip = (1 + id % 5).toInt)
    }

  // ------------------------------------------------------------------ BMP

  /** Deterministic in-engine BMP synthesis (round 16, the fifth raster
    * leg): per doc, mode = doc_id % 3 —
    *   0: 8-bit PALETTED, index i = (id·37 + i·13) % 250 over w·h,
    *      250-entry palette j = ((j·37)%256, (j·59+17)%256, (j·83+29)%256)
    *   1: 24-bit bottom-up, RGB byte i = (id·37 + i·11) % 256
    *   2: 24-bit TOP-DOWN (negative height), same bytes
    *   w = 11 + id%13, h = 9 + id%11
    * The decoded buffer is always packed RGB, so the oracle replays the
    * formulas directly — and the position-weighted checksum makes a
    * missed bottom-up row flip fatal. */
  def synthesizeBmps(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    // the palette is a pure constant — build it once, not per document
    val bmpPalette = palette(250)
    synthesize(docs, idCol, "image/bmp") { id =>
      val w = (11 + id % 13).toInt
      val h = (9 + id % 11).toInt
      val mode = (id % 3).toInt
      if (mode == 0)
        // half the paletted rows ship BI_RLE8 (round 17): the
        // pixel formula is IDENTICAL, so the oracle is untouched —
        // compression must be results-invisible (the TIFF
        // LZW/Deflate convention)
        BmpCodec.encode(w, h, ramp(w * h, id * 37, 13, 250), bmpPalette, rle8 = id % 2 == 1)
      else {
        // header-variant rotation (round 17): the 24-bit rows ship
        // V5 (124) / OS/2-core (12) / V4 (108) / plain-40 headers
        // by id — pixels identical, oracle untouched (headers must
        // be results-invisible; core is bottom-up only)
        val dib =
          if (mode == 1) (if (id % 2 == 0) 124 else 12)
          else if (id % 2 == 0) 108 else 40
        BmpCodec.encode(w, h, ramp(w * h * 3, id * 37, 11), topDown = mode == 2, dib = dib)
      }
    }
  }

  /** 4-BIT BMP corpus (round 17 — the legacy clip-art shape): 16-entry
    * palette from the mode-0 formulas, indices (id·37 + i·13) mod 16,
    * uncompressed on even ids and BI_RLE4 on odd — the wire form must
    * be results-invisible, so ONE oracle covers both. */
  def synthesizeBmp4s(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val pal16 = palette(16)
    synthesize(docs, idCol, "image/bmp") { id =>
      val w = (11 + id % 13).toInt
      val h = (9 + id % 11).toInt
      BmpCodec.encode(w, h, ramp(w * h, id * 37, 13, 16), pal16,
        bpp4 = true, rle4 = id % 2 == 1)
    }
  }

  // ----------------------------------------------------------------- WebP

  /** WebP VP8L corpus (round 18 — a top-3 web-crawl image format):
    * w = 10 + id%11, h = 8 + id%9, RGB. Wire mode rotates id%7 through
    * plain literals / subtract-green / 16-color PALETTE (bundled
    * sub-byte indices) / LZ77+color-cache / PREDICTOR (mode id%14) /
    * COLOR transform / META PREFIX CODES (two huffman groups).
    * Pixel formulas (oracle-replayable):
    *   palette ids (id%7 == 2): idx(p) = (id·37 + p·13) mod 16,
    *     rgb(j) = (j·37 mod 256, (j·59+17) mod 256, (j·83+29) mod 256)
    *   all other modes: byte i of interleaved RGB = (id·37 + i·11) mod 256
    * — the wire mode must be results-INVISIBLE (lossless invariance),
    * so ONE oracle covers all six shapes. */
  def synthesizeWebps(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val pal16 = palette(16)
    synthesize(docs, idCol, "image/webp") { id =>
      val w = (10 + id % 11).toInt
      val h = (8 + id % 9).toInt
      val mode = (id % 7).toInt
      val px =
        if (mode == 2) expand(ramp(w * h, id * 37, 13, 16), pal16)
        else ramp(w * h * 3, id * 37, 11)
      // VP8X still-container rotation (round 19): every third file
      // wraps the same VP8L stream in an extended container —
      // results-invisible, so the oracle carries verbatim
      WebpCodec.encode(w, h, 3, px, mode = mode,
        predMode = (id % 14).toInt, vp8x = id % 3 == 1)
    }
  }

  /** ANIMATED-WEBP corpus (round 19 — the VP8X/ANIM/ANMF wire shape):
    * frame 0 full-canvas, frames 1-4 8x8 patches at EVEN formula
    * offsets (the wire stores offsets in 2-px units), all opaque RGB,
    * D = 0 (keep) — so a composited frame f shows, at each pixel, the
    * MOST RECENT frame whose rect covers it (the patch-GIF closed
    * form). Blend bit rotates B = 1 / B = 0 per frame (identical
    * results over opaque pixels — results-invisible), and each frame's
    * VP8L stream rotates the wire mode (id+g)%7, so all seven encoder
    * shapes ride the animation path too:
    *   w = 16 + id%9, h = 16 + id%7, frames = 5
    *   patch g ≥ 1: left = 2·((id·7 + g·5) mod ((w−8)/2 + 1)),
    *                top  = 2·((id·3 + g·11) mod ((h−8)/2 + 1))
    *   index at GLOBAL (x,y) of frame g: i = (id·31 + g·11 + x·7 + y·13) % 250
    *   channel values: ((i·37)%256, (i·59+17)%256, (i·83+29)%256) */
  def synthesizeAnimWebps(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val pal = palette(250)
    synthesize(docs, idCol, "image/webp") { id =>
      val w = (16 + id % 9).toInt
      val h = (16 + id % 7).toInt
      def px(g: Int, fw: Int, fh: Int, ox: Int, oy: Int): Array[Byte] = {
        val idx = new Array[Byte](fw * fh)
        var y = 0
        while (y < fh) {
          var x = 0
          while (x < fw) {
            idx(y * fw + x) = ((id * 31 + g * 11 + (ox + x) * 7L + (oy + y) * 13L) % 250).toByte
            x += 1
          }
          y += 1
        }
        expand(idx, pal)
      }
      val frames = (0 until 5).map { g =>
        val (ox, oy, fw, fh) =
          if (g == 0) (0, 0, w, h)
          else (2 * (((id * 7 + g * 5) % ((w - 8) / 2 + 1)).toInt),
                2 * (((id * 3 + g * 11) % ((h - 8) / 2 + 1)).toInt), 8, 8)
        WebpCodec.AnimFrameSpec(ox, oy, fw, fh, 3,
          px(g, fw, fh, ox, oy), durationMs = 40 + g,
          noBlend = g % 2 == 0, disposeBg = false,
          mode = ((id + g) % 7).toInt)
      }
      WebpCodec.encodeAnim(w, h, frames, loop = (id % 4).toInt)
    }
  }

  // ---------------------------------------------------------------- video

  /** The MJPEG frame recipe every video corpus wraps:
    * (width, height, JPEG frames). */
  private def mjpegFrames(id: Long): (Int, Int, IndexedSeq[Array[Byte]]) = {
    val w = (24 + id % 13).toInt
    val h = (16 + id % 11).toInt
    val comps = if (id % 2 == 0) 1 else 3
    (w, h, (0 until (3 + id % 4).toInt).map { f =>
      JpegCodec.encode(w, h, comps, flatBlocks(id, w, h, comps, f), quality = 90)
    })
  }

  /** Deterministic in-engine MOTION-JPEG synthesis: the video leg —
    * each document becomes a concatenated-JPEG stream (the classic
    * MJPEG container: complete SOI..EOI frames back to back), every
    * frame a REAL flat-block JPEG from the [[synthesizeJpegs]] recipe
    * with a per-frame term so frames differ deterministically:
    *   frames = 3 + doc_id % 4
    *   per frame f: width = 24 + doc_id % 13, height = 16 + doc_id % 11,
    *   comps = 1 if doc_id % 2 == 0 else 3,
    *   blockValue(bx, by, f) =
    *     128 + 3·(((doc_id·31 + bx·7 + by·13 + f·11) mod 53) − 26)
    * Output: (idCol, content binary, meta struct) — the asMedia shape. */
  def synthesizeMjpegs(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(docs, idCol, "video/x-motion-jpeg")(id => mjpegFrames(id)._3.toArray.flatten)

  /** [[synthesizeMjpegs]]' AVI-wrapped twin ([[AviCodec]] writes a
    * conforming RIFF/AVI — avih + MJPG strl headers, movi 00dc chunks,
    * idx1): the SAME frame formulas, so the container is pure LAYOUT
    * and q_frame_decode's oracle gates AVI container-invariance the way
    * the interlaced-PNG oracle gates layout. */
  def synthesizeAvis(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(docs, idCol, "video/x-msvideo") { id =>
      val (w, h, frames) = mjpegFrames(id)
      AviCodec.encode(frames, w, h)
    }

  /** [[synthesizeMjpegs]]' MP4-wrapped twin ([[Mp4Codec]] writes a
    * conforming ISO-BMFF file — ftyp/mdat/moov, a vide track with a
    * `jpeg` VisualSampleEntry and full stts/stsc/stsz/stco tables):
    * the SAME frame formulas, so q_frame_mp4 carries q_frame_decode's
    * oracle VERBATIM — container invariance, the q_frame_avi
    * convention. */
  def synthesizeMp4s(docs: DataFrame, idCol: String = "doc_id",
                     fragmented: Boolean = false): DataFrame =
    synthesize(docs, idCol, "video/mp4") { id =>
      val (w, h, frames) = mjpegFrames(id)
      // fragmented: 1-3 frames per moof so multi-fragment AND
      // multi-sample-per-trun shapes both appear in the corpus
      Mp4Codec.encode(frames, w, h,
        framesPerFragment = if (fragmented) (1 + id % 3).toInt else 0)
    }

  /** Matroska corpus (round 19, VERDICT r18 #5): the SAME flat-block
    * MJPEG frame recipe as [[synthesizeAvis]], wrapped in a real
    * EBML/Matroska file — V_MJPEG video track, keyframe SimpleBlocks
    * split across clusters of 1-3 frames, an audio track the walk must
    * skip on every third doc — so the q_frame_decode oracle carries
    * VERBATIM (container invariance, the AVI/MP4 convention). */
  def synthesizeMkvs(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(docs, idCol, "video/x-matroska") { id =>
      val (w, h, frames) = mjpegFrames(id)
      MkvCodec.encode(frames, w, h,
        perCluster = (1 + id % 3).toInt,
        withAudioTrack = id % 3 == 0)
    }

  // ------------------------------------------------------------------ PDF

  /** Image-XObject PDF corpus (round 19, VERDICT r18 #3 — the scanned-
    * document carrier: image-only PDFs whose text extraction is
    * legitimately empty): nPages = 1 + id%3 pages per doc; page p
    * (k = id + p) rotates the carrier k%3 → /FlateDecode raw samples
    * (RGB pages further rotating the /Indexed palette wire on k%12),
    * /DCTDecode (the flat-8x8-block JPEG recipe whose quality-90
    * reconstruction is provably exact — the q_image_jpeg gate), and
    * the bilevel family by k%12 — /CCITTFaxDecode G4 (2) and
    * byte-aligned MH (5), /JBIG2Decode generic region MQ (8;
    * TPGDON typical prediction on k%24==20) and MMR (11).
    * Geometry and pixels are pure formulas of (id, p), so the oracle
    * replays them byte-blind:
    *  - Flate: w = 4+k%13, h = 3+k%11, ch = 1|3 by k%2,
    *    v(i) = (id·31 + p·11 + i·7) mod 256
    *  - DCT: w = 24+k%13, h = 16+k%11, ch = 1|3 by k%2, all channels
    *    v(x,y) = 128 + 3·((k·31 + (x/8)·7 + (y/8)·13) mod 53 − 26)
    *  - CCITT: w = 17+k%16, h = 13+k%12, gray 0 (black) iff
    *    (k·37 + x·7 + y·13) mod 5 < 2 else 255 */
  def synthesizeImagePdfs(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(docs, idCol, "application/pdf") { id =>
      val specs = (0 until (1 + id % 3).toInt).map { p =>
        val k = id + p
        (k % 3) match {
          case 0 =>
            val w = (4 + k % 13).toInt
            val h = (3 + k % 11).toInt
            val ch = if (k % 2 == 0) 1 else 3
            // RGB Flate pages re-express as /Indexed palettes
            // (round 20, VERDICT r19 #6): hex-string lookup on
            // k%12==3, stream lookup on k%12==9 — identical decoded
            // pixels, so the oracle is untouched and a palette slip
            // breaks the hash (the v(i) stride-3 triples are keyed
            // by 3j mod 256, so ≤256 distinct colors by design).
            // GRAY pages rotate the BI…ID…EI INLINE-IMAGE wire on
            // k%12==6 (raw on k%24==6, /AHx on k%24==18) — the
            // fax-era in-content-stream shape, same pixels again
            val indexed =
              if (ch == 3) (if (k % 12 == 3) "hex" else "stream") else ""
            val filter =
              if (ch == 1 && k % 12 == 6)
                (if (k % 24 == 6) "INLINE" else "INLINEAHX")
              else "Flate"
            graft.pipeline.PdfCodec.ImagePageSpec(w, h, ch,
              ramp(w * h * ch, id * 31 + p * 11, 7), filter, indexed = indexed)
          case 1 =>
            val w = (24 + k % 13).toInt
            val h = (16 + k % 11).toInt
            val ch = if (k % 2 == 0) 1 else 3
            graft.pipeline.PdfCodec.ImagePageSpec(w, h, ch, flatBlocks(k, w, h, ch), "DCT")
          case _ =>
            val (w, h, px) = bilevel(k, ink = 0)
            // bilevel carrier rotates by k%12 (round 20, VERDICT
            // r19 #4): the same pixels ride CCITT G4 (k%12==2),
            // JBIG2 generic region via the MQ coder (k%12==8),
            // CCITT byte-aligned MH (k%12==5) and JBIG2 MMR
            // (k%12==11) — wire rotation results-invisible, so the
            // oracle is untouched and an MQ/template slip breaks
            // the hash
            val filter = (k % 12) match {
              case 8 => if (k % 24 == 20) "JBIG2TP" else "JBIG2"
              case 11 => "JBIG2MMR"
              case _ => "CCITT"
            }
            // k%24==23: the MMR leg ships STRIPED (two full-width
            // region segments at row offsets, OR-composited — the
            // real large-scan shape); decoded pixels identical
            graft.pipeline.PdfCodec.ImagePageSpec(w, h, 1, px, filter,
              ccittG4 = k % 2 == 0,
              jbig2Stripes = if (k % 24 == 23) 2 else 1)
        }
      }
      graft.pipeline.PdfCodec.encodeImagePdf(specs)
    }
}
