package graft.multimodal

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal (binary) column plumbing + real pure-JVM container parsers.
  *
  * Real pipelines carry image/audio/video as opaque `binary` columns.
  * graft depends on no codec library, but container *headers* need no
  * codec: `decodeHeader` parses actual PNG (signature
  * + IHDR) and JPEG (marker scan to SOFn) bytes for dimensions and
  * format — the same work an image pipeline's metadata pass does — and
  * the other parsers walk real TIFF/WAV/MP4/tar/zip/WARC/NPY/
  * safetensors/PDF structure the same way.
  *
  * The Spark side is two functions. `synthesize` turns `documents` into
  * (doc_id, payload) rows through a per-record `synthX`, reading doc_id
  * plus the one column that synthesizer names; `decode` turns
  * (doc_id, payload) rows into typed rows through a per-record parser.
  * Both are one typed `map` each — no per-partition state, no driver-
  * side collection — so decoding runs in the scan's stage and payload
  * bytes never shuffle. Every parser is a plain function of
  * (doc_id, bytes) that returns its invalid/"unknown" row on malformed
  * input and never throws (one throw fails the whole job): numeric
  * fields are read wide and bound-checked before use. New formats go
  * through these two functions and the shared byte helpers below.
  *
  * Each `synthX` builds VALID payloads deterministically from document
  * fields, so an oracle can predict what decoding them must yield.
  */
object Multimodal {

  case class BinaryDoc(doc_id: Long, payload: Array[Byte])

  // ----------------------------------------------------- spark plumbing

  /** `documents` → (doc_id, payload): `make` sees doc_id and the
    * `input` column (doc_id itself for id-only formats), the only
    * columns the documents scan reads. */
  def synthesize[A: TypeTag](docs: DataFrame, input: String)(
      make: (Long, A) => Array[Byte]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col(input)).as[(Long, A)]
      .map { case (id, a) => BinaryDoc(id, make(id, a)) }.toDF()
  }

  /** (doc_id, payload) rows → one `parse` row each. */
  def decode[T <: Product : TypeTag](payloads: DataFrame)(
      parse: (Long, Array[Byte]) => T): Dataset[T] = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id").cast("long"), col("payload").cast("binary"))
      .as[BinaryDoc].map(d => parse(d.doc_id, d.payload))
  }

  // --------------------------------------------------------- byte order

  private final val LE = true
  private final val BE = false

  /** Unsigned 16-bit field at `off`. */
  private def u16(b: Array[Byte], off: Int, little: Boolean): Int =
    if (little) (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)
    else ((b(off) & 0xFF) << 8) | (b(off + 1) & 0xFF)

  /** 32-bit field at `off` as an Int: a set high bit reads back
    * negative, so offsets and lengths must be sign-checked or widened
    * (`& 0xFFFFFFFFL`) before use. */
  private def u32(b: Array[Byte], off: Int, little: Boolean): Int =
    if (little) u16(b, off, LE) | (u16(b, off + 2, LE) << 16)
    else (u16(b, off, BE) << 16) | u16(b, off + 2, BE)

  private def w16(v: Int, little: Boolean): Array[Byte] =
    if (little) Array(v.toByte, (v >>> 8).toByte)
    else Array((v >>> 8).toByte, v.toByte)

  private def w32(v: Int, little: Boolean): Array[Byte] =
    if (little) w16(v, LE) ++ w16(v >>> 16, LE)
    else w16(v >>> 16, BE) ++ w16(v, BE)

  private def ascii(b: Array[Byte], off: Int, n: Int): String =
    new String(b, off, n, "US-ASCII")

  /** `n` deterministic filler bytes (seed + i) mod 251. */
  private def filler(n: Int, seed: Long): Array[Byte] =
    Array.tabulate(n)(i => ((seed + i) % 251).toByte)

  /** Integer value of a run of ASCII digits, or -1 when it overflows a
    * Long — no payload offset or length is that large, so callers take
    * their out-of-range path on any negative. */
  private def digitsValue(d: String): Long = d.toLongOption.getOrElse(-1L)

  // ---------------------------------------------------------- png/jpeg

  case class DecodedMeta(doc_id: Long, byte_len: Int, width: Int, height: Int,
      format: String)

  /** A PNG chunk: length + type + data + CRC32(type ++ data). */
  private def pngChunk(chunkType: String, data: Array[Byte]): Array[Byte] = {
    val crc = new java.util.zip.CRC32()
    val t = chunkType.getBytes("US-ASCII")
    crc.update(t); crc.update(data)
    w32(data.length, BE) ++ t ++ data ++ w32(crc.getValue.toInt, BE)
  }

  /** Valid PNG: 8-byte signature, IHDR (8-bit RGBA), an IDAT of `pad`
    * deterministic bytes, IEND. Total length = 57 + pad. */
  def synthPng(width: Int, height: Int, pad: Int): Array[Byte] = {
    val ihdr = pngChunk("IHDR",
      w32(width, BE) ++ w32(height, BE) ++ Array[Byte](8, 6, 0, 0, 0))
    pngSig ++ ihdr ++ pngChunk("IDAT", filler(pad, 0)) ++
      pngChunk("IEND", Array.emptyByteArray)
  }

  /** Valid JPEG: SOI, JFIF APP0, SOF0 (3-component baseline), `pad`
    * entropy bytes, EOI. Total length = 41 + pad. */
  def synthJpeg(width: Int, height: Int, pad: Int): Array[Byte] = {
    val soi = Array(0xFF, 0xD8).map(_.toByte)
    val app0 = Array(0xFF, 0xE0).map(_.toByte) ++ w16(16, BE) ++
      "JFIF".getBytes("US-ASCII") ++
      Array[Byte](0, 1, 1, 0) ++ w16(1, BE) ++ w16(1, BE) ++ Array[Byte](0, 0)
    val sof0 = Array(0xFF, 0xC0).map(_.toByte) ++ w16(17, BE) ++ Array[Byte](8) ++
      w16(height, BE) ++ w16(width, BE) ++ Array[Byte](3) ++
      Array[Byte](1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)
    soi ++ app0 ++ sof0 ++ filler(pad, 0) ++ Array(0xFF, 0xD9).map(_.toByte)
  }

  /** Image dimensions every x-family image synthesizer derives from
    * doc_id: (id % 640 + 16, id % 480 + 16). */
  private def dims(id: Long): (Int, Int) = ((id % 640).toInt + 16, (id % 480).toInt + 16)

  /** Deterministic image payload for a document: even ids are PNG, odd
    * are JPEG; dims and padding derive from (doc_id, n_chars) so the
    * DuckDB oracle can compute the expected decode output
    * arithmetically. */
  def synthImage(id: Long, nChars: Long): Array[Byte] = {
    val (w, h) = dims(id)
    val pad = math.floorMod(nChars, 100L).toInt
    if (id % 2 == 0) synthPng(w, h, pad) else synthJpeg(w, h, pad)
  }

  /** Payloads with deliberate byte-identical duplicates: all synthesis
    * parameters derive from `doc_id % 40` (a residue below 100 stays
    * inside the pad range), so docs sharing a residue share the exact
    * payload bytes and payloads of different residues differ (width is
    * injective in the residue). Feeds content-hash dedup (x7), whose
    * oracle predicts group structure from the same residue. */
  def synthShared(id: Long): Array[Byte] = {
    val r = math.floorMod(id, 40L)
    synthImage(r, r)
  }

  private val pngSig =
    Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  /** Parse real container headers for dimensions + format.
    * PNG: verify the 8-byte signature and that the first chunk is IHDR;
    * width/height are big-endian u32 at offsets 16/20.
    * JPEG: verify SOI, then walk marker segments (each FF xx + u16
    * length) until a frame header SOFn (C0-CF excluding C4/C8/CC);
    * height/width are u16 at payload offsets 3/5.
    * Anything else (or truncated) → ("unknown", 0, 0). */
  def decodeHeader(id: Long, bytes: Array[Byte]): DecodedMeta = {
    val len = bytes.length
    def unknown = DecodedMeta(id, len, 0, 0, "unknown")
    if (len >= 24 && bytes.startsWith(pngSig) &&
        u32(bytes, 8, BE) == 13 && ascii(bytes, 12, 4) == "IHDR") {
      DecodedMeta(id, len, u32(bytes, 16, BE), u32(bytes, 20, BE), "png")
    } else if (len >= 4 && (bytes(0) & 0xFF) == 0xFF && (bytes(1) & 0xFF) == 0xD8) {
      var pos = 2
      while (pos + 9 <= len && (bytes(pos) & 0xFF) == 0xFF) {
        val marker = bytes(pos + 1) & 0xFF
        if (marker >= 0xC0 && marker <= 0xCF &&
            marker != 0xC4 && marker != 0xC8 && marker != 0xCC) {
          return DecodedMeta(id, len, u16(bytes, pos + 7, BE), u16(bytes, pos + 5, BE),
            "jpeg")
        }
        pos += 2 + u16(bytes, pos + 2, BE) // skip segment: marker + length field
      }
      unknown
    } else unknown
  }

  // ---------------------------------------------------------------- wav

  case class AudioMeta(doc_id: Long, byte_len: Int, sample_rate: Int,
      channels: Int, format: String)

  /** A RIFF/WAVE file: PCM fmt chunk (little-endian, the inverse byte
    * order of PNG/JPEG) and one data chunk. Length = 44 + data. */
  private def wavFile(rate: Int, channels: Int, bits: Int,
      data: Array[Byte]): Array[Byte] = {
    val fmt = "fmt ".getBytes("US-ASCII") ++ w32(16, LE) ++ w16(1, LE) ++
      w16(channels, LE) ++ w32(rate, LE) ++ w32(rate * channels * bits / 8, LE) ++
      w16(channels * bits / 8, LE) ++ w16(bits, LE)
    "RIFF".getBytes("US-ASCII") ++ w32(36 + data.length, LE) ++
      "WAVE".getBytes("US-ASCII") ++ fmt ++
      "data".getBytes("US-ASCII") ++ w32(data.length, LE) ++ data
  }

  /** Valid 16-bit WAV with `pad` data bytes. Length = 44 + pad. */
  def synthWav(sampleRate: Int, channels: Int, pad: Int): Array[Byte] =
    wavFile(sampleRate, channels, 16, filler(pad, 0))

  /** WAV payload per doc: sample rate and channels derive from doc_id
    * so the oracle predicts the decode arithmetically. */
  def synthAudio(id: Long, nChars: Long): Array[Byte] =
    synthWav(Seq(8000, 16000, 22050, 44100)((id % 4).toInt), (id % 2).toInt + 1,
      math.floorMod(nChars, 100L).toInt)

  /** Parse a WAV header: verify RIFF....WAVE, then read the PCM fmt
    * chunk's channel count and sample rate (little-endian u16/u32). */
  def decodeAudioHeader(id: Long, bytes: Array[Byte]): AudioMeta = {
    val len = bytes.length
    if (len >= 36 && ascii(bytes, 0, 4) == "RIFF" &&
        ascii(bytes, 8, 4) == "WAVE" && ascii(bytes, 12, 4) == "fmt ") {
      AudioMeta(id, len, u32(bytes, 24, LE), u16(bytes, 22, LE), "wav")
    } else AudioMeta(id, len, 0, 0, "unknown")
  }

  /** The 8-bit mono PCM gate: RIFF/WAVE/fmt/data at their canonical
    * offsets, REQUIRE 8-bit mono (a 16-bit or stereo file fails rather
    * than mis-framing), and clamp the data chunk's declared size to the
    * bytes actually present (truncation-safe). Some((sample rate,
    * sample count)), or None. */
  private def pcm8Mono(bytes: Array[Byte]): Option[(Int, Int)] = {
    if (bytes.length < 44 || ascii(bytes, 0, 4) != "RIFF" ||
        ascii(bytes, 8, 4) != "WAVE" || ascii(bytes, 12, 4) != "fmt " ||
        ascii(bytes, 36, 4) != "data") return None
    if (u16(bytes, 22, LE) != 1 || u16(bytes, 34, LE) != 8) return None
    val n = math.min(u32(bytes, 40, LE), bytes.length - 44)
    if (n < 0) None else Some((u32(bytes, 24, LE), n))
  }

  /** L1 energy Σ|s − 128| of each of the first `n` 50-sample frames
    * of an 8-bit PCM WAV. */
  private def frameEnergies(bytes: Array[Byte], n: Int): Array[Long] = {
    val e = new Array[Long](n)
    var f = 0
    while (f < n) {
      var i = 0
      while (i < 50) {
        e(f) += math.abs((bytes(44 + f * 50 + i) & 0xFF) - 128)
        i += 1
      }
      f += 1
    }
    e
  }

  // --------------------------------------------------------------- tiff

  case class TiffMeta(doc_id: Long, byte_len: Int, byte_order: String,
    width: Int, height: Int)

  /** A minimal valid TIFF (TIFF 6.0 §2): byte-order marker ("II" little
    * / "MM" big), magic 42, IFD offset 8, then one IFD of SHORT
    * `(tag, value)` entries — the value left-justified in its 4-byte
    * field per spec, which is the part a naive "always read u32" parser
    * gets wrong on big-endian files. */
  private def tiffIfd(little: Boolean, entries: (Int, Int)*): Array[Byte] =
    (if (little) "II" else "MM").getBytes("US-ASCII") ++ w16(42, little) ++
      w32(8, little) ++ w16(entries.length, little) ++
      entries.toArray.flatMap { case (tag, v) =>
        w16(tag, little) ++ w16(3, little) ++ w32(1, little) ++
          w16(v, little) ++ w16(0, little)
      } ++ w32(0, little)

  /** ImageWidth (256) / ImageLength (257) TIFF plus `pad` filler bytes. */
  def synthTiff(width: Int, height: Int, little: Boolean, pad: Int): Array[Byte] =
    tiffIfd(little, 256 -> width, 257 -> height) ++
      Array.tabulate(pad)(i => (i % 253).toByte)

  /** TIFF payload per doc: dimensions and byte order derive from doc_id
    * (even → little-endian, odd → big-endian) so the oracle predicts
    * every decoded field arithmetically. */
  def synthTiffDoc(id: Long, nChars: Long): Array[Byte] = {
    val (w, h) = dims(id)
    synthTiff(w, h, id % 2 == 0, math.floorMod(nChars, 100L).toInt)
  }

  /** Parse a TIFF header in EITHER byte order: marker → endianness,
    * magic 42 check, IFD walk collecting ImageWidth/ImageLength (SHORT
    * left-justified or LONG). Returns byte_order "unknown" and zero
    * dims on bad marker, bad magic, or a truncated IFD. */
  def decodeTiffHeader(id: Long, bytes: Array[Byte]): TiffMeta = {
    val len = bytes.length
    def unknown = TiffMeta(id, len, "unknown", 0, 0)
    if (len < 8) return unknown
    val marker = ascii(bytes, 0, 2)
    val little = marker == "II"
    if (!little && marker != "MM") return unknown
    if (u16(bytes, 2, little) != 42) return unknown
    val ifd = u32(bytes, 4, little)
    if (ifd < 8 || ifd + 2 > len) return unknown
    val n = u16(bytes, ifd, little)
    if (ifd + 2 + n * 12 + 4 > len) return unknown
    var w = 0; var h = 0
    for (i <- 0 until n) {
      val off = ifd + 2 + i * 12
      val tag = u16(bytes, off, little); val typ = u16(bytes, off + 2, little)
      // SHORT (3) is left-justified in the 4-byte value field; LONG (4)
      // fills it — both legal encodings for these tags
      val v = if (typ == 3) u16(bytes, off + 8, little) else u32(bytes, off + 8, little)
      if (tag == 256) w = v else if (tag == 257) h = v
    }
    TiffMeta(id, len, if (little) "le" else "be", w, h)
  }

  /** TIFF IFD walk for tag 274 at TIFF base `tb` (offsets relative to
    * the base, either byte order) — shared by the JPEG/APP1 path (x21)
    * and the oriented-gray trailer (x22). Returns (byte order, 1-8
    * orientation) or None for anything unparseable. */
  private def tiffOrientation(bytes: Array[Byte], tb: Int,
      len: Int): Option[(String, Int)] = {
    if (tb < 0 || tb + 8 > len) return None
    val mark = ascii(bytes, tb, 2)
    val little = mark == "II"
    if (!little && mark != "MM") return None
    if (u16(bytes, tb + 2, little) != 42) return None
    // parse wide + bounds-check BEFORE use (the x16/x18 lesson): a
    // tampered IFD offset with the high bit set reads back negative
    // from u32 and would index before the buffer
    val ifdOff = u32(bytes, tb + 4, little)
    if (ifdOff < 0 || ifdOff > len) return None
    val ifd = tb + ifdOff
    if (ifd < 0 || ifd + 2 > len) return None
    val n = u16(bytes, ifd, little)
    var i = 0
    while (i < n && ifd + 2 + 12 * (i + 1) <= len) {
      val e = ifd + 2 + 12 * i
      if (u16(bytes, e, little) == 274 && u16(bytes, e + 2, little) == 3) {
        val ori = u16(bytes, e + 8, little) // SHORT left-justified in the value field
        if (ori >= 1 && ori <= 8)
          return Some((if (little) "II" else "MM", ori))
      }
      i += 1
    }
    None // no usable orientation tag
  }

  // ------------------------------------------- mixed-container sniffing

  case class SniffedMeta(doc_id: Long, kind: String, d1: Int, d2: Int)

  /** Mixed payloads — the real crawl shape: content-type is NOT known
    * up front (doc_id%4 rotates PNG / JPEG / WAV / TIFF here), so the
    * reader must SNIFF the magic bytes and dispatch to the right
    * decoder. */
  def synthMixed(id: Long, nChars: Long): Array[Byte] = {
    val (w, h) = dims(id)
    val pad = math.floorMod(nChars, 100L).toInt
    (id % 4) match {
      case 0 => synthPng(w, h, pad)
      case 1 => synthJpeg(w, h, pad)
      // rate pinned to 22050: this branch only fires at id%4==2, so
      // any rate "lookup" keyed on id%4 is dead generality — and the
      // x14 oracle hard-codes 22050, so the literal keeps generator
      // and oracle visibly in sync
      case 2 => synthWav(22050, (id % 2).toInt + 1, pad)
      case _ => synthTiff(w, h, id % 8 < 4, pad)
    }
  }

  /** Magic-byte dispatch: classify by signature, then run the matching
    * header decoder — the uniform (kind, d1, d2) row a mixed-modality
    * manifest wants (images: width/height; audio: rate/channels). A
    * payload matching no signature classifies "unknown" instead of
    * being mis-parsed by the wrong decoder. */
  def sniffDecodeHeader(id: Long, bytes: Array[Byte]): SniffedMeta = {
    def u8(i: Int) = bytes(i) & 0xFF
    if (bytes.length >= 8 && u8(0) == 0x89 && u8(1) == 'P'.toInt &&
        u8(2) == 'N'.toInt && u8(3) == 'G'.toInt) {
      val m = decodeHeader(id, bytes)
      SniffedMeta(id, "png", m.width, m.height)
    } else if (bytes.length >= 2 && u8(0) == 0xFF && u8(1) == 0xD8) {
      val m = decodeHeader(id, bytes)
      SniffedMeta(id, "jpeg", m.width, m.height)
    } else if (bytes.length >= 12 &&
        ascii(bytes, 0, 4) == "RIFF" && ascii(bytes, 8, 4) == "WAVE") {
      val m = decodeAudioHeader(id, bytes)
      SniffedMeta(id, "wav", m.sample_rate, m.channels)
    } else if (bytes.length >= 8 && {
        val mk = ascii(bytes, 0, 2); mk == "II" || mk == "MM" }) {
      val m = decodeTiffHeader(id, bytes)
      if (m.byte_order == "unknown") SniffedMeta(id, "unknown", 0, 0)
      else SniffedMeta(id, "tiff", m.width, m.height)
    } else SniffedMeta(id, "unknown", 0, 0)
  }

  // -------------------------------------------------------------- video

  case class VideoMeta(doc_id: Long, byte_len: Int, brand: String,
      timescale: Int, duration_units: Long, duration_ms: Long)

  /** An ISO-BMFF box: u32 BE size (incl. header) + 4-char type + body. */
  private def mp4Box(boxType: String, body: Array[Byte]): Array[Byte] =
    w32(8 + body.length, BE) ++ boxType.getBytes("US-ASCII") ++ body

  /** Valid minimal MP4: ftyp (major brand + one compatible brand),
    * moov[mvhd v0] (timescale + duration at their real offsets, identity
    * matrix, standard 108-byte mvhd), mdat of `pad` bytes.
    * Total length = 24 + 116 + 8 + pad = 148 + pad. */
  def synthMp4(brand: String, timescale: Int, durationUnits: Long,
      pad: Int): Array[Byte] = {
    def word(v: Int) = w32(v, BE) // mvhd fields are big-endian u32s
    val ftyp = mp4Box("ftyp",
      brand.getBytes("US-ASCII") ++ word(0) ++ "isom".getBytes("US-ASCII") ++
        "iso2".getBytes("US-ASCII"))
    val mvhd = mp4Box("mvhd",
      Array[Byte](0, 0, 0, 0) ++            // version 0 + flags
        word(0) ++ word(0) ++               // creation, modification
        word(timescale) ++ word(durationUnits.toInt) ++
        word(0x00010000) ++ w16(0x0100, BE) ++ // rate 1.0, volume 1.0
        Array.fill[Byte](10)(0) ++          // reserved
        (word(0x00010000) ++ word(0) ++ word(0) ++ word(0) ++
          word(0x00010000) ++ word(0) ++ word(0) ++ word(0) ++
          word(0x40000000)) ++              // identity matrix
        Array.fill[Byte](24)(0) ++          // pre_defined
        word(2))                            // next_track_ID
    ftyp ++ mp4Box("moov", mvhd) ++ mp4Box("mdat", filler(pad, 0))
  }

  /** MP4 payload per doc: brand/timescale/duration derive from doc_id
    * (whole seconds 1..120 at the residue-selected timescale), pad from
    * n_chars — all oracle-predictable arithmetic. */
  def synthVideo(id: Long, nChars: Long): Array[Byte] = {
    val timescale = Seq(600, 1000, 90000, 44100)((id % 4).toInt)
    synthMp4(if (id % 2 == 0) "isom" else "mp42", timescale,
      (id % 120 + 1) * timescale, math.floorMod(nChars, 100L).toInt)
  }

  /** Walk the top-level box sequence to moov, then moov's children to
    * mvhd (the real ISO-BMFF traversal — no fixed offsets), and read
    * timescale/duration as big-endian u32. duration_ms is integer
    * arithmetic (units * 1000 div timescale) so the oracle can predict
    * it exactly. Anything malformed → ("unknown", 0, 0, 0). Offsets are
    * Longs and every box read stays inside the payload, so a tampered
    * box size can neither wrap an offset nor read past the end. */
  def decodeVideoHeader(id: Long, bytes: Array[Byte]): VideoMeta = {
    val len = bytes.length
    def boxType(off: Long) = ascii(bytes, off.toInt + 4, 4)
    def size(off: Long) = u32(bytes, off.toInt, BE)
    def unknown = VideoMeta(id, len, "unknown", 0, 0L, 0L)
    if (len < 16 || boxType(0) != "ftyp" || size(0) < 16) return unknown
    val brand = ascii(bytes, 8, 4)
    // walk top-level boxes for moov
    var off = size(0).toLong
    while (off + 8 <= len && boxType(off) != "moov") {
      val sz = size(off)
      if (sz < 8) return unknown
      off += sz
    }
    if (off + 8 > len) return unknown
    val moovEnd = math.min(off + size(off), len.toLong)
    // walk moov children for mvhd
    var c = off + 8
    while (c + 8 <= moovEnd && boxType(c) != "mvhd") {
      val sz = size(c)
      if (sz < 8) return unknown
      c += sz
    }
    if (c + 28 > len || bytes(c.toInt + 8) != 0) return unknown // need mvhd v0
    val timescale = u32(bytes, c.toInt + 20, BE)
    val duration = u32(bytes, c.toInt + 24, BE).toLong & 0xFFFFFFFFL
    if (timescale <= 0) return unknown
    VideoMeta(id, len, brand, timescale, duration, duration * 1000L / timescale)
  }

  // ---------------------------------------------------------------- tar

  case class TarIndex(doc_id: Long, byte_len: Int, n_members: Int,
      member_names: String, data_bytes: Long, checksums_ok: Int)

  /** Member sizes of a document's two-member shard (tar/zip/WARC, so
    * x10/x11/x12 index the same logical content): (n_chars % 100 + 1,
    * doc_id % 50 + 2). */
  private def shardSizes(id: Long, nChars: Long): (Long, Long) =
    (nChars % 100 + 1, id % 50 + 2)

  /** One 512-byte ustar header. Octal text fields (the format's quirk:
    * sizes are ASCII octal, not binary), checksum computed with the
    * chksum field blanked to spaces per the spec. */
  private def tarHeader(name: String, size: Long): Array[Byte] = {
    val h = Array.fill[Byte](512)(0)
    def put(off: Int, s: String): Unit = {
      val b = s.getBytes("US-ASCII"); System.arraycopy(b, 0, h, off, b.length)
    }
    put(0, name)
    put(100, "0000644")               // mode
    put(108, "0000000"); put(116, "0000000") // uid/gid
    put(124, f"${size}%011o")         // size: 11 octal digits + NUL
    put(136, "00000000000")           // mtime
    h(156) = '0'                      // typeflag: regular file
    put(257, "ustar"); h(262) = 0     // magic
    put(263, "00")                    // version
    java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum blanked
    val sum = h.map(_ & 0xFF).sum
    put(148, f"${sum}%06o"); h(154) = 0; h(155) = ' '
    h
  }

  /** A 2-member uncompressed tar: doc<id>.txt + meta<id>.json (sizes
    * from `shardSizes`), data zero-filled and 512-padded, two zero end
    * blocks. */
  def synthTar(id: Long, nChars: Long): Array[Byte] = {
    val (s1, s2) = shardSizes(id, nChars)
    def pad512(n: Long): Int = (((n + 511) / 512) * 512).toInt
    val out = new java.io.ByteArrayOutputStream()
    out.write(tarHeader(s"doc$id.txt", s1)); out.write(new Array[Byte](pad512(s1)))
    out.write(tarHeader(s"meta$id.json", s2)); out.write(new Array[Byte](pad512(s2)))
    out.write(new Array[Byte](1024))
    out.toByteArray
  }

  /** Walk the real header chain: parse names + octal sizes, verify every
    * checksum, stop at the zero block. Truncated/garbage archives report
    * what was walked with checksums_ok = 0. The block advance is a Long
    * and a negative size ends the walk, so a tampered size field can
    * neither wrap the offset nor walk it backwards forever. */
  def decodeTarIndex(id: Long, bytes: Array[Byte]): TarIndex = {
    var off = 0L
    var names = List.empty[String]
    var data = 0L
    var oks = true
    var done = false
    while (!done && off + 512 <= bytes.length) {
      val block = bytes.slice(off.toInt, off.toInt + 512)
      if (block.forall(_ == 0)) done = true
      else {
        val name = new String(block.takeWhile(_ != 0), "US-ASCII")
        val sizeStr = new String(block.slice(124, 135), "US-ASCII").trim
        val size = try java.lang.Long.parseLong(sizeStr, 8) catch { case _: Exception => oks = false; 0L }
        val stored = try java.lang.Integer.parseInt(
          new String(block.slice(148, 154), "US-ASCII").trim, 8) catch { case _: Exception => -1 }
        val blanked = block.clone()
        java.util.Arrays.fill(blanked, 148, 156, ' '.toByte)
        if (blanked.map(_ & 0xFF).sum != stored) oks = false
        names = name :: names
        data += size
        if (size < 0) { oks = false; done = true }
        off += 512 + ((size + 511) / 512) * 512
      }
    }
    TarIndex(id, bytes.length, names.length, names.reverse.mkString(","), data,
      if (oks) 1 else 0)
  }

  // ---------------------------------------------------------------- zip

  case class ZipIndex(doc_id: Long, byte_len: Int, n_members: Int,
      member_names: String, data_bytes: Long, crc_ok: Int, structure_ok: Int)

  /** A 2-member STORED (method 0) zip: doc<id>.txt + meta<id>.json with
    * deterministic data bytes (sizes from `shardSizes`), real CRC-32s, a
    * central directory, and an end-of-central-directory record — the
    * container WebDataset-style training shards actually use. */
  def synthZip(id: Long, nChars: Long): Array[Byte] = {
    val (s1, s2) = shardSizes(id, nChars)
    val members = Seq((s"doc$id.txt", filler(s1.toInt, id)),
      (s"meta$id.json", filler(s2.toInt, id + 7)))
    val out = new java.io.ByteArrayOutputStream()
    def put16(v: Int): Unit = out.write(w16(v, LE))
    def put32(v: Long): Unit = out.write(w32(v.toInt, LE))
    val entries = members.map { case (name, d) =>
      val crc = new java.util.zip.CRC32(); crc.update(d, 0, d.length)
      val off = out.size()
      put32(0x04034b50L); put16(20); put16(0); put16(0); put16(0); put16(0)
      put32(crc.getValue); put32(d.length.toLong); put32(d.length.toLong)
      put16(name.length); put16(0)
      out.write(name.getBytes("US-ASCII")); out.write(d)
      (name, d.length.toLong, crc.getValue, off.toLong)
    }
    val cdOff = out.size()
    entries.foreach { case (name, sz, crc, off) =>
      put32(0x02014b50L); put16(20); put16(20); put16(0); put16(0); put16(0); put16(0)
      put32(crc); put32(sz); put32(sz); put16(name.length); put16(0); put16(0)
      put16(0); put16(0); put32(0L); put32(off)
      out.write(name.getBytes("US-ASCII"))
    }
    val cdSize = out.size() - cdOff
    put32(0x06054b50L); put16(0); put16(0); put16(entries.length); put16(entries.length)
    put32(cdSize.toLong); put32(cdOff.toLong); put16(0)
    out.toByteArray
  }

  /** The real production walk: scan BACKWARD for the end-of-central-
    * directory signature (its trailing comment is variable-length, so
    * every real unzip does this), follow cd_offset, parse each central
    * entry, then cross-check its local header (signature + name) and
    * recompute the member's CRC-32 against the recorded one. Offsets
    * and sizes are unsigned 32-bit, read as Longs and bound-checked
    * before use. Truncated or inconsistent archives report what was
    * walked with structure_ok/crc_ok = 0 instead of throwing. */
  def decodeZipIndex(id: Long, bytes: Array[Byte]): ZipIndex = {
    val len = bytes.length
    def uint32(off: Int): Long = u32(bytes, off, LE) & 0xFFFFFFFFL
    var eocd = len - 22
    while (eocd >= 0 && uint32(eocd) != 0x06054b50L) eocd -= 1
    if (eocd < 0) return ZipIndex(id, len, 0, "", 0L, 0, 0)
    val n = u16(bytes, eocd + 10, LE)
    var off = uint32(eocd + 16)
    var names = List.empty[String]
    var dataSum = 0L
    var crcOk = true
    var structOk = true
    var k = 0
    while (k < n && off + 46 <= len && structOk) {
      val o = off.toInt
      val nlen = u16(bytes, o + 28, LE); val elen = u16(bytes, o + 30, LE)
      val clen = u16(bytes, o + 32, LE)
      if (uint32(o) != 0x02014b50L || o + 46 + nlen > len) structOk = false
      else {
        val crc = uint32(o + 16); val csize = uint32(o + 20); val usize = uint32(o + 24)
        val lfh = uint32(o + 42)
        val name = ascii(bytes, o + 46, nlen)
        if (lfh + 30 > len || uint32(lfh.toInt) != 0x04034b50L) structOk = false
        else {
          val l = lfh.toInt
          val lnlen = u16(bytes, l + 26, LE); val lelen = u16(bytes, l + 28, LE)
          if (l + 30 + lnlen > len || ascii(bytes, l + 30, lnlen) != name) structOk = false
          val dOff = l + 30 + lnlen + lelen
          if (dOff + csize > len) structOk = false
          else {
            val c = new java.util.zip.CRC32(); c.update(bytes, dOff, csize.toInt)
            if (c.getValue != crc) crcOk = false
          }
        }
        names ::= name; dataSum += usize
        off += 46 + nlen + elen + clen; k += 1
      }
    }
    if (names.length != n) structOk = false
    ZipIndex(id, len, names.length, names.reverse.mkString(","),
      dataSum, if (crcOk) 1 else 0, if (structOk) 1 else 0)
  }

  // --------------------------------------------------------------- warc

  case class WarcIndex(doc_id: Long, byte_len: Int, n_records: Int,
      n_responses: Int, uris: String, content_bytes: Long, structure_ok: Int)

  /** One WARC/1.0 record (ISO 28500 — the CommonCrawl container, i.e.
    * THE on-disk format of web-scale training text): version line, CRLF
    * headers (WARC-Target-URI only when `uri` is non-empty), a body
    * delimited by Content-Length, CRLF CRLF terminator — exactly what a
    * real WARC reader walks. */
  private def warcRecord(wtype: String, uri: String, body: Array[Byte]): Array[Byte] =
    (s"WARC/1.0\r\nWARC-Type: $wtype\r\n" +
      (if (uri.isEmpty) "" else s"WARC-Target-URI: $uri\r\n") +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII") ++
      body ++ "\r\n\r\n".getBytes("US-ASCII")

  private val warcInfo: Array[Byte] =
    warcRecord("warcinfo", "", "info".getBytes("US-ASCII"))

  /** A minimal valid WARC shard: one warcinfo record + two response
    * records with deterministic payload bytes (sizes from `shardSizes`). */
  def synthWarc(id: Long, nChars: Long): Array[Byte] = {
    val (s1, s2) = shardSizes(id, nChars)
    warcInfo ++
      warcRecord("response", s"http://ex.org/doc$id", filler(s1.toInt, id)) ++
      warcRecord("response", s"http://ex.org/meta$id", filler(s2.toInt, id + 7))
  }

  /** A record the WARC walk accepted: its type, target URI and body span. */
  private case class WarcEntry(wtype: String, uri: String, off: Int, len: Int)

  /** The real reader walk: expect the version line, scan CRLF header
    * lines to the blank separator collecting WARC-Type /
    * WARC-Target-URI / Content-Length, skip exactly Content-Length
    * payload bytes, require the CRLF CRLF terminator, hand the record
    * to `visit`, and repeat to EOF or until `visit` returns false.
    * Returns false on malformed input (bad version line, unparseable or
    * out-of-range length, missing terminator, truncation). */
  private def walkWarc(bytes: Array[Byte])(visit: WarcEntry => Boolean): Boolean = {
    var off = 0
    var ok = true
    var more = true
    def line(): String = { // consume one CRLF-terminated ASCII line
      val start = off
      while (off + 1 < bytes.length && !(bytes(off) == '\r' && bytes(off + 1) == '\n')) off += 1
      if (off + 1 >= bytes.length) { ok = false; off = bytes.length; "" }
      else { val s = ascii(bytes, start, off - start); off += 2; s }
    }
    while (ok && more && off < bytes.length) {
      if (line() != "WARC/1.0") ok = false
      else {
        var wtype = ""; var uri = ""; var clen = -1L
        var h = line()
        while (ok && h.nonEmpty) {
          val i = h.indexOf(": ")
          if (i < 0) ok = false
          else h.substring(0, i) match {
            case "WARC-Type"       => wtype = h.substring(i + 2)
            case "WARC-Target-URI" => uri = h.substring(i + 2)
            case "Content-Length" =>
              clen = try h.substring(i + 2).toLong catch { case _: Exception => ok = false; -1L }
            case _ => ()
          }
          if (ok) h = line()
        }
        // compare against the bytes left, never `off + clen`: a length
        // near Long.MaxValue would wrap that sum negative
        if (ok && (clen < 0 || clen > bytes.length - off - 4)) ok = false
        if (ok) {
          val start = off
          off += clen.toInt
          if (!(bytes(off) == '\r' && bytes(off + 1) == '\n' &&
                bytes(off + 2) == '\r' && bytes(off + 3) == '\n')) ok = false
          else {
            off += 4
            more = visit(WarcEntry(wtype, uri, start, clen.toInt))
          }
        }
      }
    }
    ok
  }

  /** WARC index: every record walked, response URIs and body bytes. */
  def decodeWarcIndex(id: Long, bytes: Array[Byte]): WarcIndex = {
    var nRec = 0
    var nResp = 0
    var uris = List.empty[String]
    var content = 0L
    val ok = walkWarc(bytes) { r =>
      nRec += 1
      if (r.wtype == "response") { nResp += 1; uris ::= r.uri; content += r.len }
      true
    }
    WarcIndex(id, bytes.length, nRec, nResp, uris.reverse.mkString(","),
      content, if (ok) 1 else 0)
  }

  // ------------------------------------------------- warc html bodies

  case class WarcBody(doc_id: Long, uri: String, body: String,
      structure_ok: Int)

  /** Deterministic HTML page for a document — the crawl shape every
    * web-scale pipeline extracts text from: head with script + style
    * blocks (must be stripped wholesale, tag-stripping alone leaks
    * `var page=…;track();` into the corpus), a content paragraph with
    * one inline link, and a link-dense nav `div` (the boilerplate a
    * link-density rule drops). Every byte derives from (doc_id, text)
    * so the DuckDB oracle rebuilds the identical string with concat. */
  def synthHtml(id: Long, text: String): String = {
    val k = (id % 5) + 3
    val links = (0L until k).map(j => s"""<a href="/p$j">item $j</a>""")
      .mkString(" | ")
    s"""<html><head><title>Doc $id</title>""" +
      s"""<script type="text/javascript">var page=$id;track();</script>""" +
      """<style>.nav{color:#333}</style></head><body>""" +
      s"""<p>$text <a href="/ref">details</a></p>""" +
      s"""<div class="nav">$links</div></body></html>"""
  }

  /** WARC shard whose response body is the synthesized HTML page (x12
    * indexes containers; this is the payload face t25 extracts text
    * from): warcinfo + ONE response per doc. */
  def synthWarcHtml(id: Long, text: String): Array[Byte] =
    warcInfo ++ warcRecord("response", s"http://ex.org/page$id",
      synthHtml(id, text).getBytes("US-ASCII"))

  /** The x12 record walk stopped at the FIRST response with a body,
    * capturing its URI + body instead of the index counts — the step
    * between a container index and text extraction. Malformed shards
    * report structure_ok = 0 with empty uri/body, never a throw. */
  def decodeWarcBody(id: Long, bytes: Array[Byte]): WarcBody = {
    var first: Option[WarcEntry] = None
    walkWarc(bytes) { r =>
      if (r.wtype == "response" && r.len > 0) first = Some(r)
      first.isEmpty
    }
    first match {
      case Some(r) => WarcBody(id, r.uri, ascii(bytes, r.off, r.len), 1)
      case None    => WarcBody(id, "", "", 0)
    }
  }

  // ----------------------------------------- raw gray images + aHash

  case class GrayHash(doc_id: Long, width: Int, height: Int, mean: Int,
      sig_lo: Long, sig_hi: Long, valid: Boolean)

  /** Bit i of the 64-bit block word from md5(salt ++ "|" ++ doc_id div
    * 20)'s first 16 hex chars (low word = chars 8-16), with the first
    * (doc_id%4) bits FLIPPED — the planted near-dup perturbation: the
    * hamming distance between group members is exactly |f_a − f_b| ≤ 3.
    * The group is CONSECUTIVE id blocks of 20 (div, not mod): group SIZE
    * is fixed at every SF while group COUNT scales with the corpus — so
    * the near-dup keys' per-band candidate lists stay bounded as data
    * grows (mod-25 grouping would grow every group 10× per SF step and
    * make the banded join quadratic in SF — the shape that dies at
    * 100×). */
  private def blockBits(salt: String, id: Long): Int => Boolean = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$salt|${id / 20}".getBytes("US-ASCII")).map(b => f"$b%02x").mkString
    val hi = java.lang.Long.parseLong(hex.substring(0, 8), 16)
    val lo = java.lang.Long.parseLong(hex.substring(8, 16), 16)
    val f = (id % 4).toInt
    i => ((((if (i < 32) lo >>> i else hi >>> (i - 32)) & 1L) == 1L) != (i < f))
  }

  /** 16×16 pixels in 64 constant 2×2 blocks, block i 150 or 50 by
    * `bit(i)`, plus (doc_id%3) on one pixel of block 63 (sub-
    * quantization noise the 4-pixel average floor absorbs — the hash
    * must be INVARIANT to it, which is the point of aHash). Stored
    * transformed AWAY from upright by EXIF orientation `o`. */
  private def grayPixels(bit: Int => Boolean, id: Long, o: Int): Array[Byte] = {
    val st = new Array[Byte](256)
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        var v = if (bit((y / 2) * 8 + (x / 2))) 150 else 50
        if (x == 14 && y == 14) v += (id % 3).toInt
        val (fr, fc) = orientMap(o, 16, y, x)
        st(fr * 16 + fc) = v.toByte
        x += 1
      }
      y += 1
    }
    st
  }

  /** Headered raw 8-bit grayscale payload ("GRAY8" + be16 w/h + w·h
    * pixels — codec-free, so the oracle stays closed-form): the upright
    * 16×16 `grayPixels` of the "ph" block word. */
  def synthGray(id: Long): Array[Byte] =
    "GRAY8".getBytes("US-ASCII") ++ Array[Byte](0, 16, 0, 16) ++
      grayPixels(blockBits("ph", id), id, 1)

  /** Integer 8×8 average-pool (floor) of the w×h pixels at offset 9. */
  private def pool8(bytes: Array[Byte], w: Int, h: Int): Array[Long] = {
    val bw = w / 8; val bh = h / 8
    val avgs = new Array[Long](64)
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 8) {
        var sum = 0L
        var dy = 0
        while (dy < bh) {
          var dx = 0
          while (dx < bw) {
            sum += bytes(9 + (by * bh + dy) * w + bx * bw + dx) & 0xFF
            dx += 1
          }
          dy += 1
        }
        avgs(by * 8 + bx) = sum / (bw * bh)
        bx += 1
      }
      by += 1
    }
    avgs
  }

  /** The perceptual signature over 64 cells: global mean (floor), bit
    * i = cell_i ≥ mean, packed into two 32-bit words (the shift-63
    * BIGINT trap is why the signature is NOT one 64-bit value).
    * Returns (mean, sig_lo, sig_hi). */
  private def meanBits(cells: Array[Long]): (Long, Long, Long) = {
    val mean = cells.sum / 64
    var lo = 0L; var hi = 0L
    var i = 0
    while (i < 64) {
      if (cells(i) >= mean) {
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
      }
      i += 1
    }
    (mean, lo, hi)
  }

  /** Integer average-hash over a decoded raw-gray payload — the
    * perceptual signature (aHash) image near-dup dedup banding runs
    * on: header check, `pool8`, `meanBits`. Malformed/truncated
    * payloads fail valid with zero sigs — they must never hash-collide
    * into a dedup group. */
  def decodeGrayHash(id: Long, bytes: Array[Byte]): GrayHash = {
    val bad = GrayHash(id, 0, 0, 0, 0L, 0L, valid = false)
    if (bytes.length < 9 || ascii(bytes, 0, 5) != "GRAY8") return bad
    val w = u16(bytes, 5, BE); val h = u16(bytes, 7, BE)
    if (w <= 0 || h <= 0 || w % 8 != 0 || h % 8 != 0 ||
        bytes.length != 9 + w * h) return bad
    val (mean, lo, hi) = meanBits(pool8(bytes, w, h))
    GrayHash(id, w, h, mean.toInt, lo, hi, valid = true)
  }

  // -------------- oriented raw gray + orientation-NORMALIZED aHash (x22)

  case class OrientedHash(doc_id: Long, width: Int, height: Int,
      orientation: Int, byte_order: String, mean: Int,
      sig_lo: Long, sig_hi: Long, valid: Boolean)

  /** EXIF display transform f_o on an n×n grid: upright[r][c] =
    * stored[f_o(r,c)] for tag-274 value `o`. All eight values are
    * axis-aligned (mirror / rotate / transpose), so f maps 2×2 pixel
    * blocks onto 2×2 blocks — the transform COMMUTES with average
    * pooling, which is what lets the decoder normalize on the 8×8
    * POOLED grid (64 integer index moves, no pixel resampling). */
  private def orientMap(o: Int, n: Int, r: Int, c: Int): (Int, Int) = o match {
    case 2 => (r, n - 1 - c)         // mirror horizontal
    case 3 => (n - 1 - r, n - 1 - c) // rotate 180
    case 4 => (n - 1 - r, c)         // mirror vertical
    case 5 => (c, r)                 // transpose
    case 6 => (n - 1 - c, r)         // rotate 90 CW to display
    case 7 => (n - 1 - c, n - 1 - r) // transverse
    case 8 => (c, n - 1 - r)         // rotate 90 CCW to display
    case _ => (r, c)
  }

  /** x17's gray payload with a CAMERA orientation: the same 16×16 base
    * image on the "po" salt, but the pixels are stored the way a sensor
    * writes them — transformed AWAY from upright by orientation o = 1 +
    * doc_id%8, with tag 274 recording how to display. Container:
    * "GROR8" + be16 w/h + w·h stored pixels + a REAL trailing TIFF
    * (II/MM by doc_id parity — the x13/x21 mixed-order crawl) holding
    * the orientation; doc_id%5==4 ships NO trailer (stripped by an
    * upstream optimizer) and stores upright. Rotated twins of one group
    * hash differently under plain x17 aHash; after tag-274
    * normalization the whole group collapses to the x17 formula on the
    * "po|" salt — which is exactly what the closed-form oracle checks. */
  def synthGrayOriented(id: Long): Array[Byte] = {
    val stripped = id % 5 == 4
    val o = if (stripped) 1 else 1 + (id % 8).toInt
    "GROR8".getBytes("US-ASCII") ++ Array[Byte](0, 16, 0, 16) ++
      grayPixels(blockBits("po", id), id, o) ++
      (if (stripped) Array.emptyByteArray
       else tiffIfd(id % 2 == 0, 256 -> 16, 274 -> o))
  }

  /** Orientation-NORMALIZED aHash: pool the STORED pixels 8×8 exactly
    * like decodeGrayHash, decode tag 274 from the trailing TIFF (the
    * SAME IFD walk x21 uses), then move the 64 pooled cells through the
    * display transform before thresholding — upright[r][c] =
    * pooled[f_o(r,c)]. The global mean is permutation-invariant, so the
    * normalized signature of a rotated twin is bit-identical to its
    * upright sibling's. Missing trailer ⇒ assume upright (x21's
    * default); only a malformed container fails valid. */
  def decodeOrientedHash(id: Long, bytes: Array[Byte]): OrientedHash = {
    val bad = OrientedHash(id, 0, 0, 0, "none", 0, 0L, 0L, valid = false)
    if (bytes.length < 9 || ascii(bytes, 0, 5) != "GROR8") return bad
    val w = u16(bytes, 5, BE); val h = u16(bytes, 7, BE)
    // rotations need a square grid; pooling needs divisibility by 8
    if (w <= 0 || w != h || w % 8 != 0 || bytes.length < 9 + w * h) return bad
    val (order, o) =
      if (bytes.length == 9 + w * h) ("none", 1)
      else tiffOrientation(bytes, 9 + w * h, bytes.length).getOrElse(("none", 1))
    val st = pool8(bytes, w, h)
    val up = new Array[Long](64)
    var i = 0
    while (i < 64) {
      val (fr, fc) = orientMap(o, 8, i / 8, i % 8)
      up(i) = st(fr * 8 + fc)
      i += 1
    }
    val (mean, lo, hi) = meanBits(up)
    OrientedHash(id, w, h, o, order, mean.toInt, lo, hi, valid = true)
  }

  // ------------------------------ video frames + scene cuts (x23)

  case class SceneCuts(doc_id: Long, n_frames: Int, width: Int, height: Int,
      n_cuts: Int, cut_frames: String, first_luma: Int, valid: Boolean)

  /** Raw gray frame SEQUENCE ("GVID8" + be16 n/w/h + n·w·h pixels —
    * codec-free, oracle closed-form): 24 frames of 16×12, segmented into
    * 2 + doc_id%3 equal-length scenes. All pixels of a frame carry the
    * scene's luma: 60 + 100·(scene%2) + doc_id%5 (the doc offset shifts
    * every frame equally, so deltas — what the detector sees — are
    * invariant to it). Adjacent scenes differ by exactly 100 luma;
    * intra-scene delta is 0. doc_id%13==5 payloads are truncated
    * mid-frame (the crawl-reality tamper path). */
  def synthVideoScenes(id: Long): Array[Byte] = {
    val nFrames = 24; val w = 16; val h = 12
    val nScenes = 2 + (id % 3).toInt
    val perScene = nFrames / nScenes
    val px = new Array[Byte](nFrames * w * h)
    var f = 0
    while (f < nFrames) {
      val scene = math.min(f / perScene, nScenes - 1)
      val luma = 60 + 100 * (scene % 2) + (id % 5).toInt
      java.util.Arrays.fill(px, f * w * h, (f + 1) * w * h, luma.toByte)
      f += 1
    }
    val full = "GVID8".getBytes("US-ASCII") ++ w16(nFrames, BE) ++ w16(w, BE) ++
      w16(h, BE) ++ px
    if (id % 13 == 5) full.take(11 + 7 * w * h + 37) else full
  }

  /** Scene-cut detection over decoded frames — the keyframe-extraction
    * op of a vision-training pipeline (x8 reads the container's
    * metadata; this reads the CONTENT): per-frame integer mean luma,
    * a cut wherever |mean_f − mean_{f−1}| ≥ 25 (scene deltas are 100,
    * intra-scene 0 — the threshold sits far from both). Truncated
    * payloads fail valid rather than reporting a partial cut list. */
  def decodeSceneCuts(id: Long, bytes: Array[Byte]): SceneCuts = {
    val bad = SceneCuts(id, 0, 0, 0, 0, "", 0, valid = false)
    if (bytes.length < 11 || ascii(bytes, 0, 5) != "GVID8") return bad
    val n = u16(bytes, 5, BE); val w = u16(bytes, 7, BE); val h = u16(bytes, 9, BE)
    // n·w·h reaches 2^48: an Int product could wrap onto the length
    if (n <= 0 || w <= 0 || h <= 0 || bytes.length != 11 + n.toLong * w * h)
      return bad
    val means = new Array[Int](n)
    var f = 0
    while (f < n) {
      var sum = 0L
      var i = 0
      while (i < w * h) { sum += bytes(11 + f * w * h + i) & 0xFF; i += 1 }
      means(f) = (sum / (w * h)).toInt
      f += 1
    }
    val cuts = (1 until n).filter(f => math.abs(means(f) - means(f - 1)) >= 25)
    SceneCuts(id, n, w, h, cuts.length, cuts.mkString(","), means(0),
      valid = true)
  }

  // -------------------------------------------------------------- utf-8

  case class Utf8Audit(doc_id: Long, n_bytes: Int, n_ascii: Int,
      n_multi: Int, n_invalid: Int, is_valid: Int)

  /** Raw-byte text with deterministic encoding damage — the ingest
    * reality a crawler delivers: per doc_id mod 7, append (3) a C3-lead
    * byte with a non-continuation follower, (5) a valid 2-byte char in
    * context, (0) a lone continuation byte, (6) a valid 3-byte char.
    * The base text is ASCII, so every expected count is arithmetic in
    * length(text) + doc_id — the oracle predicts the audit exactly. */
  def synthRawText(id: Long, text: String): Array[Byte] =
    text.getBytes("UTF-8") ++ ((id % 7) match {
      case 3 => Array(' '.toByte, 0xC3.toByte, '('.toByte)
      case 5 => " café".getBytes("UTF-8")
      case 0 => Array(' '.toByte, 0x80.toByte)
      case 6 => "✓".getBytes("UTF-8")
      case _ => Array.emptyByteArray
    })

  /** Structural UTF-8 scan of `bytes`: classifies every position as
    * ASCII, a well-formed multi-byte sequence (lead C2-DF/E0-EF/F0-F4
    * with the right number of continuation bytes), or invalid (bad
    * lead, missing continuation, or truncation at the buffer end).
    * Resync-on-error advances ONE byte — the trailing bytes of a broken
    * sequence are re-classified on their own, the behavior a mojibake
    * counter needs (one error per broken lead, not per byte). */
  def utf8Scan(id: Long, bytes: Array[Byte]): Utf8Audit = {
    var i = 0
    var ascii = 0; var multi = 0; var invalid = 0
    def cont(j: Int): Boolean =
      j < bytes.length && (bytes(j) & 0xC0) == 0x80
    while (i < bytes.length) {
      val b = bytes(i) & 0xFF
      if (b < 0x80) { ascii += 1; i += 1 }
      else if (b >= 0xC2 && b <= 0xDF) {
        if (cont(i + 1)) { multi += 1; i += 2 } else { invalid += 1; i += 1 }
      } else if (b >= 0xE0 && b <= 0xEF) {
        if (cont(i + 1) && cont(i + 2)) { multi += 1; i += 3 }
        else { invalid += 1; i += 1 }
      } else if (b >= 0xF0 && b <= 0xF4) {
        if (cont(i + 1) && cont(i + 2) && cont(i + 3)) { multi += 1; i += 4 }
        else { invalid += 1; i += 1 }
      } else { invalid += 1; i += 1 } // 80-BF lone continuation, C0/C1 overlong, F5-FF
    }
    Utf8Audit(id, bytes.length, ascii, multi, invalid,
      if (invalid == 0) 1 else 0)
  }

  /** Frame sampling plumbing: every `stride`-th character of a
    * document's `text` is a "frame" (stand-in for video frame
    * extraction). Declarative explode — distributes and prunes like any
    * other lateral view. */
  def sampleFrames(docs: DataFrame, stride: Int): DataFrame = {
    // empty payloads emit NO frames: without the guard, sequence(0, -1)
    // evaluates with step -1 to [0, -1] and fabricates two bogus frames
    docs.select(col("doc_id"),
        posexplode(expr(
          "CASE WHEN length(text) = 0 THEN cast(array() as array<int>) " +
          s"ELSE transform(sequence(0, cast(floor((length(text) - 1) / $stride) as int)), " +
          s"i -> ascii(substr(text, i * $stride + 1, 1))) END"))
          .as(Seq("frame_idx", "frame_byte")))
  }

  // ------------------------------------------------- NPY tensor shards

  case class NpyMeta(doc_id: Long, byte_len: Int, dtype: String, rows: Int,
      cols: Int, n_elems: Long, item_bytes: Int, data_bytes: Long,
      header_len: Int, valid: Boolean)

  /** Minimal VALID NumPy .npy v1.0 payload (the tensor-shard format ML
    * pipelines actually ship embeddings/activations in): magic
    * \x93NUMPY, version (1,0), uint16-LE HEADER_LEN, the ASCII header
    * dict space-padded so the full preamble (10 + HEADER_LEN) is a
    * multiple of 64 and ends '\n' (the spec's alignment rule), then
    * rows·cols·itemsize data bytes. Shape (doc_id%5+1, doc_id%7+1);
    * dtype '<f4' for even ids, '<i8' for odd (two itemsizes exercise
    * the size arithmetic); data filled with (doc_id%251) so truncation
    * is detectable, content deterministic. */
  def synthNpy(id: Long): Array[Byte] = {
    val rows = (id % 5).toInt + 1
    val cols = (id % 7).toInt + 1
    val (descr, item) = if (id % 2 == 0) ("<f4", 4) else ("<i8", 8)
    val dict = s"{'descr': '$descr', 'fortran_order': False, " +
      s"'shape': ($rows, $cols), }"
    val unpadded = 10 + dict.length + 1
    val headerLen = ((unpadded + 63) / 64) * 64 - 10
    val header = dict + " " * (headerLen - dict.length - 1) + "\n"
    val data = Array.fill[Byte](rows * cols * item)((id % 251).toByte)
    Array[Byte](0x93.toByte, 'N', 'U', 'M', 'P', 'Y', 1, 0) ++ w16(headerLen, LE) ++
      header.getBytes("US-ASCII") ++ data
  }

  private val NpyDescr = """'descr':\s*'([<>|][a-z]\d+)'""".r
  private val NpyShape = """'shape':\s*\((\d+),\s*(\d+)\),?\s*\}""".r

  /** Real NPY header decode with structural validation: magic + v1,
    * LE header length, 64-byte preamble alignment, '\n' terminator,
    * dtype/shape parse, and the size proof data_bytes == payload −
    * preamble (a truncated shard fails valid, it does not mis-report
    * a shape). Itemsize and shape digits beyond Int range fail valid. */
  def decodeNpyHeader(id: Long, b: Array[Byte]): NpyMeta = {
    val bad = NpyMeta(id, b.length, "", 0, 0, 0L, 0, 0L, 0, valid = false)
    if (b.length < 10 || b(0) != 0x93.toByte ||
      ascii(b, 1, 5) != "NUMPY" || b(6) != 1) return bad
    val headerLen = u16(b, 8, LE)
    if (b.length < 10 + headerLen || (10 + headerLen) % 64 != 0 ||
      b(9 + headerLen) != '\n') return bad
    val header = ascii(b, 10, headerLen)
    (NpyDescr.findFirstMatchIn(header), NpyShape.findFirstMatchIn(header)) match {
      case (Some(d), Some(s)) =>
        val descr = d.group(1)
        (descr.drop(2).toIntOption, s.group(1).toIntOption, s.group(2).toIntOption) match {
          case (Some(item), Some(rows), Some(cols)) =>
            val nElems = rows.toLong * cols
            val dataBytes = nElems * item
            NpyMeta(id, b.length, descr, rows, cols, nElems, item, dataBytes,
              headerLen, valid = b.length == 10 + headerLen + dataBytes)
          case _ => bad
        }
      case _ => bad
    }
  }

  // ---------------------------------------------- safetensors shards

  case class SafetensorsMeta(doc_id: Long, byte_len: Int, n_tensors: Int,
      header_len: Int, total_data_bytes: Long, contiguous: Boolean,
      valid: Boolean)

  /** Minimal VALID safetensors payload (x15's modern sibling — the
    * format model weights actually ship in): 8-byte LE u64 header
    * length, then the JSON header mapping tensor names to
    * {dtype, shape, data_offsets}, then the concatenated tensor data.
    * Two tensors per doc — "emb" F32 (r, c) at [0, A) and "ids" I64
    * (r,) at [A, B) — so the decoder must prove offset CONTIGUITY,
    * not just sum sizes. JSON is byte-exact (no whitespace), so the
    * oracle reproduces header_len by building the same string. */
  def synthSafetensors(id: Long): Array[Byte] = {
    val r = (id % 5).toInt + 1
    val c = (id % 7).toInt + 1
    val a = r * c * 4
    val b = a + r * 8
    val json = s"""{"emb":{"dtype":"F32","shape":[$r,$c],"data_offsets":[0,$a]},""" +
      s""""ids":{"dtype":"I64","shape":[$r],"data_offsets":[$a,$b]}}"""
    // length as Long: Int shift distances wrap mod 32, which would
    // duplicate bytes 0-3 into 4-7 and corrupt the u64
    val n = json.length.toLong
    val lenLe = Array.tabulate[Byte](8)(i => ((n >> (8 * i)) & 0xffL).toByte)
    lenLe ++ json.getBytes("US-ASCII") ++
      Array.fill[Byte](b)((id % 251).toByte)
  }

  private val StTensor =
    """"([A-Za-z0-9_]+)":\{"dtype":"([A-Z0-9]+)","shape":\[[0-9,]+\],"data_offsets":\[(\d+),(\d+)\]\}""".r

  /** Real safetensors header decode: LE u64 length, JSON tensor table,
    * and the structural proofs — data_offsets must tile [0, total)
    * with no gap or overlap, and 8 + header + total must equal the
    * payload length (a truncated or padded shard fails valid, and so
    * does an offset too long for a Long). */
  def decodeSafetensorsHeader(id: Long, bytes: Array[Byte]): SafetensorsMeta = {
    val bad = SafetensorsMeta(id, bytes.length, 0, 0, 0L, contiguous = false,
      valid = false)
    if (bytes.length < 8) return bad
    var n = 0L
    var i = 7
    while (i >= 0) { n = (n << 8) | (bytes(i) & 0xffL); i -= 1 }
    if (n <= 0 || n > Int.MaxValue || bytes.length < 8 + n) return bad
    val json = ascii(bytes, 8, n.toInt)
    val spans = StTensor.findAllMatchIn(json)
      .map(m => (digitsValue(m.group(3)), digitsValue(m.group(4)))).toArray.sortBy(_._1)
    if (spans.isEmpty || spans.exists(s => s._1 < 0 || s._2 < 0)) return bad
    val contiguous = spans.head._1 == 0L &&
      spans.sliding(2).forall {
        case Array(x, y) => x._2 == y._1
        case _           => true
      } && spans.forall(s => s._2 >= s._1)
    val total = spans.last._2
    SafetensorsMeta(id, bytes.length, spans.length, n.toInt, total,
      contiguous, valid = contiguous && bytes.length == 8 + n + total)
  }

  // ------------------------------------------- pcm samples + energy

  case class PcmEnergy(doc_id: Long, sample_rate: Int, n_samples: Int,
      n_frames: Int, n_silent: Int, total_energy: Long,
      max_frame_energy: Long, valid: Boolean)

  /** 8-bit mono PCM WAV with REAL samples (x6 decodes headers; this is
    * the feature-extraction step that reads the payload): 400 samples
    * at 8000 Hz in 8 frames of 50. Frame f's square wave has amplitude
    * a+f (a = 20 + (id%5)·10, period 8 + (id%4)·4 — every sample
    * deviates from the 128 midline by exactly the frame amplitude, so
    * per-frame L1 energy is closed-form 50·(a+f)); frames f0 and f0+1
    * (f0 = id%4 ≤ 3) are planted DIGITAL SILENCE (exact 128s) — the
    * thing a VAD/silence-trim pass must find. */
  def synthPcmWav(id: Long): Array[Byte] = {
    val a = 20 + (id % 5).toInt * 10
    val f0 = (id % 4).toInt
    val p = 8 + (id % 4).toInt * 4
    val samples = Array.tabulate(400) { i =>
      val f = i / 50
      if (f == f0 || f == f0 + 1) 128.toByte
      else {
        val af = a + f
        val v = if ((i / p) % 2 == 0) 128 + af else 128 - af
        v.toByte
      }
    }
    wavFile(8000, 1, 8, samples)
  }

  /** Frame-energy / silence decode over a PCM WAV payload: the
    * `pcm8Mono` gate, then 50-sample frames — per-frame L1 energy
    * Σ|s−128|, silent ⇔ energy 0. Partial tail frames are dropped
    * (full-frame semantics), so n_frames is derived from the REAL
    * byte count, never the header's claim. */
  def decodePcmEnergy(id: Long, bytes: Array[Byte]): PcmEnergy =
    pcm8Mono(bytes) match {
      case None => PcmEnergy(id, 0, 0, 0, 0, 0L, 0L, valid = false)
      case Some((rate, n)) =>
        val energies = frameEnergies(bytes, n / 50)
        PcmEnergy(id, rate, n, energies.length, energies.count(_ == 0),
          energies.sum, if (energies.isEmpty) 0L else energies.max, valid = true)
    }

  // ------------------------------------- jpeg exif orientation (x21)

  case class ExifMeta(doc_id: Long, byte_len: Int, exif_present: Boolean,
      byte_order: String, orientation: Int, needs_transform: Int,
      valid: Boolean)

  /** JPEG carrying an APP1 Exif segment — the metadata a camera writes
    * and a dedup/vision pipeline MUST apply before pixels are compared
    * (a rotated twin hashes differently under x17's aHash unless
    * orientation-normalized first): "Exif\0\0" + an embedded TIFF whose
    * IFD holds ImageWidth and Orientation (tag 274, values 1-8). Even
    * doc_ids embed little-endian TIFFs, odd big-endian (the x13 mixed-
    * order crawl); doc_id%5==4 files carry NO Exif at all (stripped by
    * an upstream optimizer — the default-orientation path). */
  def synthJpegExif(id: Long): Array[Byte] = {
    val base = synthJpeg(64, 48, (id % 7).toInt)
    if (id % 5 == 4) return base
    val tiff = tiffIfd(id % 2 == 0, 256 -> 64, 274 -> (1 + (id % 8).toInt))
    val payload = "Exif".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++ tiff
    val app1 = Array(0xFF, 0xE1).map(_.toByte) ++ w16(2 + payload.length, BE) ++ payload
    base.take(2) ++ app1 ++ base.drop(2)
  }

  /** Orientation decode: JPEG marker walk to APP1, "Exif\0\0" check,
    * then a TIFF IFD walk INSIDE the segment (offsets relative to the
    * TIFF base, either byte order) for tag 274. Missing or unparseable
    * Exif ⇒ orientation 1 / exif_present false (the assume-upright
    * default every viewer applies); only a non-JPEG fails valid. */
  def decodeJpegExif(id: Long, bytes: Array[Byte]): ExifMeta = {
    val len = bytes.length
    val none = ExifMeta(id, len, exif_present = false, "none", 1, 0, valid = true)
    if (len < 4 || (bytes(0) & 0xFF) != 0xFF || (bytes(1) & 0xFF) != 0xD8)
      return ExifMeta(id, len, exif_present = false, "none", 0, 0, valid = false)
    var off = 2
    while (off + 4 <= len && (bytes(off) & 0xFF) == 0xFF) {
      val marker = bytes(off + 1) & 0xFF
      if (marker == 0xD9 || marker == 0xDA) return none
      val segLen = u16(bytes, off + 2, BE)
      if (marker == 0xE1 && off + 2 + segLen <= len && segLen >= 8 &&
          ascii(bytes, off + 4, 4) == "Exif" &&
          bytes(off + 8) == 0 && bytes(off + 9) == 0) {
        return tiffOrientation(bytes, off + 10, len) match {
          case Some((order, ori)) =>
            ExifMeta(id, len, exif_present = true, order, ori,
              if (ori != 1) 1 else 0, valid = true)
          case None => none // Exif present but no usable orientation tag
        }
      }
      off += 2 + segLen
    }
    none
  }

  // --------------------------------------- audio energy fingerprint

  case class AudioFp(doc_id: Long, sample_rate: Int, n_frames: Int,
      mean_energy: Long, sig_lo: Long, sig_hi: Long, valid: Boolean)

  /** 8-bit mono WAV carrying a 64-frame energy CONTOUR (x17's aHash
    * transplanted to audio — the echoprint-class signature a music/
    * speech dedup pass runs): 64 frames × 50 samples; frame i's square
    * wave has amplitude 90 or 30 by bit i of the "af" `blockBits` word
    * (20-id groups, the first doc_id%4 bits flipped); and every frame
    * is cyclically ROTATED by (doc_id%7) samples — a time-shift
    * re-encode that changes the payload BYTES (x7's content hash misses
    * these twins) but not one frame's L1 energy: fingerprint invariance
    * to it is the point. */
  def synthAudioFpWav(id: Long): Array[Byte] = {
    val bit = blockBits("af", id)
    val rot = (id % 7).toInt
    val samples = new Array[Byte](64 * 50)
    var fr = 0
    while (fr < 64) {
      val amp = if (bit(fr)) 90 else 30
      var j = 0
      while (j < 50) {
        // base square wave (period 10) evaluated at the rotated index —
        // every sample deviates from the 128 midline by exactly amp
        val src = (j + rot) % 50
        samples(fr * 50 + j) =
          (if ((src / 5) % 2 == 0) 128 + amp else 128 - amp).toByte
        j += 1
      }
      fr += 1
    }
    wavFile(8000, 1, 8, samples)
  }

  /** Energy-contour fingerprint decode: the `pcm8Mono` gate, then the
    * first 64 full 50-sample frames → per-frame L1 energy →
    * `meanBits` (the d25 shift-63 convention). Fewer than 64 full
    * frames fails valid — a truncated file must never hash into a
    * dedup group. */
  def decodeAudioFpWav(id: Long, bytes: Array[Byte]): AudioFp =
    pcm8Mono(bytes) match {
      case Some((rate, n)) if n >= 64 * 50 =>
        val (mean, lo, hi) = meanBits(frameEnergies(bytes, 64))
        AudioFp(id, rate, 64, mean, lo, hi, valid = true)
      case _ => AudioFp(id, 0, 0, 0L, 0L, 0L, valid = false)
    }

  // ------------------------------------------------ pdf text extract

  case class PdfText(doc_id: Long, n_objs: Int, stream_len: Int,
      n_text_ops: Int, text: String, xref_ok: Boolean, valid: Boolean)

  /** Strip the characters that would need PDF string-escaping — applied
    * identically at synthesis and in the oracle's expectation. */
  def pdfSanitize(w: String): String = w.replaceAll("[()\\\\]", "")

  /** A minimal VALID single-page PDF carrying the doc's first 8 words
    * as uncompressed text operators — the training-pipeline op between
    * a crawled PDF corpus and the t-family text gates. Five objects
    * (catalog, pages, page, content stream, font), a correct xref
    * table (20-byte entries, real byte offsets) and startxref — so a
    * conformant offset-walking reader, not just a regex scraper, can
    * load it. Content stream: `BT /F1 12 Tf (w) Tj T* ... ET`. */
  def synthPdf(id: Long, text: String): Array[Byte] = {
    val words = text.trim.split("\\s+").filter(_.nonEmpty)
      .take(8).map(pdfSanitize)
    val content = "BT /F1 12 Tf " +
      words.map(w => s"($w) Tj T* ").mkString + "ET"
    val objs = Seq(
      "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n",
      "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n",
      "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
        "/Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n",
      s"4 0 obj\n<< /Length ${content.length} >>\nstream\n" +
        content + "\nendstream\nendobj\n",
      "5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>\nendobj\n")
    val header = "%PDF-1.4\n"
    val offsets = objs.scanLeft(header.length)(_ + _.length).init
    val xrefOff = header.length + objs.map(_.length).sum
    val xref = "xref\n0 6\n0000000000 65535 f \n" +
      offsets.map(o => f"$o%010d 00000 n \n").mkString
    val trailer = s"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n$xrefOff\n%%EOF"
    (header + objs.mkString + xref + trailer).getBytes("US-ASCII")
  }

  /** Offset-walking PDF text extraction: read startxref from the tail,
    * verify the xref table is where it claims, walk its entries and
    * check every `N 0 obj` actually sits at its recorded offset
    * (xref_ok — the structural-integrity bit a repair pass keys on),
    * then find the content stream via its /Length dict, slice exactly
    * /Length bytes after `stream\n`, and collect `(...) Tj` text
    * operators in order. Extraction still succeeds on a broken xref
    * (scavenger mode, like real-world readers); a payload without a
    * PDF header or startxref fails valid. Every digit run is parsed
    * wide and bound-checked before use, so a tampered offset, count or
    * length takes the out-of-range path instead of throwing. */
  def decodePdfText(id: Long, bytes: Array[Byte]): PdfText = {
    val bad = PdfText(id, 0, 0, 0, "", xref_ok = false, valid = false)
    val s = new String(bytes, "ISO-8859-1")
    if (!s.startsWith("%PDF-")) return bad
    val sxAt = s.lastIndexOf("startxref")
    if (sxAt < 0) return bad
    val sxDigits = s.substring(sxAt + 9).trim.takeWhile(_.isDigit)
    if (sxDigits.isEmpty) return bad
    val xrefOff = digitsValue(sxDigits)
    var nObjs = 0
    var xrefOk = false
    if (xrefOff >= 0 && xrefOff <= s.length - 4 &&
        s.startsWith("xref", xrefOff.toInt)) {
      // header line "0 N", then N 20-byte entries (entry 0 is the free head)
      val m = java.util.regex.Pattern.compile("xref\\s+0 (\\d+)\\s")
        .matcher(s.substring(xrefOff.toInt))
      val total = if (m.lookingAt()) digitsValue(m.group(1)) else -1L
      if (total >= 0 && total <= Int.MaxValue) {
        nObjs = total.toInt - 1
        // entry i (free head = entry 0) is the 20-byte slice at i*20
        val entBase = xrefOff.toInt + m.end()
        xrefOk = total <= (s.length - entBase) / 20 && (1 until total.toInt).forall { i =>
          val digits = s.substring(entBase + i * 20, entBase + i * 20 + 10)
          digits.forall(_.isDigit) && {
            val off = digits.toLong
            off < s.length && s.startsWith(s"$i 0 obj", off.toInt)
          }
        }
      }
    }
    val lenM = java.util.regex.Pattern
      .compile("<< /Length (\\d+) >>\\s*stream\n").matcher(s)
    if (!lenM.find()) return PdfText(id, nObjs, 0, 0, "", xrefOk, valid = true)
    val streamLen = digitsValue(lenM.group(1))
    val start = lenM.end()
    if (streamLen < 0 || streamLen > s.length - start)
      return PdfText(id, nObjs, 0, 0, "", xrefOk, valid = true)
    val stream = s.substring(start, start + streamLen.toInt)
    val ops = new scala.collection.mutable.ArrayBuffer[String]()
    val opM = java.util.regex.Pattern.compile("\\(([^)]*)\\) Tj").matcher(stream)
    while (opM.find()) ops += opM.group(1)
    PdfText(id, nObjs, streamLen.toInt, ops.length, ops.mkString(" "),
      xrefOk, valid = true)
  }
}
