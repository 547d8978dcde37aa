package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.DecodedMeta

/** Per-record codec coverage: valid payloads round-trip through
  * synthX → decodeX, and malformed, truncated or tampered payloads
  * return the invalid/unknown row instead of throwing or fabricating
  * fields.
  */
class MultimodalSpec extends AnyFunSuite {

  test("PNG synth → decode round-trips dimensions, format, length") {
    val b = Multimodal.synthPng(641, 123, pad = 37)
    assert(b.length == 57 + 37)
    assert(Multimodal.decodeHeader(7L, b) == DecodedMeta(7L, 94, 641, 123, "png"))
  }

  test("JPEG synth → decode round-trips dimensions through the marker walk") {
    val b = Multimodal.synthJpeg(655, 495, pad = 0)
    assert(b.length == 41)
    assert(Multimodal.decodeHeader(8L, b) == DecodedMeta(8L, 41, 655, 495, "jpeg"))
  }

  test("JPEG decode skips extra APPn segments before SOF0") {
    // insert a second APP segment (FFE1, length 4, 2 payload bytes)
    // between APP0 and SOF0 — the marker walk must hop over it
    val base = Multimodal.synthJpeg(100, 50, pad = 0)
    val (head, tail) = base.splitAt(20) // SOI (2) + APP0 (18)
    val app1 = Array(0xFF, 0xE1, 0x00, 0x04, 0x41, 0x42).map(_.toByte)
    val b = head ++ app1 ++ tail
    assert(Multimodal.decodeHeader(1L, b) == DecodedMeta(1L, b.length, 100, 50, "jpeg"))
  }

  test("PNG CRC32 of the IHDR chunk is genuine") {
    val b = Multimodal.synthPng(16, 16, pad = 0)
    val crc = new java.util.zip.CRC32()
    crc.update(b, 12, 4 + 13) // chunk type + data
    val stored = ((b(29) & 0xFFL) << 24) | ((b(30) & 0xFFL) << 16) |
      ((b(31) & 0xFFL) << 8) | (b(32) & 0xFFL)
    assert(stored == crc.getValue)
  }

  test("WAV synth → decode round-trips sample rate and channels (little-endian)") {
    val b = Multimodal.synthWav(44100, 2, pad = 10)
    assert(b.length == 54)
    assert(Multimodal.decodeAudioHeader(5L, b) ==
      Multimodal.AudioMeta(5L, 54, 44100, 2, "wav"))
    // PNG bytes are not audio
    val notWav = Multimodal.synthPng(10, 10, 0)
    assert(Multimodal.decodeAudioHeader(6L, notWav).format == "unknown")
  }

  test("garbage, truncated, and empty payloads decode as unknown") {
    val garbage = Array.tabulate(64)(i => i.toByte)
    assert(Multimodal.decodeHeader(1L, garbage).format == "unknown")
    assert(Multimodal.decodeHeader(2L, Array.emptyByteArray) ==
      DecodedMeta(2L, 0, 0, 0, "unknown"))
    // PNG signature but truncated before IHDR width
    val trunc = Multimodal.synthPng(10, 10, 0).take(18)
    assert(Multimodal.decodeHeader(3L, trunc).format == "unknown")
    // JPEG SOI but no SOF before the bytes run out
    val noSof = Array(0xFF, 0xD8, 0xFF, 0xE0, 0x00, 0x04, 0x00, 0x00).map(_.toByte)
    assert(Multimodal.decodeHeader(4L, noSof).format == "unknown")
  }

  test("TIFF synth → decode round-trips BOTH byte orders; SHORT values left-justified") {
    val le = Multimodal.synthTiff(640, 480, little = true, pad = 11)
    assert(Multimodal.decodeTiffHeader(1L, le) ==
      Multimodal.TiffMeta(1L, 38 + 11, "le", 640, 480))
    val be = Multimodal.synthTiff(321, 99, little = false, pad = 0)
    assert(Multimodal.decodeTiffHeader(2L, be) ==
      Multimodal.TiffMeta(2L, 38, "be", 321, 99))
    // the big-endian SHORT sits in the FIRST two bytes of its value
    // field — a parser that always reads u32 would return 321·65536
    assert(Multimodal.decodeTiffHeader(2L, be).width == 321)
  }

  test("TIFF bad marker, bad magic, and truncated IFD decode as unknown") {
    val good = Multimodal.synthTiff(100, 100, little = true, pad = 0)
    val badMarker = good.clone(); badMarker(0) = 'X'.toByte
    assert(Multimodal.decodeTiffHeader(3L, badMarker).byte_order == "unknown")
    val badMagic = good.clone(); badMagic(2) = 43.toByte
    assert(Multimodal.decodeTiffHeader(4L, badMagic).byte_order == "unknown")
    val truncated = good.take(12) // header + partial IFD count/entries
    assert(Multimodal.decodeTiffHeader(5L, truncated).byte_order == "unknown")
    assert(Multimodal.decodeTiffHeader(6L, Array.emptyByteArray).byte_order == "unknown")
  }

  test("sniff dispatch classifies all four containers by magic and rejects garbage") {
    import graft.multimodal.Multimodal.SniffedMeta
    assert(Multimodal.sniffDecodeHeader(1L, Multimodal.synthPng(321, 99, 3))
      == SniffedMeta(1L, "png", 321, 99))
    assert(Multimodal.sniffDecodeHeader(2L, Multimodal.synthJpeg(640, 480, 0))
      == SniffedMeta(2L, "jpeg", 640, 480))
    assert(Multimodal.sniffDecodeHeader(3L, Multimodal.synthWav(16000, 2, 5))
      == SniffedMeta(3L, "wav", 16000, 2))
    assert(Multimodal.sniffDecodeHeader(4L, Multimodal.synthTiff(100, 50, little = false, 0))
      == SniffedMeta(4L, "tiff", 100, 50))
    assert(Multimodal.sniffDecodeHeader(5L, "garbage bytes!!".getBytes).kind == "unknown")
    assert(Multimodal.sniffDecodeHeader(6L, Array.emptyByteArray).kind == "unknown")
    // a TIFF-looking marker with a bad magic must NOT classify as tiff
    val badTiff = Multimodal.synthTiff(10, 10, little = true, 0)
    badTiff(2) = 43.toByte
    assert(Multimodal.sniffDecodeHeader(7L, badTiff).kind == "unknown")
  }

  test("MP4 synth → box-walk decode round-trips brand/timescale/duration") {
    val b = Multimodal.synthMp4("mp42", 90000, 90000L * 7, pad = 13)
    assert(b.length == 148 + 13)
    assert(Multimodal.decodeVideoHeader(9L, b) ==
      Multimodal.VideoMeta(9L, 161, "mp42", 90000, 630000L, 7000L))
  }

  test("MP4 box walk hops over unknown boxes to find moov and mvhd") {
    // splice a top-level 'free' box between ftyp and moov, and an
    // 'iods' box inside moov before mvhd — the walk must skip both
    val base = Multimodal.synthMp4("isom", 1000, 5000L, pad = 0)
    val ftyp = base.slice(0, 24)
    val moovBody = base.slice(32, 140) // the 108-byte mvhd
    def box(t: String, body: Array[Byte]) =
      Array((body.length + 8 >>> 24).toByte, (body.length + 8 >>> 16).toByte,
        (body.length + 8 >>> 8).toByte, (body.length + 8).toByte) ++
        t.getBytes("US-ASCII") ++ body
    val spliced = ftyp ++ box("free", Array[Byte](1, 2, 3)) ++
      box("moov", box("iods", Array[Byte](9)) ++ moovBody)
    val m = Multimodal.decodeVideoHeader(2L, spliced)
    assert(m.brand == "isom" && m.timescale == 1000 &&
      m.duration_units == 5000L && m.duration_ms == 5000L)
  }

  test("non-MP4, truncated, and mvhd-less payloads decode as unknown video") {
    assert(Multimodal.decodeVideoHeader(1L, Multimodal.synthPng(10, 10, 0))
      .brand == "unknown")
    val trunc = Multimodal.synthMp4("isom", 600, 600L, 0).take(30)
    assert(Multimodal.decodeVideoHeader(2L, trunc).brand == "unknown")
    // cut inside moov's first child header, and an ftyp size that wraps
    // an Int offset: box reads stay inside the payload, never a throw
    val inMoov = Multimodal.synthMp4("isom", 600, 600L, 0).take(38)
    assert(Multimodal.decodeVideoHeader(4L, inMoov).brand == "unknown")
    val wrap = Multimodal.synthMp4("isom", 600, 600L, 0)
    wrap(0) = 0x7F; wrap(1) = 0xFF.toByte; wrap(2) = 0xFF.toByte; wrap(3) = 0xF8.toByte
    assert(Multimodal.decodeVideoHeader(5L, wrap).brand == "unknown")
    assert(Multimodal.decodeVideoHeader(3L, Array.emptyByteArray) ==
      Multimodal.VideoMeta(3L, 0, "unknown", 0, 0L, 0L))
  }

  test("tar: index walk round-trips, flags corrupted checksums, survives truncation") {
    val good = Multimodal.decodeTarIndex(7L, Multimodal.synthTar(7L, 41L))
    assert(good == Multimodal.TarIndex(7L, 3072, 2, "doc7.txt,meta7.json", 51L, 1))
    // flip a data-independent header byte (uid field) → checksum mismatch
    val corrupt = Multimodal.synthTar(7L, 41L)
    corrupt(108) = '7'
    assert(Multimodal.decodeTarIndex(7L, corrupt).checksums_ok == 0)
    // truncation mid-chain: walk reports what it saw, never throws
    val trunc = Multimodal.decodeTarIndex(7L, Multimodal.synthTar(7L, 41L).take(700))
    assert(trunc.n_members == 1 && trunc.member_names == "doc7.txt")
    assert(Multimodal.decodeTarIndex(8L, Array.emptyByteArray).n_members == 0)
    // size -1024 (octal -2000) rounds to a zero-block advance: the walk
    // must end instead of re-reading the same header forever
    val negative = Multimodal.synthTar(7L, 41L)
    "-0000002000".getBytes("US-ASCII").copyToArray(negative, 124)
    val neg = Multimodal.decodeTarIndex(7L, negative)
    assert(neg.checksums_ok == 0 && neg.n_members == 1)
  }

  test("zip: central-directory walk round-trips, flags bad CRCs, survives truncation") {
    val bytes = Multimodal.synthZip(7L, 41L)
    val good = Multimodal.decodeZipIndex(7L, bytes)
    // 206 + 4*1 digit + 42 + 9 = 261
    assert(good == Multimodal.ZipIndex(7L, 261, 2, "doc7.txt,meta7.json", 51L, 1, 1))
    // flip a data byte → the recorded CRC no longer matches the recompute
    val corrupt = bytes.clone()
    corrupt(38) = (corrupt(38) ^ 0x5A).toByte // first data byte of doc7.txt (30 hdr + 8 name)
    val c = Multimodal.decodeZipIndex(7L, corrupt)
    assert(c.crc_ok == 0 && c.structure_ok == 1)
    // truncation kills the EOCD → structural failure, never a throw
    val trunc = Multimodal.decodeZipIndex(7L, bytes.take(bytes.length - 30))
    assert(trunc.structure_ok == 0)
    assert(Multimodal.decodeZipIndex(8L, Array.emptyByteArray).n_members == 0)
    // tampered numeric fields are read wide and bound-checked: the
    // EOCD cd_offset and the first entry's local-header offset with
    // the high bit set, and a central-entry name length past the end
    val eocd = bytes.length - 22
    val cd = (bytes(eocd + 16) & 0xFF) | ((bytes(eocd + 17) & 0xFF) << 8)
    def tamper(at: Int*): Array[Byte] = {
      val t = bytes.clone(); at.foreach(i => t(i) = (t(i) | 0x80).toByte); t
    }
    for (t <- Seq(tamper(eocd + 19), tamper(cd + 45), tamper(cd + 28, cd + 29)))
      assert(Multimodal.decodeZipIndex(7L, t).structure_ok == 0)
  }

  test("warc: record walk round-trips, flags bad version/terminator, survives truncation") {
    val bytes = Multimodal.synthWarc(7L, 41L)
    val good = Multimodal.decodeWarcIndex(7L, bytes)
    // 243 + 2*1 digit + len("42") + len("9") + 42 + 9 = 299
    assert(good == Multimodal.WarcIndex(7L, 299, 3, 2,
      "http://ex.org/doc7,http://ex.org/meta7", 51L, 1))
    // corrupt the version line of record 2 (offset 60 = end of warcinfo)
    val badVer = bytes.clone(); badVer(60) = 'X'
    val bv = Multimodal.decodeWarcIndex(7L, badVer)
    assert(bv.structure_ok == 0 && bv.n_records == 1)
    // overwrite a terminator CRLF → structural failure on that record
    val badTerm = bytes.clone()
    val t = Multimodal.decodeWarcIndex(7L, {
      // record 2 terminator starts right before record 3; find it by
      // walking: warcinfo is 60, record 2 is 74+18+2+42 = 136... assert
      // via behavior instead: chop the final CRLF CRLF
      badTerm.take(bytes.length - 2)
    })
    assert(t.structure_ok == 0 && t.n_records == 2, t)
    // truncation mid-payload: reports the records fully walked
    val trunc = Multimodal.decodeWarcIndex(7L, bytes.take(100))
    assert(trunc.structure_ok == 0 && trunc.n_records == 1)
    assert(Multimodal.decodeWarcIndex(8L, Array.emptyByteArray).n_records == 0)
    // a Content-Length near Long.MaxValue must not wrap the range check
    val huge = new String(bytes, "ISO-8859-1")
      .replaceFirst("Content-Length: 42", "Content-Length: 9223372036854775807")
      .getBytes("ISO-8859-1")
    val h = Multimodal.decodeWarcIndex(7L, huge)
    assert(h.structure_ok == 0 && h.n_records == 1)
  }

  test("utf8Scan: valid sequences, broken leads, truncation, and resync") {
    import Multimodal.{utf8Scan, Utf8Audit}
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // "a€b" — valid 3-byte char amid ASCII
    assert(utf8Scan(1, "a€b".getBytes("UTF-8")) == Utf8Audit(1, 5, 2, 1, 0, 1))
    // 4-byte emoji is one multi sequence
    assert(utf8Scan(2, "🎉".getBytes("UTF-8")) == Utf8Audit(2, 4, 0, 1, 0, 1))
    // lone continuation byte: invalid, resync continues to 'x'
    assert(utf8Scan(3, bytes(0x80, 'x')) == Utf8Audit(3, 2, 1, 0, 1, 0))
    // C3 followed by non-continuation: ONE invalid, follower re-reads as ASCII
    assert(utf8Scan(4, bytes(0xC3, 0x28)) == Utf8Audit(4, 2, 1, 0, 1, 0))
    // 3-byte lead truncated at buffer end: invalid, then its one
    // continuation byte also invalid (resync-by-one semantics)
    assert(utf8Scan(5, bytes(0xE2, 0x9C)) == Utf8Audit(5, 2, 0, 0, 2, 0))
    // C0 overlong lead and F5 out-of-range lead are invalid outright
    assert(utf8Scan(6, bytes(0xC0, 0xAF)) == Utf8Audit(6, 2, 0, 0, 2, 0))
    assert(utf8Scan(7, bytes(0xF5, 0x90, 0x90, 0x90)) == Utf8Audit(7, 4, 0, 0, 4, 0))
    // empty payload is trivially valid
    assert(utf8Scan(8, Array.emptyByteArray) == Utf8Audit(8, 0, 0, 0, 0, 1))
  }

  test("synthImage: even ids are PNG, odd are JPEG, dims follow the formula") {
    val p = Multimodal.decodeHeader(42L, Multimodal.synthImage(42L, 250))
    assert(p == DecodedMeta(42L, 57 + 50, 42 + 16, 42 + 16, "png"))
    val j = Multimodal.decodeHeader(1001L, Multimodal.synthImage(1001L, 7))
    assert(j == DecodedMeta(1001L, 41 + 7, (1001 % 640) + 16, (1001 % 480) + 16, "jpeg"))
  }

  test("npy: header round-trips; truncated shards and bad magic fail valid, never mis-report") {
    // id 6: shape (2, 7), '<f4' → 56 data bytes
    val good = Multimodal.decodeNpyHeader(6L, Multimodal.synthNpy(6L))
    assert(good.valid && good.dtype == "<f4" && good.rows == 2 && good.cols == 7)
    assert(good.n_elems == 14L && good.item_bytes == 4 && good.data_bytes == 56L)
    assert((10 + good.header_len) % 64 == 0)
    assert(good.byte_len == 10 + good.header_len + 56)
    // id 7: odd → '<i8', shape (3, 1) → 24 data bytes
    val i8 = Multimodal.decodeNpyHeader(7L, Multimodal.synthNpy(7L))
    assert(i8.valid && i8.dtype == "<i8" && i8.data_bytes == 3L * 1 * 8)
    // truncation: the header still parses but the size proof fails —
    // the shard is flagged, its shape is NOT trusted blindly
    val trunc = Multimodal.synthNpy(6L).dropRight(1)
    assert(!Multimodal.decodeNpyHeader(6L, trunc).valid)
    // corrupted magic: structurally rejected
    val bad = Multimodal.synthNpy(6L).clone()
    bad(1) = 'X'
    assert(!Multimodal.decodeNpyHeader(6L, bad).valid)
    // itemsize or shape digits past Int range fail valid, never throw
    // (the widened field eats into the header's space padding)
    val npy = new String(Multimodal.synthNpy(6L), "ISO-8859-1")
    for ((from, to) <- Seq("'<f4'" -> "'<f99999999999'", "(2, 7)" -> "(99999999999, 7)")) {
      val wide = npy.replace(from, to).replace(" " * (to.length - from.length) + "\n", "\n")
      assert(!Multimodal.decodeNpyHeader(6L, wide.getBytes("ISO-8859-1")).valid)
    }
  }

  test("warc html: body round-trips byte-exact; malformed shards fail structure_ok") {
    val html = Multimodal.synthHtml(7L, "some words here")
    // the record grammar by hand: warcinfo + one response
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    w("WARC/1.0\r\n"); w("WARC-Type: warcinfo\r\n")
    w("Content-Length: 4\r\n\r\n"); w("info"); w("\r\n\r\n")
    w("WARC/1.0\r\n"); w("WARC-Type: response\r\n")
    w("WARC-Target-URI: http://ex.org/page7\r\n")
    w(s"Content-Length: ${html.length}\r\n\r\n"); w(html); w("\r\n\r\n")
    assert(Multimodal.synthWarcHtml(7L, "some words here").sameElements(out.toByteArray))
    val good = Multimodal.decodeWarcBody(7L, out.toByteArray)
    assert(good == Multimodal.WarcBody(7L, "http://ex.org/page7", html, 1))
    // truncation mid-body → structural failure, empty body, no throw
    val trunc = Multimodal.decodeWarcBody(7L, out.toByteArray.take(100))
    assert(trunc.structure_ok == 0 && trunc.body.isEmpty)
    assert(Multimodal.decodeWarcBody(8L, Array.emptyByteArray).structure_ok == 0)
    // a Content-Length near Long.MaxValue: invalid row, not a throw
    val huge = new String(out.toByteArray, "ISO-8859-1")
      .replaceFirst(s"Content-Length: ${html.length}", "Content-Length: 9223372036854775807")
      .getBytes("ISO-8859-1")
    assert(Multimodal.decodeWarcBody(7L, huge) == Multimodal.WarcBody(7L, "", "", 0))
  }

  test("gray aHash: group members land within hamming 3, noise pixel is invariant, cross-group is far") {
    def ham(a: Multimodal.GrayHash, b: Multimodal.GrayHash): Int =
      java.lang.Long.bitCount(a.sig_lo ^ b.sig_lo) +
        java.lang.Long.bitCount(a.sig_hi ^ b.sig_hi)
    def hash(id: Long) = Multimodal.decodeGrayHash(id, Multimodal.synthGray(id))
    // ids 3 and 1 share group 0 (f = 3 vs 1): planted hamming |3-1| = 2
    assert(ham(hash(3L), hash(1L)) == 2)
    // ids 3 and 7 (group 0, f = 3 vs 3): identical signatures — and
    // id 7's +1 noise pixel (7%3=1) must vanish in the pooling floor
    assert(ham(hash(3L), hash(7L)) == 0)
    // different groups (md5-random patterns): far apart, never banded in
    assert(ham(hash(3L), hash(23L)) > 10)
    // header damage / truncation / bad dims fail valid, zero sigs
    val bytes = Multimodal.synthGray(3L)
    val badMagic = bytes.clone(); badMagic(0) = 'X'
    assert(!Multimodal.decodeGrayHash(3L, badMagic).valid)
    assert(!Multimodal.decodeGrayHash(3L, bytes.dropRight(1)).valid)
    assert(!Multimodal.decodeGrayHash(3L, Array.emptyByteArray).valid)
  }

  test("safetensors: offsets must tile; truncation and gapped offsets fail valid") {
    // id 6: emb F32 (2,7) at [0,56), ids I64 (2,) at [56,72)
    val good = Multimodal.decodeSafetensorsHeader(6L, Multimodal.synthSafetensors(6L))
    assert(good.valid && good.contiguous && good.n_tensors == 2)
    assert(good.total_data_bytes == 72L && good.byte_len == 8 + good.header_len + 72)
    // truncated data: header parses, size identity fails
    val trunc = Multimodal.synthSafetensors(6L).dropRight(1)
    val t = Multimodal.decodeSafetensorsHeader(6L, trunc)
    assert(t.contiguous && !t.valid)
    // a GAP between tensors (second starts past the first's end) must
    // fail contiguity even when total size happens to line up
    val r = 2; val c = 7; val a = r * c * 4
    val json = s"""{"emb":{"dtype":"F32","shape":[$r,$c],"data_offsets":[0,$a]},""" +
      s""""ids":{"dtype":"I64","shape":[$r],"data_offsets":[${a + 8},${a + 8 + r * 8}]}}"""
    val n = json.length.toLong
    val gapped = Array.tabulate[Byte](8)(i => ((n >> (8 * i)) & 0xffL).toByte) ++
      json.getBytes("US-ASCII") ++ Array.fill[Byte](a + 8 + r * 8)(0)
    val g = Multimodal.decodeSafetensorsHeader(6L, gapped)
    assert(!g.contiguous && !g.valid)
    // a 20-digit data_offsets value overflows a Long: invalid, no throw
    val wideJson = json.replace(s"[${a + 8},${a + 8 + r * 8}]", s"[$a,99999999999999999999]")
    val wn = wideJson.length.toLong
    val wide = Array.tabulate[Byte](8)(i => ((wn >> (8 * i)) & 0xffL).toByte) ++
      wideJson.getBytes("US-ASCII")
    assert(!Multimodal.decodeSafetensorsHeader(6L, wide).valid)
  }

  test("pdf: xref offset walk verifies, text extracts in order; broken xref still extracts") {
    val text = "alpha beta (tricky) gamma\\now delta epsilon zeta eta theta ninth"
    val b = Multimodal.synthPdf(42L, text)
    val d = Multimodal.decodePdfText(42L, b)
    assert(d.valid && d.xref_ok && d.n_objs == 5)
    // first 8 words, parens/backslashes stripped at synthesis
    assert(d.text == "alpha beta tricky gammanow delta epsilon zeta eta")
    assert(d.n_text_ops == 8)
    val wl = Seq("alpha", "beta", "tricky", "gammanow", "delta",
      "epsilon", "zeta", "eta")
    assert(d.stream_len == 15 + wl.map(_.length).sum + 9 * wl.length)
    // tamper ONE xref offset digit: objects stop matching their
    // recorded offsets → xref_ok false, but scavenger extraction
    // still returns the full text (real-reader behavior)
    val s = new String(b, "ISO-8859-1")
    val xrefAt = s.lastIndexOf("xref\n0 6\n")
    val tampered = b.clone()
    tampered(xrefAt + 9 + 20) = '9' // first digit of object 1's offset
    val t = Multimodal.decodePdfText(42L, tampered)
    assert(t.valid && !t.xref_ok && t.text == d.text && t.n_text_ops == 8)
    // truncated before startxref → invalid; garbage → invalid
    val cut = b.take(s.lastIndexOf("startxref"))
    assert(!Multimodal.decodePdfText(42L, cut).valid)
    assert(!Multimodal.decodePdfText(42L, "not a pdf".getBytes("US-ASCII")).valid)
    // tampered digit runs parse wide and take the out-of-range path: an
    // 11-digit startxref skips the xref walk but still extracts; an
    // 11-digit or Int.MaxValue /Length yields no stream
    def pdf(str: String) = Multimodal.decodePdfText(42L, str.getBytes("ISO-8859-1"))
    val farXref = pdf(s.replaceFirst("startxref\n\\d+", "startxref\n99999999999"))
    assert(farXref.valid && !farXref.xref_ok && farXref.text == d.text)
    for (n <- Seq("99999999999", "2147483647")) {
      val l = pdf(s.replaceFirst("/Length \\d+", s"/Length $n"))
      assert(l.valid && l.stream_len == 0 && l.n_text_ops == 0)
    }
    // empty text → zero ops, stream is the bare BT..ET wrapper
    val e = Multimodal.decodePdfText(1L, Multimodal.synthPdf(1L, "   "))
    assert(e.valid && e.xref_ok && e.n_text_ops == 0 && e.text == "" &&
      e.stream_len == 15)
  }

  test("pcm: frame energies match the amplitude formula; 16-bit files and truncation are safe") {
    // id 13: a = 20 + 3*10 = 50, f0 = 1, period 12
    val d = Multimodal.decodePcmEnergy(13L, Multimodal.synthPcmWav(13L))
    assert(d.valid && d.sample_rate == 8000 && d.n_samples == 400 && d.n_frames == 8)
    assert(d.n_silent == 2)
    assert(d.total_energy == 50L * (6 * 50 + 27 - 2 * 1))
    assert(d.max_frame_energy == 50L * (50 + 7))
    // a 16-bit WAV (x6's synthesis) must fail valid, not mis-frame
    assert(!Multimodal.decodePcmEnergy(13L, Multimodal.synthWav(8000, 1, 100)).valid)
    // truncation: declared 400 samples, only 120 present → exactly 2
    // full frames measured; id 4 has f0 = 0, so both surviving frames
    // are the planted silence (total energy 0) and the 20-sample tail
    // fragment is dropped, not mis-measured
    val t = Multimodal.decodePcmEnergy(4L, Multimodal.synthPcmWav(4L).take(44 + 120))
    assert(t.valid && t.n_samples == 120 && t.n_frames == 2 && t.n_silent == 2 &&
      t.total_energy == 0L)
    assert(!Multimodal.decodePcmEnergy(4L, Array.emptyByteArray).valid)
  }

  test("exif orientation: both byte orders round-trip; stripped/tampered Exif takes the upright default") {
    // id 2: little-endian, orientation 1 + 2%8 = 3
    val a = Multimodal.decodeJpegExif(2L, Multimodal.synthJpegExif(2L))
    assert(a.valid && a.exif_present && a.byte_order == "II" &&
      a.orientation == 3 && a.needs_transform == 1)
    // id 7: big-endian, orientation 1 + 7%8 = 8
    val b = Multimodal.decodeJpegExif(7L, Multimodal.synthJpegExif(7L))
    assert(b.valid && b.exif_present && b.byte_order == "MM" &&
      b.orientation == 8)
    // id 8: orientation 1 + 8%8 = 1 — present but upright, no transform
    val c = Multimodal.decodeJpegExif(8L, Multimodal.synthJpegExif(8L))
    assert(c.exif_present && c.orientation == 1 && c.needs_transform == 0)
    // id 4 (%5==4): Exif stripped — upright default, present=false
    val d = Multimodal.decodeJpegExif(4L, Multimodal.synthJpegExif(4L))
    assert(d.valid && !d.exif_present && d.orientation == 1 && d.byte_order == "none")
    // tampered TIFF magic inside APP1 → unusable Exif, upright default
    val t = Multimodal.synthJpegExif(2L).clone()
    t(14) = 99.toByte // the embedded TIFF's magic-42 low byte (LE)
    val e = Multimodal.decodeJpegExif(2L, t)
    assert(e.valid && !e.exif_present && e.orientation == 1)
    // not a JPEG at all → invalid, never a fabricated orientation
    assert(!Multimodal.decodeJpegExif(0L, Array[Byte](1, 2, 3, 4)).valid)
  }

  test("audio fingerprint: time-shift invariance, planted flips, and malformed rejects") {
    // ids 0 and 8 share group 0 with f = 0 — payloads differ ONLY by the
    // per-frame rotation (0 vs 1 samples): bytes distinct, sig identical
    val a = Multimodal.decodeAudioFpWav(0L, Multimodal.synthAudioFpWav(0L))
    val b = Multimodal.decodeAudioFpWav(8L, Multimodal.synthAudioFpWav(8L))
    assert(a.valid && b.valid)
    assert(!Multimodal.synthAudioFpWav(0L).sameElements(Multimodal.synthAudioFpWav(8L)))
    assert(a.sig_lo == b.sig_lo && a.sig_hi == b.sig_hi)
    // id 1 (f = 1) flips exactly bit 0 of the low word vs id 0
    val c = Multimodal.decodeAudioFpWav(1L, Multimodal.synthAudioFpWav(1L))
    assert((c.sig_lo ^ a.sig_lo) == 1L && c.sig_hi == a.sig_hi)
    // id 3 (f = 3): hamming 3 from f=0 — surfaced by banding, killed by
    // the d26 verification radius of 2
    val e = Multimodal.decodeAudioFpWav(3L, Multimodal.synthAudioFpWav(3L))
    assert(java.lang.Long.bitCount(e.sig_lo ^ a.sig_lo) +
      java.lang.Long.bitCount(e.sig_hi ^ a.sig_hi) == 3)
    // different group ⇒ unrelated contour (md5 words differ)
    val g = Multimodal.decodeAudioFpWav(20L, Multimodal.synthAudioFpWav(20L))
    assert(g.sig_lo != a.sig_lo || g.sig_hi != a.sig_hi)
    // mean energy: 1500 + 3000·n_set/64 (floor), n_set = popcount(sig)
    val nSet = java.lang.Long.bitCount(a.sig_lo) + java.lang.Long.bitCount(a.sig_hi)
    assert(a.mean_energy == 1500L + (3000L * nSet) / 64L)
    // a 16-bit WAV must fail valid, not mis-frame; fewer than 64 full
    // frames (x19's 400-sample file) must fail valid, not under-hash
    assert(!Multimodal.decodeAudioFpWav(0L, Multimodal.synthWav(8000, 1, 100)).valid)
    assert(!Multimodal.decodeAudioFpWav(0L, Multimodal.synthPcmWav(0L)).valid)
    assert(!Multimodal.decodeAudioFpWav(0L,
      Multimodal.synthAudioFpWav(0L).take(44 + 63 * 50)).valid)
  }

  test("oriented aHash: every tag-274 value normalizes to the upright signature; unnormalized splits") {
    // one group (ids 160-179 share g=8): id 160 is upright (o=1,f=0),
    // id 165 is a rotate-90 twin (o = 1+165%8 = 6, f = 1)
    val up = Multimodal.decodeOrientedHash(160L, Multimodal.synthGrayOriented(160L))
    val tw = Multimodal.decodeOrientedHash(165L, Multimodal.synthGrayOriented(165L))
    assert(up.valid && tw.valid)
    assert(up.orientation == 1 && tw.orientation == 6)
    // normalized signatures differ only by the planted flip bit — the
    // rotated twin LANDS IN THE SAME NEAR-DUP GROUP (d27 radius 2)
    def ham(a: Multimodal.OrientedHash, b: Multimodal.OrientedHash): Int =
      java.lang.Long.bitCount(a.sig_lo ^ b.sig_lo) +
        java.lang.Long.bitCount(a.sig_hi ^ b.sig_hi)
    assert(ham(up, tw) == 1, s"$up vs $tw")
    // the same stored pixels WITHOUT normalization (x17's plain aHash
    // over the rotated grid) split the twin away — the gap this key
    // closes
    val stored = Multimodal.synthGrayOriented(165L)
    val gray = "GRAY8".getBytes("US-ASCII") ++ stored.slice(5, 9 + 256)
    val unnorm = Multimodal.decodeGrayHash(165L, gray)
    assert(unnorm.valid)
    val hamUn = java.lang.Long.bitCount(unnorm.sig_lo ^ up.sig_lo) +
      java.lang.Long.bitCount(unnorm.sig_hi ^ up.sig_hi)
    assert(hamUn > 2, s"unnormalized twin unexpectedly close: $hamUn")
    // every tag value 1..8 appears inside one 20-id group; members with
    // the same flip count must normalize to the IDENTICAL signature
    // regardless of stored orientation (ids 160,168 share f=0,o=1,... —
    // pick the f=0 members across orientations: 160 o=1, 168 o=1; use
    // the o-spread f-equal pairs (164 stripped o=1), (165,169 f=1,2...)
    // — strongest direct check: all 20 group members land within ham 3)
    val sigs = (160L until 180L).map(i =>
      Multimodal.decodeOrientedHash(i, Multimodal.synthGrayOriented(i)))
    assert(sigs.forall(_.valid))
    for (a <- sigs; b <- sigs) assert(ham(a, b) <= 3, s"$a vs $b")
    // stripped trailer (id%5==4) takes the upright default and still
    // joins the group: id 164 (o stored upright, f=0 — 164%4=0)
    val st = Multimodal.decodeOrientedHash(164L, Multimodal.synthGrayOriented(164L))
    assert(st.valid && st.orientation == 1 && st.byte_order == "none")
    assert(ham(up, st) == 0)
  }

  test("scene cuts: planted boundaries detected, doc luma offset invariant, truncation fails valid") {
    def cuts(id: Long) = Multimodal.decodeSceneCuts(id, Multimodal.synthVideoScenes(id))
    // 2 scenes (id%3==0) -> one cut at frame 12; 3 -> 8,16; 4 -> 6,12,18
    assert(cuts(0L).cut_frames == "12" && cuts(0L).n_cuts == 1)
    assert(cuts(1L).cut_frames == "8,16" && cuts(1L).n_cuts == 2)
    assert(cuts(2L).cut_frames == "6,12,18" && cuts(2L).n_cuts == 3)
    // the per-doc luma offset shifts every frame equally: same scene
    // structure -> identical cuts, different first_luma
    assert(cuts(0L).cut_frames == cuts(12L).cut_frames)
    assert(cuts(0L).first_luma == 60 && cuts(3L).first_luma == 63)
    // truncated payload (id%13==5) must fail valid, not emit partial cuts
    assert(!cuts(5L).valid && cuts(5L).cut_frames == "")
    // a hand-truncated otherwise-valid payload also fails
    assert(!Multimodal.decodeSceneCuts(0L,
      Multimodal.synthVideoScenes(0L).dropRight(1)).valid)
    // n·w·h = 2048·2048·1024 = 2^32 wraps an Int to 0: a bare 11-byte
    // header must not pass the size check and index past the end
    val wrap = "GVID8".getBytes("US-ASCII") ++ Array[Byte](8, 0, 8, 0, 4, 0)
    assert(!Multimodal.decodeSceneCuts(0L, wrap).valid)
  }
}
