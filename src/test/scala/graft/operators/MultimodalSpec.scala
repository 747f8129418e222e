package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Header-parser goldens (PNG IHDR / JPEG SOFn / WAV fmt, hand-built
  * per the public specs) and the decodeMedia mixed-table pass with its
  * stub fallback. */
class MultimodalSpec extends AnyFunSuite with SharedSpark {

  private def hx(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  // 640x480 truecolor PNG header (depth 8, color type 2), filler CRC
  private val png = hx("89504E470D0A1A0A 0000000D 49484452 00000280 000001E0 08 02 00 00 00 DEADBEEF")
  // JPEG with an APP0/JFIF segment BEFORE the SOF0 — the marker walk
  // must skip it by length; SOF0: precision 8, height 0x0100=256,
  // width 0x0180=384, 3 components
  private val jpeg = hx("FFD8" +
    "FFE00010 4A46494600 0101 00 0001 0001 00 00" + // APP0 len 16
    "FFC00011 08 0100 0180 03 011100 021101 031101" +
    "FFD9")
  // WAV with a 3-byte JUNK chunk before fmt — the chunk walk must
  // word-align (3 -> 4) to land on fmt: stereo, 44100 Hz
  private val wav = hx("52494646 24000000 57415645" +
    "4A554E4B 03000000 AABBCC 00" +
    "666D7420 10000000 0100 0200 44AC0000 10B10200 0400 1000" +
    "64617461 00000000")

  test("parseHeader reads PNG/JPEG/WAV goldens byte-exactly") {
    assert(MultimodalOps.parseHeader(png)
      .contains(MultimodalOps.MediaHeader("png", 640, 480, 3, 0)))
    assert(MultimodalOps.parseHeader(jpeg)
      .contains(MultimodalOps.MediaHeader("jpeg", 384, 256, 3, 0)))
    assert(MultimodalOps.parseHeader(wav)
      .contains(MultimodalOps.MediaHeader("wav", 0, 0, 2, 44100)))
  }

  test("parseHeader channel mapping follows the PNG color types") {
    for ((colorType, chans) <- Seq(0 -> 1L, 2 -> 3L, 3 -> 1L, 4 -> 2L, 6 -> 4L)) {
      val p = png.clone(); p(25) = colorType.toByte
      assert(MultimodalOps.parseHeader(p).map(_.channels).contains(chans),
        s"color type $colorType")
    }
    // an undefined color type is a refusal, not a guess
    val bad = png.clone(); bad(25) = 7.toByte
    assert(MultimodalOps.parseHeader(bad).isEmpty)
  }

  test("parseHeader handles progressive JPEG, EXIF APP1, and extended WAV fmt") {
    // progressive JPEG: SOF2 (0xC2) is a frame header like SOF0
    val sof2 = hx("FFD8 FFC20011 08 0040 0080 03 011100 021101 031101 FFD9")
    assert(MultimodalOps.parseHeader(sof2)
      .contains(MultimodalOps.MediaHeader("jpeg", 128, 64, 3, 0)))
    // EXIF APP1 (odd length) before the SOF — skipped by length like APP0
    val exif = hx("FFD8" +
      "FFE1000B 457869660000 AABB CD" + // APP1 len 11
      "FFC00011 08 0010 0020 01 011100 021101 031101" +
      "FFD9")
    assert(MultimodalOps.parseHeader(exif)
      .contains(MultimodalOps.MediaHeader("jpeg", 32, 16, 1, 0)))
    // DHT (0xC4) is NOT a frame header and must be skipped, not parsed
    val dht = hx("FFD8 FFC40007 00 AABBCCDD" +
      "FFC00011 08 0008 0009 03 011100 021101 031101 FFD9")
    assert(MultimodalOps.parseHeader(dht)
      .contains(MultimodalOps.MediaHeader("jpeg", 9, 8, 3, 0)))
    // WAVE_FORMAT_EXTENSIBLE-style fmt with cbSize (chunk len 18): the
    // channel/rate offsets are unchanged, the walk skips the extension
    val wavExt = hx("52494646 2A000000 57415645" +
      "666D7420 12000000 FFFE 0600 80BB0000 00DC0500 0C00 1800 0000" +
      "64617461 00000000")
    assert(MultimodalOps.parseHeader(wavExt)
      .contains(MultimodalOps.MediaHeader("wav", 0, 0, 6, 48000)))
    // T.81 B.1.1.2 fill bytes: any number of 0xFF padding bytes before
    // a marker code are legal — the walk must consume them, not read
    // the second 0xFF as a marker with a bogus length (round-5 ADVICE)
    val padded = hx("FFD8 FFFFFF" + // two fill bytes before APP0's FF
      "FFE00010 4A46494600 0101 00 0001 0001 00 00" +
      "FFFF" +                      // one fill byte before SOF0's FF
      "FFC00011 08 0100 0180 03 011100 021101 031101 FFD9")
    assert(MultimodalOps.parseHeader(padded)
      .contains(MultimodalOps.MediaHeader("jpeg", 384, 256, 3, 0)))
  }

  test("decodePngPixels round-trips the encoder across all five filters") {
    // deterministic gradient-ish pixels stress every predictor: Sub
    // (left), Up, Average, Paeth all see non-trivial neighbors
    val w = 23; val h = 17 // deliberately not a power of two
    val px = Array.tabulate(w * h)(i => ((i * 31 + 7) % 256).toByte)
    for (f <- 0 to 4) {
      val png = MultimodalOps.encodePngGray(px, w, h, _ => f)
      val got = MultimodalOps.decodePngPixels(png)
      assert(got.exists(_.sameElements(px)), s"filter $f did not round-trip")
    }
    // per-row cycling filters (what the m_media_pixels planting does)
    val mixed = MultimodalOps.encodePngGray(px, w, h, r => r % 5)
    assert(MultimodalOps.decodePngPixels(mixed).exists(_.sameElements(px)))
    // the decoded stream also still header-parses like any PNG
    assert(MultimodalOps.parseHeader(mixed)
      .contains(MultimodalOps.MediaHeader("png", w, h, 1, 0)))
  }

  test("decodePngPixels: sub-byte and 16-bit depths round-trip, scaled and interlaced") {
    val w = 13; val h = 9 // w deliberately not filling the last byte at any sub-byte depth
    for (depth <- Seq(1, 2, 4)) {
      val maxV = (1 << depth) - 1
      val scale = 255 / maxV
      val vals = Array.tabulate(w * h)(i => (i * 7 + depth) % (maxV + 1))
      val want = vals.map(v => (v * scale).toByte)
      for (f <- 0 to 4) {
        val png = MultimodalOps.encodePngGrayDepth(vals, w, h, depth, _ => f)
        val got = MultimodalOps.decodePngPixels(png)
        assert(got.exists(_.sameElements(want)), s"depth $depth filter $f")
      }
      // Adam7: narrow passes exercise per-pass byte padding
      val adam = MultimodalOps.encodePngGrayDepth(vals, w, h, depth, r => r % 5,
        interlace = true)
      assert(MultimodalOps.decodePngPixels(adam).exists(_.sameElements(want)),
        s"depth $depth adam7")
    }
    // 16-bit: emitted byte is the big-endian HIGH byte
    val v16 = Array.tabulate(w * h)(i => (i * 2654 + 99) % 65536)
    val want16 = v16.map(v => ((v >> 8) & 0xff).toByte)
    val png16 = MultimodalOps.encodePngGrayDepth(v16, w, h, 16, r => (r + 1) % 5)
    assert(MultimodalOps.decodePngPixels(png16).exists(_.sameElements(want16)))
    val adam16 = MultimodalOps.encodePngGrayDepth(v16, w, h, 16, r => r % 5,
      interlace = true)
    assert(MultimodalOps.decodePngPixels(adam16).exists(_.sameElements(want16)))
    // depth 8 via the generalized encoder = the original encoder's bytes
    val v8 = Array.tabulate(w * h)(i => (i * 31) % 256)
    val a8 = MultimodalOps.encodePngGrayDepth(v8, w, h, 8, r => r % 5)
    val b8 = MultimodalOps.encodePngGray(v8.map(_.toByte), w, h, r => r % 5)
    assert(a8.sameElements(b8))
    // illegal combos refuse: depth 2 truecolor, depth 16 palette
    val base = MultimodalOps.encodePngGrayDepth(v16, w, h, 16, _ => 0)
    val d16pal = base.clone(); d16pal(25) = 3 // color type byte in IHDR
    assert(MultimodalOps.decodePngPixels(d16pal) === None)
    val d2rgb = MultimodalOps.encodePngGrayDepth(
      Array.fill(w * h)(1), w, h, 2, _ => 0).clone()
    d2rgb(25) = 2
    assert(MultimodalOps.decodePngPixels(d2rgb) === None)
  }

  test("decodePngPixels refuses hostile and corrupt streams") {
    val w = 8; val h = 8
    val px = Array.tabulate(w * h)(_.toByte)
    val good = MultimodalOps.encodePngGray(px, w, h, _ => 0)
    assert(MultimodalOps.decodePngPixels(good).isDefined)
    // truncated IDAT: cut the blob mid-chunk — inflate must starve, not hang
    assert(MultimodalOps.decodePngPixels(good.take(good.length - 20)) === None)
    // bad filter byte: corrupt the raw stream by re-encoding with an
    // undefined type via direct byte surgery on the inflated stream —
    // simplest equivalent: deflate a raw stream whose first byte is 9
    val raw = new Array[Byte](h * (w + 1))
    raw(0) = 9 // undefined filter type
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val zout = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!defl.finished()) zout.write(buf, 0, defl.deflate(buf))
    defl.end()
    val crc = new java.util.zip.CRC32()
    val bos = new java.io.ByteArrayOutputStream()
    def be32(v: Long): Array[Byte] = Array(((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(t: String, d: Array[Byte]): Unit = {
      bos.write(be32(d.length.toLong), 0, 4)
      val tb = t.getBytes("US-ASCII")
      crc.reset(); crc.update(tb); crc.update(d)
      bos.write(tb, 0, 4); bos.write(d, 0, d.length); bos.write(be32(crc.getValue), 0, 4)
    }
    bos.write(hx("89504E470D0A1A0A"), 0, 8)
    chunk("IHDR", be32(w.toLong) ++ be32(h.toLong) ++ Array[Byte](8, 0, 0, 0, 0))
    chunk("IDAT", zout.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    assert(MultimodalOps.decodePngPixels(bos.toByteArray) === None)
    // hostile IHDR dims: a 65535x65535 gray claim must refuse on the
    // inflate-target cap, never allocate 4 GB
    val big = good.clone()
    big(16) = 0; big(17) = 0; big(18) = 0xff.toByte; big(19) = 0xff.toByte
    big(20) = 0; big(21) = 0; big(22) = 0xff.toByte; big(23) = 0xff.toByte
    assert(MultimodalOps.decodePngPixels(big) === None)
    // hostile chunk length: 0xFFFFFFFF must refuse, not walk backward
    val hostile = good.clone()
    hostile(33) = 0xff.toByte; hostile(34) = 0xff.toByte
    hostile(35) = 0xff.toByte; hostile(36) = 0xff.toByte
    assert(MultimodalOps.decodePngPixels(hostile) === None)
    // flipping the interlace byte on a NON-interlaced stream makes the
    // Adam7 raw length disagree with the deflate payload — refuse
    val adam7 = good.clone(); adam7(28) = 1
    assert(MultimodalOps.decodePngPixels(adam7) === None)
    // 16-bit depth is out of scope — refuse
    val deep = good.clone(); deep(24) = 16
    assert(MultimodalOps.decodePngPixels(deep) === None)
    // JPEG and junk fall through to None (the pixelFeatures fallback)
    assert(MultimodalOps.decodePngPixels(jpeg) === None)
    assert(MultimodalOps.decodePngPixels(null) === None)
  }

  test("decodePngPixels round-trips Adam7 interlaced streams") {
    // deinterlaced output must equal the original pixel order exactly,
    // for dimensions exercising every pass-emptiness case
    for ((w, h) <- Seq((23, 17), (8, 8), (16, 16), (5, 3), (1, 1), (2, 2), (9, 1), (1, 9))) {
      val px = Array.tabulate(w * h)(i => ((i * 31 + 7) % 256).toByte)
      for (f <- Seq(0, 4)) {
        val png = MultimodalOps.encodePngGray(px, w, h, _ => f, interlace = true)
        assert(MultimodalOps.decodePngPixels(png).exists(_.sameElements(px)),
          s"${w}x$h filter $f did not round-trip interlaced")
      }
      val mixed = MultimodalOps.encodePngGray(px, w, h, r => r % 5, interlace = true)
      assert(MultimodalOps.decodePngPixels(mixed).exists(_.sameElements(px)),
        s"${w}x$h cycling filters")
      // interlaced and plain encodings of the same pixels decode alike
      val plain = MultimodalOps.encodePngGray(px, w, h, r => r % 5)
      assert(MultimodalOps.decodePngPixels(plain).exists(_.sameElements(px)))
    }
  }

  test("decodeBmpPixels: both row orders round-trip to the same logical stream") {
    val w = 11; val h = 7 // rowBytes 33 -> stride 36: padding exercised
    val px = Array.tabulate(w * h * 3)(i => ((i * 13 + 5) % 256).toByte)
    val up = MultimodalOps.encodeBmp24(px, w, h)
    val td = MultimodalOps.encodeBmp24(px, w, h, topDown = true)
    assert(!up.sameElements(td), "the two stored row orders differ on disk")
    assert(MultimodalOps.decodeBmpPixels(up).exists(_.sameElements(px)),
      "bottom-up did not round-trip")
    assert(MultimodalOps.decodeBmpPixels(td).exists(_.sameElements(px)),
      "top-down did not round-trip")
    assert(MultimodalOps.parseHeader(up)
      .contains(MultimodalOps.MediaHeader("bmp", w, h, 3, 0)))
    assert(MultimodalOps.parseHeader(td)
      .contains(MultimodalOps.MediaHeader("bmp", w, h, 3, 0)))
  }

  test("decodeBmpPixels refuses out-of-scope and hostile streams") {
    val px = Array.tabulate(4 * 4 * 3)(i => (i * 3).toByte)
    val good = MultimodalOps.encodeBmp24(px, 4, 4)
    assert(MultimodalOps.decodeBmpPixels(good).isDefined)
    // truncated pixel data
    assert(MultimodalOps.decodeBmpPixels(good.take(good.length - 1)).isEmpty)
    // 8-bit depth out of scope
    val bpp8 = good.clone(); bpp8(28) = 8
    assert(MultimodalOps.decodeBmpPixels(bpp8).isEmpty)
    // RLE compression out of scope
    val rle = good.clone(); rle(30) = 1
    assert(MultimodalOps.decodeBmpPixels(rle).isEmpty)
    // crafted dimension bomb: width 2^24 -> capped, no allocation
    val bomb = good.clone()
    bomb(18) = 0; bomb(19) = 0; bomb(20) = 0; bomb(21) = 1
    assert(MultimodalOps.decodeBmpPixels(bomb).isEmpty)
    // biHeight = Int.MinValue (abs() overflow trap)
    val hmin = good.clone()
    hmin(22) = 0; hmin(23) = 0; hmin(24) = 0; hmin(25) = 0x80.toByte
    assert(MultimodalOps.decodeBmpPixels(hmin).isEmpty)
  }

  test("decodeTiffPixels: every axis round-trips to the same logical stream") {
    val w = 11; val h = 7
    val gray = Array.tabulate(w * h)(i => ((i * 13 + 5) % 256).toByte)
    // endian x compression x strip layout x photometric: all store
    // DIFFERENT bytes, all decode to the identical black-is-zero stream
    for (be <- Seq(false, true); pb <- Seq(false, true);
         rps <- Seq(0, 3); wiz <- Seq(false, true)) {
      val t = MultimodalOps.encodeTiff(gray, w, h, 1,
        bigEndian = be, packBits = pb, rowsPerStrip = rps, whiteIsZero = wiz)
      assert(MultimodalOps.decodeTiffPixels(t).exists(_.sameElements(gray)),
        s"be=$be pb=$pb rps=$rps wiz=$wiz did not round-trip")
      assert(MultimodalOps.parseHeader(t)
        .contains(MultimodalOps.MediaHeader("tiff", w, h, 1, 0)), s"header be=$be")
    }
    // RGB: interleaved samples, strip split mid-image, both endians
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 7 + 3) % 256).toByte)
    for (be <- Seq(false, true); pb <- Seq(false, true)) {
      val t = MultimodalOps.encodeTiff(rgb, w, h, 3, bigEndian = be,
        packBits = pb, rowsPerStrip = 2)
      assert(MultimodalOps.decodeTiffPixels(t).exists(_.sameElements(rgb)),
        s"rgb be=$be pb=$pb")
      assert(MultimodalOps.parseHeader(t)
        .contains(MultimodalOps.MediaHeader("tiff", w, h, 3, 0)))
    }
    // PackBits actually compresses a constant image (replicate runs)
    val flat = Array.fill(w * h)(77.toByte)
    val packed = MultimodalOps.encodeTiff(flat, w, h, 1, packBits = true)
    val plain = MultimodalOps.encodeTiff(flat, w, h, 1)
    assert(packed.length < plain.length, "PackBits must shrink a flat image")
    assert(MultimodalOps.decodeTiffPixels(packed).exists(_.sameElements(flat)))
  }

  test("decodeIcoPixels: round-trips the XOR image; refuses hostile/out-of-scope") {
    val w = 11; val h = 6
    val px = Array.tabulate(w * h * 3)(i => ((i * 17 + 3) % 256).toByte)
    val ico = MultimodalOps.encodeIco24(px, w, h)
    assert(MultimodalOps.decodeIcoPixels(ico).exists(_.sameElements(px)),
      "bottom-up XOR rows + AND-mask skip must round-trip")
    assert(MultimodalOps.parseHeader(ico)
      .contains(MultimodalOps.MediaHeader("ico", w, h, 3, 0)))
    // truncated mid-mask
    assert(MultimodalOps.decodeIcoPixels(ico.take(ico.length - 2)).isEmpty)
    // type 2 (CUR cursor) out of scope
    val cur = ico.clone(); cur(2) = 2
    assert(MultimodalOps.decodeIcoPixels(cur).isEmpty)
    // 32-bit depth out of scope — the DIB starts right after the
    // 22-byte ICONDIR(6)+ICONDIRENTRY(16), so biBitCount is at 22 + 14
    val d32 = ico.clone(); d32(22 + 14) = 32
    assert(MultimodalOps.decodeIcoPixels(d32).isEmpty)
    // ODD doubled height is corruption (biHeight at 22 + 8)
    val oddH = ico.clone(); oddH(22 + 8) = (h * 2 + 1).toByte
    assert(MultimodalOps.decodeIcoPixels(oddH).isEmpty)
    // entry offset past the blob
    val badOff = ico.clone(); badOff(18) = 0xf0.toByte; badOff(19) = 0xff.toByte
    assert(MultimodalOps.decodeIcoPixels(badOff).isEmpty)
  }

  test("decodePcxPixels: RLE round-trip (gray + RGB), odd-width padding, >=0xC0 literals") {
    // values >= 0xC0 appear and MUST be stored as 1-runs; pixel pairs
    // give genuine multi-byte runs per plane
    val w = 9; val h = 5 // odd width -> bytesPerLine pads to 10
    val rgb = Array.tabulate(w * h * 3)(i => (((i / 6) * 11 + (i % 3) * 3 + 180) % 256).toByte)
    val pcx = MultimodalOps.encodePcx(rgb, w, h)
    assert(MultimodalOps.decodePcxPixels(pcx).exists(_.sameElements(rgb)),
      "plane-separated RLE rows + even padding must round-trip")
    assert(MultimodalOps.parseHeader(pcx)
      .contains(MultimodalOps.MediaHeader("pcx", w, h, 3, 0)))
    val gray = Array.tabulate(w * h)(i => ((i / 3) * 7 + 190).toByte)
    val g = MultimodalOps.encodePcx(gray, w, h, planes = 1)
    assert(MultimodalOps.decodePcxPixels(g).exists(_.sameElements(gray)))
    assert(MultimodalOps.parseHeader(g)
      .contains(MultimodalOps.MediaHeader("pcx", w, h, 1, 0)))
    // RLE actually compresses a flat image
    val flat = Array.fill(w * h * 3)(200.toByte)
    assert(MultimodalOps.encodePcx(flat, w, h).length <
      MultimodalOps.encodePcx(rgb, w, h).length + rgb.length)
  }

  test("decodePcxPixels refuses hostile/out-of-scope streams") {
    val px = Array.tabulate(8 * 4 * 3)(i => (i * 7).toByte)
    val ok = MultimodalOps.encodePcx(px, 8, 4)
    assert(MultimodalOps.decodePcxPixels(ok).exists(_.sameElements(px)))
    // uncompressed encoding (0) out of scope
    val enc0 = ok.clone(); enc0(2) = 0
    assert(MultimodalOps.decodePcxPixels(enc0).isEmpty)
    // 4 bits per plane out of scope
    val bpp4 = ok.clone(); bpp4(3) = 4
    assert(MultimodalOps.decodePcxPixels(bpp4).isEmpty)
    // 2 planes out of scope
    val pl2 = ok.clone(); pl2(65) = 2
    assert(MultimodalOps.decodePcxPixels(pl2).isEmpty)
    // odd bytesPerLine is spec corruption
    val oddBpl = ok.clone(); oddBpl(66) = 9
    assert(MultimodalOps.decodePcxPixels(oddBpl).isEmpty)
    // truncated pixel stream
    assert(MultimodalOps.decodePcxPixels(ok.take(ok.length - 1)).isEmpty)
    // a run crossing the scan-line boundary is corruption: image 2x1
    // gray, row needs 2 bytes but the run claims 3
    val crossRun = Array.fill(132)(0.toByte)
    crossRun(0) = 0x0a; crossRun(1) = 5; crossRun(2) = 1; crossRun(3) = 8
    crossRun(8) = 1; crossRun(10) = 0 // xmax=1, ymax=0 -> 2x1
    crossRun(65) = 1; crossRun(66) = 2 // 1 plane, bpl 2
    crossRun(128) = 0xc3.toByte; crossRun(129) = 50 // run of 3 into a 2-byte row
    assert(MultimodalOps.decodePcxPixels(crossRun).isEmpty)
  }

  test("decodeRasPixels: raw + RLE round-trips, BGR storage order, odd-width padding, 0x80 literal, cross-row runs") {
    val w = 9; val h = 5 // odd width -> gray rows pad to 10 bytes
    val rgb = Array.tabulate(w * h * 3)(i => (((i / 6) * 11 + (i % 3) * 7 + 120) % 256).toByte)
    for (rle <- Seq(false, true)) {
      val ras = MultimodalOps.encodeRas(rgb, w, h, rle = rle)
      assert(MultimodalOps.decodeRasPixels(ras).exists(_.sameElements(rgb)),
        s"rgb rle=$rle must round-trip")
      assert(MultimodalOps.parseHeader(ras)
        .contains(MultimodalOps.MediaHeader("ras", w, h, 3, 0)))
    }
    val gray = Array.tabulate(w * h)(i => ((i / 3) * 7 + 100).toByte)
    val g = MultimodalOps.encodeRas(gray, w, h, channels = 1, rle = true)
    assert(MultimodalOps.decodeRasPixels(g).exists(_.sameElements(gray)))
    // a value of exactly 0x80 must survive the escape (0x80 0x00 form)
    val esc = Array.fill(4 * 2 * 3)(0x80.toByte); esc(5) = 0x33
    val e = MultimodalOps.encodeRas(esc, 4, 2, rle = true)
    assert(MultimodalOps.decodeRasPixels(e).exists(_.sameElements(esc)),
      "literal 0x80 must round-trip through the escape")
    // BGR storage: hand-build a raw 1x1 RGB file storing B=1,G=2,R=3 —
    // the logical stream must come back R,G,B = 3,2,1
    val one = MultimodalOps.encodeRas(Array[Byte](3, 2, 1), 1, 1)
    assert(MultimodalOps.decodeRasPixels(one).exists(_.sameElements(Array[Byte](3, 2, 1))))
    assert(one(32) == 1 && one(33) == 2 && one(34) == 3, "stored order must be BGR")
    // a flat image genuinely compresses (each row's pad byte breaks
    // the run, so the floor is ~4 bytes per row, not 3 per image)
    val flat = Array.fill(w * h * 3)(77.toByte)
    assert(MultimodalOps.encodeRas(flat, w, h, rle = true).length <
      MultimodalOps.encodeRas(flat, w, h).length / 3)
    // refusals: colormap present, unsupported depth, unknown type,
    // truncated raw body, RLE over-run past the raster
    val ok = MultimodalOps.encodeRas(rgb, w, h)
    val cmap = ok.clone(); cmap(27) = 1 // maptype RGB
    assert(MultimodalOps.decodeRasPixels(cmap).isEmpty)
    val d32 = ok.clone(); d32(15) = 32
    assert(MultimodalOps.decodeRasPixels(d32).isEmpty)
    val t0 = ok.clone(); t0(23) = 0
    assert(MultimodalOps.decodeRasPixels(t0).isEmpty)
    assert(MultimodalOps.decodeRasPixels(ok.take(ok.length - 1)).isEmpty)
    val over = MultimodalOps.encodeRas(Array[Byte](5, 5, 5), 1, 1, rle = true).clone()
    // 1x1 RGB needs 4 padded bytes; claim a 6-byte run
    val overRun = over.take(32) ++ Array[Byte](0x80.toByte, 5, 9)
    assert(MultimodalOps.decodeRasPixels(overRun).isEmpty)
  }

  test("decodeHdrPixels: RLE round-trip, header walk, run/literal boundaries, refusals") {
    val w = 16; val h = 5
    val px = Array.tabulate(w * h * 4)(i => (((i / 4) / 2 * 13 + (i % 4) * 5 + 40) % 256).toByte)
    val hdr = MultimodalOps.encodeHdr(px, w, h)
    assert(MultimodalOps.decodeHdrPixels(hdr).exists(_.sameElements(px)),
      "component-separated RLE scanlines must round-trip")
    assert(MultimodalOps.parseHeader(hdr)
      .contains(MultimodalOps.MediaHeader("hdr", w, h, 4, 0)))
    // a flat image genuinely compresses (long runs per component)
    val flat = Array.fill(w * h * 4)(99.toByte)
    assert(MultimodalOps.encodeHdr(flat, w, h).length <
      MultimodalOps.encodeHdr(px, w, h).length / 2)
    assert(MultimodalOps.decodeHdrPixels(MultimodalOps.encodeHdr(flat, w, h))
      .exists(_.sameElements(flat)))
    // all-distinct components exercise the pure-literal path
    val lit = Array.tabulate(w * h * 4)(i => (i * 7 % 256).toByte)
    assert(MultimodalOps.decodeHdrPixels(MultimodalOps.encodeHdr(lit, w, h))
      .exists(_.sameElements(lit)))
    // refusals: missing FORMAT line, flipped orientation, width under
    // the new-style floor, scanline marker corruption, truncation,
    // run past the scanline end
    val noFmt = new String(hdr.takeWhile(_ != 2.toByte), "US-ASCII")
      .replace("FORMAT=32-bit_rle_rgbe\n", "") // header minus FORMAT
    assert(MultimodalOps.decodeHdrPixels(
      noFmt.getBytes("US-ASCII") ++ hdr.dropWhile(_ != 2.toByte)).isEmpty)
    val flipped = ("#?RADIANCE\nFORMAT=32-bit_rle_rgbe\n\n" + s"+Y $h +X $w\n")
      .getBytes("US-ASCII") ++ hdr.dropWhile(_ != 2.toByte)
    assert(MultimodalOps.decodeHdrPixels(flipped).isEmpty)
    intercept[IllegalArgumentException](
      MultimodalOps.encodeHdr(Array.fill(4 * 2 * 4)(1.toByte), 4, 2))
    // a corrupted new-style marker is NOT a refusal any more: the
    // reference reader's per-row dispatch reads a row that doesn't
    // open 0x02 0x02 as old-style flat pixels (the format is ambiguous
    // by construction — freadcolrs makes exactly this fallback), so
    // the bytes reinterpret; they must NOT round-trip to the true px
    val badMark = hdr.clone()
    val m = badMark.indexOf(2.toByte); badMark(m) = 1
    assert(!MultimodalOps.decodeHdrPixels(badMark).exists(_.sameElements(px)),
      "a corrupted marker must not silently yield the true pixels")
    assert(MultimodalOps.decodeHdrPixels(hdr.take(hdr.length - 1)).isEmpty)
    // hand scanline with a run overflowing the width: 16-wide row,
    // one 130-run (2 bytes) at x=15 would pass x+run > w
    val head = s"#?RADIANCE\nFORMAT=32-bit_rle_rgbe\n\n-Y 1 +X 16\n".getBytes("US-ASCII")
    val overRun = head ++ Array[Byte](2, 2, 0, 16, // marker + width
      (128 + 15).toByte, 7, // 15 of 16 R bytes
      (128 + 2).toByte, 7) // run of 2 past the row end
    assert(MultimodalOps.decodeHdrPixels(overRun).isEmpty)
  }

  test("decodeHdrPixels old-style: flat + repeat-marker round-trips, sub-floor widths, base-256 runs, refusals") {
    // quad-run pattern at an in-range width: the per-row dispatch must
    // pick OLD style from the first pixel (no 0x02 0x02 header)
    val w = 16; val h = 4
    val px = Array.tabulate(w * h * 4)(i => (((i / 4) / 4 * 13 + (i % 4) * 5 + 40) % 256).toByte)
    val old = MultimodalOps.encodeHdrOld(px, w, h)
    assert(MultimodalOps.decodeHdrPixels(old).exists(_.sameElements(px)),
      "old-style quad-run rows must round-trip")
    // genuine markers present: flat rows shrink well below 4 bytes/px
    val flat = Array.fill(w * h * 4)(77.toByte)
    assert(MultimodalOps.encodeHdrOld(flat, w, h).length < w * h * 4 / 2)
    assert(MultimodalOps.decodeHdrPixels(MultimodalOps.encodeHdrOld(flat, w, h))
      .exists(_.sameElements(flat)))
    // width BELOW the new-style floor — the class the decoder used to
    // refuse wholesale; old-style carries it
    val tiny = Array.tabulate(4 * 2 * 4)(i => (i * 9 % 256).toByte)
    assert(MultimodalOps.decodeHdrPixels(MultimodalOps.encodeHdrOld(tiny, 4, 2))
      .exists(_.sameElements(tiny)), "w=4 old-style must decode")
    // a run longer than 255 forces consecutive markers (base-256
    // digits through the rshift accumulation): 300-wide flat row
    val wide = Array.fill(300 * 1 * 4)(5.toByte)
    val wideHdr = MultimodalOps.encodeHdrOld(wide, 300, 1)
    // 1 literal pixel + 2 markers (299 = 43 + 1*256) = 12 bytes of body
    assert(wideHdr.length < 64 + 16, s"expected marker chain, got ${wideHdr.length} bytes")
    assert(MultimodalOps.decodeHdrPixels(wideHdr).exists(_.sameElements(wide)))
    // refusals: a LEADING run marker has nothing to repeat; a count
    // past the row end; truncation mid-row
    val head = "#?RADIANCE\nFORMAT=32-bit_rle_rgbe\n\n-Y 1 +X 4\n".getBytes("US-ASCII")
    val leadRun = head ++ Array[Byte](1, 1, 1, 2, 9, 9, 9, 9, 9, 9, 9, 9, 9, 9, 9, 9)
    assert(MultimodalOps.decodeHdrPixels(leadRun).isEmpty)
    val overRun = head ++ Array[Byte](9, 9, 9, 9, 1, 1, 1, 5)
    assert(MultimodalOps.decodeHdrPixels(overRun).isEmpty)
    assert(MultimodalOps.decodeHdrPixels(old.take(old.length - 3)).isEmpty)
  }

  test("decodeQoiPixels: hand-built op stream decodes exactly (all six ops)") {
    // 2x3 RGB image built op by op against the spec state machine
    // (pixels chosen so their 64-slot hashes DON'T collide: p0 -> 9,
    // p1 -> 24, p2 -> 7, so INDEX 9 still holds p0 at the end):
    //   RGB(10,20,30) · DIFF(+1,+1,+1) · LUMA(dg=+10, dr-dg=-8, db-dg=+7)
    //   · RUN(2) · INDEX(slot of the first pixel)
    val bytes = Array[Int](
      'q', 'o', 'i', 'f', 0, 0, 0, 2, 0, 0, 0, 3, 3, 0, // 2x3, 3ch, srgb
      0xfe, 10, 20, 30,                // p0 = (10,20,30)
      0x40 | (3 << 4) | (3 << 2) | 3,  // p1 = (11,21,31)
      0x80 | (10 + 32), ((-8 + 8) << 4) | (7 + 8), // p2 = (13,31,48)
      0xc0 | 1,                        // p3,p4 = run of 2 copies of p2
      (10 * 3 + 20 * 5 + 30 * 7 + 255 * 11) % 64,  // p5 = INDEX -> (10,20,30)
      0, 0, 0, 0, 0, 0, 0, 1).map(_.toByte)
    val got = MultimodalOps.decodeQoiPixels(bytes)
    val want = Array[Int](10, 20, 30, 11, 21, 31, 13, 31, 48,
      13, 31, 48, 13, 31, 48, 10, 20, 30).map(_.toByte)
    assert(got.exists(_.sameElements(want)), s"got ${got.map(_.toSeq)}")
    assert(MultimodalOps.parseHeader(bytes)
      .contains(MultimodalOps.MediaHeader("qoi", 2, 3, 3, 0)))
  }

  test("encodeQoi round-trips 3ch and 4ch streams and actually compresses runs") {
    val w = 13; val h = 7
    // pair-repeat + step pattern: RUN, LUMA and RGB ops all appear
    val rgb = Array.tabulate(w * h * 3)(i =>
      (((i / 9) * 5 + (i % 3) * 7) % 256).toByte)
    val enc = MultimodalOps.encodeQoi(rgb, w, h)
    assert(MultimodalOps.decodeQoiPixels(enc).exists(_.sameElements(rgb)))
    assert(enc.length < rgb.length, "constant 3-pixel groups must compress")
    // alpha path: varying alpha forces RGBA ops + alpha carry-over
    val rgba = Array.tabulate(w * h * 4)(i =>
      (if (i % 4 == 3) (i / 16) * 11 % 256 else (i * 3) % 256).toByte)
    val enc4 = MultimodalOps.encodeQoi(rgba, w, h, channels = 4)
    assert(MultimodalOps.decodeQoiPixels(enc4).exists(_.sameElements(rgba)))
    // zero-pixel INDEX quirk: a true (0,0,0,0) RGBA pixel may hit the
    // zero-initialized slot 0 — both sides must agree it decodes to zeros
    val zeros = new Array[Byte](w * h * 4)
    val encZ = MultimodalOps.encodeQoi(zeros, w, h, channels = 4)
    assert(MultimodalOps.decodeQoiPixels(encZ).exists(_.sameElements(zeros)))
  }

  test("decodeQoiPixels refuses hostile/out-of-scope streams") {
    val px = Array.tabulate(48)(i => (i * 5).toByte) // 4x4 RGB
    val ok = MultimodalOps.encodeQoi(px, 4, 4)
    assert(MultimodalOps.decodeQoiPixels(ok).exists(_.sameElements(px)))
    // bad magic
    val badMagic = ok.clone(); badMagic(3) = 'x'
    assert(MultimodalOps.decodeQoiPixels(badMagic).isEmpty)
    // channels = 2 out of spec
    val badCh = ok.clone(); badCh(12) = 2
    assert(MultimodalOps.decodeQoiPixels(badCh).isEmpty)
    // colorspace = 2 out of spec
    val badCs = ok.clone(); badCs(13) = 2
    assert(MultimodalOps.decodeQoiPixels(badCs).isEmpty)
    // truncated end marker
    assert(MultimodalOps.decodeQoiPixels(ok.take(ok.length - 1)).isEmpty)
    // oversized run: a RUN op where only one pixel remains
    val overRun = Array[Int]('q', 'o', 'i', 'f', 0, 0, 0, 1, 0, 0, 0, 1, 3, 0,
      0xc0 | 1, // run of 2 into a 1-pixel image
      0, 0, 0, 0, 0, 0, 0, 1).map(_.toByte)
    assert(MultimodalOps.decodeQoiPixels(overRun).isEmpty)
    // under-run: stream ends before w*h pixels are produced
    val under = Array[Int]('q', 'o', 'i', 'f', 0, 0, 0, 2, 0, 0, 0, 1, 3, 0,
      0xfe, 1, 2, 3,
      0, 0, 0, 0, 0, 0, 0, 1).map(_.toByte)
    assert(MultimodalOps.decodeQoiPixels(under).isEmpty)
    // trailing garbage between the last op and the marker
    val trail = Array[Int]('q', 'o', 'i', 'f', 0, 0, 0, 1, 0, 0, 0, 1, 3, 0,
      0xfe, 1, 2, 3, 99,
      0, 0, 0, 0, 0, 0, 0, 1).map(_.toByte)
    assert(MultimodalOps.decodeQoiPixels(trail).isEmpty)
    // hostile dims: w = h = 0x80000000 wraps w*h*4 to 0 in Long if the
    // guard multiplies before bounding — must refuse, not return empty
    val bomb = Array[Int]('q', 'o', 'i', 'f',
      0x80, 0, 0, 0, 0x80, 0, 0, 0, 4, 0,
      0, 0, 0, 0, 0, 0, 0, 1).map(_.toByte)
    assert(MultimodalOps.decodeQoiPixels(bomb).isEmpty)
    // 65535x65535x4 (no Long wrap, just past the cap) must also refuse
    val big = Array[Int]('q', 'o', 'i', 'f',
      0, 0, 0xff, 0xff, 0, 0, 0xff, 0xff, 4, 0,
      0, 0, 0, 0, 0, 0, 0, 1).map(_.toByte)
    assert(MultimodalOps.decodeQoiPixels(big).isEmpty)
  }

  test("decodeFarbfeldPixels: 16-bit round-trip, exact-length contract, hostile dims refuse") {
    val w = 5; val h = 4
    val px = Array.tabulate(w * h * 4)(i => (i * 11 + 3).toByte)
    val ff = MultimodalOps.encodeFarbfeld(px, w, h)
    assert(MultimodalOps.decodeFarbfeldPixels(ff).exists(_.sameElements(px)))
    assert(MultimodalOps.parseHeader(ff)
      .contains(MultimodalOps.MediaHeader("farbfeld", w, h, 4, 0L)))
    // high-byte downscale: a true 16-bit component (hi=0x12, lo=0x99)
    // reads back 0x12 — patch one component's low byte and re-decode
    val hi16 = ff.clone(); hi16(16 + 1) = 0x99.toByte
    assert(MultimodalOps.decodeFarbfeldPixels(hi16).exists(p => p(0) == px(0)))
    // length is exact: trailing garbage and truncation both refuse
    assert(MultimodalOps.decodeFarbfeldPixels(ff :+ 0.toByte).isEmpty)
    assert(MultimodalOps.decodeFarbfeldPixels(ff.dropRight(1)).isEmpty)
    // wrong magic
    val bad = ff.clone(); bad(7) = 'x'
    assert(MultimodalOps.decodeFarbfeldPixels(bad).isEmpty)
    // dims bomb: w = h = 0x80000000 wraps w*h*4 without the per-dim
    // bound; must refuse (the QOI overflow lesson)
    val bomb = "farbfeld".getBytes("US-ASCII") ++
      Array[Int](0x80, 0, 0, 0, 0x80, 0, 0, 0).map(_.toByte)
    assert(MultimodalOps.decodeFarbfeldPixels(bomb).isEmpty)
    // zero dims refuse
    val z = ff.clone(); z(8) = 0; z(9) = 0; z(10) = 0; z(11) = 0
    assert(MultimodalOps.decodeFarbfeldPixels(z).isEmpty)
  }

  test("decodeTgaPixels: raw/RLE x top-down/bottom-up round-trip; refuses hostile") {
    val w = 9; val h = 6
    // pair-run stream: each value repeats for two pixels, so the RLE
    // encoder emits genuine run packets the decoder must expand
    val px = Array.tabulate(w * h * 3)(i => (((i / 6) * 3 + i % 3) * 23 + 7).toByte)
    for (rle <- Seq(false, true); td <- Seq(false, true)) {
      val t = MultimodalOps.encodeTga24(px, w, h, rle = rle, topDown = td)
      assert(MultimodalOps.decodeTgaPixels(t).exists(_.sameElements(px)),
        s"rle=$rle topDown=$td")
      assert(MultimodalOps.parseHeader(t)
        .contains(MultimodalOps.MediaHeader("tga", w, h, 3, 0)))
    }
    // RLE must actually compress the pair-run stream
    val rawLen = MultimodalOps.encodeTga24(px, w, h).length
    assert(MultimodalOps.encodeTga24(px, w, h, rle = true).length < rawLen)
    // a mixed run/literal row round-trips (literal packet path)
    val mixed = Array.tabulate(8 * 1 * 3)(i =>
      (if (i < 12) 5 else i * 7).toByte) // 4-pixel run then 4 literals
    val tm = MultimodalOps.encodeTga24(mixed, 8, 1, rle = true)
    assert(MultimodalOps.decodeTgaPixels(tm).exists(_.sameElements(mixed)))
    val good = MultimodalOps.encodeTga24(px, w, h, rle = true)
    // truncated mid-packet
    assert(MultimodalOps.decodeTgaPixels(good.take(good.length - 2)).isEmpty)
    // color-mapped (type 1) and mono (type 3) out of scope
    val t1 = good.clone(); t1(2) = 1
    assert(MultimodalOps.decodeTgaPixels(t1).isEmpty)
    val t3 = good.clone(); t3(2) = 3
    assert(MultimodalOps.decodeTgaPixels(t3).isEmpty)
    // 32-bit depth out of scope
    val d32 = good.clone(); d32(16) = 32
    assert(MultimodalOps.decodeTgaPixels(d32).isEmpty)
    // right-to-left descriptor bit out of scope
    val r2l = good.clone(); r2l(17) = (r2l(17) | 0x10).toByte
    assert(MultimodalOps.decodeTgaPixels(r2l).isEmpty)
    // an RLE packet count overrunning the raster is corruption: a run
    // header claiming 128 pixels right before the end must refuse
    val overrun = MultimodalOps.encodeTga24(px, w, h, rle = true).clone()
    overrun(18) = 0xff.toByte // first packet: run of 128 > 54-pixel raster
    assert(MultimodalOps.decodeTgaPixels(overrun).isEmpty)
    // the identification field is SKIPPED per spec: splice a 5-byte id
    // after the 18-byte header and set idLength = 5 — same pixels out
    val raw = MultimodalOps.encodeTga24(px, w, h)
    val withId = new Array[Byte](raw.length + 5)
    System.arraycopy(raw, 0, withId, 0, 18)
    withId(0) = 5 // idLength
    "hello".getBytes("US-ASCII").copyToArray(withId, 18)
    System.arraycopy(raw, 18, withId, 23, raw.length - 18)
    assert(MultimodalOps.decodeTgaPixels(withId).exists(_.sameElements(px)),
      "idLength field must be skipped, not decoded as pixels")
    // but an idLength pointing past the blob refuses
    val idOver = raw.clone(); idOver(0) = 0xff.toByte
    assert(MultimodalOps.decodeTgaPixels(idOver).isEmpty)
  }

  test("decodePnmPixels: P5/P6 round-trip with comments; refuses out-of-scope") {
    val w = 9; val h = 6
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 19 + 5) % 256).toByte)
    val gray = Array.tabulate(w * h)(i => ((i * 37) % 256).toByte)
    val p6 = MultimodalOps.encodePnm(rgb, w, h, 3)
    val p5 = MultimodalOps.encodePnm(gray, w, h, 1)
    assert(MultimodalOps.decodePnmPixels(p6).exists(_.sameElements(rgb)))
    assert(MultimodalOps.decodePnmPixels(p5).exists(_.sameElements(gray)))
    assert(MultimodalOps.parseHeader(p6)
      .contains(MultimodalOps.MediaHeader("pnm", w, h, 3, 0)))
    assert(MultimodalOps.parseHeader(p5)
      .contains(MultimodalOps.MediaHeader("pnm", w, h, 1, 0)))
    // hand-built header with interleaved comments and CRLF whitespace
    val weird = ("P5 # inline\n#full line comment\n  " + w + "\t" + h +
      " # dims\n255\n").getBytes("US-ASCII") ++ gray
    assert(MultimodalOps.decodePnmPixels(weird).exists(_.sameElements(gray)))
    // ASCII P2 out of scope
    val p2 = p5.clone(); p2(1) = '2'.toByte
    assert(MultimodalOps.decodePnmPixels(p2).isEmpty)
    // 16-bit maxval out of scope: rebuild the header with 65535
    val deep = ("P5\n" + w + " " + h + "\n65535\n").getBytes("US-ASCII") ++ gray
    assert(MultimodalOps.decodePnmPixels(deep).isEmpty)
    // truncated and padded payloads are both corruption (exact-size contract)
    assert(MultimodalOps.decodePnmPixels(p5.take(p5.length - 1)).isEmpty)
    assert(MultimodalOps.decodePnmPixels(p5 :+ 0.toByte).isEmpty)
  }

  test("G.711 expansion matches the ITU anchor values; WAV formats 6/7 decode") {
    // mu-law: both zero codes decode to 0, code 0x00 is the negative peak
    assert(MultimodalOps.mulawExpand(0xff) == 0)
    assert(MultimodalOps.mulawExpand(0x7f) == 0)
    assert(MultimodalOps.mulawExpand(0x00) == -32124)
    assert(MultimodalOps.mulawExpand(0x80) == 32124)
    // A-law: no zero code — 0x55 is -8, 0xd5 is +8; 0x2a the negative peak
    assert(MultimodalOps.alawExpand(0x55) == -8)
    assert(MultimodalOps.alawExpand(0xd5) == 8)
    assert(MultimodalOps.alawExpand(0x2a) == -32256)
    assert(MultimodalOps.alawExpand(0xaa) == 32256)
    // sign symmetry over the full byte range
    for (v <- 0 until 128) {
      assert(MultimodalOps.mulawExpand(v) == -MultimodalOps.mulawExpand(v | 0x80))
      assert(MultimodalOps.alawExpand(v) == -MultimodalOps.alawExpand(v | 0x80))
    }
    // container round-trip through the WAV sample path
    val bytes = Array.tabulate(48)(i => ((i * 13 + 7) % 256).toByte)
    val mu = MultimodalOps.encodeWavG711(bytes, 7, 8000)
    val al = MultimodalOps.encodeWavG711(bytes, 6, 8000)
    val muS = MultimodalOps.decodeWavSamples(mu).get
    val alS = MultimodalOps.decodeWavSamples(al).get
    assert(muS.sameElements(bytes.map(b => MultimodalOps.mulawExpand(b & 0xff))))
    assert(alS.sameElements(bytes.map(b => MultimodalOps.alawExpand(b & 0xff))))
    // 16-bit G.711 is malformed (one byte per sample by definition)
    val bad = mu.clone(); bad(34) = 16 // fmt bits field
    assert(MultimodalOps.decodeWavSamples(bad).isEmpty)
  }

  test("decodeTiffPixels refuses out-of-scope and hostile streams") {
    val px = Array.tabulate(4 * 4)(i => (i * 3).toByte)
    val good = MultimodalOps.encodeTiff(px, 4, 4, 1)
    assert(MultimodalOps.decodeTiffPixels(good).isDefined)
    // truncated strip data
    assert(MultimodalOps.decodeTiffPixels(good.take(good.length - 1)).isEmpty)
    // bad magic number (43)
    val badMagic = good.clone(); badMagic(2) = 43
    assert(MultimodalOps.decodeTiffPixels(badMagic).isEmpty)
    // LZW compression (5) out of scope: compression tag is entry 3
    // (tag 259) — patch its inline SHORT value
    val ifd = 8 + 2
    val compEntry = ifd + 3 * 12
    val lzw = good.clone(); lzw(compEntry + 8) = 5
    assert(MultimodalOps.decodeTiffPixels(lzw).isEmpty)
    // dimension bomb: width 2^24 via a LONG-typed patch would need a
    // type rewrite; a 65535 SHORT width mismatching the strip bytes
    // must refuse on the byte-count check, not allocate-and-crash
    val wide = good.clone(); wide(ifd + 8) = 0xff.toByte; wide(ifd + 9) = 0xff.toByte
    assert(MultimodalOps.decodeTiffPixels(wide).isEmpty)
    // IFD offset past the blob
    val badIfd = good.clone(); badIfd(4) = 0xf0.toByte
    assert(MultimodalOps.decodeTiffPixels(badIfd).isEmpty)
    // PackBits stream that under-produces (declared literal run cut off)
    val pb = MultimodalOps.encodeTiff(px, 4, 4, 1, packBits = true)
    val cut = pb.take(pb.length - 2)
    assert(MultimodalOps.decodeTiffPixels(cut).isEmpty)
  }

  test("decodeWavSamples round-trips the PCM encoder at both widths") {
    // full signed range at 16 bits, including the asymmetric extremes
    val s16 = Array.tabulate(50)(i => (i * 2641 % 65536) - 32768)
    val mono = MultimodalOps.encodeWavPcm(s16, bits = 16, channels = 1, sampleRate = 16000)
    assert(MultimodalOps.decodeWavSamples(mono).exists(_.sameElements(s16)))
    // stereo is the same interleaved stream — channel count must not
    // change what the sample decoder returns
    val stereo = MultimodalOps.encodeWavPcm(s16, bits = 16, channels = 2, sampleRate = 16000)
    assert(MultimodalOps.decodeWavSamples(stereo).exists(_.sameElements(s16)))
    // 8-bit stores offset-128 unsigned; decode recenters
    val s8 = Array.tabulate(49)(i => (i * 37 % 256) - 128) // odd data len -> pad path
    val w8 = MultimodalOps.encodeWavPcm(s8, bits = 8, channels = 1, sampleRate = 8000)
    assert(MultimodalOps.decodeWavSamples(w8).exists(_.sameElements(s8)))
    // and the encoder's output still header-parses like any WAV
    assert(MultimodalOps.parseHeader(stereo)
      .contains(MultimodalOps.MediaHeader("wav", 0, 0, 2, 16000)))
  }

  test("decodeWavSamples handles extensible fmt and refuses non-PCM") {
    val s16 = Array.tabulate(16)(i => i * 1000 - 8000)
    val base = MultimodalOps.encodeWavPcm(s16, bits = 16, channels = 1, sampleRate = 16000)
    // rebuild with WAVE_FORMAT_EXTENSIBLE: fmt grows to 40 bytes, code
    // 0xFFFE, real code in the first two SubFormat GUID bytes
    def extensible(subCode: Int): Array[Byte] = {
      val data = base.drop(44) // the data chunk payload incl. header
      val buf = java.nio.ByteBuffer.allocate(12 + 48 + 8 + data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(4 + 48 + 8 + data.length)
        .put("WAVE".getBytes("US-ASCII"))
      buf.put("fmt ".getBytes("US-ASCII")).putInt(40)
        .putShort(0xfffe.toShort).putShort(1).putInt(16000).putInt(32000)
        .putShort(2).putShort(16)
        .putShort(22)                 // cbSize
        .putShort(16)                 // valid bits
        .putInt(4)                    // channel mask
        .putShort(subCode.toShort)    // SubFormat GUID bytes 0-1 = format code
        .put(new Array[Byte](14))     // rest of the GUID
      buf.put("data".getBytes("US-ASCII")).putInt(s16.length * 2)
      s16.foreach(v => buf.putShort(v.toShort))
      buf.array()
    }
    assert(MultimodalOps.decodeWavSamples(extensible(1)).exists(_.sameElements(s16)))
    // float (format 3) MUST be 32-bit: a float header over 16-bit data
    // is malformed, whichever way it's declared
    assert(MultimodalOps.decodeWavSamples(extensible(3)) === None)
    val float3 = base.clone(); float3(20) = 3
    assert(MultimodalOps.decodeWavSamples(float3) === None)
    // a 24-bit header over a 32-byte payload isn't whole samples
    val deep = base.clone(); deep(34) = 24
    assert(MultimodalOps.decodeWavSamples(deep) === None)
  }

  test("decodeWavSamples: 24-bit PCM and IEEE-float paths round-trip") {
    // 24-bit: full-range signed values survive the 3-byte round-trip
    val s24 = Array(0, 1, -1, 8388607, -8388608, 123456, -654321)
    val w24 = MultimodalOps.encodeWavPcm(s24 ++ s24.take(1), bits = 24, channels = 2,
      sampleRate = 48000)
    assert(MultimodalOps.decodeWavSamples(w24).exists(_.sameElements(s24 ++ s24.take(1))))
    // float: samples return quantized to round(f*32767), clamped
    val fs = Array(0.0f, 1.0f, -1.0f, 0.5f, -0.25f, 2.0f, -3.0f)
    val wf = MultimodalOps.encodeWavFloat(fs, channels = 1, sampleRate = 16000)
    val got = MultimodalOps.decodeWavSamples(wf).get
    assert(got.toSeq == Seq(0, 32767, -32767, 16384, -8192, 32767, -32767), got.toSeq)
    // NaN samples are corruption, not data
    val nan = MultimodalOps.encodeWavFloat(Array(0.1f, Float.NaN), 1, 16000)
    assert(MultimodalOps.decodeWavSamples(nan) === None)
    // truncated float data (not a whole sample) refuses
    assert(MultimodalOps.decodeWavSamples(wf.dropRight(2)) === None)
  }

  test("decodeWavSamples: IMA ADPCM blocks replay the integer recurrence exactly") {
    // independent scalar replay of the published IMA recurrence
    def ref(blocks: Seq[(Int, Int, Array[Byte])]): Seq[Int] = blocks.flatMap {
      case (p0, i0, nb) =>
        var pred = p0; var idx = i0
        val out = scala.collection.mutable.ArrayBuffer(p0)
        for (byte <- nb; nib <- Seq(byte & 0xf, (byte & 0xff) >> 4)) {
          val step = MultimodalOps.AdpcmStep(idx)
          var diff = step >> 3
          if ((nib & 1) != 0) diff += step >> 2
          if ((nib & 2) != 0) diff += step >> 1
          if ((nib & 4) != 0) diff += step
          pred = if ((nib & 8) != 0) pred - diff else pred + diff
          pred = math.max(-32768, math.min(32767, pred))
          idx = math.max(0, math.min(88, idx + MultimodalOps.AdpcmIndex(nib)))
          out += pred
        }
        out
    }
    // mixed nibbles + both clamp extremes (idx 88 step 32767: nibble 7
    // adds 28669 — predictor 32700 must clamp to 32767; nibble 15
    // subtracts it — −32700 must clamp to −32768)
    val blocks = Array(
      (12, 40, Array.tabulate(8)(i => ((i * 37 + 5) % 256).toByte)),
      (32700, 88, Array[Byte](0x07, 0xf7.toByte, 0x70, 0x00)),
      (-32700, 88, Array[Byte](0x0f, 0x7f, 0xf0.toByte, 0x08)))
    // all blocks one length: pad the short ones
    val padded = blocks.map { case (p, i, nb) =>
      (p, i, nb ++ Array.fill(8 - nb.length)(0x39.toByte)) }
    val wav = MultimodalOps.encodeWavAdpcm(padded, 8000)
    val got = MultimodalOps.decodeWavSamples(wav)
    assert(got.isDefined, "ADPCM stream must decode")
    assert(got.get.toSeq == ref(padded.toSeq), "recurrence must replay exactly")
    assert(got.get.length == 3 * 17, "3 blocks x (1 header + 16 nibble samples)")
    assert(got.get.contains(32767) && got.get.contains(-32768), "both clamps exercised")
    assert(MultimodalOps.parseHeader(wav)
      .contains(MultimodalOps.MediaHeader("wav", 0, 0, 1, 8000)))
  }

  test("decodeWavSamples: ADPCM refusals — stereo, bad index, reserved, ragged data") {
    val good = MultimodalOps.encodeWavAdpcm(
      Array((100, 10, Array.tabulate(4)(i => (i * 3).toByte))), 8000)
    assert(MultimodalOps.decodeWavSamples(good).isDefined)
    // stereo ADPCM out of scope (channels u16 at fmt body +2 = offset 22)
    val stereo = good.clone(); stereo(22) = 2
    assert(MultimodalOps.decodeWavSamples(stereo).isEmpty)
    // step index 89 out of range (block header byte 2; data starts at 48)
    val badIdx = good.clone(); badIdx(48 + 2) = 89.toByte
    assert(MultimodalOps.decodeWavSamples(badIdx).isEmpty)
    // nonzero reserved header byte is corruption
    val badRes = good.clone(); badRes(48 + 3) = 1
    assert(MultimodalOps.decodeWavSamples(badRes).isEmpty)
    // samplesPerBlock inconsistent with blockAlign (fmt body +18 = offset 38)
    val badSpb = good.clone(); badSpb(38) = 5
    assert(MultimodalOps.decodeWavSamples(badSpb).isEmpty)
  }

  test("exifOrientation: both endians round-trip; absent/invalid refuse; dims still parse") {
    val zz = Array.tabulate(4) { b => val a = new Array[Int](64); a(0) = b * 20 - 40; a }
    val jpeg = JpegBaseline.encodeGrayBlocks(zz, 2, 2, Array.fill(64)(8))
    for (o <- 1 to 8; be <- Seq(false, true)) {
      val tagged = MultimodalOps.withExifOrientation(jpeg, o, bigEndian = be)
      assert(MultimodalOps.exifOrientation(tagged).contains(o.toLong), s"o=$o be=$be")
      // the APP1 insertion must not break the SOFn header walk or the
      // pixel decode
      assert(MultimodalOps.parseHeader(tagged).exists(_.format == "jpeg"))
      assert(JpegBaseline.decodePixels(tagged).isDefined, "pixels survive the APP1")
    }
    // no APP1 at all
    assert(MultimodalOps.exifOrientation(jpeg).isEmpty)
    // out-of-range orientation value refuses (patch the SHORT at the
    // little-endian value offset: SOI(2) + marker/len(4) + Exif00(6) +
    // tiff header(8) + count(2) + tag/type/cnt(8) = 30)
    val bad = MultimodalOps.withExifOrientation(jpeg, 1, bigEndian = false).clone()
    bad(30) = 9
    assert(MultimodalOps.exifOrientation(bad).isEmpty)
    // truncated mid-APP1 refuses instead of reading past the segment
    val t = MultimodalOps.withExifOrientation(jpeg, 3)
    assert(MultimodalOps.exifOrientation(t.take(20)).isEmpty)
    assert(MultimodalOps.exifOrientation("nope".getBytes("US-ASCII")).isEmpty)
  }

  test("goertzelTones: on-bin square wave dominates; junk falls back; recurrence replays") {
    val ss = spark; import ss.implicits._
    // pure period-8 square at amplitude 100: fundamental at fs/8
    // (coef 1414); fs/4 (coef 0) is an even harmonic — near-null;
    // 3fs/8 (coef -1414) carries the 3rd harmonic, well below the
    // fundamental
    val square = MultimodalOps.encodeWavPcm(
      Array.tabulate(48)(i => if ((i / 4) % 2 == 0) 100 else -100), 16, 1, 8000)
    val media = Seq((1L, square), (2L, "junk!".getBytes("US-ASCII")))
      .toDF("media_id", "content")
    val got = MultimodalOps.goertzelTones(media, Seq(1414L, 0L, -1414L))
      .collect().map(r => (r.getLong(0), r.getBoolean(2), r.getLong(3), r.getLong(5)))
    val byBin = got.filter(_._1 == 1L).map(x => x._3 -> x._4).toMap
    // the even harmonic is an exact null (energy 0); the 3rd carries
    // 1/3 the amplitude -> ~1/9 the energy (measured ~1/5.8 with
    // 48-sample leakage), so a 4x dominance margin is the physics
    assert(byBin(1L) == 0L, s"even harmonic of a square must null: $byBin")
    assert(byBin(0L) > 4L * byBin(2L), s"fundamental must dominate the 3rd: $byBin")
    assert(got.filter(_._1 == 2L).toSeq == Seq((2L, false, -1L, 0L)),
      "undecodable blob emits the single fallback row")
    // scalar replay of the exact quantized recurrence
    def ref(xs: Array[Int], c: Long): Long = {
      var s1 = 0L; var s2 = 0L
      for (x <- xs) { val s0 = x + (c * s1) / 1000L - s2; s2 = s1; s1 = s0 }
      s1 * s1 + s2 * s2 - (c * s1 * s2) / 1000L
    }
    val xs = Array.tabulate(48)(i => if ((i / 4) % 2 == 0) 100 else -100)
    assert(byBin(0L) == ref(xs, 1414L) && byBin(1L) == ref(xs, 0L) &&
      byBin(2L) == ref(xs, -1414L))
  }

  test("decodeWavSamples refuses hostile and corrupt streams") {
    val s16 = Array.tabulate(20)(i => i - 10)
    val good = MultimodalOps.encodeWavPcm(s16, bits = 16, channels = 1, sampleRate = 8000)
    assert(MultimodalOps.decodeWavSamples(good).isDefined)
    // truncated: data chunk's declared size runs past the blob
    assert(MultimodalOps.decodeWavSamples(good.take(good.length - 6)) === None)
    // half a 16-bit sample: shrink the data size to an odd value that
    // still fits the blob, so the odd-length check (not the truncation
    // guard) is what refuses
    val odd = good.clone(); odd(40) = 39
    assert(MultimodalOps.decodeWavSamples(odd) === None)
    // hostile chunk size 0xFFFFFFFF must refuse, not walk backward
    val hostile = good.clone()
    hostile(16) = 0xff.toByte; hostile(17) = 0xff.toByte
    hostile(18) = 0xff.toByte; hostile(19) = 0xff.toByte
    assert(MultimodalOps.decodeWavSamples(hostile) === None)
    // a crafted sample count past the cap refuses before allocating
    assert(MultimodalOps.decodeWavSamples(good, maxSamples = 4) === None)
    // missing data chunk / junk / null
    assert(MultimodalOps.decodeWavSamples(good.take(36)) === None)
    assert(MultimodalOps.decodeWavSamples("RIFFjunk".getBytes("US-ASCII")) === None)
    assert(MultimodalOps.decodeWavSamples(null) === None)
  }

  test("resampledStats: non-square fit, exact nearest-neighbor mapping, fallback dims 0") {
    val ss = spark; import ss.implicits._
    // 12x4 gray PNG, pixel(y,x) = y*16 + x: fit into box 6 -> 6x2
    // (w>=h: out_w=box, out_h=max(1, 4*6/12)=2); out(y,x) =
    // src(y*4/2, x*12/6) = src(2y, 2x) = (2y)*16 + 2x
    val px = Array.tabulate(48)(i => ((i / 12) * 16 + (i % 12)).toByte)
    val png = MultimodalOps.encodePngGray(px, 12, 4, _ => 0)
    val docs = Seq((1L, png), (2L, "junkbytes".getBytes("US-ASCII"))).toDF("doc_id", "blob")
    val media = MultimodalOps.toMediaFrame(docs, "doc_id", "blob", "mixed")
    val out = MultimodalOps.resampledStats(media, box = 6).orderBy("media_id").collect()
    val r1 = out(0)
    assert((r1.getString(1), r1.getBoolean(2), r1.getLong(3), r1.getLong(4), r1.getLong(5)) ==
      (("png", true, 6L, 2L, 12L)))
    val want = for (y <- 0 until 2; x <- 0 until 6) yield (2 * y) * 16 + 2 * x
    assert(r1.getLong(8) == want.max, "max over the exact resampled set")
    assert(r1.getLong(6) == want.sum * 1000L / 12, "floor-milli mean over the resampled set")
    val r2 = out(1)
    assert((r2.getBoolean(2), r2.getLong(3), r2.getLong(4)) == ((false, 0L, 0L)))
    // 3-channel: flat-color JPEG resamples to the same flat color
    val flat = JpegBaseline.encodeFlatColor(120, 128, 128, 2, 1, 1, 1) // 16x8 RGB
    val m2 = MultimodalOps.toMediaFrame(Seq((3L, flat)).toDF("doc_id", "blob"), "doc_id", "blob", "mixed")
    val r3 = MultimodalOps.resampledStats(m2, box = 4).collect().head
    assert((r3.getLong(3), r3.getLong(4), r3.getLong(5), r3.getLong(8)) == ((4L, 2L, 24L, 120L)))
  }

  test("perceptualHash: container-invariant — same pixels as GIF and PNG hash equal") {
    val ss = spark; import ss.implicits._
    // the defining property of a PERCEPTUAL hash: identical images in
    // different containers (different bytes, different formats) agree
    val px = Array.tabulate(256)(i => ((i * i * 7 + 31) % 256).toByte)
    val gif = GifPixels.encodeGifGray(px, 16, 16)
    val png = MultimodalOps.encodePngGray(px, 16, 16, _ => 0)
    val docs = Seq((1L, gif), (2L, png), (3L, "junk".getBytes("US-ASCII"))).toDF("doc_id", "blob")
    val media = MultimodalOps.toMediaFrame(docs, "doc_id", "blob", "mixed")
    val out = MultimodalOps.perceptualHash(media).orderBy("media_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.getLong(3), r.getLong(4)))
    assert(out(0)._2 == "gif" && out(1)._2 == "png")
    assert((out(0)._4, out(0)._5) == ((out(1)._4, out(1)._5)), s"container-dependent hash: $out")
    assert(out(0)._4 != 0L || out(0)._5 != 0L, "a textured image must set some bits")
    assert(out(2) == ((3L, "unknown", false, 0L, 0L)))
    // a visually DIFFERENT image must (here) hash differently
    val other = GifPixels.encodeGifGray(Array.tabulate(256)(i => (255 - i % 256).toByte), 16, 16)
    val m2 = MultimodalOps.toMediaFrame(Seq((9L, other)).toDF("doc_id", "blob"), "doc_id", "blob", "mixed")
    val o2 = MultimodalOps.perceptualHash(m2).collect().head
    assert((o2.getLong(3), o2.getLong(4)) != ((out(0)._4, out(0)._5)))
  }

  test("sampleFeatures: signed stats over decoded PCM, byte fallback otherwise") {
    val ss = spark; import ss.implicits._
    // hand-computed: sum=-7 over 5 samples -> floor(-1400.0) = -1400
    // (floor, NOT truncation toward zero); crossings at -1->0 and 2->-5
    val s = Array(-3, -1, 0, 2, -5)
    val wav = MultimodalOps.encodeWavPcm(s, bits = 16, channels = 1, sampleRate = 8000)
    val junk = Array[Byte](7, 3, 9) // no RIFF magic -> fallback
    val df = Seq((1L, wav), (2L, junk)).toDF("doc_id", "blob")
    val media = MultimodalOps.toMediaFrame(df, "doc_id", "blob", "mixed")
    val got = MultimodalOps.sampleFeatures(media).orderBy("media_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got(0) === ((1L, "wav", true, 5L, -1400L, 5L, 2L)))
    // fallback: unsigned bytes 7,3,9 -> mean floor(19000/3)=6333, no crossings
    assert(got(1) === ((2L, "unknown", false, 3L, 6333L, 9L, 0L)))
  }

  test("pixelFeatures routes PNG and baseline JPEG to real pixels, rest to bytes") {
    val ss = spark; import ss.implicits._
    val png = MultimodalOps.encodePngGray(Array.tabulate(64)(i => (i * 3).toByte), 8, 8, _ => 2)
    val jzz = new Array[Int](64); jzz(0) = 77 - 128 // flat 8x8 block of 77
    val jpg = JpegBaseline.encodeGrayBlocks(Array(jzz), 1, 1, Array.fill(64)(8))
    val gif = GifPixels.encodeGifGray(Array.tabulate(64)(i => (i * 2).toByte), 8, 8)
    val junk = Array[Byte](1, 2, 3, 4)
    val df = Seq((1L, png), (2L, jpg), (3L, junk), (4L, gif)).toDF("doc_id", "blob")
    val got = MultimodalOps.pixelFeatures(
        MultimodalOps.toMediaFrame(df, "doc_id", "blob", "mixed"))
      .orderBy("media_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.getLong(3), r.getLong(6)))
    assert(got(0) === ((1L, "png", true, 64L, 189L)))   // max = 63*3
    assert(got(1) === ((2L, "jpeg", true, 64L, 77L)))   // flat block: max = value
    assert(got(2) === ((3L, "unknown", false, 4L, 4L)))
    assert(got(3) === ((4L, "gif", true, 64L, 126L)))   // index stream: max = 63*2
  }

  test("parseAviFrames round-trips the MJPEG writer and guards hostile input") {
    val frames = Array("first frame".getBytes("US-ASCII"),
      "second".getBytes("US-ASCII"), // odd length -> word-align pad path
      Array.tabulate(64)(i => (i * 7).toByte))
    val avi = MultimodalOps.encodeAviMjpeg(frames, 16, 16)
    val got = MultimodalOps.parseAviFrames(avi)
    assert(got.exists(fs => fs.length == 3 &&
      fs.zip(frames).forall { case (a, b) => a.sameElements(b) }))
    // truncated mid-movi
    assert(MultimodalOps.parseAviFrames(avi.take(avi.length - 10)) === None)
    // hostile top-level chunk size must refuse, not walk backward
    val hostile = avi.clone()
    hostile(16) = 0xff.toByte; hostile(17) = 0xff.toByte
    hostile(18) = 0xff.toByte; hostile(19) = 0xff.toByte
    assert(MultimodalOps.parseAviFrames(hostile) === None)
    // frame-count cap: a crafted chunk list cannot grow unbounded
    assert(MultimodalOps.parseAviFrames(avi, maxFrames = 2) === None)
    // WAV is RIFF but not AVI; junk is not RIFF at all
    val wav = MultimodalOps.encodeWavPcm(Array(1, 2, 3, 4), 16, 1, 8000)
    assert(MultimodalOps.parseAviFrames(wav) === None)
    assert(MultimodalOps.parseAviFrames("not avi".getBytes("US-ASCII")) === None)
    assert(MultimodalOps.parseAviFrames(null) === None)
  }

  test("videoFrameFeatures: container walk + per-frame JPEG decode") {
    val ss = spark; import ss.implicits._
    def flatJpeg(v: Int): Array[Byte] = {
      val zz = new Array[Int](64); zz(0) = v - 128
      JpegBaseline.encodeGrayBlocks(Array(zz), 1, 1, Array.fill(64)(8))
    }
    // frames 0/1 decode to flat 8x8 pixels; frame 2 is a non-JPEG blob
    // and must fall back to its own compressed bytes, decoded=false
    val avi = MultimodalOps.encodeAviMjpeg(
      Array(flatJpeg(50), flatJpeg(200), Array[Byte](9, 1, 5)), 8, 8)
    val df = Seq((1L, avi), (2L, Array[Byte](1, 2, 3))).toDF("doc_id", "blob")
    val got = MultimodalOps.videoFrameFeatures(
        MultimodalOps.toMediaFrame(df, "doc_id", "blob", "video/avi"))
      .orderBy("media_id", "frame_no").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getBoolean(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got(0) === ((1L, 0L, "mjpeg", true, 64L, 50000L, 50L)))
    assert(got(1) === ((1L, 1L, "mjpeg", true, 64L, 200000L, 200L)))
    assert(got(2) === ((1L, 2L, "avi", false, 3L, 5000L, 9L)))
    assert(got(3) === ((2L, 0L, "unknown", false, 3L, 2000L, 3L)))
  }

  test("parseHeader refuses truncated and junk input") {
    assert(MultimodalOps.parseHeader(null) === None)
    assert(MultimodalOps.parseHeader(Array.emptyByteArray) === None)
    assert(MultimodalOps.parseHeader(png.take(20)) === None)   // cut inside IHDR
    assert(MultimodalOps.parseHeader(jpeg.take(6)) === None)   // SOI + half a marker
    assert(MultimodalOps.parseHeader(wav.take(16)) === None)   // RIFF, no fmt
    assert(MultimodalOps.parseHeader(hx("00112233445566778899")) === None)
    // SOI followed by a desynced (non-FF) byte stream
    assert(MultimodalOps.parseHeader(hx("FFD8 00 01 02 03 04 05 06 07 08 09")) === None)
    // hostile RIFF: a chunk size of 0xFFFFFFFF overflows toInt negative
    // — must refuse, not walk backward forever
    assert(MultimodalOps.parseHeader(hx(
      "52494646 24000000 57415645 4A554E4B FFFFFFFF 00" * 1)) === None)
    // and a size that merely overruns the blob is refused too
    assert(MultimodalOps.parseHeader(hx(
      "52494646 24000000 57415645 4A554E4B 40000000 0000")) === None)
  }

  test("decodeMedia parses a mixed table in one pass, stub for unknown") {
    val ss = spark; import ss.implicits._
    val junk = hx("00AABBCCDD")
    val df = Seq((1L, png), (2L, jpeg), (3L, wav), (4L, junk))
      .toDF("id", "blob")
    val media = MultimodalOps.toMediaFrame(df, "id", "blob", "mixed")
    val out = MultimodalOps.decodeMedia(media, batchSize = 2)
      .orderBy("media_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(out(0) == ((1L, "png", 640L, 480L, 3L, 0L)))
    assert(out(1) == ((2L, "jpeg", 384L, 256L, 3L, 0L)))
    assert(out(2) == ((3L, "wav", 0L, 0L, 2L, 44100L)))
    // the junk row falls back to the md5-stub dims — same derivation as
    // decodeImageBatched, cross-checked here against the columnar stub
    val stub = MultimodalOps.decodeImageStub(media.filter(col("media_id") === 4))
      .collect().head
    assert(out(3) == ((4L, "unknown", stub.getLong(2), stub.getLong(3), stub.getLong(4), 0L)))
  }

  test("audioFrameFeatures: windowed energy/RMS/ZCR, partial tail, junk fallback") {
    val ss = spark; import ss.implicits._
    // 5 samples at frameSize 2: frames [3,-4], [0,5], [−2] (partial)
    val wav = MultimodalOps.encodeWavPcm(Array(3, -4, 0, 5, -2), 16, 1, 8000)
    val media = MultimodalOps.toMediaFrame(
      Seq((1L, wav), (2L, "junk!".getBytes("US-ASCII"))).toDF("id", "blob"),
      "id", "blob", "mixed")
    val got = MultimodalOps.audioFrameFeatures(media, frameSize = 2)
      .orderBy("media_id", "frame_no").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    // frame0: sumsq 25, rms floor(sqrt(12.5)*1000)=3535, peak 4, zc 1
    // frame1: sumsq 25, rms 3535, peak 5, zc 0 (0 is non-negative)
    // frame2: partial n=1, sumsq 4, rms 2000, peak 2, zc 0
    assert(got(0) == ((1L, 0L, true, 2L, 25L, 3535L, 4L, 1L)))
    assert(got(1) == ((1L, 1L, true, 2L, 25L, 3535L, 5L, 0L)))
    assert(got(2) == ((1L, 2L, true, 1L, 4L, 2000L, 2L, 0L)))
    // junk: one frame_no=0 row over unsigned bytes, decoded=false
    assert(got(3)._1 == 2L && got(3)._2 == 0L && !got(3)._3 && got(3)._4 == 5L)
  }

  test("resizePlan box math over parsed dims") {
    val ss = spark; import ss.implicits._
    val media = MultimodalOps.toMediaFrame(
      Seq((1L, png), (2L, jpeg)).toDF("id", "blob"), "id", "blob", "mixed")
    val out = MultimodalOps.resizePlan(MultimodalOps.decodeMedia(media), box = 64)
      .orderBy("media_id").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
    // 640x480 -> landscape: out_w=64, out_h=floor(480*64/640)=48
    assert(out(0) == ((1L, 64L, 48L)))
    // 384x256 -> out_w=64, out_h=floor(256*64/384)=42
    assert(out(1) == ((2L, 64L, 42L)))
  }
}
