package graft

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}

import graft.operators.MediaOps

/** Real (codec-free) multimodal decode: BMP + WAV headers synthesized
  * byte-for-byte per the public format specs, decoded distributed, with
  * corrupt payloads quarantined instead of failing the task. */
class MediaOpsSpec extends SparkSuite {
  import spark.implicits._

  private def bmp(w: Int, h: Int, bpp: Int = 24): Array[Byte] = {
    val rowSize = ((bpp * w + 31) / 32) * 4
    val dataSize = rowSize * math.abs(h)
    val buf = ByteBuffer.allocate(54 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
    buf.putInt(54 + dataSize) // file size
    buf.putInt(0)             // reserved
    buf.putInt(54)            // pixel-array offset
    buf.putInt(40)            // BITMAPINFOHEADER size
    buf.putInt(w).putInt(h)
    buf.putShort(1)           // planes
    buf.putShort(bpp.toShort)
    buf.array()
  }

  private def wav(rate: Int, channels: Int, bits: Int, nSamples: Int,
                  junkChunkFirst: Boolean = false): Array[Byte] = {
    val blockAlign = channels * bits / 8
    val dataSize = nSamples * blockAlign
    val out = new ByteArrayOutputStream()
    def le32(v: Int) = out.write(ByteBuffer.allocate(4)
      .order(ByteOrder.LITTLE_ENDIAN).putInt(v).array())
    def le16(v: Int) = out.write(ByteBuffer.allocate(2)
      .order(ByteOrder.LITTLE_ENDIAN).putShort(v.toShort).array())
    out.write("RIFF".getBytes); le32(36 + dataSize); out.write("WAVE".getBytes)
    if (junkChunkFirst) { // fmt is not always the first chunk — spec allows any order
      out.write("JUNK".getBytes); le32(6); out.write(Array.fill(6)(0.toByte))
    }
    out.write("fmt ".getBytes); le32(16)
    le16(1); le16(channels); le32(rate)
    le32(rate * blockAlign); le16(blockAlign); le16(bits)
    out.write("data".getBytes); le32(dataSize)
    out.write(Array.fill(dataSize)(0.toByte))
    out.toByteArray
  }

  test("BMP and WAV headers decode to exact real metadata, distributed") {
    val rows: Seq[(Long, Array[Byte])] = Seq(
      1L -> bmp(640, 480),
      2L -> bmp(16, 9, bpp = 32),
      3L -> wav(44100, 2, 16, 1000),
      4L -> wav(8000, 1, 8, 10, junkChunkFirst = true),
      5L -> "not a media file at all".getBytes,
      6L -> Array[Byte](0x42, 0x4D, 1, 2) // "BM" but truncated
    )
    val out = rows.toDS().repartition(3)
      .map { case (id, bytes) => MediaOps.sniff(id, bytes) }
      .collect().map(m => m.doc_id -> m).toMap
    assert(out(1L).kind === "bmp" && out(1L).width === 640 &&
      out(1L).height === 480 && out(1L).bits_per_sample === 24 && out(1L).valid)
    assert(out(2L).width === 16 && out(2L).height === 9 &&
      out(2L).bits_per_sample === 32)
    assert(out(3L).kind === "wav" && out(3L).sample_rate === 44100 &&
      out(3L).channels === 2 && out(3L).bits_per_sample === 16 && out(3L).valid)
    assert(out(4L).sample_rate === 8000 && out(4L).channels === 1 &&
      out(4L).valid, "fmt chunk found behind a leading JUNK chunk")
    assert(!out(5L).valid && out(5L).kind === "unknown")
    assert(!out(6L).valid && out(6L).kind === "bmp") // sniffed but corrupt
    // corrupt rows are quarantined, never thrown
    assert(out.size === 6)
  }

  private def bmpWithPixels(w: Int, h: Int, px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val base = bmp(w, h)
    val rowSize = ((24 * w + 31) / 32) * 4
    for (y <- 0 until h; x <- 0 until w) {
      val (b, g, r) = px(x, y)
      val off = 54 + y * rowSize + x * 3
      base(off) = b.toByte; base(off + 1) = g.toByte; base(off + 2) = r.toByte
    }
    base
  }

  test("BMP resize samples exact nearest-neighbour pixels and stays a valid BMP") {
    // 4x4 image whose pixel (x,y) encodes its own coordinates
    val src = bmpWithPixels(4, 4, (x, y) => (x * 10, y * 10, x + y))
    val out = MediaOps.resizeBmp(src, 2, 2).get
    val meta = MediaOps.sniff(1L, out)
    assert(meta.kind === "bmp" && meta.width === 2 && meta.height === 2 && meta.valid)
    // out pixel (x,y) should be src pixel (2x, 2y)
    val rowSize = ((24 * 2 + 31) / 32) * 4
    for (y <- 0 until 2; x <- 0 until 2) {
      val off = 54 + y * rowSize + x * 3
      assert((out(off) & 0xFF) === 2 * x * 10, s"B at ($x,$y)")
      assert((out(off + 1) & 0xFF) === 2 * y * 10, s"G at ($x,$y)")
      assert((out(off + 2) & 0xFF) === 2 * x + 2 * y, s"R at ($x,$y)")
    }
    // resized output itself resizes (round-trip through the public parser)
    assert(MediaOps.resizeBmp(out, 1, 1).isDefined)
    // non-BMP input quarantines
    assert(MediaOps.resizeBmp("plain text".getBytes, 2, 2).isEmpty)
  }

  test("distributed thumbnails: valid BMPs resized, others quarantined") {
    val rows: Seq[(Long, Array[Byte])] = Seq(
      1L -> bmpWithPixels(8, 8, (x, y) => (x, y, 0)),
      2L -> wav(44100, 2, 16, 10),
      3L -> bmpWithPixels(3, 5, (x, y) => (1, 2, 3))
    )
    val out = MediaOps.thumbnails(rows.toDS().repartition(2), 2, 2)
      .select("doc_id", "width", "valid")
      .as[(Long, Int, Boolean)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(out(1L) === ((2, true)))
    assert(out(2L) === ((-1, false)))
    assert(out(3L) === ((2, true)))
  }

  test("adversarial headers: Int-overflow chunk sizes and widths are quarantined") {
    // review finding: a RIFF chunk size near Int.MaxValue used to wrap the
    // walk cursor negative and throw; a BMP width of 178 956 971 used to
    // wrap bpp*w so rowSize passed the bounds check and pixel loops crashed
    val evilWav = {
      val b = java.nio.ByteBuffer.allocate(60).order(ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes); b.putInt(52); b.put("WAVE".getBytes)
      b.put("JUNK".getBytes); b.putInt(0x7FFFFFF0) // huge declared chunk
      b.array()
    }
    val m = MediaOps.sniff(1L, evilWav)
    assert(m.kind === "wav" && !m.valid) // classified, never thrown
    val evilBmp = {
      val b = java.nio.ByteBuffer.allocate(128).order(ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte)
      b.putInt(128); b.putInt(0); b.putInt(54)
      b.putInt(40); b.putInt(178956971); b.putInt(1) // width wraps 24*w
      b.putShort(1); b.putShort(24)
      b.array()
    }
    assert(MediaOps.resizeBmp(evilBmp, 2, 2).isEmpty)
    val minHeightBmp = bmp(4, 4)
    java.nio.ByteBuffer.wrap(minHeightBmp).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(22, Int.MinValue) // |h| overflows abs()
    assert(MediaOps.resizeBmp(minHeightBmp, 2, 2).isEmpty)
    assert(!MediaOps.sniff(2L, minHeightBmp).valid)
  }

  test("negative-height (top-down) BMP reports positive dimensions") {
    val topDown = bmp(32, -8)
    val m = MediaOps.sniff(9L, topDown)
    assert(m.width === 32 && m.height === 8 && m.valid)
  }

  test("payload body is never required — header-only slice decodes identically") {
    val full = wav(22050, 2, 16, 100000)
    val headerOnly = full.take(64)
    val a = MediaOps.sniff(1L, full)
    val b = MediaOps.sniff(1L, headerOnly)
    assert(a.sample_rate === b.sample_rate && a.channels === b.channels &&
      b.valid, "decode cost must be O(header), not O(bytes)")
  }

  // ---- PNG / JPEG (codec-free header layouts) ----------------------------

  private def png(w: Int, h: Int, depth: Int = 8, colorType: Int = 6): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(33) // sig + IHDR (no CRC needed)
    b.put(Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
    b.putInt(13); b.put("IHDR".getBytes)
    b.putInt(w); b.putInt(h)
    b.put(depth.toByte); b.put(colorType.toByte)
    b.array()
  }

  private def jpeg(w: Int, h: Int, comps: Int = 3): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(64)
    b.put(0xFF.toByte).put(0xD8.toByte)                    // SOI
    b.put(0xFF.toByte).put(0xE0.toByte).putShort(16)       // APP0 (JFIF)
    b.put("JFIF".getBytes).put(new Array[Byte](10))
    b.put(0xFF.toByte).put(0xC0.toByte)                    // SOF0
    b.putShort((8 + 3 * comps).toShort)
    b.put(8.toByte)                                        // precision
    b.putShort(h.toShort); b.putShort(w.toShort)
    b.put(comps.toByte)
    b.array()
  }

  test("PNG IHDR and JPEG SOF0 decode exact dimensions without a codec") {
    val p = MediaOps.sniff(1L, png(640, 480, depth = 8, colorType = 2))
    assert(p.kind === "png" && p.valid && p.width === 640 && p.height === 480)
    assert(p.channels === 3 && p.bits_per_sample === 8)
    val rgba = MediaOps.sniff(2L, png(17, 9, colorType = 6))
    assert(rgba.valid && rgba.channels === 4)
    val j = MediaOps.sniff(3L, jpeg(1920, 1080))
    assert(j.kind === "jpeg" && j.valid && j.width === 1920 && j.height === 1080)
    assert(j.channels === 3 && j.bits_per_sample === 8)
    // progressive JPEG (SOF2) also carries dimensions in its frame header
    val prog = jpeg(320, 200)
    prog(21) = 0xC2.toByte
    val pj = MediaOps.sniff(4L, prog)
    assert(pj.valid && pj.width === 320 && pj.height === 200)
  }

  test("PNG/JPEG adversarial bytes quarantine, never throw") {
    // wrong chunk type where IHDR must be
    val notIhdr = png(10, 10)
    System.arraycopy("JUNK".getBytes, 0, notIhdr, 12, 4)
    assert(!MediaOps.sniff(1L, notIhdr).valid)
    // zero-dimension PNG
    assert(!MediaOps.sniff(2L, png(0, 7)).valid)
    // truncated PNG (signature only)
    assert(!MediaOps.sniff(3L, png(5, 5).take(12)).valid)
    // JPEG with SOS before any SOF → quarantined as jpeg
    val sosFirst = {
      val b = java.nio.ByteBuffer.allocate(16)
      b.put(0xFF.toByte).put(0xD8.toByte)
      b.put(0xFF.toByte).put(0xDA.toByte).putShort(4)
      b.array()
    }
    val m = MediaOps.sniff(4L, sosFirst)
    assert(m.kind === "jpeg" && !m.valid)
    // JPEG with a corrupt (tiny) segment length must terminate the walk
    val corrupt = jpeg(8, 8)
    corrupt(4) = 0; corrupt(5) = 1 // APP0 length = 1 < 2
    assert(!MediaOps.sniff(5L, corrupt).valid)
    // marker desync (non-FF where a marker must start)
    val desync = jpeg(8, 8)
    desync(2) = 0x00
    assert(!MediaOps.sniff(6L, desync).valid)
    // random bytes across all four families never throw (fuzz)
    val rnd = new scala.util.Random(42)
    (0 until 3000).foreach { i =>
      val len = rnd.nextInt(80)
      val bytes = new Array[Byte](len)
      rnd.nextBytes(bytes)
      if (len >= 2 && i % 4 == 0) { bytes(0) = 0xFF.toByte; bytes(1) = 0xD8.toByte }
      if (len >= 8 && i % 4 == 1)
        System.arraycopy(png(1, 1), 0, bytes, 0, 8)
      val out = MediaOps.sniff(i.toLong, bytes) // must classify, never throw
      assert(out.n_bytes === len.toLong)
    }
  }

  // ---- MP4 / ISO-BMFF (moov box tree walk) --------------------------------

  private def box(typ: String, payload: Array[Byte]*): Array[Byte] = {
    val body = payload.flatten.toArray
    val b = ByteBuffer.allocate(8 + body.length)
    b.putInt(8 + body.length); b.put(typ.getBytes); b.put(body)
    b.array()
  }
  private def be32a(v: Long): Array[Byte] =
    ByteBuffer.allocate(4).putInt(v.toInt).array()
  private def be64a(v: Long): Array[Byte] =
    ByteBuffer.allocate(8).putLong(v).array()

  /** Full-size mvhd v0 payload (100 bytes per ISO 14496-12 §8.2.2). */
  private def mvhd(timescale: Int, duration: Long): Array[Byte] = {
    val b = ByteBuffer.allocate(100)
    b.putInt(0)                        // version 0 + flags
    b.putInt(0).putInt(0)              // ctime, mtime
    b.putInt(timescale); b.putInt(duration.toInt)
    b.putInt(0x00010000)               // rate 1.0
    b.putShort(0x0100.toShort)         // volume 1.0
    b.put(new Array[Byte](10))         // reserved
    b.put(new Array[Byte](36))         // matrix
    b.put(new Array[Byte](24))         // pre_defined
    b.putInt(3)                        // next_track_ID
    b.array()
  }
  /** mvhd v1: 64-bit ctime/mtime/duration — timescale@20, duration@24. */
  private def mvhdV1(timescale: Int, duration: Long): Array[Byte] = {
    val b = ByteBuffer.allocate(112)
    b.put(1.toByte).put(new Array[Byte](3)) // version 1 + flags
    b.putLong(0L).putLong(0L)               // ctime, mtime (64-bit)
    b.putInt(timescale); b.putLong(duration)
    b.array()                               // tail zeros: rate/volume/matrix
  }
  /** tkhd v0 payload (84 bytes): 16.16 width@76, height@80. */
  private def tkhd(trackId: Int, w: Int, h: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(84)
    b.putInt(0)                         // version+flags
    b.putInt(0).putInt(0)               // ctime, mtime
    b.putInt(trackId); b.putInt(0); b.putInt(0) // id, reserved, duration
    b.put(new Array[Byte](8))           // reserved
    b.putShort(0).putShort(0).putShort(0).putShort(0) // layer/alt/vol/resv
    b.put(new Array[Byte](36))          // matrix
    b.putInt(w << 16); b.putInt(h << 16)
    b.array()
  }
  /** tkhd v1 payload (96 bytes): width@88, height@92. */
  private def tkhdV1(trackId: Int, w: Int, h: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(96)
    b.put(1.toByte).put(new Array[Byte](3))
    b.putLong(0L).putLong(0L)
    b.putInt(trackId); b.putInt(0); b.putLong(0L)
    b.put(new Array[Byte](8))
    b.putShort(0).putShort(0).putShort(0).putShort(0)
    b.put(new Array[Byte](36))
    b.putInt(w << 16); b.putInt(h << 16)
    b.array()
  }
  private def stsz(sampleCount: Int): Array[Byte] =
    be32a(0) ++ be32a(0) ++ be32a(sampleCount)
  private def stts(entries: (Int, Int)*): Array[Byte] =
    be32a(0) ++ be32a(entries.length.toLong) ++
      entries.flatMap { case (c, d) => be32a(c.toLong) ++ be32a(d.toLong) }
  private def ftyp: Array[Byte] =
    box("ftyp", "isom".getBytes, be32a(512), "isomiso2mp41".getBytes)
  private def trak(tk: Array[Byte], stblBoxes: Array[Byte]*): Array[Byte] =
    box("trak", box("tkhd", tk),
      box("mdia", box("minf", box("stbl", stblBoxes.flatten.toArray))))

  // shared scaffolding for the adversarial stbl-table tests: per-sample-size
  // stsz, single-run stsc, 32-bit chunk offsets, and an mdat-FIRST layout
  // (spec-legal order) so absolute offsets are knowable up front — the
  // payload starts at ftyp.length + 8
  private def stszSized(sizes: Seq[Int]): Array[Byte] =
    box("stsz", be32a(0) ++ be32a(0) ++ be32a(sizes.length.toLong) ++
      sizes.toArray.flatMap(s => be32a(s.toLong)))
  private def stsc1(n: Int): Array[Byte] =
    box("stsc", be32a(0) ++ be32a(1L) ++ be32a(1L) ++ be32a(n.toLong) ++ be32a(1L))
  private def stco(offs: Long*): Array[Byte] =
    box("stco", be32a(0) ++ be32a(offs.length.toLong) ++
      offs.toArray.flatMap(be32a))
  private val mdatData = "abcdefghijklmnopqrstuvwx".getBytes("US-ASCII") // 3 × 8 B
  private def mdatPre: Array[Byte] = ftyp ++ box("mdat", mdatData)
  private def mdatPs: Long = ftyp.length.toLong + 8L

  test("MP4: moov box walk decodes duration, tracks, samples, dimensions") {
    val file = ftyp ++ box("moov",
      box("mvhd", mvhd(timescale = 1000, duration = 5000)),
      trak(tkhd(1, 640, 480), box("stsz", stsz(150)), box("stts", stts(150 -> 400))),
      trak(tkhd(2, 0, 0), box("stsz", stsz(215)))
    ) ++ box("mdat", Array.fill(32)(0.toByte))
    val m = MediaOps.sniffMp4(1L, file)
    assert(m.valid && m.duration_ms === 5000L && m.timescale === 1000)
    assert(m.n_tracks === 2 && m.n_samples === 365L)
    assert(m.width === 640 && m.height === 480)
    // the generic classifier reports kind=mp4 with the video dimensions
    val g = MediaOps.sniff(1L, file)
    assert(g.kind === "mp4" && g.valid && g.width === 640 && g.height === 480)
  }

  test("MP4: v1 headers, 64-bit largesize box, stts fallback when stsz absent") {
    // v1 mvhd/tkhd layouts (64-bit times), moov carried in a largesize box
    val moovBody = box("mvhd", mvhdV1(90000, 270000L)) ++
      trak(tkhdV1(1, 1920, 1080), box("stts", stts(24 -> 3750, 6 -> 3000)))
    val largeMoov = {
      val b = ByteBuffer.allocate(16 + moovBody.length)
      b.putInt(1)                       // size==1 → largesize follows
      b.put("moov".getBytes)
      b.putLong(16L + moovBody.length)
      b.put(moovBody)
      b.array()
    }
    val m = MediaOps.sniffMp4(2L, ftyp ++ largeMoov)
    assert(m.valid && m.duration_ms === 3000L && m.n_tracks === 1)
    assert(m.n_samples === 30L, "stts entry sum is the fallback sample count")
    assert(m.width === 1920 && m.height === 1080)
  }

  test("MP4: distributed decode with quarantine for non-BMFF payloads") {
    val good = ftyp ++ box("moov", box("mvhd", mvhd(600, 1200)),
      trak(tkhd(1, 320, 240), box("stsz", stsz(10))))
    val rows: Seq[(Long, Array[Byte])] = Seq(
      1L -> good,
      2L -> "not video".getBytes,
      3L -> ftyp, // ftyp but no moov → quarantined mp4
      4L -> wav(8000, 1, 8, 4))
    val out = rows.toDS().repartition(2)
      .map { case (id, bytes) => MediaOps.sniffMp4(id, bytes) }
      .collect().map(m => m.doc_id -> m).toMap
    assert(out(1L).valid && out(1L).duration_ms === 2000L && out(1L).n_samples === 10L)
    assert(!out(2L).valid && !out(3L).valid && !out(4L).valid)
    assert(out.size === 4)
  }

  test("synthMp4 round-trips its closed-form metadata (the q_mp4_meta contract)") {
    (0L until 200L).foreach { id =>
      val m = MediaOps.sniffMp4(id, MediaOps.synthMp4(id))
      if (id % 17 == 0) assert(!m.valid, s"id $id should be quarantined")
      else {
        assert(m.valid, s"id $id should decode")
        assert(m.duration_ms === (id % 120 + 1) * 500)
        assert(m.timescale === 1000)
        assert(m.n_tracks === (if (id % 3 == 0) 2 else 1))
        assert(m.n_samples ===
          (id % 50 + 10) + (if (id % 3 == 0) id % 7 + 2 else 0L))
        assert(m.width === 160 + (id % 8).toInt * 40)
        assert(m.height === 90 + (id % 8).toInt * 30)
      }
    }
    // cross-check the main-code builder against this spec's INDEPENDENT
    // box builders: same logical container, same decoded metadata
    val independent = ftyp ++ box("moov",
      box("mvhd", mvhd(1000, (5L % 120 + 1) * 500)),
      trak(tkhd(1, 160 + 5 * 40, 90 + 5 * 30), box("stsz", stsz((5 % 50 + 10).toInt))))
    val a = MediaOps.sniffMp4(5L, MediaOps.synthMp4(5L))
    val b = MediaOps.sniffMp4(5L, independent)
    assert((a.duration_ms, a.timescale, a.n_tracks, a.n_samples, a.width, a.height) ===
      ((b.duration_ms, b.timescale, b.n_tracks, b.n_samples, b.width, b.height)))
  }

  test("MP4 adversarial bytes: size wraps, zero sizes, truncations never throw") {
    val good = ftyp ++ box("moov", box("mvhd", mvhd(1000, 1000)),
      trak(tkhd(1, 64, 64), box("stsz", stsz(5))))
    // declared box size near 2^31: Long cursor math must not wrap
    val evil = good.clone()
    ByteBuffer.wrap(evil).putInt(ftyp.length, 0x7FFFFFF0)
    assert(!MediaOps.sniffMp4(1L, evil).valid)
    // size == 0 (to-end-of-file) on the moov box still decodes
    val toEnd = good.clone()
    ByteBuffer.wrap(toEnd).putInt(ftyp.length, 0)
    assert(MediaOps.sniffMp4(2L, toEnd).valid)
    // size smaller than its own header stops the walk (zero-progress guard)
    val tiny = good.clone()
    ByteBuffer.wrap(tiny).putInt(ftyp.length, 4)
    assert(!MediaOps.sniffMp4(3L, tiny).valid)
    // truncations at every prefix length classify, never throw
    (0 to good.length by 7).foreach { k =>
      MediaOps.sniffMp4(4L, good.take(k))
    }
    // stts entry count lying about the payload size must not over-read
    val lyingStts = ftyp ++ box("moov", box("mvhd", mvhd(1000, 1000)),
      trak(tkhd(1, 8, 8), box("stts", be32a(0) ++ be32a(1000000))))
    val ls = MediaOps.sniffMp4(5L, lyingStts)
    assert(ls.valid && ls.n_samples === 0L, "oversized stts ignored, not read")
    // fuzz: random bytes with a planted ftyp prefix never throw
    val rnd = new scala.util.Random(7)
    (0 until 2000).foreach { i =>
      val len = 12 + rnd.nextInt(120)
      val bytes = new Array[Byte](len)
      rnd.nextBytes(bytes)
      System.arraycopy(ftyp, 0, bytes, 0, math.min(ftyp.length, len))
      val out = MediaOps.sniffMp4(i.toLong, bytes)
      assert(out.n_bytes === len.toLong)
    }
  }

  // ---- per-sample byte extraction (stsz + stsc + stco/co64) ---------------

  private def md5hex(s: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(s)
      .map(b => f"$b%02x").mkString

  test("MP4 sample extraction round-trips closed-form payloads (q_mp4_samples contract)") {
    (0L until 200L).foreach { id =>
      val samples = MediaOps.extractMp4Samples(id, MediaOps.synthMp4(id))
      if (id % 17 == 0) assert(samples.isEmpty, s"id $id should be quarantined")
      else {
        val n1 = (id % 50 + 10).toInt
        val n2 = if (id % 3 == 0) (id % 7 + 2).toInt else 0
        assert(samples.length === n1 + n2, s"id $id sample count")
        samples.foreach { s =>
          // the md5 here is computed from the EXPECTED closed-form string;
          // the engine's came from slicing container bytes at the
          // stsc/stco-reconstructed offset — equality proves the walk
          val want = s"${id % 97}-${s.track_id}-${s.sample_idx}"
          assert(s.size === want.length.toLong, s"id $id size")
          assert(s.payload_md5 === md5hex(want.getBytes("US-ASCII")),
            s"id $id track ${s.track_id} idx ${s.sample_idx}")
        }
        assert(samples.filter(_.track_id == 1).map(_.sample_idx).sorted ===
          (0 until n1), s"id $id track-1 indexes")
        if (n2 > 0)
          assert(samples.filter(_.track_id == 2).map(_.sample_idx).sorted ===
            (0 until n2), s"id $id track-2 indexes")
      }
    }
  }

  test("keep-predicate extraction equals post-filtered full extraction") {
    // the predicate skips md5 work, never validation — the emitted rows
    // must be exactly the default extraction filtered after the fact,
    // including on quarantined (id%17) containers
    (0L until 60L).foreach { id =>
      val bytes = MediaOps.synthMp4(id)
      val full = MediaOps.extractMp4Samples(id, bytes)
      val kept = MediaOps.extractMp4Samples(id, bytes,
        keep = (track, idx, _) => track == 1 && idx % 4 == 0)
      assert(kept === full.filter(s => s.track_id == 1 && s.sample_idx % 4 == 0),
        s"id $id")
    }
  }

  test("MP4 sample extraction: uniform stsz, mdat-first layout, adversarial quarantine per track") {
    def stszUniform(size: Int, n: Int): Array[Byte] =
      box("stsz", be32a(0) ++ be32a(size.toLong) ++ be32a(n.toLong))
    def stsc(runs: (Int, Int)*): Array[Byte] =
      box("stsc", be32a(0) ++ be32a(runs.length.toLong) ++
        runs.toArray.flatMap { case (f, s) =>
          be32a(f.toLong) ++ be32a(s.toLong) ++ be32a(1L) })
    def co64(offs: Long*): Array[Byte] =
      box("co64", be32a(0) ++ be32a(offs.length.toLong) ++
        offs.toArray.flatMap(be64a))

    val data = mdatData
    val pre = mdatPre
    val ps = mdatPs
    def mk(traks: Array[Byte]*): Array[Byte] =
      pre ++ box("moov", box("mvhd", mvhd(1000, 1000)) ++ traks.flatten.toArray)

    // per-sample sizes, ragged chunking (2 + 1)
    val good = mk(trak(tkhd(1, 64, 64), stszSized(Seq(8, 8, 8)),
      stsc(1 -> 2, 2 -> 1), stco(ps, ps + 16)))
    val gs = MediaOps.extractMp4Samples(1L, good)
    assert(gs.map(_.payload_md5) ===
      Seq(md5hex(data.slice(0, 8)), md5hex(data.slice(8, 16)),
        md5hex(data.slice(16, 24))))
    assert(gs.map(_.offset) === Seq(ps, ps + 8, ps + 16))

    // uniform sample_size path (no per-sample table) + co64 offsets
    val uni = mk(trak(tkhd(1, 64, 64), stszUniform(8, 3),
      stsc(1 -> 3), co64(ps)))
    assert(MediaOps.extractMp4Samples(2L, uni).map(_.payload_md5) ===
      gs.map(_.payload_md5))

    // adversarial tables quarantine the TRACK, never throw
    val badCases = Seq(
      "stsc first_chunk not 1" ->
        mk(trak(tkhd(1, 8, 8), stszSized(Seq(8)), stsc(2 -> 1), stco(ps))),
      "stsc zero samples_per_chunk" ->
        mk(trak(tkhd(1, 8, 8), stszSized(Seq(8)), stsc(1 -> 0), stco(ps))),
      "stsc non-ascending runs" ->
        mk(trak(tkhd(1, 8, 8), stszSized(Seq(8, 8)),
          stsc(1 -> 1, 1 -> 1), stco(ps, ps + 8))),
      "stco offset past EOF" ->
        mk(trak(tkhd(1, 8, 8), stszSized(Seq(8)), stsc(1 -> 1),
          stco(1 << 20))),
      "stsz count not covered by chunks" ->
        mk(trak(tkhd(1, 8, 8), stszSized(Seq(8, 8, 8)), stsc(1 -> 1),
          stco(ps))),
      "stsz alloc bomb (count 2^30, uniform)" ->
        mk(trak(tkhd(1, 8, 8), stszUniform(8, 1 << 30), stsc(1 -> 1),
          stco(ps))),
      "stsz size table truncated" ->
        mk(trak(tkhd(1, 8, 8), box("stsz", be32a(0) ++ be32a(0) ++ be32a(99)),
          stsc(1 -> 1), stco(ps))),
      // off + sz wraps negative in naive Long math and would bypass the
      // range check, sending an arbitrary int offset into MessageDigest —
      // the overflow-safe `off > n - sz` form must quarantine instead
      "co64 offset near Long.MaxValue (off+sz overflow)" ->
        mk(trak(tkhd(1, 8, 8), stszSized(Seq(16)), stsc(1 -> 1),
          co64(Long.MaxValue - 7L))))
    badCases.foreach { case (what, f) =>
      assert(MediaOps.extractMp4Samples(3L, f).isEmpty, what)
    }

    // quarantine is per-track: a corrupt second track must not take down
    // the healthy first one
    val mixed = mk(
      trak(tkhd(1, 64, 64), stszSized(Seq(8, 8, 8)), stsc(1 -> 3), stco(ps)),
      trak(tkhd(2, 0, 0), stszSized(Seq(8)), stsc(1 -> 1), stco(1 << 20)))
    val ms = MediaOps.extractMp4Samples(4L, mixed)
    assert(ms.nonEmpty && ms.forall(_.track_id == 1) && ms.length === 3)

    // fuzz: random stbl contents and random ftyp-prefixed bytes never throw
    val rnd = new scala.util.Random(11)
    (0 until 2000).foreach { i =>
      val len = rnd.nextInt(120)
      val junk = new Array[Byte](len)
      rnd.nextBytes(junk)
      MediaOps.extractMp4Samples(i.toLong, mk(trak(tkhd(1, 8, 8), junk)))
      val raw = new Array[Byte](12 + rnd.nextInt(200))
      rnd.nextBytes(raw)
      System.arraycopy(ftyp, 0, raw, 0, math.min(ftyp.length, raw.length))
      MediaOps.extractMp4Samples(i.toLong, raw)
    }
  }

  test("frame sampling reads real extracted sample bytes (q_frame_sample contract)") {
    val frames = graft.operators.MediaOps
      .frameSampleQuery(spark, "/root/testdata/sf0.001")
      .select("doc_id", "frame_idx", "sample_idx", "size", "frame_md5")
      .as[(Long, Int, Int, Long, String)].collect()
    assert(frames.nonEmpty)
    frames.foreach { case (id, f, si, sz, h) =>
      // r6: sampling is keyframe-aware — kept samples are exactly the
      // stss-designated sync samples (period id%4+2; every 11th doc omits
      // the box → every sample is sync), frame_idx is the keyframe ordinal
      val p = if (id % 11 == 0) 1 else (id % 4 + 2).toInt
      assert(id % 17 != 0 && si % p === 0 && si === f * p)
      val want = s"${id % 97}-1-$si"
      assert(sz === want.length.toLong)
      assert(h === md5hex(want.getBytes("US-ASCII")))
    }
    // keyframe coverage: every doc contributes ceil(n1/p) frames
    frames.groupBy(_._1).foreach { case (id, g) =>
      val n1 = (id % 50 + 10).toInt
      val p = if (id % 11 == 0) 1 else (id % 4 + 2).toInt
      assert(g.length === (n1 + p - 1) / p, s"doc $id frame count")
    }
  }

  test("stss sync-sample semantics: planted table, absent box, adversarial quarantine") {
    // synth closed form: track 1 sync iff id%11==0 (no stss) or idx%p==0;
    // track 2 (no stss) all sync
    (0L until 120L).foreach { id =>
      val ss = MediaOps.extractMp4Samples(id, MediaOps.synthMp4(id))
      val p = (id % 4 + 2).toInt
      ss.foreach { s =>
        val want =
          if (s.track_id == 2 || id % 11 == 0) true
          else s.sample_idx % p == 0
        assert(s.is_sync === want, s"id $id track ${s.track_id} idx ${s.sample_idx}")
      }
    }

    // hand-built adversarial stss tables must quarantine the track
    def stss(nums: Long*): Array[Byte] =
      box("stss", be32a(0) ++ be32a(nums.length.toLong) ++
        nums.toArray.flatMap(be32a))
    val pre = mdatPre
    val ps = mdatPs
    def mk(stssBox: Array[Byte]): Array[Byte] =
      pre ++ box("moov", box("mvhd", mvhd(1000, 1000)) ++
        trak(tkhd(1, 8, 8), stszSized(Seq(8, 8, 8)), stsc1(3), stssBox,
          stco(ps)))

    // healthy: samples 1 and 3 (1-based) are sync
    val good = MediaOps.extractMp4Samples(1L, mk(stss(1L, 3L)))
    assert(good.map(s => s.sample_idx -> s.is_sync) ===
      Seq(0 -> true, 1 -> false, 2 -> true))
    // empty stss is spec-representable: present with zero entries = no syncs
    val none = MediaOps.extractMp4Samples(1L, mk(stss()))
    assert(none.length === 3 && none.forall(!_.is_sync))
    val bad = Seq(
      "non-ascending entries" -> mk(stss(2L, 2L)),
      "descending entries" -> mk(stss(3L, 1L)),
      "entry 0 (1-based table)" -> mk(stss(0L, 2L)),
      "entry beyond sample_count" -> mk(stss(1L, 4L)),
      "truncated table" -> mk(box("stss", be32a(0) ++ be32a(99L))),
      // header itself unreadable (payload < 8 B): must quarantine, NOT be
      // treated as "no stss" (which would flip every sample to sync)
      "undersized header" -> mk(box("stss", be32a(0))),
      "alloc bomb count" -> mk(box("stss", be32a(0) ++ be32a(1L << 30))))
    bad.foreach { case (what, f) =>
      assert(MediaOps.extractMp4Samples(5L, f).isEmpty, what)
    }
  }

  test("stts/ctts timing decode: closed-form dts/cts, multi-run walk, adversarial quarantine") {
    // synth closed form — track 1: dts = i·d, cts = dts + ((i/4)%3)·10;
    // track 2 (two stts runs): dts = i<h ? i·d : h·d + (i−h)·2d, cts = dts
    (0L until 120L).foreach { id =>
      val ss = MediaOps.extractMp4Samples(id, MediaOps.synthMp4(id))
      val d = (id % 5 + 1) * 100L
      val h = (if (id % 3 == 0) (id % 7 + 2).toInt else 0) / 2
      ss.foreach { s =>
        if (s.track_id == 1) {
          assert(s.dts === s.sample_idx * d, s"id $id idx ${s.sample_idx} dts")
          assert(s.cts === s.sample_idx * d + ((s.sample_idx / 4) % 3) * 10,
            s"id $id idx ${s.sample_idx} cts")
        } else {
          val want = if (s.sample_idx < h) s.sample_idx * d
                     else h * d + (s.sample_idx - h) * 2 * d
          assert(s.dts === want && s.cts === want,
            s"id $id t2 idx ${s.sample_idx}")
        }
      }
    }

    def stts(runs: (Long, Long)*): Array[Byte] =
      box("stts", be32a(0) ++ be32a(runs.length.toLong) ++
        runs.toArray.flatMap { case (c, dl) => be32a(c) ++ be32a(dl) })
    def cttsV(ver: Int, runs: (Long, Long)*): Array[Byte] =
      box("ctts", Array[Byte](ver.toByte, 0, 0, 0) ++ be32a(runs.length.toLong) ++
        runs.toArray.flatMap { case (c, o) =>
          be32a(c) ++ be32a(o & 0xFFFFFFFFL) })
    val pre = mdatPre
    val ps = mdatPs
    def mk(extra: Array[Byte]*): Array[Byte] =
      pre ++ box("moov", box("mvhd", mvhd(1000, 1000)) ++
        trak(tkhd(1, 8, 8),
          (Seq(stszSized(Seq(8, 8, 8)), stsc1(3)) ++ extra :+ stco(ps)): _*))

    // absent stts → timing unknown sentinel, samples still extracted
    val noTs = MediaOps.extractMp4Samples(1L, mk())
    assert(noTs.length === 3 && noTs.forall(s => s.dts == -1L && s.cts == -1L))
    // v1 ctts: SIGNED offsets shift cts both ways
    val v1 = MediaOps.extractMp4Samples(1L, mk(stts(3L -> 100L),
      cttsV(1, 1L -> 50L, 1L -> -50L, 1L -> 0L)))
    assert(v1.map(s => (s.dts, s.cts)) ===
      Seq((0L, 50L), (100L, 50L), (200L, 200L)))
    // v0 ctts: the same bit pattern reads UNSIGNED
    val v0 = MediaOps.extractMp4Samples(1L, mk(stts(3L -> 100L),
      cttsV(0, 3L -> -50L)))
    assert(v0.map(_.cts) === Seq(0xFFFFFFFFL - 49, 100L + 0xFFFFFFFFL - 49,
      200L + 0xFFFFFFFFL - 49))
    // surplus stts runs beyond sample_count are tolerated (muxer padding)
    val surplus = MediaOps.extractMp4Samples(1L, mk(stts(3L -> 100L, 7L -> 1L)))
    assert(surplus.map(_.dts) === Seq(0L, 100L, 200L))
    // adversarial timing tables quarantine the track
    val badT = Seq(
      "stts coverage short" -> mk(stts(2L -> 100L)),
      "stts zero-count run" -> mk(stts(0L -> 100L, 3L -> 100L)),
      "stts truncated table" -> mk(box("stts", be32a(0) ++ be32a(99L))),
      // unreadable headers quarantine — "ignored" would emit dts/cts=-1
      "stts undersized header" -> mk(box("stts", be32a(0))),
      "ctts undersized header" -> mk(stts(3L -> 100L), box("ctts", be32a(0))),
      "stts alloc bomb" -> mk(box("stts", be32a(0) ++ be32a(1L << 30))),
      "ctts without stts" -> mk(cttsV(0, 3L -> 10L)),
      "ctts coverage short" -> mk(stts(3L -> 100L), cttsV(0, 2L -> 10L)),
      "ctts zero-count run" -> mk(stts(3L -> 100L),
        cttsV(0, 0L -> 10L, 3L -> 10L)))
    badT.foreach { case (what, f) =>
      assert(MediaOps.extractMp4Samples(6L, f).isEmpty, what)
    }
  }
}
