package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}

/** Real multimodal metadata decode for container formats whose structure is
  * pure byte layout — no codec library required: BMP (dimensions from the
  * 54-byte header), WAV/RIFF (sample rate / channels / bit depth from the
  * fmt chunk), PNG (IHDR fixed offsets), JPEG (SOFn marker walk — frame
  * dimensions precede any entropy-coded data) and MP4/ISO-BMFF (moov box
  * tree walk: mvhd duration, trak/tkhd dimensions, stbl/stsz+stts sample
  * counts — all length-prefixed layout outside the entropy-coded mdat).
  * What stays codec-bound is decoding PIXELS/FRAMES from entropy-coded
  * payloads; that (and only that) remains behind the documented stub in
  * [[TextOps.multimodalMeta]] — sample LOCATION + slicing + hashing is
  * real ([[extractMp4Samples]]).
  *
  * Execution shape is the one a 100 TB media pipeline needs: the payload
  * travels as an opaque binary column, the decode runs partition-batched
  * ([[mp4MetaQuery]] is a `mapPartitions`-style Dataset map — one JVM-local
  * pass, no shuffle, no UDF registry), and malformed payloads degrade to
  * `valid=false` rows instead of failing the task — at a trillion rows
  * there is ALWAYS a corrupt file, and a retry loop that dies on it costs
  * more than a quarantine column. */
object MediaOps {

  final case class MediaMeta(
      doc_id: Long, kind: String, width: Int, height: Int,
      sample_rate: Int, channels: Int, bits_per_sample: Int,
      n_bytes: Long, valid: Boolean)

  private def le16(b: Array[Byte], off: Int): Int =
    if (off + 2 > b.length) -1
    else (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)

  private def le32(b: Array[Byte], off: Int): Int =
    if (off + 4 > b.length) -1
    else (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
      ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)

  private def ascii(b: Array[Byte], off: Int, len: Int): String =
    if (off + len > b.length) ""
    else new String(b, off, len, java.nio.charset.StandardCharsets.US_ASCII)

  private def be16(b: Array[Byte], off: Int): Int =
    if (off + 2 > b.length) -1
    else ((b(off) & 0xFF) << 8) | (b(off + 1) & 0xFF)

  private def be32(b: Array[Byte], off: Int): Long =
    if (off + 4 > b.length) -1L
    else ((b(off) & 0xFFL) << 24) | ((b(off + 1) & 0xFFL) << 16) |
      ((b(off + 2) & 0xFFL) << 8) | (b(off + 3) & 0xFFL)

  private def be64(b: Array[Byte], off: Int): Long =
    if (off + 8 > b.length) -1L
    else (be32(b, off) << 32) | be32(b, off + 4)

  private val PngSignature =
    Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  /** Parse one payload. Total work is O(header), not O(bytes) — the body is
    * never touched, so throughput is bounded by IO, not decode. */
  def sniff(id: Long, bytes: Array[Byte]): MediaMeta = {
    val n = if (bytes == null) 0L else bytes.length.toLong
    def invalid(kind: String) = MediaMeta(id, kind, -1, -1, -1, -1, -1, n, valid = false)
    if (bytes == null || bytes.length < 2) invalid("unknown")
    else if (ascii(bytes, 0, 2) == "BM") {
      // BITMAPINFOHEADER: size@14, width@18, height@22 (LE, height may be
      // negative for top-down rows), bpp@28
      val w = le32(bytes, 18)
      val h = math.abs(le32(bytes, 22))
      val bpp = le16(bytes, 28)
      if (bytes.length >= 54 && w > 0 && h > 0)
        MediaMeta(id, "bmp", w, h, -1, -1, bpp, n, valid = true)
      else invalid("bmp")
    } else if (bytes.length >= 12 &&
        ascii(bytes, 0, 4) == "RIFF" && ascii(bytes, 8, 4) == "WAVE") {
      // walk RIFF chunks to the fmt chunk (it is not always at offset 12).
      // The cursor is a Long: a crafted 4-byte chunk size near Int.MaxValue
      // would wrap Int arithmetic to a negative offset that passes the
      // bounds checks and crashes the read — quarantine, never throw.
      var off: Long = 12L
      var out: MediaMeta = invalid("wav")
      while (off + 8 <= bytes.length && !out.valid) {
        val io = off.toInt // safe: 0 <= off <= length - 8 here
        val cid = ascii(bytes, io, 4)
        val csz = le32(bytes, io + 4).toLong
        if (cid == "fmt " && csz >= 16 && io + 8 + 16 <= bytes.length) {
          val ch = le16(bytes, io + 10)
          val rate = le32(bytes, io + 12)
          val bits = le16(bytes, io + 22)
          if (ch > 0 && rate > 0)
            out = MediaMeta(id, "wav", -1, -1, rate, ch, bits, n, valid = true)
        }
        if (csz < 0) off = bytes.length.toLong // corrupt size → stop
        else off += 8L + csz + (csz & 1L) // RIFF chunks are 2-byte aligned
      }
      out
    } else if (bytes.length >= 8 && bytes.take(8).sameElements(PngSignature)) {
      // PNG: the IHDR chunk MUST be first (PNG spec §11.2.2) — length(4 BE)
      // then "IHDR" at offset 12, width/height as BE32 at 16/20, bit depth
      // at 24, colour type at 25. Pure fixed-offset byte layout, no codec.
      val w = be32(bytes, 16)
      val h = be32(bytes, 20)
      val depth = if (bytes.length > 24) bytes(24) & 0xFF else -1
      val colorType = if (bytes.length > 25) bytes(25) & 0xFF else -1
      val channels = colorType match {
        case 0 => 1 case 2 => 3 case 3 => 1 case 4 => 2 case 6 => 4
        case _ => -1
      }
      if (bytes.length >= 26 && be32(bytes, 8) >= 13 &&
          ascii(bytes, 12, 4) == "IHDR" &&
          w > 0 && w <= Int.MaxValue && h > 0 && h <= Int.MaxValue &&
          channels > 0)
        MediaMeta(id, "png", w.toInt, h.toInt, -1, channels, depth, n, valid = true)
      else invalid("png")
    } else if (bytes.length >= 12 && ascii(bytes, 4, 4) == "ftyp") {
      // MP4/ISO-BMFF: full container metadata lives in sniffMp4; the
      // generic classifier carries kind + video dimensions
      val m = sniffMp4(id, bytes)
      if (m.valid) MediaMeta(id, "mp4", m.width, m.height, -1, -1, -1, n, valid = true)
      else invalid("mp4")
    } else if ((bytes(0) & 0xFF) == 0xFF && (bytes(1) & 0xFF) == 0xD8) {
      // JPEG: walk the marker segments to the first SOFn frame header —
      // dimensions live BEFORE any entropy-coded data, so this never
      // decodes. Cursor in Long like the RIFF walk (a crafted BE16 length
      // cannot wrap, but the invariant is cheap to keep uniform). Stop at
      // SOS/EOI without a SOF → quarantine.
      var off = 2L
      var out: MediaMeta = invalid("jpeg")
      var done = false
      while (!done && off + 4 <= bytes.length) {
        val io = off.toInt
        if ((bytes(io) & 0xFF) != 0xFF) { done = true } // marker desync
        else {
          val marker = bytes(io + 1) & 0xFF
          if (marker == 0xFF) off += 1 // fill byte
          else if (marker == 0xD8 || (marker >= 0xD0 && marker <= 0xD7)) {
            off += 2 // standalone marker, no length
          } else if (marker == 0xD9 || marker == 0xDA) {
            done = true // EOI / start-of-scan without SOF
          } else {
            val segLen = be16(bytes, io + 2)
            val isSof = marker >= 0xC0 && marker <= 0xCF &&
              marker != 0xC4 && marker != 0xC8 && marker != 0xCC
            if (segLen < 2) done = true // corrupt length
            else if (isSof && segLen >= 8 && io + 2 + segLen <= bytes.length) {
              val precision = bytes(io + 4) & 0xFF
              val h = be16(bytes, io + 5)
              val w = be16(bytes, io + 7)
              val comps = bytes(io + 9) & 0xFF
              if (w > 0 && h > 0)
                out = MediaMeta(id, "jpeg", w, h, -1, comps, precision, n, valid = true)
              done = true
            } else off += 2L + segLen
          }
        }
      }
      out
    } else invalid("unknown")
  }

  // ---- MP4 / ISO-BMFF container metadata (box walk, codec-free) ----------

  final case class Mp4Meta(
      doc_id: Long, duration_ms: Long, timescale: Int, n_tracks: Int,
      n_samples: Long, width: Int, height: Int, n_bytes: Long, valid: Boolean)

  /** Walk the boxes of one ISO-BMFF range, invoking `f(type, payloadStart,
    * payloadEnd)` per box. Box header = BE32 size + 4-char type; size==1
    * means a BE64 largesize follows; size==0 means to-end-of-range. All
    * cursor math in Long — a crafted 32-bit size near 2³¹ must not wrap
    * into a negative offset that passes the bounds checks (the WAV/RIFF
    * lesson). A malformed size stops the walk (the caller quarantines on
    * missing boxes); a box-count guard bounds adversarial zero-progress
    * layouts. */
  private def walkBoxes(b: Array[Byte], start: Long, end: Long)(
      f: (String, Long, Long) => Unit): Unit = {
    var off = start
    var guard = 0
    while (off + 8 <= end && guard < 100000) {
      guard += 1
      val sz32 = be32(b, off.toInt)
      val typ = ascii(b, off.toInt + 4, 4)
      var hdr = 8L
      var sz: Long = sz32
      if (sz32 == 1L) {
        if (off + 16 > end) return
        sz = be64(b, off.toInt + 8); hdr = 16L
      } else if (sz32 == 0L) sz = end - off
      if (sz < hdr || off + sz > end) return // corrupt size → stop walk
      f(typ, off + hdr, off + sz)
      off += sz
    }
  }

  /** MP4/ISO-BMFF metadata from the moov box tree — duration (mvhd
    * timescale + duration, v0 and v1 layouts), track count (trak boxes),
    * total sample count (stsz sample_count per track, stts entry sum as
    * the fallback when stsz is absent), and video dimensions (tkhd 16.16
    * fixed-point width/height, the largest track wins). This is
    * length-prefixed byte layout all the way down — moov/mvhd/trak/tkhd/
    * mdia/minf/stbl/stsz/stts sit OUTSIDE the entropy-coded mdat payload,
    * so no codec is touched (what stays codec-bound is decoding frames,
    * not counting them). Same quarantine contract as [[sniff]]: malformed
    * payloads yield `valid=false`, never a task failure. */
  def sniffMp4(id: Long, bytes: Array[Byte]): Mp4Meta = {
    val n = if (bytes == null) 0L else bytes.length.toLong
    def invalid = Mp4Meta(id, -1L, -1, -1, -1L, -1, -1, n, valid = false)
    if (bytes == null || bytes.length < 12 || ascii(bytes, 4, 4) != "ftyp")
      return invalid
    var timescale = -1L
    var durTs = -1L
    var nTracks = 0
    var nSamples = 0L
    var w = -1
    var h = -1
    walkBoxes(bytes, 0L, bytes.length.toLong) { (t, ps, pe) =>
      if (t == "moov") walkBoxes(bytes, ps, pe) { (t2, p2s, p2e) =>
        if (t2 == "mvhd" && p2s < p2e) {
          val v = bytes(p2s.toInt) & 0xFF
          // v0: ver+flags(4) ctime(4) mtime(4) timescale(4) duration(4)
          // v1: ver+flags(4) ctime(8) mtime(8) timescale(4) duration(8)
          if (v == 0 && p2s + 20 <= p2e) {
            timescale = be32(bytes, p2s.toInt + 12)
            durTs = be32(bytes, p2s.toInt + 16)
          } else if (v == 1 && p2s + 32 <= p2e) {
            timescale = be32(bytes, p2s.toInt + 20)
            durTs = be64(bytes, p2s.toInt + 24)
          }
        } else if (t2 == "trak") {
          nTracks += 1
          var trackSamples = -1L
          var sttsSamples = -1L
          walkBoxes(bytes, p2s, p2e) { (t3, p3s, p3e) =>
            if (t3 == "tkhd" && p3s < p3e) {
              val v = bytes(p3s.toInt) & 0xFF
              // width/height are 16.16 fixed point at the end of the box:
              // v0 payload is 84 bytes (width@76), v1 is 96 (width@88)
              val wOff = if (v == 1) 88L else 76L
              if (p3s + wOff + 8 <= p3e) {
                val tw = (be32(bytes, (p3s + wOff).toInt) >> 16).toInt
                val th = (be32(bytes, (p3s + wOff + 4).toInt) >> 16).toInt
                if (tw > 0 && th > 0 && (w <= 0 || tw.toLong * th > w.toLong * h)) {
                  w = tw; h = th
                }
              }
            } else if (t3 == "mdia") walkBoxes(bytes, p3s, p3e) { (t4, p4s, p4e) =>
              if (t4 == "minf") walkBoxes(bytes, p4s, p4e) { (t5, p5s, p5e) =>
                if (t5 == "stbl") walkBoxes(bytes, p5s, p5e) { (t6, p6s, p6e) =>
                  if (t6 == "stsz" && p6s + 12 <= p6e)
                    trackSamples = be32(bytes, p6s.toInt + 8)
                  else if (t6 == "stts" && p6s + 8 <= p6e) {
                    // sum of per-entry sample counts; entries are
                    // (count, delta) BE32 pairs after ver+flags + count
                    val entries = be32(bytes, p6s.toInt + 4)
                    if (entries >= 0 && p6s + 8 + entries * 8 <= p6e) {
                      var s = 0L
                      var i = 0L
                      while (i < entries) {
                        s += be32(bytes, (p6s + 8 + i * 8).toInt)
                        i += 1
                      }
                      sttsSamples = s
                    }
                  }
                }
              }
            }
          }
          if (trackSamples >= 0) nSamples += trackSamples
          else if (sttsSamples >= 0) nSamples += sttsSamples
        }
      }
    }
    if (timescale > 0 && durTs >= 0 && nTracks > 0)
      Mp4Meta(id, durTs * 1000L / timescale, timescale.toInt, nTracks,
        nSamples, w, h, n, valid = true)
    else invalid
  }

  // ---- MP4 sample-byte extraction (stsz + stsc + stco/co64, codec-free) --

  /** `dts`/`cts` (r6): decode and composition timestamps in track
    * timescale ticks from the stts/ctts tables — -1 when the track carries
    * no stts (timing unknown; the byte walk is still valid). */
  final case class Mp4Sample(
      doc_id: Long, track_id: Int, sample_idx: Int, offset: Long, size: Long,
      payload_md5: String, is_sync: Boolean, dts: Long, cts: Long)

  private def md5Hex(b: Array[Byte], off: Long, len: Long): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(b, off.toInt, len.toInt)
    md.digest().map(x => f"$x%02x").mkString
  }

  /** Real per-sample byte extraction from an ISO-BMFF container — the
    * codec-free step the r4 box walk enables: `stsz` gives per-sample
    * sizes, `stsc` maps samples to chunks (run-length: first_chunk,
    * samples_per_chunk), `stco`/`co64` gives absolute chunk offsets, and
    * samples sit consecutively inside each chunk — so every sample's
    * (offset, size) is pure table arithmetic, and slicing + hashing the
    * payload bytes makes frame-level exact dedup and sample-integrity
    * audits REAL without touching a codec (the entropy-coded content is
    * hashed, not decoded). Track ids are the 1-based `trak` ordinal.
    *
    * Quarantine contract (same as [[sniff]]): a track whose sample tables
    * are missing, inconsistent (non-ascending stsc first_chunk, zero
    * samples_per_chunk, a sample range outside the file) or adversarial
    * (size fields that would wrap Int math — all cursor/size arithmetic is
    * Long) contributes NO rows; other tracks of the same file still
    * extract. Never throws.
    *
    * Sync samples (r6): the `stss` box — same run-free table arithmetic as
    * the other four — marks which samples are keyframes; per ISO-BMFF, an
    * ABSENT stss means every sample is sync, and a present one marks
    * exactly its (1-based, strictly-ascending) entries. A malformed stss
    * (non-ascending, entry < 1 or > sample_count, truncated table, alloc
    * bomb) quarantines the track like any other table corruption.
    *
    * `keep(track_id, sample_idx, is_sync)` selects which samples are
    * HASHED and emitted — the (offset, size) walk and its all-or-nothing
    * range validation always cover every sample (table corruption anywhere
    * still quarantines the track), but md5 work is only spent on kept
    * samples, so a keyframes-only caller pays hashing for keyframes alone
    * instead of filtering rows it forced the extractor to fingerprint. */
  def extractMp4Samples(id: Long, bytes: Array[Byte],
                        keep: (Int, Int, Boolean) => Boolean = (_, _, _) => true): Seq[Mp4Sample] = {
    if (bytes == null || bytes.length < 12 || ascii(bytes, 4, 4) != "ftyp")
      return Seq.empty
    val n = bytes.length.toLong
    val out = scala.collection.mutable.ArrayBuffer.empty[Mp4Sample]
    var trackOrd = 0
    walkBoxes(bytes, 0L, n) { (t, ps, pe) =>
      if (t == "moov") walkBoxes(bytes, ps, pe) { (t2, p2s, p2e) =>
        if (t2 == "trak") {
          trackOrd += 1
          val track = trackOrd
          var sizes: Array[Long] = null
          var runs: Array[(Long, Long)] = null // (first_chunk 1-based, samples_per_chunk)
          var chunkOffs: Array[Long] = null
          var syncTable: Array[Long] = null // 1-based sample numbers, ascending
          var hasStss = false
          var sttsRuns: Array[(Long, Long)] = null // (sample_count, delta ticks)
          var cttsRuns: Array[(Long, Long)] = null // (sample_count, cts-dts offset)
          var corrupt = false
          walkBoxes(bytes, p2s, p2e) { (t3, p3s, p3e) =>
            if (t3 == "mdia") walkBoxes(bytes, p3s, p3e) { (t4, p4s, p4e) =>
              if (t4 == "minf") walkBoxes(bytes, p4s, p4e) { (t5, p5s, p5e) =>
                if (t5 == "stbl") walkBoxes(bytes, p5s, p5e) { (t6, p6s, p6e) =>
                  t6 match {
                    case "stsz" if p6s + 12 <= p6e =>
                      // ver+flags(4) sample_size(4) sample_count(4)
                      // [+ count×size(4) when sample_size==0]
                      val uniform = be32(bytes, p6s.toInt + 4)
                      val cnt = be32(bytes, p6s.toInt + 8)
                      if (cnt < 0 || cnt > (1L << 22)) corrupt = true // alloc bomb
                      else if (uniform > 0) sizes = Array.fill(cnt.toInt)(uniform)
                      else if (p6s + 12 + cnt * 4 <= p6e)
                        sizes = Array.tabulate(cnt.toInt)(i =>
                          be32(bytes, (p6s + 12 + i * 4L).toInt))
                      else corrupt = true
                    case "stsc" if p6s + 8 <= p6e =>
                      val cnt = be32(bytes, p6s.toInt + 4)
                      if (cnt < 0 || p6s + 8 + cnt * 12 > p6e) corrupt = true
                      else {
                        runs = Array.tabulate(cnt.toInt) { i =>
                          val base = (p6s + 8 + i * 12L).toInt
                          (be32(bytes, base), be32(bytes, base + 4))
                        }
                        // zero-progress and ordering guards: first_chunk
                        // strictly ascending from 1, samples_per_chunk ≥ 1
                        if (runs.isEmpty || runs.head._1 != 1L ||
                            runs.exists(_._2 <= 0) ||
                            runs.sliding(2).exists {
                              case Array(a, b) => b._1 <= a._1
                              case _ => false
                            }) corrupt = true
                      }
                    case "stco" if p6s + 8 <= p6e =>
                      val cnt = be32(bytes, p6s.toInt + 4)
                      if (cnt < 0 || p6s + 8 + cnt * 4 > p6e) corrupt = true
                      else chunkOffs = Array.tabulate(cnt.toInt)(i =>
                        be32(bytes, (p6s + 8 + i * 4L).toInt))
                    case "co64" if p6s + 8 <= p6e =>
                      val cnt = be32(bytes, p6s.toInt + 4)
                      if (cnt < 0 || p6s + 8 + cnt * 8 > p6e) corrupt = true
                      else chunkOffs = Array.tabulate(cnt.toInt)(i =>
                        be64(bytes, (p6s + 8 + i * 8L).toInt))
                    case "stts" if p6s + 8 <= p6e =>
                      // ver+flags(4) entry_count(4) count×(sample_count(4),
                      // sample_delta(4)): decode-time deltas in timescale
                      // ticks; a run with zero samples makes no progress
                      val cnt = be32(bytes, p6s.toInt + 4)
                      if (cnt < 0 || cnt > (1L << 22) ||
                          p6s + 8 + cnt * 8 > p6e) corrupt = true
                      else {
                        sttsRuns = Array.tabulate(cnt.toInt) { i =>
                          val base = (p6s + 8 + i * 8L).toInt
                          (be32(bytes, base), be32(bytes, base + 4))
                        }
                        if (sttsRuns.exists(_._1 <= 0)) corrupt = true
                      }
                    case "ctts" if p6s + 8 <= p6e =>
                      // composition offsets (cts = dts + offset); version 1
                      // offsets are SIGNED (B-frame reordering shifts both
                      // ways), version 0 unsigned — both read into Long
                      val ver = bytes(p6s.toInt) & 0xFF
                      val cnt = be32(bytes, p6s.toInt + 4)
                      if (cnt < 0 || cnt > (1L << 22) ||
                          p6s + 8 + cnt * 8 > p6e) corrupt = true
                      else {
                        cttsRuns = Array.tabulate(cnt.toInt) { i =>
                          val base = (p6s + 8 + i * 8L).toInt
                          val raw = be32(bytes, base + 4)
                          (be32(bytes, base),
                            if (ver == 1) raw.toInt.toLong else raw)
                        }
                        if (cttsRuns.exists(_._1 <= 0)) corrupt = true
                      }
                    case "stss" if p6s + 8 <= p6e =>
                      // ver+flags(4) entry_count(4) count×sample_number(4);
                      // entries are 1-based and must be strictly ascending
                      // (range vs sample_count is checked once stsz is in
                      // hand, at the emission gate below)
                      val cnt = be32(bytes, p6s.toInt + 4)
                      if (cnt < 0 || cnt > (1L << 22) ||
                          p6s + 8 + cnt * 4 > p6e) corrupt = true
                      else {
                        hasStss = true
                        syncTable = Array.tabulate(cnt.toInt)(i =>
                          be32(bytes, (p6s + 8 + i * 4L).toInt))
                        if (syncTable.exists(_ < 1) ||
                            syncTable.sliding(2).exists {
                              case Array(a, b) => b <= a
                              case _ => false
                            }) corrupt = true
                      }
                    case "stsz" | "stsc" | "stco" | "co64" | "stts" |
                         "ctts" | "stss" =>
                      // reached only when the size guard above failed: the
                      // payload can't even hold the table header. An
                      // unreadable table is table corruption, not an absent
                      // table — treating a truncated stss as "no stss"
                      // would flip every sample to is_sync=true, and a
                      // truncated stts/ctts would emit dts/cts=-1 instead
                      // of quarantining like every other malformed table
                      corrupt = true
                    case _ => ()
                  }
                }
              }
            }
          }
          // stss entries must land inside [1, sample_count] — checkable
          // only once stsz is in hand
          if (hasStss && sizes != null && syncTable.nonEmpty &&
              syncTable.last > sizes.length) corrupt = true
          // timing-table coverage (checkable once stsz is in hand): stts
          // must time every sample (surplus trailing runs tolerated — real
          // muxers pad); ctts rides on stts, so a ctts without one, or one
          // that covers fewer samples than stsz declares, is a malformed
          // stbl → quarantine, same as any other table corruption
          if (sizes != null) {
            if (sttsRuns != null &&
                sttsRuns.iterator.map(_._1).sum < sizes.length) corrupt = true
            if (cttsRuns != null && (sttsRuns == null ||
                cttsRuns.iterator.map(_._1).sum < sizes.length)) corrupt = true
          }
          if (!corrupt && sizes != null && runs != null && chunkOffs != null) {
            val rows = scala.collection.mutable.ArrayBuffer.empty[Mp4Sample]
            var si = 0
            var ci = 0
            var ri = 0
            var syncPtr = 0 // ascending walk in lockstep with si — O(1) amortized
            // timing pointers — same lockstep discipline as syncPtr: the
            // emission loop visits si strictly ascending, so each run table
            // is walked once, O(1) amortized per sample
            var sttsPtr = 0; var sttsUsed = 0L; var curDts = 0L
            var cttsPtr = 0; var cttsUsed = 0L
            var ok = true
            while (ok && ci < chunkOffs.length && si < sizes.length) {
              while (ri + 1 < runs.length && runs(ri + 1)._1 <= ci + 1) ri += 1
              val spc = runs(ri)._2
              var within = 0L
              var off = chunkOffs(ci)
              while (ok && within < spc && si < sizes.length) {
                val sz = sizes(si)
                // overflow-safe range check: `off + sz > n` wraps negative
                // for a co64 offset near Long.MaxValue and would bypass
                // the quarantine (n and sz are non-negative here)
                if (off < 0 || sz < 0 || off > n - sz) ok = false // range escape
                else {
                  val isSync = if (!hasStss) true else {
                    while (syncPtr < syncTable.length &&
                           syncTable(syncPtr) < si + 1) syncPtr += 1
                    syncPtr < syncTable.length && syncTable(syncPtr) == si + 1
                  }
                  var dts = -1L
                  var cts = -1L
                  if (sttsRuns != null) {
                    // run pre-check: exhausted run → next (coverage ≥
                    // sample_count and per-run count ≥ 1 are already gated)
                    if (sttsUsed >= sttsRuns(sttsPtr)._1 &&
                        sttsPtr + 1 < sttsRuns.length) { sttsPtr += 1; sttsUsed = 0L }
                    dts = curDts
                    cts = dts
                    curDts += sttsRuns(sttsPtr)._2
                    sttsUsed += 1
                    if (cttsRuns != null) {
                      if (cttsUsed >= cttsRuns(cttsPtr)._1 &&
                          cttsPtr + 1 < cttsRuns.length) { cttsPtr += 1; cttsUsed = 0L }
                      cts = dts + cttsRuns(cttsPtr)._2
                      cttsUsed += 1
                    }
                  }
                  if (keep(track, si, isSync))
                    rows += Mp4Sample(id, track, si, off, sz,
                      md5Hex(bytes, off, sz), isSync, dts, cts)
                  off += sz; si += 1; within += 1
                }
              }
              ci += 1
            }
            // all-or-nothing per track: a partially-extracted track is a
            // worse audit artifact than a quarantined one
            if (ok && si == sizes.length) out ++= rows
          }
        }
      }
    }
    out.toSeq
  }

  // ---- Deterministic MP4 synthesis (oracle-gated round trip) -------------

  private def mkBox(typ: String, payload: Array[Byte]*): Array[Byte] = {
    val body = payload.flatten.toArray
    val b = java.nio.ByteBuffer.allocate(8 + body.length)
    b.putInt(8 + body.length); b.put(typ.getBytes("US-ASCII")); b.put(body)
    b.array()
  }
  private def i32(v: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(4).putInt(v.toInt).array()
  private def i64(v: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).putLong(v).array()

  /** Deterministic ISO-BMFF bytes for doc `id` — closed-form metadata so a
    * SQL oracle can recompute what [[sniffMp4]] must decode
    * (`q_mp4_meta`): timescale 1000, duration (id%120+1)*500 ticks, a
    * video track of (160+(id%8)*40)×(90+(id%8)*30) with (id%50+10)
    * samples, plus a dimension-less second track of (id%7+2) samples when
    * id%3==0. Every 17th doc is a truncated container (ftyp prefix only) —
    * the quarantine path must hold inside the driver gate too, not just in
    * the spec fuzz.
    *
    * r5: the container is now FULLY formed down to the sample tables —
    * sample `i` of track `t` carries the ASCII payload "(id%97)-t-i" in
    * `mdat`, per-sample sizes in `stsz`, chunk runs of 4 samples (ragged
    * tail gets its own `stsc` run) and absolute chunk offsets in `stco`
    * (or `co64` on every 5th doc, so both offset widths stay exercised),
    * making [[extractMp4Samples]]'s (offset, size) reconstruction + md5
    * closed-form checkable by the `q_mp4_samples` DuckDB oracle. Two-pass
    * assembly: the moov is built once with zeroed offsets to learn its
    * length (stco size depends only on chunk COUNT), then rebuilt with the
    * real absolute offsets. */
  def synthMp4(id: Long): Array[Byte] = {
    val ftyp = mkBox("ftyp", "isom".getBytes("US-ASCII"), i32(512),
      "isomiso2".getBytes("US-ASCII"))
    if (id % 17 == 0) return ftyp.take(10) // corrupt: quarantined
    def mvhd(timescale: Int, dur: Long): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(100)
      b.putInt(0); b.putInt(0); b.putInt(0) // v0+flags, ctime, mtime
      b.putInt(timescale); b.putInt(dur.toInt)
      b.array() // rate/volume/matrix/next-id may stay zero for the walk
    }
    def tkhd(trackId: Int, w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(84)
      b.position(12); b.putInt(trackId)
      b.position(76); b.putInt(w << 16); b.putInt(h << 16)
      b.array()
    }
    val us = java.nio.charset.StandardCharsets.US_ASCII
    // frame payloads are keyed by id MOD 97, not id: documents in the same
    // residue class carry IDENTICAL frame bytes (up to their differing
    // sample counts), so frame-level exact dedup across documents has real
    // positives to find (`q_frame_dedup`) while staying closed-form
    def sample(t: Int, i: Int): Array[Byte] = s"${id % 97}-$t-$i".getBytes(us)
    val s1 = (0 until (id % 50 + 10).toInt).map(sample(1, _))
    val hasT2 = id % 3 == 0
    val s2 = if (hasT2) (0 until (id % 7 + 2).toInt).map(sample(2, _))
             else IndexedSeq.empty[Array[Byte]]
    val useCo64 = id % 5 == 0
    // chunks of 4 samples, ragged tail = its own stsc run
    def chunkSizes(ss: Seq[Array[Byte]]): Vector[Long] =
      ss.grouped(4).map(_.map(_.length.toLong).sum).toVector
    def stszFor(ss: Seq[Array[Byte]]): Array[Byte] =
      i32(0) ++ i32(0) ++ i32(ss.length) ++
        ss.toArray.flatMap(p => i32(p.length))
    def stscFor(nSamples: Int): Array[Byte] = {
      val m = (nSamples + 3) / 4
      val rem = nSamples - 4 * (m - 1)
      val entries =
        if (m == 1) Seq((1, nSamples))
        else if (rem == 4) Seq((1, 4))
        else Seq((1, 4), (m, rem))
      i32(0) ++ i32(entries.length) ++
        entries.toArray.flatMap { case (f, s) => i32(f) ++ i32(s) ++ i32(1) }
    }
    def offsBox(offs: Seq[Long]): Array[Byte] =
      if (useCo64) mkBox("co64", i32(0) ++ i32(offs.length) ++ offs.toArray.flatMap(i64))
      else mkBox("stco", i32(0) ++ i32(offs.length) ++ offs.toArray.flatMap(i32))
    // r6: track 1 carries a planted stss — every p-th sample is a keyframe
    // (p = id%4+2, so GOP lengths 2..5 all occur), except every 11th doc
    // OMITS the box entirely (ISO-BMFF: absent stss = all samples sync), so
    // the oracle gates both the present- and absent-stss paths; track 2
    // never has one. Closed form: sample i of track 1 is sync iff
    // id%11==0 OR i % (id%4+2) == 0.
    val syncPeriod = (id % 4 + 2).toInt
    def stssFor(nSamples: Int): Array[Byte] = {
      val entries = (0 until nSamples by syncPeriod).map(i => (i + 1).toLong)
      i32(0) ++ i32(entries.length) ++ entries.toArray.flatMap(i32)
    }
    // r6 timing tables, closed-form in id: tick delta d = (id%5+1)*100.
    // Track 1: one stts run → dts_i = i·d, plus a ctts whose offset is
    // ((i div 4) mod 3)·10 (runs of 4, ragged tail) → cts_i = dts_i + that.
    // Track 2: TWO stts runs (first half d, second half 2d — exercises the
    // run walk) and no ctts → cts = dts.
    val tickD = (id % 5 + 1) * 100L
    def sttsBox(runs: Seq[(Int, Long)]): Array[Byte] =
      mkBox("stts", i32(0) ++ i32(runs.length) ++
        runs.toArray.flatMap { case (c, d) => i32(c) ++ i32(d) })
    def cttsFor(nSamples: Int): Array[Byte] = {
      val runs = (0 until (nSamples + 3) / 4).map { g =>
        (math.min(4, nSamples - 4 * g), (g % 3) * 10L)
      }
      i32(0) ++ i32(runs.length) ++
        runs.toArray.flatMap { case (c, o) => i32(c) ++ i32(o) }
    }
    def trak(tk: Array[Byte], ss: Seq[Array[Byte]], offs: Seq[Long],
             withStss: Boolean, stts: Seq[(Int, Long)],
             withCtts: Boolean): Array[Byte] = {
      val tables = Array(
        mkBox("stsz", stszFor(ss)), mkBox("stsc", stscFor(ss.length)),
        sttsBox(stts)) ++
        (if (withCtts) Array(mkBox("ctts", cttsFor(ss.length))) else Array.empty[Array[Byte]]) ++
        (if (withStss) Array(mkBox("stss", stssFor(ss.length))) else Array.empty[Array[Byte]]) :+
        offsBox(offs)
      mkBox("trak", mkBox("tkhd", tk),
        mkBox("mdia", mkBox("minf", mkBox("stbl", tables.toIndexedSeq: _*))))
    }
    val w = 160 + (id % 8).toInt * 40
    val h = 90 + (id % 8).toInt * 30
    val c1 = chunkSizes(s1)
    val c2 = chunkSizes(s2)
    def moov(off1: Seq[Long], off2: Seq[Long]): Array[Byte] = {
      val t1 = trak(tkhd(1, w, h), s1, off1, withStss = id % 11 != 0,
        stts = Seq(s1.length -> tickD), withCtts = true)
      val h2 = s2.length / 2
      val tracks = if (hasT2) t1 ++ trak(tkhd(2, 0, 0), s2, off2,
        withStss = false,
        stts = Seq(h2 -> tickD, (s2.length - h2) -> (2 * tickD)),
        withCtts = false) else t1
      mkBox("moov", mkBox("mvhd", mvhd(1000, (id % 120 + 1) * 500L)), tracks)
    }
    val moovLen = moov(c1.map(_ => 0L), c2.map(_ => 0L)).length
    val mdatPayloadStart = ftyp.length.toLong + moovLen + 8 // + mdat header
    def cum(cs: Vector[Long], start: Long): Vector[Long] =
      cs.scanLeft(start)(_ + _).dropRight(1)
    val off1 = cum(c1, mdatPayloadStart)
    val off2 = cum(c2, mdatPayloadStart + c1.sum)
    ftyp ++ moov(off1, off2) ++ mkBox("mdat", (s1 ++ s2).toArray.flatten)
  }

  /** `q_mp4_meta`: synthesize the deterministic container per document,
    * box-walk it back, emit the closed-form-checkable fields. The bytes
    * are built and decoded inside ONE mapPartitions pass — binary payloads
    * never shuffle. */
  /** Fanned-out doc-id source for the synth+decode queries: container
    * synthesis + box-walk decode + payload hashing is per-row CPU measured
    * in ms, and the id list plans as a one-task scan of a single small
    * parquet file — fanning 8-byte ids across the session's cores costs a
    * ~40 KB shuffle and parallelizes the whole stage ([[Par.fanOut]]). */
  private def docIdsFanned(spark: org.apache.spark.sql.SparkSession,
                           dir: String): Dataset[Long] = {
    import spark.implicits._
    Par.fanOut(TextOps.documents(spark, dir).select("doc_id"),
      org.apache.spark.sql.functions.col("doc_id")).as[Long]
  }

  def mp4MetaQuery(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docIdsFanned(spark, dir)
      .mapPartitions(_.map(id => sniffMp4(id, synthMp4(id))))
      .toDF()
      .select("doc_id", "duration_ms", "timescale", "n_tracks", "n_samples",
        "width", "height", "valid")
  }

  /** `q_mp4_samples`: synthesize the deterministic container per document,
    * extract REAL per-sample byte ranges via stsz+stsc+stco/co64, hash the
    * sliced payloads. Build + extract happen inside ONE flatMap pass —
    * container bytes never shuffle; only (id, track, idx, size, md5) rows
    * do. The DuckDB oracle recomputes every md5 from the closed-form
    * payload strings, so a single mis-reconstructed (offset, size) anywhere
    * in the chunk walk flips the hash compare. Corrupt containers (every
    * 17th doc) contribute zero rows — the quarantine contract under the
    * driver gate. */
  def mp4SamplesQuery(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docIdsFanned(spark, dir)
      .flatMap(id => extractMp4Samples(id, synthMp4(id)))
      .toDF()
      .select("doc_id", "track_id", "sample_idx", "size", "payload_md5",
        "is_sync", "dts", "cts")
  }

  /** `q_frame_dedup`: frame-level EXACT dedup across documents — the audit
    * the sample extraction exists for: hash every video-track sample's real
    * bytes, group corpus-wide, report each frame payload stored more than
    * once with its keeper (min doc_id). One flatMap + one hash-keyed
    * groupBy; the md5s shuffle, never the frame bytes. The synth corpus
    * plants true positives (payloads keyed by doc_id mod 97), and the
    * oracle recomputes every group from the closed form. */
  def frameDedupQuery(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, min}
    docIdsFanned(spark, dir)
      .flatMap(id => extractMp4Samples(id, synthMp4(id),
        keep = (track, _, _) => track == 1))
      .toDF()
      .groupBy("payload_md5")
      .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keep_doc"))
      .filter(col("n_copies") > 1)
  }

  /** `q_frame_sample` (r6: keyframe-aware): frame sampling reads the REAL
    * extracted sample bytes of every SYNC sample of the video track — the
    * `stss`-driven "sample every keyframe" shape real video pipelines use
    * (r5's positional stride is retired along with the r4 stub). The keep
    * predicate skips md5 work on non-keyframes; `frame_idx` is the
    * keyframe ordinal (position among the kept samples, which the
    * extractor emits in ascending sample order). What remains codec-bound
    * is DECODING the sampled frame, not finding, slicing, or
    * fingerprinting it. */
  def frameSampleQuery(spark: org.apache.spark.sql.SparkSession,
                       dir: String): DataFrame = {
    import spark.implicits._
    docIdsFanned(spark, dir)
      .flatMap { id =>
        extractMp4Samples(id, synthMp4(id),
          keep = (track, _, sync) => track == 1 && sync)
          .iterator.zipWithIndex
          .map { case (s, fi) =>
            (s.doc_id, fi, s.sample_idx, s.size, s.payload_md5) }
      }
      .toDF("doc_id", "frame_idx", "sample_idx", "size", "frame_md5")
  }

  // ---- Real pixel ops on uncompressed BMP (raw BGR byte math) ------------

  private def bmpGeometry(bytes: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    if (bytes.length < 54 || ascii(bytes, 0, 2) != "BM") return None
    val w = le32(bytes, 18)
    val h = le32(bytes, 22)
    val bpp = le16(bytes, 28)
    val off = le32(bytes, 10)
    // all geometry math in Long: a crafted width near Int.MaxValue would
    // wrap `bpp*w` to a tiny rowSize that passes the size check and sends
    // the pixel loops out of bounds
    val rowSizeL = ((bpp.toLong * w + 31) / 32) * 4
    if (w <= 0 || h == 0 || h == Int.MinValue || bpp != 24 || off < 54 ||
      rowSizeL > Int.MaxValue ||
      off.toLong + rowSizeL * math.abs(h.toLong) > bytes.length) None
    else Some((w, h, off, rowSizeL.toInt))
  }

  /** Nearest-neighbour resize of a 24-bpp BMP — an ACTUAL image transform
    * in pure byte math (BMP pixel arrays are raw BGR rows, 4-byte-aligned):
    * the `resize` stage of a media pipeline without any codec dependency.
    * Returns None for payloads that are not uncompressed 24-bpp BMPs (those
    * formats need a real codec — quarantine, don't guess). Row orientation
    * (bottom-up vs top-down) is preserved via the height sign. */
  def resizeBmp(bytes: Array[Byte], outW: Int, outH: Int): Option[Array[Byte]] =
    bmpGeometry(bytes).map { case (w, h, off, rowSize) =>
      val ah = math.abs(h)
      val outRow = ((24 * outW + 31) / 32) * 4
      val out = new Array[Byte](54 + outRow * outH)
      // header: copy the source's, patch size/dims/offset
      System.arraycopy(bytes, 0, out, 0, 54)
      val bb = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(2, out.length)
      bb.putInt(10, 54)
      bb.putInt(18, outW)
      bb.putInt(22, if (h < 0) -outH else outH)
      bb.putInt(34, outRow * outH) // biSizeImage
      var y = 0
      while (y < outH) {
        val sy = (y.toLong * ah / outH).toInt
        var x = 0
        while (x < outW) {
          val sx = (x.toLong * w / outW).toInt
          val src = off + sy * rowSize + sx * 3
          val dst = 54 + y * outRow + x * 3
          out(dst) = bytes(src); out(dst + 1) = bytes(src + 1); out(dst + 2) = bytes(src + 2)
          x += 1
        }
        y += 1
      }
      out
    }

  /** Distributed thumbnailing: binary in → resized binary + geometry out,
    * one narrow partition-batched pass; non-BMP payloads pass through as
    * null thumbnails with valid=false (quarantine column, task never
    * fails). */
  def thumbnails(bin: Dataset[(Long, Array[Byte])], outW: Int, outH: Int): DataFrame = {
    import bin.sparkSession.implicits._
    bin.mapPartitions(_.map { case (id, bytes) =>
      resizeBmp(bytes, outW, outH) match {
        case Some(t) => (id, t, outW, outH, true)
        case None => (id, null.asInstanceOf[Array[Byte]], -1, -1, false)
      }
    }).toDF("doc_id", "thumb", "width", "height", "valid")
  }
}
