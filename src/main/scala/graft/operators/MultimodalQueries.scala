package graft.operators

import graft.{Artifacts, EngineQuery, dsl}
import graft.dsl._
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media as opaque `binary` columns with typed
  * metadata, batch-shaped decode/feature-extraction via mapPartitions.
  *
  * The container has no image/audio codecs, so `decodeFeatures` is a
  * clearly-marked deterministic STUB — but the Spark-side plumbing (typed
  * schema, binary column, partition-wise batch iteration, feature schema) is
  * real and unit-tested. At scale this is exactly where a JNI/codec call (or
  * an Arrow-batched Python worker on a PySpark deployment) plugs in: one
  * codec init per partition, streamed record batches, no driver involvement.
  */
object Multimodal {

  final case class MediaRecord(doc_id: Long, source: String, media: Array[Byte])
  final case class MediaFeatures(
      doc_id: Long, source: String, n_bytes: Long,
      fake_width: Int, fake_height: Int, checksum: Long)

  /** Partition-wise "decode": iterator-in/iterator-out, the shape a real
    * codec integration uses (init once per partition, stream the batch). */
  def decodeFeatures(ds: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    ds.mapPartitions { it =>
      // STUB decode: a real implementation opens the codec here, once per
      // partition, and decodes each record's bytes. The fake is a pure
      // deterministic function of the bytes.
      it.map { m =>
        val n = m.media.length.toLong
        val checksum = m.media.foldLeft(0L)((a, b) => (a * 131 + (b & 0xff)) % 1000000007L)
        MediaFeatures(m.doc_id, m.source, n,
          fake_width = (n % 640).toInt, fake_height = (n % 480).toInt, checksum)
      }
    }
  }

  /** documents.text reinterpreted as opaque media bytes (UTF-8) — the
    * testdata has no true binary column, so the binary pipeline is exercised
    * on encoded text. */
  def mediaTable(docs: org.apache.spark.sql.DataFrame): Dataset[MediaRecord] = {
    implicit val enc = Encoders.product[MediaRecord]
    docs.select(col("doc_id"), col("source"), col("text").cast("binary").as("media"))
      .as[MediaRecord]
  }

  /** One sampled "frame" of a media payload. */
  final case class MediaFrame(
      doc_id: Long, frame_idx: Int, frame_bytes: Array[Byte])

  /** 1→N frame sampling: every `stride`-th fixed-size block of the payload
    * is one frame — the row-expansion (flatMap) shape of a real video
    * frame-sampler, with the decoder STUBBED as byte-slicing. Partition-wise
    * iteration keeps per-partition codec state possible and never
    * materializes a whole partition of frames at once. */
  def sampleFrames(ds: Dataset[MediaRecord], frameSize: Int, stride: Int): Dataset[MediaFrame] = {
    require(frameSize > 0 && stride > 0)
    implicit val enc = Encoders.product[MediaFrame]
    ds.mapPartitions { it =>
      it.flatMap { m =>
        m.media.grouped(frameSize).zipWithIndex.collect {
          case (chunk, i) if i % stride == 0 => MediaFrame(m.doc_id, i, chunk)
        }
      }
    }
  }

  /** "Resize" a frame to exactly `n` bytes (truncate/zero-pad) — the
    * fixed-output-shape contract of a real resize kernel, decoder stubbed. */
  def resizeFrames(ds: Dataset[MediaFrame], n: Int): Dataset[MediaFrame] = {
    require(n > 0)
    implicit val enc = Encoders.product[MediaFrame]
    ds.mapPartitions { it =>
      it.map { f => f.copy(frame_bytes = java.util.Arrays.copyOf(f.frame_bytes, n)) }
    }
  }

  /** Decoded image features from a REAL decoder (see [[decodePgm]]). */
  final case class ImageFeatures(
      doc_id: Long, source: String, width: Int, height: Int,
      maxval: Int, mean_intensity: Double, decoded: Boolean)

  /** REAL image decoder for binary PGM (Netpbm "P5") — a production format
    * that needs no codec library, so this path is NOT a stub: header parse
    * (magic, whitespace/comments, width, height, maxval) + raster read,
    * mean intensity computed in one pass. Returns None on anything that is
    * not a well-formed single-byte-depth P5 payload (malformed media must
    * degrade to a flag, never kill the partition — same tolerance contract
    * as the corrupt-file read path). */
  def decodePgm(bytes: Array[Byte]): Option[(Int, Int, Int, Double)] = {
    var i = 0
    def skipWs(): Unit = {
      var go = true
      while (go && i < bytes.length) {
        val c = bytes(i)
        if (c == '#') { while (i < bytes.length && bytes(i) != '\n') i += 1 }
        else if (c == ' ' || c == '\t' || c == '\r' || c == '\n') i += 1
        else go = false
      }
    }
    def int(): Option[Int] = {
      skipWs()
      val s = i
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') i += 1
      if (i == s || i - s > 9) None
      else Some(new String(bytes, s, i - s, java.nio.charset.StandardCharsets.US_ASCII).toInt)
    }
    if (bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '5') return None
    i = 2
    for {
      w <- int(); h <- int(); mx <- int()
      if w > 0 && h > 0 && mx > 0 && mx < 256
      // exactly one whitespace byte separates header from raster
      if i < bytes.length && { i += 1; bytes.length - i >= w.toLong * h }
    } yield {
      var sum = 0.0
      val end = i + w * h
      var j = i
      while (j < end) { sum += (bytes(j) & 0xff); j += 1 }
      (w, h, mx, sum / (w.toLong * h))
    }
  }

  /** REAL image decoder for PNG — stdlib-only: chunk walk with CRC32
    * validation, IDAT reassembly through `java.util.zip.Inflater`, and full
    * scanline unfiltering (None/Sub/Up/Average/Paeth). Supports the formats
    * real corpora overwhelmingly contain: 8-bit-depth grayscale (color type
    * 0), RGB (2), gray+alpha (4) and RGBA (6), non-interlaced. Returns
    * (width, height, 255, mean intensity over color channels — alpha
    * excluded); anything else (palette, 16-bit, interlaced, truncated
    * stream, CRC mismatch, bad filter byte) degrades to None — malformed
    * media must flag, never kill the partition. */
  /** [[decodePngPixels]] reduced to the feature tuple every image consumer
    * uses: (w, h, maxval, mean intensity over color channels). */
  def decodePng(bytes: Array[Byte]): Option[(Int, Int, Int, Double)] =
    decodePngPixels(bytes).map { case (w, h, ctype, channels, out) =>
      val colorCh = ctype match { case 4 => 1; case 6 => 3; case _ => channels }
      var sum = 0.0
      var i = 0
      while (i < out.length) {
        if (i % channels < colorCh) sum += (out(i) & 0xff)
        i += 1
      }
      (w, h, 255, sum / (w.toLong * h * colorCh))
    }

  /** Full PNG decode to raw pixels: (w, h, color type, channels,
    * channel-interleaved pixel bytes). The pixel surface exists for the
    * transforms that need more than a scalar feature — q136's resize
    * samples the array directly. */
  def decodePngPixels(bytes: Array[Byte]): Option[(Int, Int, Int, Int, Array[Byte])] = {
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    if (bytes.length < 8 + 25 + 12 || !java.util.Arrays.equals(bytes.take(8), sig)) return None
    def be32(o: Int): Int =
      ((bytes(o) & 0xff) << 24) | ((bytes(o + 1) & 0xff) << 16) |
        ((bytes(o + 2) & 0xff) << 8) | (bytes(o + 3) & 0xff)
    var pos = 8
    var w = 0; var h = 0; var ctype = -1
    var seenIhdr = false; var seenIend = false
    // IDAT reassembly: real files overwhelmingly carry ONE IDAT chunk, so
    // the common case inflates straight out of `bytes` at (offset, len) —
    // zero copy; multi-IDAT files concatenate (round 18; was an
    // unconditional ByteArrayOutputStream copy per record).
    var idatOff = -1; var idatLen = 0
    var idatMulti: java.io.ByteArrayOutputStream = null
    val crc = crcScratch.get()
    while (!seenIend) {
      if (pos + 12 > bytes.length) return None
      val len = be32(pos)
      if (len < 0 || pos + 12L + len > bytes.length) return None
      crc.reset()
      crc.update(bytes, pos + 4, 4 + len)
      if (crc.getValue != (be32(pos + 8 + len).toLong & 0xffffffffL)) return None
      new String(bytes, pos + 4, 4, java.nio.charset.StandardCharsets.US_ASCII) match {
        case "IHDR" =>
          if (len != 13) return None
          w = be32(pos + 8); h = be32(pos + 12)
          val depth = bytes(pos + 16) & 0xff
          ctype = bytes(pos + 17) & 0xff
          val compression = bytes(pos + 18) & 0xff
          val filterMethod = bytes(pos + 19) & 0xff
          val interlace = bytes(pos + 20) & 0xff
          if (w <= 0 || h <= 0 || depth != 8 || compression != 0 ||
            filterMethod != 0 || interlace != 0) return None
          seenIhdr = true
        case "IDAT" =>
          if (!seenIhdr) return None
          if (idatOff < 0 && idatMulti == null) { idatOff = pos + 8; idatLen = len }
          else {
            if (idatMulti == null) {
              idatMulti = new java.io.ByteArrayOutputStream()
              idatMulti.write(bytes, idatOff, idatLen)
              idatOff = -1
            }
            idatMulti.write(bytes, pos + 8, len)
          }
        case "IEND" => seenIend = true
        case _      => () // ancillary chunks (tEXt, pHYs, ...) are skippable
      }
      pos += 12 + len
    }
    val channels = ctype match {
      case 0 => 1; case 2 => 3; case 4 => 2; case 6 => 4
      case _ => return None // palette (3) needs PLTE indirection — rejected
    }
    // This decoder runs one record at a time inside a task: bound the
    // decoded allocation the same way a real codec boundary would.
    if (w.toLong * h * channels > (1L << 28)) return None
    val stride = w * channels
    val raw = new Array[Byte]((stride + 1) * h) // +1 filter byte per scanline
    val inf = inflScratch.get()
    inf.reset()
    if (idatMulti != null) inf.setInput(idatMulti.toByteArray)
    else if (idatOff >= 0) inf.setInput(bytes, idatOff, idatLen)
    else return None
    var got = 0
    try {
      while (got < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, got, raw.length - got)
        // Zero progress without completion is ALWAYS malformed here:
        // truncated stream (needsInput), preset-dictionary request (FDICT —
        // illegal in PNG but constructible in a crafted IDAT, and inflate()
        // then returns 0 with needsInput()==false forever), or any other
        // stall. Bail instead of spinning — malformed media must flag,
        // never hang the task.
        if (n == 0 && !inf.finished()) return None
        got += n
      }
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally inf.reset()
    if (got != raw.length) return None
    val out = new Array[Byte](stride * h)
    var y = 0
    while (y < h) {
      val f = raw(y * (stride + 1)) & 0xff
      val in = y * (stride + 1) + 1
      val o = y * stride
      var x = 0
      while (x < stride) {
        val cur = raw(in + x) & 0xff
        val left = if (x >= channels) out(o + x - channels) & 0xff else 0
        val up = if (y > 0) out(o - stride + x) & 0xff else 0
        val upLeft = if (y > 0 && x >= channels) out(o - stride + x - channels) & 0xff else 0
        val rec = f match {
          case 0 => cur
          case 1 => cur + left
          case 2 => cur + up
          case 3 => cur + ((left + up) >> 1)
          case 4 => // Paeth predictor
            val p = left + up - upLeft
            val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - upLeft)
            cur + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else upLeft)
          case _ => return None
        }
        out(o + x) = rec.toByte
        x += 1
      }
      y += 1
    }
    Some((w, h, ctype, channels, out))
  }

  /** Nearest-neighbor resize of a single-channel pixel array — the
    * thumbnail/normalize-resolution step of an image pipeline. Pure
    * per-record array math: runs inside the decode task, no shuffle. */
  def resizeNearest(
      px: Array[Byte], w: Int, h: Int, ow: Int, oh: Int): Array[Byte] = {
    require(w > 0 && h > 0 && ow > 0 && oh > 0 && px.length == w * h)
    val out = new Array[Byte](ow * oh)
    var r = 0
    while (r < oh) {
      val sr = r * h / oh
      var c = 0
      while (c < ow) {
        out(r * ow + c) = px(sr * w + c * w / ow)
        c += 1
      }
      r += 1
    }
    out
  }

  /** Real decode path over the binary column: PGM and PNG payloads decode to
    * true (width, height, maxval, mean intensity); everything else degrades
    * to a decoded=false row. Same mapPartitions batch shape as the stubbed
    * codecs — this is what plugs in where the stub sits, proven on two
    * formats the JVM can parse without native libraries. */
  def decodeImages(ds: Dataset[MediaRecord]): Dataset[ImageFeatures] = {
    implicit val enc = Encoders.product[ImageFeatures]
    ds.mapPartitions { it =>
      it.map { m =>
        decodePgm(m.media).orElse(decodePng(m.media)) match {
          case Some((w, h, mx, mean)) =>
            ImageFeatures(m.doc_id, m.source, w, h, mx, mean, decoded = true)
          case None =>
            ImageFeatures(m.doc_id, m.source, 0, 0, 0, 0.0, decoded = false)
        }
      }
    }
  }

  /** Decoded audio features from a REAL decoder (see [[decodeWav]]). */
  final case class AudioFeatures(
      doc_id: Long, source: String, sample_rate: Int, channels: Int,
      n_samples: Long, mean_abs: Double, decoded: Boolean)

  /** REAL audio decoder for WAV (RIFF / 16-bit signed PCM) — like PGM/PNG,
    * a production format the JVM parses without codec libraries: RIFF/WAVE
    * header walk, fmt chunk (PCM, 16-bit only), data chunk → sample rate,
    * channel count, per-channel sample count, and mean absolute amplitude
    * normalized to [0,1]. Chunk walk tolerates extra chunks (LIST, fact,
    * cue) exactly like real files contain; anything malformed — wrong
    * magic, non-PCM, odd bit depth, truncated data — degrades to None,
    * never an exception. */
  def decodeWav(bytes: Array[Byte]): Option[(Int, Int, Long, Double)] = {
    def le16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def le32(o: Int): Long =
      (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
        ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    def tag(o: Int): String =
      if (o + 4 <= bytes.length)
        new String(bytes, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
      else ""
    if (bytes.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var pos = 12
    var sampleRate = 0; var channels = 0; var bits = 0
    var fmtSeen = false
    var dataOff = -1; var dataLen = 0L
    while (pos + 8 <= bytes.length && dataOff < 0) {
      val id = tag(pos)
      val len = le32(pos + 4)
      if (len < 0 || pos + 8 + len > bytes.length) return None
      id match {
        case "fmt " =>
          if (len < 16) return None
          val audioFormat = le16(pos + 8)
          channels = le16(pos + 10)
          sampleRate = le32(pos + 12).toInt
          bits = le16(pos + 22)
          if (audioFormat != 1 || bits != 16 || channels <= 0 || sampleRate <= 0)
            return None
          fmtSeen = true
        case "data" =>
          if (!fmtSeen) return None
          dataOff = pos + 8; dataLen = len
        case _ => () // LIST/fact/cue/... skippable
      }
      pos += (8L + len + (len % 2)).toInt // RIFF chunks are word-aligned
    }
    if (dataOff < 0 || dataLen % (2L * channels) != 0) return None
    val frames = dataLen / (2L * channels)
    var sum = 0.0
    var i = dataOff
    val end = dataOff + dataLen.toInt
    while (i < end) {
      val s = ((bytes(i) & 0xff) | (bytes(i + 1) << 8)).toShort
      sum += math.abs(s.toDouble) / 32768.0
      i += 2
    }
    val nVals = dataLen / 2
    Some((sampleRate, channels, frames, if (nVals == 0) 0.0 else sum / nVals))
  }

  /** Real audio decode path: WAV payloads decode to (rate, channels,
    * frames, mean |amplitude|); everything else flags decoded=false. Same
    * mapPartitions codec-boundary shape as [[decodeImages]]. */
  def decodeAudio(ds: Dataset[MediaRecord]): Dataset[AudioFeatures] = {
    implicit val enc = Encoders.product[AudioFeatures]
    ds.mapPartitions { it =>
      it.map { m =>
        decodeWav(m.media) match {
          case Some((rate, ch, n, mean)) =>
            AudioFeatures(m.doc_id, m.source, rate, ch, n, mean, decoded = true)
          case None =>
            AudioFeatures(m.doc_id, m.source, 0, 0, 0L, 0.0, decoded = false)
        }
      }
    }
  }

  /** REAL WAV decode surfacing the raw PCM payload — the sample-level twin
    * of [[decodeWav]] (same RIFF magic / fmt validation / bounds-checked
    * chunk walk, PCM-16 only): Some(data-chunk bytes, little-endian s16)
    * for a well-formed file, None on anything malformed. This is the
    * decode q219's audio near-dup embeds, exactly as [[decodePngPixels]]
    * (vs [[decodePng]]'s aggregates) is the decode q218 embeds. */
  def decodeWavSamples(bytes: Array[Byte]): Option[Array[Byte]] = {
    def le16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def le32(o: Int): Long =
      (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
        ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    def tag(o: Int): String =
      if (o + 4 <= bytes.length)
        new String(bytes, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
      else ""
    if (bytes.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var pos = 12
    var channels = 0
    var fmtSeen = false
    var dataOff = -1; var dataLen = 0L
    while (pos + 8 <= bytes.length && dataOff < 0) {
      val id = tag(pos)
      val len = le32(pos + 4)
      if (len < 0 || pos + 8 + len > bytes.length) return None
      id match {
        case "fmt " =>
          if (len < 16) return None
          val audioFormat = le16(pos + 8)
          channels = le16(pos + 10)
          val sampleRate = le32(pos + 12).toInt
          val bits = le16(pos + 22)
          if (audioFormat != 1 || bits != 16 || channels <= 0 || sampleRate <= 0)
            return None
          fmtSeen = true
        case "data" =>
          if (!fmtSeen) return None
          dataOff = pos + 8; dataLen = len
        case _ => () // LIST/fact/cue/... skippable
      }
      pos += (8L + len + (len % 2)).toInt // RIFF chunks are word-aligned
    }
    if (dataOff < 0 || dataLen % (2L * channels) != 0) return None
    Some(java.util.Arrays.copyOfRange(bytes, dataOff, dataOff + dataLen.toInt))
  }

  /** REAL video decode surfacing the sampled frames' PIXELS — the
    * pixel-level twin of [[sampleVideoFrames]] (same GVID magic check,
    * bounds-checked length-prefixed index walk, real per-frame PNG
    * decode): the concatenated decoded pixel bytes of every `stride`-th
    * frame for a well-formed container, None on anything malformed. This
    * is the decode q223's video near-dup embeds, exactly as
    * [[decodePngPixels]] is q218's and [[decodeWavSamples]] q219's. */
  def decodeVideoSampledPixels(bytes: Array[Byte], stride: Int): Option[Array[Byte]] = {
    require(stride > 0)
    val b = bytes
    if (b.length < 5 || b(0) != 'G' || b(1) != 'V' || b(2) != 'I' || b(3) != 'D') return None
    val n = b(4) & 0xff
    val out = new java.io.ByteArrayOutputStream()
    var off = 5
    var f = 0
    while (f < n) {
      if (off + 4 > b.length) return None
      val len = java.nio.ByteBuffer.wrap(b, off, 4).getInt
      off += 4
      if (len < 0 || off + len > b.length) return None
      if (f % stride == 0) {
        decodePngPixels(java.util.Arrays.copyOfRange(b, off, off + len)) match {
          case Some((_, _, _, _, px)) => out.write(px)
          case None => return None
        }
      }
      off += len
      f += 1
    }
    Some(out.toByteArray)
  }

  /** First `n` US-ASCII bytes of `text`, space-padded — the deterministic
    * pixel/sample source for the synthetic media payloads of q109 (the
    * testdata ships no true media column; the padding rule is mirrored
    * byte-for-byte in the DuckDB oracle). */
  def padBytes(text: String, n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    java.util.Arrays.fill(out, ' '.toByte)
    val b = text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    System.arraycopy(b, 0, out, 0, math.min(b.length, n))
    out
  }

  /** Per-thread codec scratch (round 18, guide §4.5 applied to the JVM
    * codec boundary): Deflater/Inflater wrap native zlib streams whose
    * construction/finalization dominated the per-record cost of the
    * synthetic-media paths at 256-pixel payloads — one pair per executor
    * thread, `reset()` per record, instead of allocate+end per record.
    * Thread-confined by construction (a task never shares its thread
    * mid-record), so this is invisible to results. Each use also resets
    * the codec when it is done, so an idle thread does not keep its last
    * record's input array reachable. */
  private val deflScratch = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue() = new java.util.zip.Deflater()
  }
  private val inflScratch = new ThreadLocal[java.util.zip.Inflater] {
    override def initialValue() = new java.util.zip.Inflater()
  }
  private val crcScratch = new ThreadLocal[java.util.zip.CRC32] {
    override def initialValue() = new java.util.zip.CRC32()
  }

  /** Real 8-bit grayscale PNG encode — stdlib-only, single IDAT, filter 0
    * scanlines, default-level zlib — lossless, so [[decodePng]] recovers
    * the exact pixel bytes (round-trip proven in MultimodalSpec, which
    * separately pins the DECODER against ImageIO-encoded files). Used to
    * synthesize q109's image payloads. Round 18: this replaced
    * `javax.imageio.ImageIO.write` — a per-row BufferedImage + writer +
    * stream stack that dominated the synthesis fixture's cost in every
    * media query (the decode under test was cheaper than the fixture
    * feeding it); the compression level matches ImageIO's (zlib default),
    * so the decoder's inflate work is unchanged. */
  def encodePngGray(pixels: Array[Byte], w: Int, h: Int): Array[Byte] = {
    require(pixels.length == w * h, s"${pixels.length} pixels for ${w}x$h")
    // Raw scanlines: one filter byte (0 = None) + w gray bytes per row.
    val raw = new Array[Byte]((w + 1) * h)
    var y = 0
    while (y < h) {
      System.arraycopy(pixels, y * w, raw, y * (w + 1) + 1, w)
      y += 1
    }
    val defl = deflScratch.get()
    defl.reset()
    defl.setInput(raw)
    defl.finish()
    var comp = new Array[Byte](raw.length + (raw.length >> 1) + 64)
    var clen = 0
    while (!defl.finished()) {
      if (clen == comp.length) comp = java.util.Arrays.copyOf(comp, comp.length * 2)
      clen += defl.deflate(comp, clen, comp.length - clen)
    }
    defl.reset()
    val out = java.nio.ByteBuffer.allocate(8 + 25 + (12 + clen) + 12)
    out.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    val crc = crcScratch.get()
    def chunk(ctype: String, data: Array[Byte], dlen: Int): Unit = {
      out.putInt(dlen)
      val typeBytes = ctype.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      out.put(typeBytes)
      out.put(data, 0, dlen)
      crc.reset()
      crc.update(typeBytes)
      crc.update(data, 0, dlen)
      out.putInt(crc.getValue.toInt)
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h)
      .put(8.toByte)  // bit depth
      .put(0.toByte)  // color type: grayscale
      .put(0.toByte).put(0.toByte).put(0.toByte) // compression/filter/interlace
      .array()
    chunk("IHDR", ihdr, 13)
    chunk("IDAT", comp, clen)
    chunk("IEND", Array.emptyByteArray, 0)
    out.array()
  }

  /** Canonical 44-byte-header RIFF/WAVE (PCM, 16-bit, mono) around raw
    * little-endian sample data — [[decodeWav]] recovers the exact samples.
    * Used to synthesize q109's audio payloads. */
  def encodeWavMono(data: Array[Byte], sampleRate: Int): Array[Byte] = {
    require(data.length % 2 == 0, "16-bit PCM needs an even byte count")
    val out = java.nio.ByteBuffer.allocate(44 + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes); out.putInt(36 + data.length); out.put("WAVE".getBytes)
    out.put("fmt ".getBytes); out.putInt(16)
    out.putShort(1); out.putShort(1) // PCM, mono
    out.putInt(sampleRate); out.putInt(sampleRate * 2)
    out.putShort(2); out.putShort(16) // block align, bits
    out.put("data".getBytes); out.putInt(data.length); out.put(data)
    out.array()
  }

  /** Minimal length-prefixed video container for the frame-sampling path:
    * "GVID" magic, u8 frame count, then per frame a big-endian u32 length +
    * the frame payload (a real PNG). Test fixture only — what matters is
    * that [[sampleVideoFrames]] does REAL container work (magic check,
    * bounds-checked index walk) and REAL per-frame decode. */
  def encodeVideo(frames: Seq[Array[Byte]]): Array[Byte] = {
    require(frames.size <= 255)
    val total = 5 + frames.map(4 + _.length).sum
    val out = java.nio.ByteBuffer.allocate(total)
    out.put("GVID".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.put(frames.size.toByte)
    frames.foreach { f => out.putInt(f.length); out.put(f) }
    out.array()
  }

  /** Per-video frame-sampling result: header frame count, frames actually
    * sampled and decoded, and the EXACT color-channel pixel-byte sum over
    * the sampled frames (summed straight off the decoded pixel array —
    * exact for every channel layout). decoded=false on any malformed byte
    * (bad magic, truncated index, frame that fails the PNG decoder) —
    * flag, never a task failure. */
  final case class VideoFrameStats(
      doc_id: Long, decoded: Boolean, n_frames: Long, n_sampled: Long, px_sum: Long)

  /** Walk the container, decode every `stride`-th frame with the real PNG
    * decoder ([[decodePng]]). mapPartitions at the codec boundary, like
    * every other decode path: media bytes never leave the scan partition.
    */
  def sampleVideoFrames(
      ds: Dataset[MediaRecord], stride: Int): Dataset[VideoFrameStats] = {
    require(stride > 0)
    implicit val enc = Encoders.product[VideoFrameStats]
    ds.mapPartitions(_.map { m =>
      val bad = VideoFrameStats(m.doc_id, decoded = false, 0L, 0L, 0L)
      val b = m.media
      if (b.length < 5 || b(0) != 'G' || b(1) != 'V' || b(2) != 'I' || b(3) != 'D') bad
      else {
        val n = b(4) & 0xff
        var off = 5
        var f = 0
        var sampled = 0L
        var sum = 0L
        var ok = true
        while (ok && f < n) {
          if (off + 4 > b.length) ok = false
          else {
            val len = java.nio.ByteBuffer.wrap(b, off, 4).getInt
            off += 4
            if (len < 0 || off + len > b.length) ok = false
            else {
              if (f % stride == 0) {
                // Sum COLOR-channel bytes straight off the pixel array —
                // exact for every channel layout (a mean·w·h round-trip
                // is only exact for grayscale: decodePng's mean divides
                // by w·h·colorCh, so RGB frames would yield sum/3).
                decodePngPixels(java.util.Arrays.copyOfRange(b, off, off + len)) match {
                  case Some((_, _, ctype, channels, px)) =>
                    val colorCh =
                      ctype match { case 4 => 1; case 6 => 3; case _ => channels }
                    sampled += 1
                    var i = 0
                    while (i < px.length) {
                      if (i % channels < colorCh) sum += (px(i) & 0xff)
                      i += 1
                    }
                  case None => ok = false
                }
              }
              off += len
              f += 1
            }
          }
        }
        if (!ok) bad
        else VideoFrameStats(m.doc_id, decoded = true, n.toLong, sampled, sum)
      }
    })
  }

  /** One media embedding (unit-norm float vector). */
  final case class MediaEmbedding(doc_id: Long, embedding: Array[Float])

  /** Media → embedding, the encoder-model boundary: iterator-in/iterator-out
    * per partition (one model load per partition, batched inference in a
    * real deployment — here a deterministic STUB that hashes byte windows
    * into a unit-norm vector, so downstream geometry is well-defined). The
    * output column is the same `Array[Float]` shape as the embeddings
    * table, so the ANN operators (q25 brute-force, q37 IVF, q49
    * hyperplane-LSH) run on media-derived vectors unchanged — that
    * composition is the multimodal near-dup path at 100 TB.
    */
  def embedFeatures(ds: Dataset[MediaRecord], dim: Int = 64): Dataset[MediaEmbedding] = {
    require(dim > 0)
    implicit val enc = Encoders.product[MediaEmbedding]
    ds.mapPartitions { it =>
      // STUB encoder: a real implementation loads the model here, once per
      // partition. The fake folds each byte into a hash-chosen dimension.
      // Two geometry bugs once lived here and made EVERY pairwise cosine
      // land ~0.8 (a degenerate one-cone space no near-dup threshold can
      // cut): (1) the FNV chain's low bits mix poorly, so index choice was
      // a 6-bit state machine — fixed by a murmur-style avalanche before
      // use; (2) the sign bit (z & 1) was PART of the index (z % 64), so
      // even dims only ever accumulated +1 and odd dims −1, pinning all
      // vectors into one orthant (cos → E[n]²/E[n²] = 0.8 exactly). The
      // sign now draws on bits disjoint from the index: distinct media
      // embed near-orthogonally, identical media identically.
      it.map { m =>
        val v = new Array[Float](dim)
        var h = 0xcbf29ce484222325L
        var i = 0
        while (i < m.media.length) {
          h = (h ^ (m.media(i) & 0xffL)) * 0x100000001b3L
          var z = h
          z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
          z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
          z = z ^ (z >>> 33)
          v(((z % dim).toInt + dim) % dim) += (if (((z >>> 32) & 1L) == 0L) 1f else -1f)
          i += 1
        }
        val norm = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x)).toFloat
        MediaEmbedding(m.doc_id, if (norm == 0f) v else v.map(_ / norm))
      }
    }
  }
}

object MultimodalQueries {

  /** q136's per-image resize result (exact integer thumbnail pixel sum). */
  final case class Thumb(
      doc_id: Long, decoded: Boolean, out_w: Int, out_h: Int, thumb_sum: Long)

  /** Media metadata aggregation over the binary column: per source, media
    * count, total payload bytes, and the mean of the stubbed decoded width.
    * The width fake (octet_length % 640) is mirrored in SQL so the whole
    * binary path stays oracle-checked even with the codec stubbed out.
    */
  val q39 = EngineQuery(
    "q39_multimodal_meta",
    Some("""SELECT source, CAST(count(*) AS BIGINT) AS n_media,
           |       CAST(sum(octet_length(b)) AS BIGINT) AS total_bytes,
           |       round(avg(CAST(octet_length(b) % 640 AS DOUBLE)), 4) AS avg_fake_width
           |FROM (SELECT source, encode(text) AS b FROM documents) t
           |GROUP BY source ORDER BY ALL""".stripMargin)) { t =>
    orderedByAll(
      t.documents
        .select(col("source"), col("text").cast("binary").as("b"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_media"),
          sum(octet_length(col("b"))).as("total_bytes"),
          round4(avg((octet_length(col("b")) % 640).cast("double"))).as("avg_fake_width")))
  }

  /** Multimodal END-TO-END, fully oracled: synthesize real media payloads
    * from each document (a 16×16 grayscale PNG whose pixels are the first
    * 256 space-padded text bytes, and a PCM WAV whose 128 samples are the
    * same bytes little-endian-paired), push them through the REAL decoders
    * ([[Multimodal.decodePng]] — CRC walk, Inflater, unfiltering — and
    * [[Multimodal.decodeWav]]), bridge decoded features to a 3-vector
    * (mean intensity, mean |amplitude|, clamped length), and q92-style
    * nearest-centroid assign against a fixed literal codebook. Because the
    * payload construction is deterministic, every decoded feature is
    * analytically mirrorable in SQL — so the whole decode→feature→cluster
    * pipeline lands under the DuckDB hash gate, not just a property test:
    * a decoder that misreads even one pixel moves a mean and fails the
    * oracle. Scale shape: both decode branches are mapPartitions at the
    * codec boundary (one codec init per partition), features join on
    * doc_id, the codebook broadcasts, assignment is a partial-agg argmin —
    * no corpus-scale exchange carries media bytes (media never leaves the
    * partition it was decoded in).
    *
    * Numeric contract: mean intensity is an integer sum / 256 and mean
    * amplitude a sum of /2^15 dyadics — both EXACT in double on either
    * engine, so the only round4-guarded quantity is the d2 average. */
  val q109 = EngineQuery(
    "q109_multimodal_pipeline",
    Some("""WITH px AS (SELECT doc_id, n_chars,
           |         list_transform(generate_series(1, 256),
           |           i -> CASE WHEN i <= length(text) THEN ascii(substr(text, i, 1))
           |                     ELSE 32 END) AS p
           |       FROM documents),
           |f AS (SELECT doc_id,
           |        CAST(list_sum(p) AS DOUBLE) / 256.0 AS mi,
           |        list_sum(list_transform(generate_series(1, 128),
           |          j -> (p[2*j-1] + 256 * p[2*j]) / 32768.0)) / 128.0 AS ma,
           |        CAST(least(n_chars, 1000) AS DOUBLE) / 1000.0 AS f3
           |      FROM px),
           |c(cid, c1, c2, c3) AS (VALUES
           |  (0, CAST(0.37 AS DOUBLE), CAST(0.73 AS DOUBLE), CAST(0.10 AS DOUBLE)),
           |  (1, CAST(0.37 AS DOUBLE), CAST(0.73 AS DOUBLE), CAST(0.25 AS DOUBLE)),
           |  (2, CAST(0.37 AS DOUBLE), CAST(0.73 AS DOUBLE), CAST(0.40 AS DOUBLE)),
           |  (3, CAST(0.37 AS DOUBLE), CAST(0.73 AS DOUBLE), CAST(0.55 AS DOUBLE))),
           |d AS (SELECT doc_id, mi, ma, cid,
           |        (mi/255.0 - c1)*(mi/255.0 - c1) + (ma - c2)*(ma - c2)
           |          + (f3 - c3)*(f3 - c3) AS d2
           |      FROM f CROSS JOIN c),
           |a AS (SELECT *, row_number() OVER (PARTITION BY doc_id
           |                  ORDER BY d2, cid) AS rn FROM d)
           |SELECT cid, CAST(count(*) AS BIGINT) AS n_docs,
           |       round(avg(mi), 4) AS avg_intensity,
           |       round(avg(ma), 4) AS avg_amp,
           |       round(avg(d2), 4) AS mean_d2
           |FROM a WHERE rn = 1 GROUP BY cid ORDER BY ALL""".stripMargin)) { t =>
    val spark = t.spark
    import spark.implicits._
    import Multimodal._
    implicit val mEnc = Encoders.product[MediaRecord]
    val base = t.documents.select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
    // Synthetic media fixtures (testdata has no binary column); encode is
    // partition-local, decode is the REAL codec path under test.
    val png = base.mapPartitions(_.map { case (id, src, text) =>
      MediaRecord(id, src, encodePngGray(padBytes(text, 256), 16, 16)) })
    val wav = base.mapPartitions(_.map { case (id, src, text) =>
      MediaRecord(id, src, encodeWavMono(padBytes(text, 256), 8000)) })
    val img = decodeImages(png).filter(col("decoded"))
      .select(col("doc_id"), col("mean_intensity").as("mi"))
    val aud = decodeAudio(wav).filter(col("decoded"))
      .select(col("doc_id"), col("mean_abs").as("ma"))
    val feats = img.join(aud, "doc_id")
      .join(t.documents.select(col("doc_id"), col("n_chars")), "doc_id")
      .select(col("doc_id"), col("mi"), col("ma"),
        (col("mi") / 255.0).as("f1"),
        (least(col("n_chars"), lit(1000)).cast("double") / 1000.0).as("f3"))
    val cents = broadcast(Seq(
      (0, 0.37, 0.73, 0.10), (1, 0.37, 0.73, 0.25),
      (2, 0.37, 0.73, 0.40), (3, 0.37, 0.73, 0.55))
      .toDF("cid", "c1", "c2", "c3"))
    val d2 = (col("f1") - col("c1")) * (col("f1") - col("c1")) +
      (col("ma") - col("c2")) * (col("ma") - col("c2")) +
      (col("f3") - col("c3")) * (col("f3") - col("c3"))
    orderedByAll(
      feats.crossJoin(cents)
        .select(col("doc_id"), col("mi"), col("ma"),
          struct(d2.as("d2"), col("cid")).as("dc"))
        .groupBy("doc_id")
        .agg(min(col("dc")).as("m"), first(col("mi")).as("mi"), first(col("ma")).as("ma"))
        .groupBy(col("m.cid").as("cid"))
        .agg(count(lit(1)).as("n_docs"),
          round4(avg(col("mi"))).as("avg_intensity"),
          round4(avg(col("ma"))).as("avg_amp"),
          round4(avg(col("m.d2"))).as("mean_d2")))
  }

  /** Video frame-sampling, fully oracled — the third modality the brief
    * names (image q109, audio q109, video here): each document synthesizes
    * a 4-frame "video" (real PNGs in a length-prefixed container, frame f's
    * 256 pixels = the text bytes from offset 16·f, space-padded), the
    * engine walks the REAL container + decodes every 2nd frame with the
    * REAL PNG decoder, and reports per doc: header frame count, frames
    * sampled, and the EXACT integer pixel sum over sampled frames. All
    * outputs are integers, so no rounding can straddle (the per-doc mean
    * would divide by 512 — a power of two, exactly the boundary case
    * SURVEY §7.4.2 forbids). A decoder or container walk that misreads one
    * byte moves px_sum and fails the hash. Scale shape: synthesis and
    * decode are one fused mapPartitions — media bytes never leave the scan
    * partition; the only exchange is the ordered id-scale output. */
  val q135 = EngineQuery(
    "q135_video_frames",
    Some("""SELECT doc_id, CAST(4 AS BIGINT) AS n_frames,
           |       CAST(2 AS BIGINT) AS n_sampled,
           |       CAST(list_sum(list_transform(generate_series(1, 256),
           |              i -> CASE WHEN i <= length(text) THEN ascii(substr(text, i, 1))
           |                        ELSE 32 END))
           |          + list_sum(list_transform(generate_series(1, 256),
           |              i -> CASE WHEN i + 32 <= length(text)
           |                        THEN ascii(substr(text, i + 32, 1))
           |                        ELSE 32 END)) AS BIGINT) AS px_sum
           |FROM documents ORDER BY ALL""".stripMargin)) { t =>
    val spark = t.spark
    import spark.implicits._
    import Multimodal._
    implicit val mEnc = Encoders.product[MediaRecord]
    val videos = t.documents.select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions(_.map { case (id, src, text) =>
        val frames = (0 until 4).map(f =>
          encodePngGray(padBytes(text.drop(16 * f), 256), 16, 16))
        MediaRecord(id, src, encodeVideo(frames))
      })
    orderedByAll(
      sampleVideoFrames(videos, stride = 2).toDF()
        .filter(col("decoded"))
        .select(col("doc_id"), col("n_frames"), col("n_sampled"), col("px_sum")))
  }

  /** Image RESIZE at the pixel level (the last of the brief's four media
    * ops: decode / feature-extract / frame-sample / resize): each doc's
    * 16×16 PNG decodes to RAW PIXELS ([[Multimodal.decodePngPixels]] — the
    * same CRC/Inflater/unfilter path as q109, now surfacing the array),
    * nearest-neighbor downsamples to 8×8 in-task, and reports the EXACT
    * integer thumbnail pixel sum. NN sampling is position algebra —
    * thumb(r,c) = src(2r,2c) = text byte at 32r+2c+1 — so the oracle
    * recomputes every sampled byte analytically: one moved pixel anywhere
    * in decode OR resize shifts the sum and fails the hash. All-integer
    * output (q135's discipline). Decode+resize are one fused
    * mapPartitions; pixels never leave the scan task. */
  val q136 = EngineQuery(
    "q136_image_resize",
    Some("""SELECT doc_id, CAST(8 AS INT) AS out_w, CAST(8 AS INT) AS out_h,
           |       CAST(list_sum(list_transform(generate_series(1, 64),
           |         i -> CASE WHEN 32*((i-1)//8) + 2*((i-1)%8) + 1 <= length(text)
           |                   THEN ascii(substr(text, 32*((i-1)//8) + 2*((i-1)%8) + 1, 1))
           |                   ELSE 32 END)) AS BIGINT) AS thumb_sum
           |FROM documents ORDER BY ALL""".stripMargin)) { t =>
    val spark = t.spark
    import spark.implicits._
    import Multimodal._
    implicit val tEnc = Encoders.product[Thumb]
    val thumbs = t.documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val png = encodePngGray(padBytes(text, 256), 16, 16)
        decodePngPixels(png) match {
          case Some((w, h, _, 1, px)) =>
            val thumb = resizeNearest(px, w, h, 8, 8)
            Thumb(id, decoded = true, 8, 8, thumb.map(b => (b & 0xff).toLong).sum)
          case _ => Thumb(id, decoded = false, 0, 0, 0L)
        }
      })
    orderedByAll(
      thumbs.toDF().filter(col("decoded"))
        .select(col("doc_id"), col("out_w"), col("out_h"), col("thumb_sum")))
  }

  /** One decoded media modality — the single parameter of the media
    * near-dup family: the one-shot audits (q218 image / q219 audio / q223
    * video), the nightly ingest (q221/q225/q226), the continuous form
    * (q222) and the cross-modal sides (q220/q224/q231/q232) all run one
    * pipeline over this value. `payload` synthesizes a document's media
    * from its text and runs it through the modality's REAL decoder,
    * returning the decoded bytes the encoder embeds (None = the decoder
    * rejected the payload, and the doc is not embedded). `tag` and `short`
    * are the two name stems of the modality's session artifacts and
    * at-rest tables: `${tag}emb` (decode-once embeddings), `${tag}near`
    * (one-shot model), `${tag}inc`/`${tag}storepack`/... (ingest), and
    * `${short}nearidx` (near-dup index) / `${short}emb` (embedding
    * table). */
  private[graft] final case class Modality(
      tag: String, short: String, payload: String => Option[Array[Byte]])

  /** IMAGE: a 16×16 grayscale PNG of the first 256 space-padded text bytes
    * through the REAL PNG decoder to raw pixels ([[Multimodal.decodePngPixels]]
    * — q136's path). */
  private[graft] val image: Modality = Modality("media", "img", text =>
    Multimodal.decodePngPixels(
      Multimodal.encodePngGray(Multimodal.padBytes(text, 256), 16, 16))
      .collect { case (_, _, _, 1, px) => px })

  /** q219's payload length: the synthetic WAV covers 512 text bytes (256
    * s16 samples) where q218's image covers 256 — a recording outlasts a
    * 16×16 thumbnail, and the longer span makes the two modalities' dup
    * structures genuinely different (same-IMAGE docs that diverge past
    * byte 256 are not same-AUDIO). */
  private[graft] val AudioPayloadBytes = 512

  /** AUDIO: a mono PCM-16 WAV of the first [[AudioPayloadBytes]] text bytes
    * through the REAL RIFF/PCM sample decode ([[Multimodal.decodeWavSamples]]
    * — q109's validation walk surfacing the payload). */
  private[graft] val audio: Modality = Modality("audio", "aud", text =>
    Multimodal.decodeWavSamples(Multimodal.encodeWavMono(
      Multimodal.padBytes(text, AudioPayloadBytes), 8000)))

  /** q223's frame geometry: q135's exact container (4 frames, frame f's
    * 256 pixels = text bytes from offset 16·f) sampled at stride 2, so the
    * embedded pixel stream is bytes [0, 256) ∪ [32, 288) — a 288-byte
    * effective dup span, strictly between the image's 256 and the audio's
    * 512: docs identical to byte 256 but divergent in [256, 288) are image
    * dups but NOT video dups, and docs identical to byte 288 but divergent
    * later are video dups but NOT audio dups (both spec-pinned). */
  private[graft] val VideoFrames = 4
  private[graft] val VideoFrameSpan = 16
  private[graft] val VideoStride = 2

  /** VIDEO: q135's exact synthesis (a [[VideoFrames]]-frame GVID of real
    * PNGs) through the REAL container walk + per-frame PNG decode,
    * surfacing every [[VideoStride]]-th frame's pixels
    * ([[Multimodal.decodeVideoSampledPixels]]). */
  private[graft] val video: Modality = Modality("video", "vid", { text =>
    val frames = (0 until VideoFrames).map(f => Multimodal.encodePngGray(
      Multimodal.padBytes(text.drop(VideoFrameSpan * f), 256), 16, 16))
    Multimodal.decodeVideoSampledPixels(Multimodal.encodeVideo(frames), VideoStride)
  })

  /** A modality's decode→embed pass over a documents slice: each doc's
    * synthesized media through the modality's REAL decoder
    * ([[Modality]]'s `payload`), embedded at the partition-level encoder
    * boundary ([[Multimodal.embedFeatures]] — stub model, real plumbing).
    * Map-only; media bytes never leave the scan partition. Callers that
    * want less than the corpus filter the DOCUMENTS side first — the
    * mapPartitions is opaque to Catalyst, so a filter above it cannot save
    * any decode work. */
  private def embedSlice(
      t: graft.Tables, m: Modality,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = t.spark
    import spark.implicits._
    import Multimodal._
    implicit val mEnc = Encoders.product[MediaRecord]
    val payload = m.payload
    // Repartition BEFORE the codec boundary: decode cost is per-ROW, not
    // per-byte, and a compressed text corpus can land in one scan split
    // (sf1x documents is a single 1.8 MB zstd file → ONE task decoding the
    // whole corpus while 31 cores idle — and every downstream consumer of
    // the checkpoint inherits that width). An expensive map stage must set
    // its own parallelism, not ride file-count luck.
    val media = docs.select(col("doc_id"), col("source"), col("text"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .as[(Long, String, String)]
      .mapPartitions(_.flatMap { case (id, src, text) =>
        payload(text).map(MediaRecord(id, src, _))
      })
    embedFeatures(media).toDF
  }

  /** A modality's decoded embeddings `(doc_id, embedding)` for the whole
    * corpus, decoded ONCE per (session, dir) and held as a localCheckpoint
    * (the corpusPostings discipline, `TextQueries.corpusPostings`): the
    * index build, candidate-verification fetch, and final audit all read
    * this frame, and without the checkpoint each reader would re-run the
    * full-corpus decode — at 100 TB, decode dominates media-pipeline
    * cost, so paying it once is the whole game. 64 floats + id per row is
    * id-scale (~0.3 KB/doc), far smaller than the media it replaces.
    * `Artifacts.built(t, s"${m.tag}emb")` tells a spec whether the session
    * paid this corpus-scale decode. */
  private[graft] def embeddingsOf(
      t: graft.Tables, m: Modality): org.apache.spark.sql.DataFrame =
    Artifacts.get(t, s"${m.tag}emb")(
      embedSlice(t, m, t.documents).localCheckpoint())

  /** q218's operating point: exact-cosine near-dup threshold and the
    * sign-sketch prefilter slack. The prefilter is a 64-bit hyperplane sign
    * signature ([[graft.functions.HyperplaneSignature]], q49's codegen'd
    * expression) and candidates are within-block pairs with Hamming
    * distance ≤ [[MediaHammingSlack]]. Why not PQ-SDC (round 11's choice):
    * on these hash-derived embeddings the subspace codewords all collapse
    * toward the mean, so code-level distances cannot separate d² ≈ 0.2
    * (near-dup) from d² ≈ 2 (unrelated) — measured 99% admission at sf0.1,
    * i.e. a prefilter that costs a per-pair table walk and prunes nothing.
    * The sign sketch separates by construction: P[bit differs] = θ/π, so a
    * true pair at cos ≥ 0.9 flips ~9.2 of 64 bits (σ≈2.8 — slack 20 is
    * +3.9σ, loss ~5e-5 per borderline pair, and the measured worst true
    * pair across sf0.001/0.01/0.1 sits at Hamming 14) while an unrelated
    * pair flips ~32 (σ≈4). Slack matters doubly under k = √N blocking:
    * tighter blocks raise within-block ambient similarity, and a loose
    * slack (24, the first cut) admitted ~6% of pairs into the
    * vector-carrying verify joins — at slack 20 that is ~0.8%, and the
    * verify side stays candidate-scale as k grows. The pair join carries
    * ONE long per side instead of 4-int codes, and the filter is a single
    * codegen'd `bit_count(xor)`. MediaNearDupSpec/AudioNearDupSpec prove
    * no true pair is lost on their fixtures and at sf0.001/0.01. */
  private[graft] val MediaNearDupT = 0.9
  private[graft] val MediaHammingSlack = 20
  private[graft] val MediaSignBits = 64

  /** Combined slack of the one-shot family's 128-bit sketch (two 64-bit
    * signature words, [[mediaSignPlanes]] + [[mediaSignPlanes2]]). The
    * σ-distance argument that set slack 20 at 64 bits, rerun at 128: a
    * true pair at cos ≥ 0.9 flips 128·θ/π ≈ 18.4 bits (σ ≈ 3.97), so 34
    * is the same +3.9σ admission floor (loss ~5e-5 per borderline pair) —
    * but the AMBIENT in-bucket population (the 100 TB cost driver) sits a
    * fixed angular gap away whose σ-distance grows as √bits: measured on
    * the sf1x/sf10x decades, the 64-bit slack-20 filter admitted ~2.6–3.2%
    * of within-block pairs (≈ 96× the true pairs — the verify join, which
    * carries 256 B vectors per side, was 96-fold oversized and dominated
    * q218's warm cost), while 128/34 admits a population close to the
    * true pair count. Same +3.9σ recall discipline; the worst measured
    * true pair sits well inside (admissibility spec-pinned per modality at
    * both gate SFs). The incremental family keeps the 64-bit single-word
    * sketch: its batch ⋈ store joins are delta-sized, so over-admission
    * costs batch-scale there, not corpus-scale. */
  private[graft] val MediaHammingSlack128 = 34

  /** Seeded Gaussian hyperplanes (64 × 64-dim, row-major) for the q218 sign
    * sketch — deterministic, its own seed so q49's plane set stays
    * independent. */
  private[graft] lazy val mediaSignPlanes: IndexedSeq[Double] = {
    val rng = new scala.util.Random(20260814L)
    IndexedSeq.fill(MediaSignBits * 64)(rng.nextGaussian())
  }

  /** Second plane set for the one-shot family's 128-bit sketch (seed
    * disjoint from [[mediaSignPlanes]] and [[crossModalPlaneSets]]'s
    * 20260815–20260818 range). */
  private[graft] lazy val mediaSignPlanes2: IndexedSeq[Double] = {
    val rng = new scala.util.Random(20260820L)
    IndexedSeq.fill(MediaSignBits * 64)(rng.nextGaussian())
  }

  /** Seeded plane sets for q220's 256-bit cross-modal sketch
    * ([[graft.functions.HyperplaneSignature]] packs 64 bits per long, so
    * 256 bits ride as four columns). Own seeds, independent of
    * [[mediaSignPlanes]] and of each other. */
  private[graft] lazy val crossModalPlaneSets: IndexedSeq[IndexedSeq[Double]] =
    (0 until 4).map { h =>
      val rng = new scala.util.Random(20260815L + h)
      IndexedSeq.fill(MediaSignBits * 64)(rng.nextGaussian())
    }

  private def signLocalWith(v: Array[Double], planes: IndexedSeq[Double]): Long = {
    var sig = 0L
    var p = 0
    while (p < MediaSignBits) {
      var dot = 0.0; var i = 0; val off = p * 64
      while (i < v.length && i < 64) { dot += v(i) * planes(off + i); i += 1 }
      if (dot > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Local parity twin of the engine-side signature (same float→double
    * widening and strict `dot > 0` sign rule as
    * [[graft.functions.HyperplaneSignature]]). */
  private[graft] def mediaSignLocal(v: Array[Double]): Long =
    signLocalWith(v, mediaSignPlanes)

  /** Local parity twin of the 128-bit sketch's second word. */
  private[graft] def mediaSign2Local(v: Array[Double]): Long =
    signLocalWith(v, mediaSignPlanes2)

  /** Local parity twin of the 256-bit cross-modal sketch (4 longs). */
  private[graft] def crossModalSignLocal(v: Array[Double]): IndexedSeq[Long] =
    crossModalPlaneSets.map(signLocalWith(v, _))

  /** Coarse blocking fan-out as a function of corpus size — k = √N (the
    * SemDeDup-family convention), floored at 8 so tiny fixtures keep the
    * historical shape. A FIXED k would make the within-block pair join
    * Σn_c² with n_c = N/k — at 100 TB that is k-way skew and quadratic
    * block growth; with k = √N the expected block is √N rows and the
    * candidate population is ~N·√N-bounded (the measured sf0.1→sf1x warm
    * ratio tracks the predicted 10^1.5 ≈ 31× pair growth ÷ 10× parallel
    * width; an earlier √N/4 divisor paid 16× that for no recall gain —
    * identical media always share a bucket regardless of k). */
  private[graft] def mediaCoarseK(n: Long): Int =
    math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Crossover above which coarse-model training runs the DISTRIBUTED
    * Lloyd's loop ([[graft.functions.KMeansTrainer.train]]) instead of a
    * driver-local pass over a collected sample. The driver-local cost is
    * k·(32k)·dim·iters = 32·N·dim·iters SERIAL ops under k = √N — already
    * ~15 s single-core at 500 k docs and hours at 100 TB while the cluster
    * idles. The distributed trainer is one no-shuffle job per superstep
    * with driver state k×dim (KMeansTrainSpec pins its shape and its
    * 1e-8 parity with the local reference), so above this k the sample
    * frame trains in place and is never collected. Below it, the local
    * pass is cheaper than superstep scheduling (~0.1 s/iter of fixed job
    * cost vs <0.1 s of total arithmetic at k ≤ 128) and keeps small-SF
    * outputs byte-identical to the historical path. */
  private[graft] val CoarseDistributedK = 128

  /** True when a corpus of this coarse fan-out trains distributed —
    * the routing predicate CoarseTrainRoutingSpec pins: every 100 TB-scale
    * N (k = √N ≥ 128 ⇔ N ≳ 16 k docs) must route away from the
    * driver-local O(k·n) pass. */
  private[graft] def coarseTrainsDistributed(k: Int): Boolean =
    k >= CoarseDistributedK

  /** Train a coarse quantizer from a `(doc_id, embedding)` sample FRAME,
    * routing by [[coarseTrainsDistributed]]: above the crossover the frame
    * goes straight into the distributed trainer (no driver-side vector
    * collect anywhere on that path — the trainer's driver work is the k
    * seed rows plus #partitions × k cell merges); below it the sample is
    * driver-sized by construction and the single-node reference trainer is
    * cheaper than superstep scheduling. Both paths share the seed rule
    * (first k by id), d2 fold order, and tie-breaks, so they agree to
    * centroid ulps and to EXACT bucket assignments (CoarseTrainRoutingSpec
    * pins both on real decoded media vectors). A local sample smaller than
    * `k` (a corpus under [[mediaCoarseK]]'s floor of 8) trains one
    * centroid per vector, and an empty one gets the [[originModel]]. */
  private[graft] def trainCoarseFrom(
      sample: org.apache.spark.sql.DataFrame, k: Int,
      forceDistributed: Boolean = false): graft.functions.KMeansTrainer.Trained =
    if (forceDistributed || coarseTrainsDistributed(k)) {
      graft.functions.KMeansTrainer.train(
        sample.select(col("doc_id").as("vec_id"), col("embedding")), k, 15, 1e-4)
    } else {
      val local = collectSample(sample)
      if (local.isEmpty) originModel
      else graft.functions.KMeansTrainer.trainLocal(
        local, math.min(k, local.size), 15, 1e-4)
    }

  /** A driver-sized `(doc_id, embedding)` sample, id-ascending, as the
    * local trainers take it. */
  private def collectSample(
      sample: org.apache.spark.sql.DataFrame): Seq[(Long, Array[Double])] = {
    val spark = sample.sparkSession
    import spark.implicits._
    sample.as[(Long, Seq[Float])].collect().sortBy(_._1)
      .map { case (id, v) => (id, v.map(_.toDouble).toArray) }.toSeq
  }

  /** The model of an EMPTY training sample (an empty corpus or store): one
    * centroid at the origin of the encoder's 64-dim space, so every vector
    * lands in bucket 0 and the serving kernels get a well-formed model. */
  private val originModel: graft.functions.KMeansTrainer.Trained =
    graft.functions.KMeansTrainer.Trained(
      IndexedSeq(new Array[Double](64)), IndexedSeq(0L), IndexedSeq(0.0), 0)

  /** Coarse quantizer trained on a deterministic sample of a modality's
    * decoded-feature vectors over `docs` — q108's train-once recipe (the
    * embeddings-table models live in a different vector space and cannot be
    * reused), k = [[mediaCoarseK]] of the docs' count. The sample is taken
    * by filtering the DOCUMENTS side BEFORE the decode mapPartitions (32
    * docs per centroid, min 256) — the opaque decode means a post-decode
    * filter would pay a full-corpus decode just to keep the sample rows.
    * Training routes through [[trainCoarseFrom]]: at scale the sample
    * frame is trained distributed, never collected. */
  private def trainCoarseModel(
      t: graft.Tables, m: Modality,
      docs: org.apache.spark.sql.DataFrame): graft.functions.KMeansTrainer.Trained = {
    val k = mediaCoarseK(docs.count())
    val sampleLimit = math.max(256L, 32L * k)
    trainCoarseFrom(embedSlice(t, m, docs.filter(col("doc_id") < sampleLimit)), k)
  }

  /** The one-shot family's coarse model: [[trainCoarseModel]] over the
    * whole corpus, memoized per (session, dir, modality). */
  private[graft] def nearDupModelOf(
      t: graft.Tables, m: Modality): graft.functions.KMeansTrainer.Trained =
    Artifacts.get(t, s"${m.tag}near")(trainCoarseModel(t, m, t.documents))

  /** The STANDING near-dup index of a decoded modality: (doc_id, bucket,
    * sig, sig2) under the trained coarse model — 28-byte rows, the one-shot
    * family's analogue of q221's [[storeIndexOf]], memoized per
    * (session, dir, modality) and checkpointed. The assignment pass is
    * O(N·k·dim) with k ∝ √N — an N^1.5 term that was silently re-paid on
    * EVERY evaluation (twice per audit: once in the pair pipeline, once in
    * the report's per-bucket counts) and dominated the media family's warm
    * cost at the second scaling decade (q218 22.5 s warm at sf10x). A
    * production pipeline computes a corpus' bucket+signature index once and
    * maintains it next to the vectors (the corpusPostings discipline in
    * vector space; at 100 TB it is a bucket-partitioned on-disk layout,
    * q94's convention, exactly like the incremental store index) — so the
    * served queries read it as an ExistingRDD, and per-run work starts at
    * the candidate join. */
  private[graft] def nearDupIndexOf(
      t: graft.Tables, m: Modality): org.apache.spark.sql.DataFrame =
    Artifacts.get(t, s"${m.short}nearidx")({
      import graft.functions.{KMeansTrainer, HyperplaneSignature}
      val km = nearDupModelOf(t, m)
      embeddingsOf(t, m).select(col("doc_id"),
        KMeansTrainer.coarseBucket(col("embedding"), km).as("bucket"),
        HyperplaneSignature(col("embedding"), mediaSignPlanes, 64).as("sig"),
        HyperplaneSignature(col("embedding"), mediaSignPlanes2, 64).as("sig2"))
        .localCheckpoint()
    })

  /** Deterministic at-rest table name keyed on (tag, data dir, bucket
    * width): same artifact → same name, so re-runs and fresh sessions
    * OVERWRITE one table instead of accumulating UUID-named orphans in the
    * warehouse (the pre-round-14 behavior leaked one table per session and
    * per gate rerun). The dir rides as an md5 prefix — table identifiers
    * cannot carry paths — and the width is part of the identity because
    * the bucketed join's exchange elision only holds at the width the
    * table was written with. */
  private[graft] def layoutName(tag: String, dir: String, width: Int): String =
    graft.sources.LayoutWriter.deterministicName(tag, dir, width)

  /** A modality's standing near-dup index AT REST — the (doc_id, bucket,
    * sig, sig2) rows (28-byte parquet rows: an id, a bucket, the 128-bit
    * sketch as two longs) written as a `bucket`-bucketed, bucket-sorted
    * parquet table (q94/q145's layout mechanism) next to the data, under a
    * DETERMINISTIC name ([[layoutName]]) so every rebuild overwrites the
    * same table. The session localCheckpoint ([[nearDupIndexOf]]) dies
    * with the session, so every new session re-paid decode + train +
    * assign (the video index alone is ~107 s/session at sf10x; at 100 TB
    * it is the whole media pipeline's build cost) — this is the at-rest
    * complement a production pipeline serves from instead. Reuse is
    * [[graft.sources.LayoutWriter.serveOrWriteBucketed]]'s with a source
    * dir, in EVERY mode: a table whose `_graft_src_fp` stamp matches the
    * data dir's current fingerprint is re-registered, not rebuilt — also
    * with the serving flags off, and also by a later JVM in the same
    * warehouse (the stamp covers the source files, not the code that
    * wrote the table). Only a missing or stale table is built and
    * overwritten. Bucket count = the session shuffle width, so the
    * within-block candidate self-join is BOTH exchange-free (v1 bucketing
    * reports hashpartitioning(bucket)) and full-width for its Σn_c²
    * Hamming-condition compute — the explicit-repartition width pin
    * becomes a property of the layout itself. */
  private[graft] def nearDupIndexTableOf(t: graft.Tables, m: Modality): String =
    standingTable(t, s"${m.short}nearidx", "layout", Seq("bucket"))(nearDupIndexOf(t, m))

  /** A session's standing layout table: `df` written at shuffle width as a
    * `bucketCols`-bucketed table named [[layoutName]] of `tag` — or, when a
    * source-fingerprint-fresh one already stands, re-registered without
    * forcing `df` ([[graft.sources.LayoutWriter.serveOrWriteBucketed]]) —
    * memoized per (session, dir) as `tag#kind`. Returns the table name. */
  private def standingTable(
      t: graft.Tables, tag: String, kind: String, bucketCols: Seq[String])(
      df: => org.apache.spark.sql.DataFrame): String =
    Artifacts.get(t, s"$tag#$kind")({
      val width = t.spark.sessionState.conf.numShufflePartitions
      val tbl = layoutName(tag, t.dir, width)
      graft.sources.LayoutWriter.serveOrWriteBucketed(
        t.spark, df, tbl, bucketCols, width, Some(t.dir))
      tbl
    })

  /** The docs a min-id-wins near-dup dedup would drop from a decoded
    * modality: members with a lower-id neighbor at exact cosine ≥
    * [[MediaNearDupT]] inside their trained coarse block. Pipeline: block
    * (Σn_c² candidates with k ∝ √N blocks, never all-pairs) → sign-sketch
    * Hamming prefilter (the pair join shuffles TWO longs per side, never
    * vectors or media bytes — see [[MediaHammingSlack128]] for why sign
    * bits and not PQ-SDC here, and for the 64→128-bit admission math) → exact cosine on embeddings fetched for
    * CANDIDATE ids only (q24's verification economics in vector space).
    * Takes the modality's standing [[nearDupIndexOf]]; `emb` is read for the
    * candidate-restricted verification fetch only. Shared by q218 (image),
    * q219 (audio) and q223 (video). */
  private def nearDupDroppedFrom(
      emb: org.apache.spark.sql.DataFrame,
      idx: org.apache.spark.sql.DataFrame,
      prePartitioned: Boolean = false): org.apache.spark.sql.DataFrame = {
    // Pin the pair join's width (q220's AQE lesson): the shuffle carries
    // ~36 B/row but the join evaluates Σn_c² Hamming conditions, and AQE
    // coalesces by BYTES — an explicit numPartitions is a user constraint
    // it keeps, and the self-join reuses the one exchange. The repartition
    // re-applies per run because a checkpoint read (ExistingRDD) reports no
    // Catalyst partitioning; the 28-byte-row shuffle is noise next to the
    // Hamming-condition compute it spreads. An AT-REST index
    // ([[nearDupIndexTableOf]]) already reports hashpartitioning(bucket) at
    // shuffle width from its bucketing — `prePartitioned` skips the no-op
    // exchange so the layout serves exchange-FREE.
    val assigned = if (prePartitioned) idx else idx.repartition(
      emb.sparkSession.sessionState.conf.numShufflePartitions, col("bucket"))
    val cand = assigned.as("a")
      .join(assigned.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id") &&
          (bit_count(col("a.sig").bitwiseXOR(col("b.sig"))) +
            bit_count(col("a.sig2").bitwiseXOR(col("b.sig2")))) <= MediaHammingSlack128)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.bucket").as("bucket"))
      .localCheckpoint(eager = false)
    val candDocs = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
    val fetch = emb.join(candDocs, Seq("doc_id")).localCheckpoint(eager = false)
    cand
      .join(fetch.select(col("doc_id").as("doc_a"), col("embedding").as("ea")), "doc_a")
      .join(fetch.select(col("doc_id").as("doc_b"), col("embedding").as("eb")), "doc_b")
      .filter(round4(graft.functions.CosineSimilarity(col("ea"), col("eb"))) >= MediaNearDupT)
      .select(col("bucket"), col("doc_b").as("doc_id"))
      .distinct()
  }

  /** [[nearDupDroppedFrom]] of a modality's live session index — exposed
    * for the per-modality near-dup specs' parity assertions. */
  private[graft] def nearDupDroppedOf(
      t: graft.Tables, m: Modality): org.apache.spark.sql.DataFrame =
    nearDupDroppedFrom(embeddingsOf(t, m), nearDupIndexOf(t, m))

  /** The per-bucket near-dup audit (q154's shape): media count and members
    * a min-id-wins dedup would drop — q218/q219/q223's shared report body.
    * Counts come off the standing index (28-byte rows), not a fresh
    * corpus-wide bucket assignment. */
  private def nearDupAudit(
      idx: org.apache.spark.sql.DataFrame,
      dropped: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val drops = dropped.groupBy("bucket").agg(count(lit(1)).as("n_dropped"))
    orderedByAll(
      idx.groupBy("bucket").agg(count(lit(1)).as("n_media"))
        .join(drops, Seq("bucket"), "left")
        .select(col("bucket"), col("n_media"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped")))
  }

  /** Multimodal NEAR-DUP — where the brief's dedup and multimodal pillars
    * meet: near-duplicate IMAGE detection over the decoded-feature bridge,
    * composing q136's real PNG decode, q109's encoder-boundary embedding,
    * q154's SemDeDup cluster blocking (trained coarse quantizer, k ∝ √N —
    * candidate pairs are Σn_c², never all-pairs), q49's hyperplane sign
    * sketch as the pair prefilter (the within-block pair join carries a
    * 128-bit signature — two longs — instead of 256 B vectors;
    * [[MediaHammingSlack128]] documents the σ-distance argument and why
    * sign bits beat PQ-SDC in this threshold regime), and
    * q24's candidate-restricted exact verification. Output is the
    * per-bucket audit a pipeline logs (q154's shape): media count and
    * members a min-id-wins dedup would drop. No SQL oracle (real codec +
    * trained quantizer are the non-SQL parts); MediaNearDupSpec pins the
    * dropped set against a driver-side reference on planted same-pixel
    * corpora, sign-sketch prefilter admissibility, the decode-once plan,
    * and the no-cartesian plan. */
  val q218 = EngineQuery("q218_media_neardup", None) { t =>
    nearDupAudit(nearDupIndexOf(t, image), nearDupDroppedOf(t, image))
  }

  /** A one-shot near-dup audit with its serve/live choice — q219 and
    * q223's body. With SPARK_GRAFT_SERVE_LAYOUTS=1 the audit answers from
    * the at-rest index + embedding tables with ZERO decode
    * ([[nearDupServedOf]], the q228 upgrade; AudioNearDupSpec and
    * VideoNearDupSpec pin served ≡ live and the storage-only plan);
    * default = the live session build, so driver gates and budgets are
    * unchanged. */
  private def nearDupAuditFor(
      t: graft.Tables, m: Modality): org.apache.spark.sql.DataFrame =
    if (graft.sources.LayoutWriter.servingLayouts) nearDupServedOf(t, m)
    else nearDupAudit(nearDupIndexOf(t, m), nearDupDroppedOf(t, m))

  /** AUDIO near-dup — q218's pipeline over the WAV sample bridge (the last
    * multimodal-dedup corner: q109 already decodes WAV, q218 covers only
    * images): each doc synthesizes a mono PCM-16 recording of its first
    * [[AudioPayloadBytes]] text bytes, the engine walks the REAL RIFF
    * container to the raw samples ([[Multimodal.decodeWavSamples]] — the
    * same validation path q109's aggregate decode exercises), embeds at
    * the shared encoder boundary, and runs the identical trained-block +
    * sign-sketch + exact-cosine-verify near-dup
    * ([[nearDupDroppedFrom]]/[[nearDupAudit]] — shared code, not a copy).
    * The audio payload is 2× the image payload, so the modalities' dup
    * structures differ: same-image docs that diverge past byte 256 are
    * not same-audio. No SQL oracle (real codec + trained quantizer);
    * AudioNearDupSpec pins parity vs a driver-side reference on planted
    * same-audio corpora, prefilter admissibility, the decode-once plan,
    * and the no-cartesian plan. */
  val q219 = EngineQuery("q219_audio_neardup", None)(nearDupAuditFor(_, audio))

  /** VIDEO near-dup — the third modality twin (q218 image / q219 audio /
    * q223 video, completing the brief's media coverage): each doc
    * synthesizes q135's exact 4-frame GVID container of real PNGs, the
    * engine walks the REAL container and decodes every
    * [[VideoStride]]-th frame to pixels
    * ([[Multimodal.decodeVideoSampledPixels]] — q135's validation walk
    * surfacing the payload), embeds the concatenated sampled frames at the
    * shared encoder boundary, and runs the identical trained-block +
    * sign-sketch + exact-cosine-verify near-dup
    * ([[nearDupDroppedFrom]]/[[nearDupAudit]] — one pipeline, three
    * modalities). The sampled-frame window is [0, 256) ∪ [32, 288) — 288
    * effective text bytes. Span algebra, pinned honestly: the video window
    * NESTS the image window, so an image-span (256) dup keeps 480 of 512
    * embedded bytes and stays a video near-dup at cos ≈ 0.94; a
    * video-span (288) dup is NOT an audio dup (audio reads to 512). No
    * SQL oracle (real codec + trained quantizer); VideoNearDupSpec pins
    * parity vs a driver-side reference on planted same-video corpora,
    * both nesting facts, the decode-once plan, and the no-cartesian
    * plan. */
  val q223 = EngineQuery("q223_video_neardup", None)(nearDupAuditFor(_, video))

  /** q218's near-dup audit served from the AT-REST index layout
    * ([[nearDupIndexTableOf]]) — the media member of the stored-artifact
    * family (q144 postings, q145 bands, q146 IVF-PQ codes): the
    * (doc_id, bucket, sig, sig2) table — 28-byte parquet rows, the 128-bit
    * sketch as two longs — serves the whole near-dup family instead of
    * re-paying decode + train + assign, and the candidate self-join runs off the
    * table's bucketing with NO exchange on `bucket` (full shuffle-width
    * buckets, so the Σn_c² Hamming compute keeps its parallelism — the
    * repartition width pin became a property of the layout). The exact
    * -cosine verification still fetches embeddings for CANDIDATE ids only
    * (decode count per session unchanged at ≤ 1). Same output as q218 by
    * construction (same index rows, same serve tail — MediaLayoutSpec
    * pins row-for-row equality for image AND the ~107 s/session sf10x
    * case, video, plus the exchange-free bucketed scan and the build-once
    * memo); no SQL oracle for the same reason q218 has none (trained
    * quantizer + real codec). */
  val q228 = EngineQuery("q228_media_index_layout", None)(nearDupServedOf(_, image))

  /** A modality's near-dup audit served from its at-rest tables — q228's
    * body and the serve branch of [[nearDupAuditFor]]. Both the index AND
    * the verify-fetch embeddings serve from storage (round 15): a
    * SPARK_GRAFT_SERVE_LAYOUTS=1 session runs this audit with zero decode
    * — the index scan, the candidate join, and the doc_id-bucketed
    * embedding fetch are all storage reads. */
  private[graft] def nearDupServedOf(
      t: graft.Tables, m: Modality): org.apache.spark.sql.DataFrame =
    nearDupAuditServed(
      t.spark.table(embTableOf(t, m)), t.spark.table(nearDupIndexTableOf(t, m)))

  /** The audit pipeline served from a STORED index frame — q228's body,
    * shared with MediaLayoutSpec's per-modality round-trip assertions so
    * the layout-serve tail cannot drift from the live one. */
  private[graft] def nearDupAuditServed(
      emb: org.apache.spark.sql.DataFrame,
      idx: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    nearDupAudit(idx, nearDupDroppedFrom(emb, idx, prePartitioned = true))

  /** q220's operating point. The two modality embeddings share a vector
    * space BY CONSTRUCTION of the encoder boundary: the image embeds the
    * doc's canonical 256-byte pixel stream, the audio embeds the 512-byte
    * PCM stream whose first 256 bytes are the SAME canonical prefix, and
    * [[Multimodal.embedFeatures]]' hash chain walks bytes in order — so a
    * matched pair's image vector is exactly the audio vector's first-half
    * contribution sum and the pair cosine concentrates at
    * ‖v₂₅₆‖/‖v₅₁₂‖ ≈ √(256/512) ≈ 0.707 (±‖w‖/‖v‖ fluctuations), while
    * unrelated pairs diverge at byte 1 and land near-orthogonal
    * (±1/√64 ≈ 0.125 σ). Threshold 0.5 splits the two populations at
    * ≥ 1.6σ from both sides. The sketch is 256-bit (four longs, plane
    * sets [[crossModalPlaneSets]]) where the near-dups use 64, because the
    * cos-0.707 regime is intrinsically harder for sign bits AND the
    * population the filter must cut is not random-orthogonal: probing
    * admits IN-BUCKET pairs, whose ambient cosine (~0.15 — they share a
    * nearest centroid by construction) puts them at E ≈ 0.45·bits flipped
    * vs the matched pair's 0.25·bits, only ~0.2·bits apart — and the
    * σ-distance of that fixed angular gap grows as √bits. Measured on the
    * sf1x decade: 64 bits at the recall-equivalent slack 28 admitted ~16%
    * of probed pairs into the vector-carrying verify joins (q220 warm
    * 8.6× at 10× data), 128 bits at slack 49 still ~8% (ambient pairs sat
    * 1.6σ above the cut); at 256 bits the cut sits +3.5σ from the matched
    * mean (E = 64, σ = 6.9 → slack 88, loss ~2e-4) and −3.5σ from the
    * ambient mean (E ≈ 116, σ = 8 → admission ~2e-4), and the candidate
    * count fell 7.17M → matched-scale. The sketch is map-only work and
    * four longs per pair side — still no vectors in the pair exchange.
    * Query-side fan-out is multi-probe (q37's convention)
    * because a matched pair at 0.707 need not share a nearest centroid —
    * the probe count is MEASURED, not guessed (the PLANS round 15 knee
    * sweep on the real corpora), and the sketch loses nothing on top
    * (e2e == block recall at every measured point). Blocking is the TWO-LEVEL
    * k ∝ N fine model ([[crossModalFineModel]], [[CrossModalFineProbes]]
    * — see those scaladocs for the measured knee and the regime's
    * intrinsic recall/volume exponent). */
  private[graft] val CrossModalAlignT = 0.5
  private[graft] val CrossModalHammingSlack = 88

  /** L1 fan-out of the two-level fine probe ([[crossModalFineModel]]):
    * the query's [[CrossModalFineProbes]] fine probes are drawn from its
    * nearest p1 L1 cells' children. Measured with the fine-probe knee
    * (PLANS round 15): at nprobe 16, p1 = 4 → 8 still gains recall
    * (0.977 → 0.996 at sf0.1), p1 = 16 is flat (0.710 → 0.701 at sf1x —
    * noise); the knee is p1 ≈ nprobe/2. */
  private[graft] val CrossModalL1Probes = 8

  /** FINE probe count of the two-level blocking — the q220/q231 operating
    * point. Fixed per query (volume nprobe·[[CrossModalFineCell]] = 4096
    * entries — LINEAR total probed pairs per decade, the r13 `weak`'s
    * replacement for the flat model's probes·√N), chosen at the measured
    * knee: block recall 1.0 / 1.0 / 0.996 at sf0.001/sf0.01/sf0.1 vs 0.90
    * at nprobe 8 (sf0.1), and at the scaling decades it carries ~the same
    * recall as the r13 flat model at a fraction of its candidate volume
    * (sf1x: fine 0.71 at 16·256 per query vs flat 0.61 at 8·224 — the
    * flat "0.98 recall" was a gate-fixture artifact, never true at scale).
    * Recall at FIXED volume decays with N in this vector space for ANY
    * blocking (the 0.707 matched-cosine regime's LSH exponent is
    * ρ ≈ ln(1/0.75)/ln(1/0.547) ≈ 0.48 — fixed-recall candidate volume is
    * intrinsically ~N^1.5); the engine holds COST linear and counts the
    * misses honestly (q210's audit-not-assume discipline), and the true
    * fix is a trained shared encoder that moves matched pairs off 0.707
    * (the q229 two-tower direction), not index geometry. */
  private[graft] val CrossModalFineProbes = 16

  /** Bounded expected FINE cell size of the cross-modal quantizer — the
    * k ∝ N constant. With F = N/cell fine cells, probe volume per query is
    * nprobe·cell = O(1) and the total probed-pair population is
    * probes·N·cell = O(N) — the linear replacement for the flat k = √N
    * model's probes·N·√N (the round-13 `weak`). */
  private[graft] val CrossModalFineCell = 256

  /** Two-level model shape for a corpus of n docs: F = max(8, ⌈n/cell⌉)
    * fine cells as k1 ≈ √F L1 cells × k2 = ⌈F/k1⌉ children — assignment
    * costs k1 + k2 ≈ 2√F evals/vector (CHEAPER than the flat model's √N
    * once N > cell²) and the trainer's supersteps stay sample × (k1 + k2)
    * ([[graft.functions.KMeansTrainer.trainTwoLevel]]). */
  private[graft] def crossModalFineK(n: Long): (Int, Int) = {
    val f = math.max(8L, (n + CrossModalFineCell - 1) / CrossModalFineCell)
    val k1 = math.ceil(math.sqrt(f.toDouble)).toInt
    val k2 = ((f + k1 - 1) / k1).toInt
    (k1, k2)
  }

  /** Train a two-level quantizer from a `(doc_id, embedding)` sample frame,
    * routing like [[trainCoarseFrom]]: above the crossover (F ≥
    * [[CoarseDistributedK]] fine cells) the GROUPED distributed loop
    * ([[graft.functions.KMeansTrainer.trainTwoLevel]] — no corpus-scale
    * driver state), below it the single-node reference (small-SF fixtures,
    * where superstep scheduling dominates arithmetic). The sample frame is
    * eagerly checkpointed first: both trainer phases (L1 loop, grouped L2
    * loop) scan it, and without the checkpoint each scan would re-run the
    * decode pipeline behind it. */
  private[graft] def trainFineFrom(
      sample: org.apache.spark.sql.DataFrame, k1: Int, k2: Int)
      : graft.functions.KMeansTrainer.Trained2 =
    if (coarseTrainsDistributed(k1 * k2)) {
      graft.functions.KMeansTrainer.trainTwoLevel(
        sample.select(col("doc_id").as("vec_id"), col("embedding"))
          .localCheckpoint(),
        k1, k2, 15, 1e-4)
    } else {
      // Small samples clamp like [[trainCoarseFrom]]: k1 to the row count,
      // and an empty sample is one origin cell with one origin child.
      val local = collectSample(sample)
      if (local.isEmpty)
        graft.functions.KMeansTrainer.Trained2(originModel, IndexedSeq(originModel), k2, 0)
      else graft.functions.KMeansTrainer.trainTwoLevelLocal(
        local, math.min(k1, local.size), k2, 15, 1e-4)
    }

  /** A two-level cross-modal quantizer over `docs`' IMAGE vectors: k1 × k2
    * from [[crossModalFineK]] of the docs' count, trained on the same
    * pre-decode sample recipe as [[trainCoarseModel]] at 32 docs per FINE
    * centroid. */
  private def trainFineModel(
      t: graft.Tables,
      docs: org.apache.spark.sql.DataFrame): graft.functions.KMeansTrainer.Trained2 = {
    val (k1, k2) = crossModalFineK(docs.count())
    val sampleLimit = math.max(256L, 32L * k1 * k2)
    trainFineFrom(embedSlice(t, image, docs.filter(col("doc_id") < sampleLimit)), k1, k2)
  }

  /** The cross-modal family's OWN trained quantizer (round-13 advice): a
    * two-level model over the image-feature space with k ∝ N fine cells of
    * ~[[CrossModalFineCell]] expected size, replacing the flat k = √N
    * one-shot image model in q220/q231's blocking ([[trainFineModel]] over
    * the corpus — the sample is ⌈N/8⌉-sized, so it always trains
    * distributed at scale: F ≥ 128 ⇔ N ≥ 32 k docs). Memoized per
    * (session, dir). */
  private[graft] def crossModalFineModel(
      t: graft.Tables): graft.functions.KMeansTrainer.Trained2 =
    Artifacts.get(t, "xmfine")(trainFineModel(t, t.documents))


  /** The 256-bit cross-modal sketch columns over an `embedding` column. */
  private def crossModalSigCols: Seq[org.apache.spark.sql.Column] =
    crossModalPlaneSets.zipWithIndex.map { case (ps, h) =>
      graft.functions.HyperplaneSignature(col("embedding"), ps, 64).as(s"sig$h") }

  /** Pack a flat (img_id, bucket, sig0..sig3, embedding) cross-modal index
    * into ONE row per coarse bucket — ids ascending, signatures id-major in
    * one long array, embeddings id-major in one float array —
    * [[graft.functions.HammingCosineTop1]]'s operand layout. The probe join
    * then matches k ≈ √N bucket rows instead of N index rows, the
    * Σ|q_b|·|i_b| Hamming population is evaluated as a primitive array loop
    * INSIDE one projection instead of as join-row conditions, and the
    * admitted entries are cosine-scored in place so NOTHING pair-scale ever
    * leaves the scan (the shortlist intermediate still fed 23.3 M rows at
    * sf10x into two embedding fetch joins — measured as ~8.4 s of the 13 s
    * warm). The higher-order projections here run interpreted, but once
    * per INDEX BUILD (O(N)), not per probed pair (O(N^1.5)). Row cost:
    * 8 B id + 32 B signature + 4·dim B embedding ≈ 296 B/entry at dim 64 —
    * the embeddings move from a per-query fetch join into the standing
    * artifact, exactly where a production IVF index keeps them. */
  private[graft] def packXModal(
      flat: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    flat.groupBy("bucket")
      .agg(sort_array(collect_list(struct(
        col("img_id"), col("sig0"), col("sig1"), col("sig2"), col("sig3"),
        col("embedding")))).as("es"))
      .select(col("bucket"),
        transform(col("es"), e => e.getField("img_id")).as("ids"),
        flatten(transform(col("es"), e => array(
          e.getField("sig0"), e.getField("sig1"), e.getField("sig2"),
          e.getField("sig3")))).as("sigs"),
        flatten(transform(col("es"), e => e.getField("embedding"))).as("embs"))

  /** q220's IMAGE-side flat index rows: (img_id, bucket, 4-long sketch,
    * embedding) under the cross-modal FINE model — the [[nearDupIndexOf]]
    * discipline at the cross-modal operating point (256-bit sketch,
    * [[crossModalPlaneSets]]), with `bucket` a k ∝ N fine cell id
    * ([[crossModalFineModel]]) so the probe-side pair population is linear
    * in the corpus. Assignment plus four signature passes are
    * O(N·√F·dim) map-only work. */
  private[graft] def crossModalImageFlat(t: graft.Tables): org.apache.spark.sql.DataFrame = {
    import graft.functions.KMeansTrainer
    embeddingsOf(t, image).select(col("doc_id").as("img_id") +:
      KMeansTrainer.fineBucket(col("embedding"), crossModalFineModel(t))
        .as("bucket") +: (crossModalSigCols :+ col("embedding")): _*)
  }

  /** q220's standing IMAGE-side retrieval index in PACKED per-bucket form
    * ([[packXModal]]). Memoized per (session, dir): a retrieval system
    * maintains this index next to the vectors rather than re-bucketing the
    * corpus per query batch — and at rest it is exactly the frame q231
    * stores bucketed by `bucket`. */
  /** Memoize a standing scan-side frame CACHED instead of checkpointed:
    * InMemoryRelation PRESERVES the child plan's outputPartitioning where
    * a localCheckpoint read (ExistingRDD) reports none — so a frame
    * materialized behind its bucket exchange serves every subsequent
    * candidate join EXCHANGE-FREE (measured at sf100x: the per-run
    * re-shuffle of the 16-probe query frame was ~24 GB — the dominant
    * term of q220's warm pass once the scan itself went linear). The
    * count() forces the one-time build (decode, assignment, signatures)
    * exactly like the eager checkpoint did. */
  private def cacheStanding(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val out = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    out
  }

  /** [[cacheStanding]] over a bucketed TABLE scan, forcing the bucketed
    * read while the cache materializes: planned STANDALONE, the
    * auto-bucketed-scan heuristic sees no join that needs the bucketing,
    * reads plain file splits, and the InMemoryRelation then preserves
    * UnknownPartitioning — measured as 6 bucket exchanges in the served
    * decision instead of 0 (q184's compaction-write lesson applied to
    * the cache-fill read). */
  private def cacheStandingBucketed(
      spark: org.apache.spark.sql.SparkSession,
      tbl: String): org.apache.spark.sql.DataFrame = {
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      cacheStanding(spark.table(tbl))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private[graft] def crossModalImageIndex(t: graft.Tables): org.apache.spark.sql.DataFrame =
    Artifacts.get(t, "xmimgidx")({
      // LIVE-form reuse (round 16): when q231's at-rest packed index is
      // present AND source-fingerprint-fresh, a live session reads it
      // instead of re-paying model-train + assign + sign + pack — no
      // serve-flag dance; the fingerprint stamp is what makes reuse safe
      // on fixture dirs regenerated in place. The bucketed scan reports
      // hashpartitioning(bucket), same distribution the build would have.
      val width = t.spark.sessionState.conf.numShufflePartitions
      val idxTbl = layoutName("xmidx", t.dir, width)
      if (graft.sources.LayoutWriter.registerIfFresh(
          t.spark, idxTbl, Seq("bucket"), width, Some(t.dir)))
        cacheStanding(t.spark.table(idxTbl))
      else
        // packXModal's groupBy already leaves the frame hashpartitioned by
        // `bucket` at shuffle width — cached, that partitioning serves the
        // shuffled-hash join's build side with no per-run exchange.
        cacheStanding(packXModal(crossModalImageFlat(t)))
    })

  /** q220's AUDIO-side probe frame: (qid, probed bucket, 4-long sketch),
    * one row per (query, probe) — the query corpus' multi-probe FINE cell
    * lists under the cross-modal two-level model ([[CrossModalL1Probes]]
    * L1 cells fanned out to [[CrossModalFineProbes]] fine probes, ≤ nprobe·cell
    * candidate entries per query). Memoized per (session, dir): this audit's
    * query set is itself a standing corpus (a batch cross-modal join
    * precomputes both sides' assignments), and the probe selection is the
    * same O(N·k·dim) term as the index side. */
  private[graft] def crossModalAudioProbes(t: graft.Tables): org.apache.spark.sql.DataFrame = {
    // LIVE-form reuse (round 16, the index's twin): a fresh at-rest
    // normalized probe table means the probe lists are already
    // materialized — the session joins them with the decode-once audio
    // checkpoint ([[servedProbesFrom]] — one shared standing frame with
    // q231/q232) and never consults the fine model. The DECISION is its
    // own artifact (round 17): Verify runs queries 4-way concurrent, and
    // an unmemoized built-then-get let two first callers race onto
    // DIFFERENT branches, leaving two standing MEMORY_AND_DISK frames for
    // one dir.
    // A session frame already BUILT wins over the table (don't pay a
    // second standing frame mid-session once q231 writes the layout).
    val width = t.spark.sessionState.conf.numShufflePartitions
    val prbTbl = layoutName("xmqprobes", t.dir, width)
    val useServed = Artifacts.get(t, "xmaudprobes#src")({
      !Artifacts.built(t, "xmaudprobes") &&
        graft.sources.LayoutWriter.registerIfFresh(
          t.spark, prbTbl, Seq("qid"), width, Some(t.dir))
    })
    if (useServed)
      servedProbesFrom(t, t.spark.table(prbTbl), embeddingsOf(t, audio))
    else Artifacts.get(t, "xmaudprobes")({
      import graft.functions.KMeansTrainer
      cacheStanding(
        embeddingsOf(t, audio).select(col("doc_id").as("qid") +:
          explode(KMeansTrainer.fineProbeBuckets(
            col("embedding"), crossModalFineModel(t),
            CrossModalL1Probes, CrossModalFineProbes))
            .as("bucket") +: (crossModalSigCols :+ col("embedding").as("qemb")): _*)
          .repartition(
            t.spark.sessionState.conf.numShufflePartitions, col("bucket")))
    })
  }

  /** Retrieval top-1 of a multi-probe query frame against a PACKED
    * cross-modal image index — the kernel shared by the one-shot audit
    * (q220), the incremental form (q224) and the at-rest serve (q231).
    * `probes` is one row per (query, probed bucket) with the query's 4-long
    * sketch AND its embedding; `idx` is [[packXModal]]'s (bucket, ids,
    * sigs, embs). Returns (doc_id, top_img, top_cos).
    *
    * Scale shape (the round-13 `weak`, fixed in two measured steps): the
    * r13 flat pair join evaluated probes·N·n_c Hamming CONDITIONS as join
    * rows (N^1.5 under k = √N) and admitted a pair-scale candidate set
    * (~7×10⁸ rows at sf100x) into embedding fetch joins. A packed-array
    * Hamming scan made candidate FORMATION cheap (3.04 G evals in 2.4 s at
    * sf10x) but the admitted population (23.3 M rows at sf10x) still paid
    * two fetch joins + a pair-scale top-1 (~8.4 s of 13 s warm). The fused
    * [[graft.functions.HammingCosineTop1]] scores admitted entries with
    * exact rounded cosine INSIDE the scan and emits ONE (img_id, cos)
    * struct per (query, probe): nothing pair-scale ever leaves the
    * projection, the per-query top-1 is an 8-row aggregation, and the
    * semantics are exactly the slack-only rule (no shortlist eviction
    * tail). The arithmetic term probes·N·n_c remains — the price of k = √N
    * blocking — but as 4 XOR+POPCNT per entry it saturates compute orders
    * later than the join-row form. */
  private def crossModalTop1(
      t: graft.Tables,
      probes: org.apache.spark.sql.DataFrame,
      idx: org.apache.spark.sql.DataFrame,
      prePartitioned: Boolean = false): org.apache.spark.sql.DataFrame = {
    import graft.functions.HammingCosineTop1
    // Pin the probe side's width explicitly: the per-row payload is small
    // (a qid, a bucket, four longs, one dim-float vector) but each joined
    // row scans a whole bucket's packed arrays — AQE coalesces by BYTES
    // and measured it down to 4 partitions at sf1x, serializing the
    // Hamming+cosine compute onto 4 cores. `prePartitioned` callers
    // already satisfy the distribution WITHOUT a per-run exchange: the
    // at-rest tables (q231/q232) report hashpartitioning(bucket) from
    // their bucketing, and the live memoized frames are CACHED behind
    // their bucket exchange ([[cacheStanding]] — InMemoryRelation
    // preserves outputPartitioning where a checkpoint read reports none;
    // the per-run re-shuffle it replaces measured ~24 GB at sf100x).
    // Only per-delta frames (q224's nightly batch) still repartition here.
    val qry = if (prePartitioned) probes else probes
      .repartition(t.spark.sessionState.conf.numShufflePartitions, col("bucket"))
    // The packed index joins as SHUFFLED HASH build side: k ≈ √N rows —
    // hash-partitioned by bucket it is exchange-light at any scale, where
    // a broadcast would ship the WHOLE index (~300·N bytes) to every
    // executor. No distinct: an image has exactly ONE assigned bucket and
    // probe lists are distinct, so a (query, image) pair forms at most
    // once across the fan-out.
    val perProbe = qry
      .join(idx.hint("shuffle_hash"), Seq("bucket"))
      .select(col("qid"), HammingCosineTop1(
        col("ids"), col("sigs"), col("embs"),
        array(col("sig0"), col("sig1"), col("sig2"), col("sig3")),
        col("qemb"),
        crossModalPlaneSets.length, CrossModalHammingSlack, 64).as("tc"))
      .filter(col("tc").isNotNull)
    // Deterministic global top-1 over ≤ CrossModalFineProbes rows per query:
    // lexicographic max of (cos, -img_id) = highest rounded cosine, then
    // SMALLEST image id — the same rule the kernel applies within a bucket.
    perProbe
      .groupBy("qid")
      .agg(max(struct(col("tc.cos").as("cos"),
        (-col("tc.img_id")).as("neg_id"))).as("m"))
      .select(col("qid").as("doc_id"),
        (-col("m.neg_id")).as("top_img"), col("m.cos").as("top_cos"))
  }

  /** q220's audit body over an arbitrary (probe frame, packed index) pair —
    * shared VERBATIM by the live form (q220, session-built frames) and the
    * at-rest serve (q231, bucketed tables), so the serve tail cannot drift
    * from the live one (q230's discipline in vector space). */
  private[graft] def crossModalAuditFrom(
      t: graft.Tables,
      probes: org.apache.spark.sql.DataFrame,
      idx: org.apache.spark.sql.DataFrame,
      prePartitioned: Boolean): org.apache.spark.sql.DataFrame =
    crossModalAuditFrom(t, probes, idx, prePartitioned,
      embeddingsOf(t, image), embeddingsOf(t, audio))

  /** [[crossModalAuditFrom]] with the ALIGNMENT sides injectable: the live
    * forms pass the session's decode-once checkpoints; q232 passes the
    * at-rest (doc_id, embedding) tables so a serve session's alignment
    * join runs off storage — same tail, zero decode. */
  private[graft] def crossModalAuditFrom(
      t: graft.Tables,
      probes: org.apache.spark.sql.DataFrame,
      idx: org.apache.spark.sql.DataFrame,
      prePartitioned: Boolean,
      img: org.apache.spark.sql.DataFrame,
      aud: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.functions.CosineSimilarity

    val aligned = img.select(col("doc_id"), col("embedding").as("ei"))
      .join(aud.select(col("doc_id"), col("embedding").as("ea")), Seq("doc_id"))
      .select(col("doc_id"),
        round4(CosineSimilarity(col("ei"), col("ea"))).as("align"))

    val top1 = crossModalTop1(t, probes, idx, prePartitioned)

    orderedByAll(
      aligned
        .join(top1, Seq("doc_id"), "left")
        .join(t.documents.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("align") >= CrossModalAlignT, 1L).otherwise(0L))
            .as("n_aligned"),
          sum(when(col("top_img") === col("doc_id"), 1L).otherwise(0L))
            .as("n_top1_self"),
          sum(when(col("top_img").isNotNull && col("top_img") =!= col("doc_id") &&
            col("top_cos") >= CrossModalAlignT, 1L).otherwise(0L))
            .as("n_top1_dup"),
          sum(when(col("top_img").isNull ||
            (col("top_img") =!= col("doc_id") &&
              col("top_cos") < CrossModalAlignT), 1L).otherwise(0L))
            .as("n_miss")))
  }

  /** CROSS-MODAL alignment + retrieval audit — the text↔image↔audio
    * pairing that goes BEYOND doc_id identity (the last multimodal corner:
    * q218/q219 dedup within a modality; production multimodal curation
    * also needs the CLIP/LAION-style check that a doc's modalities agree
    * with EACH OTHER, and the content-based cross-modal join that finds a
    * match without an id bridge). Two parts, both served from the memoized
    * per-modality decode checkpoints (zero new decode passes — the frames
    * are shared with q218/q219):
    *
    *   1. ALIGNMENT (the LAION filter shape): one id-keyed join of the two
    *      modality frames, exact cosine per pair, counted against
    *      [[CrossModalAlignT]] — at 100 TB this is the per-pair
    *      keep/drop signal a multimodal corpus is filtered on.
    *   2. RETRIEVAL (the beyond-id join): every audio vector queries the
    *      IMAGE corpus by content — trained two-level k ∝ N fine blocks
    *      ([[crossModalFineModel]]'s quantizer, index-side single fine
    *      assignment, query-side [[CrossModalFineProbes]]-probe fan-out —
    *      measured knee of the recall/candidate-volume curve), the 256-bit
    *      sign-sketch Hamming scan fused into one packed-array kernel
    *      ([[graft.functions.HammingShortlist]] at
    *      [[CrossModalHammingSlack]], top-[[CrossModalShortlistM]] per
    *      probe — candidates carry ids and longs, never vectors, and the
    *      verify volume is linear in the corpus),
    *      exact cosine on candidate ids only, top-1 by (cos desc, id asc).
    *      The audit counts, per source: queries whose top-1 is their own
    *      doc (`n_top1_self`), queries resolved to a DIFFERENT doc at
    *      aligned cosine — a canonical-prefix near-dup found across
    *      modalities (`n_top1_dup`), and honest misses (`n_miss`:
    *      blocking/prefilter loss or sub-threshold top-1 — q210's
    *      audit-not-assume discipline; the spec pins the measured floor).
    *
    * Output is COUNTS only (the .xxxx5 rounding-boundary rule: a float
    * avg would be sum-order-dependent; the threshold comparison rides
    * round4 like every cosine gate in this family). No SQL oracle (codec +
    * trained quantizer); CrossModalSpec pins planted-corpus outcomes
    * (self-retrieval, prefix-dup ties resolving min-id, miss accounting),
    * admissibility of the slack at the matched-pair operating point, the
    * decode-once plan, and the no-cartesian plan. */
  val q220 = EngineQuery("q220_crossmodal_align", None) { t =>
    // prePartitioned: the memoized probe frame is cached BEHIND its bucket
    // exchange ([[cacheStanding]]), so every run's candidate join is
    // exchange-free on both sides — the live form now has the same
    // serving shape as the at-rest one (q231).
    crossModalAuditFrom(t, crossModalAudioProbes(t), crossModalImageIndex(t),
      prePartitioned = true)
  }

  /** The NORMALIZED at-rest form of the probe frame: ONE row per query —
    * (qid, buckets array<int>, sig0..3) — with NO embedding column. The
    * r15 build pass stored the exploded per-(query, probe) frame with the
    * query vector duplicated onto every probe row (nprobe·(300 B) per
    * query ≈ 24 GB at sf100x — most of q232's serve cold was scanning
    * it); normalized, the standing artifact is ~100 B/query (~0.5 GB at
    * sf100x, 50×) and carries only index state — vectors stay in the ONE
    * place vectors live (the modality embedding tables / session decode
    * checkpoints), the q146-codebook discipline applied to query state.
    * Map-only: one [[graft.functions.NearestCentroids]] pass plus
    * the four signature columns. */
  private[graft] def crossModalAudioProbesPacked(
      t: graft.Tables): org.apache.spark.sql.DataFrame = {
    import graft.functions.KMeansTrainer
    embeddingsOf(t, audio).select(col("doc_id").as("qid") +:
      KMeansTrainer.fineProbeBuckets(
        col("embedding"), crossModalFineModel(t),
        CrossModalL1Probes, CrossModalFineProbes).as("buckets") +:
      crossModalSigCols: _*)
  }

  /** Materialize the SERVED per-probe frame from the packed table and a
    * (doc_id, embedding) vector source: join the vectors back ONCE per
    * query row (exchange-free when both sides are qid/doc_id-bucketed at
    * the same width), explode to per-(query, probe) rows, land behind the
    * bucket exchange in the session cache ([[cacheStanding]]) — after
    * which every run's candidate join is exchange-free, identical to the
    * live form's shape. The nprobe× vector duplication now exists only in
    * session cache (the kernel's operand shape), never at rest.
    *
    * ONE cache entry per (session, dir), shared by q231 and q232: their
    * vector sources are row-equal by construction (the at-rest embedding
    * table is a lossless round-trip of the session checkpoint —
    * CrossModalEmbLayoutSpec pins it), so the served frames are
    * content-identical and a session running both would otherwise pay the
    * explode + bucket shuffle and the MEMORY_AND_DISK footprint twice.
    * First requester builds (q231 passes the session checkpoint, q232 the
    * at-rest table); the other reuses. [[dropServedProbes]] evicts +
    * unpersists when a caller must force a rebuild from a specific
    * source. */
  /** Whether the session stores the EXPLODED serving operand at rest
    * (`SPARK_GRAFT_PROBE_SNAPSHOT=1` / `-Dspark.graft.probeSnapshot=1`) —
    * the storage/rematerialization policy dial the r15 measurement pair
    * left implicit. Default OFF = the normalized probe table is the only
    * at-rest artifact (~100 B/query — vectors live once, in the embedding
    * tables) and a serve session pays one join + explode + bucket shuffle
    * to materialize the scan operand into cache (243 s serve cold at
    * sf100x, warm equal). ON = the exploded per-(query, probe) frame —
    * qemb duplicated nprobe× — is ALSO written as a bucket-bucketed
    * serving snapshot, and the session cache fills from a pure bucketed
    * scan: no join, no shuffle (78.6 s serve cold at sf100x, 15 GB vs
    * 4 GB warehouse). Flip it when a deployment's re-materialization
    * frequency dominates its storage cost. */
  private[graft] def probeSnapshotEnabled: Boolean =
    graft.sources.LayoutWriter.onOffFlag(
      "SPARK_GRAFT_PROBE_SNAPSHOT", "spark.graft.probeSnapshot")

  /** Cache key for the shared served-probe frame. The snapshot-policy bit
    * is part of the identity: a session that flips
    * `spark.graft.probeSnapshot` mid-run gets a FRESH frame built under
    * the new policy instead of silently serving the one built under the
    * old policy/source (the specs used to rely on remembering to call
    * [[dropServedProbes]]; now the key enforces it — the drop hook remains
    * the footprint-release / dir-turnover lever). */
  private def servedProbesKey(snap: Boolean): String =
    s"xmsrvprobes#snap=$snap"

  private[graft] def servedProbesFrom(
      t: graft.Tables,
      packed: => org.apache.spark.sql.DataFrame,
      qemb: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Artifacts.get(t, servedProbesKey(probeSnapshotEnabled))({
      def exploded =
        packed.join(qemb.select(col("doc_id").as("qid"),
            col("embedding").as("qemb")), Seq("qid"))
          .select(col("qid"), explode(col("buckets")).as("bucket"),
            col("sig0"), col("sig1"), col("sig2"), col("sig3"), col("qemb"))
      if (probeSnapshotEnabled) {
        // Serving-snapshot policy: the exploded operand lives at rest,
        // bucket-bucketed at shuffle width — the cache fill is a pure
        // storage scan whose bucketing already satisfies the candidate
        // join's distribution (no join, no explode, no shuffle per
        // session).
        val width = t.spark.sessionState.conf.numShufflePartitions
        val tbl = layoutName("xmsrvsnap", t.dir, width)
        graft.sources.LayoutWriter.serveOrWriteBucketed(
          t.spark, exploded, tbl, Seq("bucket"), width, Some(t.dir))
        cacheStanding(t.spark.table(tbl))
      } else cacheStanding(
        exploded.repartition(
          t.spark.sessionState.conf.numShufflePartitions, col("bucket")))
    })

  /** Evict + unpersist the shared served-probe standing frame, releasing
    * its MEMORY_AND_DISK footprint — the dir-turnover / forced-rebuild
    * hook for [[servedProbesFrom]]'s one-entry-per-dir cache. */
  private[graft] def dropServedProbes(t: graft.Tables): Unit =
    Seq(true, false).foreach { snap =>
      Artifacts.forget[org.apache.spark.sql.DataFrame](t, servedProbesKey(snap))
        .foreach(_.unpersist())
    }

  /** SPEC probe: has this session trained the cross-modal fine model?
    * The live-reuse claim ("a table-present live run performs zero model
    * training") is exactly "this stays false across the run". */
  private[graft] def crossModalModelTrained(t: graft.Tables): Boolean =
    Artifacts.built(t, "xmfine")

  /** Evict the cross-modal session artifacts (packed index, probe frames,
    * fine model, layout-table memo) so a spec can force the NEXT q220 run
    * to choose its source fresh — the table-present live-reuse round-trip
    * is untestable inside one session otherwise (every artifact is
    * session-memoized by design). */
  private[graft] def dropCrossModalSession(t: graft.Tables): Unit = {
    Artifacts.forget[org.apache.spark.sql.DataFrame](t, "xmimgidx").foreach(_.unpersist())
    Artifacts.forget[org.apache.spark.sql.DataFrame](t, "xmaudprobes").foreach(_.unpersist())
    // The memoized source decision must fall with the frame it chose —
    // a stale "live" verdict would pin the next session-shaped run off
    // the tables it should now reuse.
    Artifacts.forget(t, "xmaudprobes#src")
    dropServedProbes(t)
    Artifacts.forget(t, "xmfine")
    Artifacts.forget(t, "xmlayout")
  }

  /** q220's retrieval artifacts AT REST: the packed per-bucket image index
    * (bucket, ids, sigs, embs) bucketed by `bucket` — the candidate-join
    * key — AND the NORMALIZED probe frame ([[crossModalAudioProbesPacked]])
    * bucketed by `qid` — the vector-join key — each written once at the
    * session shuffle width under deterministic names ([[layoutName]] —
    * re-runs overwrite, never accumulate). Returns
    * (indexTable, packedProbeTable). */
  private[graft] def crossModalLayoutTables(t: graft.Tables): (String, String) =
    Artifacts.get(t, "xmlayout")({
      val width = t.spark.sessionState.conf.numShufflePartitions
      val idxTbl = layoutName("xmidx", t.dir, width)
      val prbTbl = layoutName("xmqprobes", t.dir, width)
      graft.sources.LayoutWriter.serveOrWriteBucketed(
        t.spark, crossModalImageIndex(t), idxTbl, Seq("bucket"), width, Some(t.dir))
      graft.sources.LayoutWriter.serveOrWriteBucketed(
        t.spark, crossModalAudioProbesPacked(t), prbTbl, Seq("qid"), width, Some(t.dir))
      (idxTbl, prbTbl)
    })

  /** q220's cross-modal audit served from the AT-REST retrieval layout
    * ([[crossModalLayoutTables]]) — the cross-modal member of the
    * stored-artifact family (q144/q145/q146/q228/q230), closing the one
    * per-session rebuild the round-13 audit named: the trained coarse
    * model, bucket assignment, 256-bit signatures and 8-probe lists of
    * BOTH modality frames were session state (at sf100x ~90% of q220's
    * 881 s cold was this one-time build), so a new session re-paid the
    * whole O(N·k·dim) pipeline before its first candidate. Stored, a
    * session materializes the served probe frame once
    * ([[servedProbesFrom]]: qid-bucketed packed probes ⋈ vectors —
    * exchange-free — then explode + one bucket shuffle into the session
    * cache) and every run's candidate join is exchange-free against the
    * bucket-bucketed index table; the model itself is not needed to serve
    * (assignments and probe lists are materialized in the tables). The
    * alignment join and the probe vectors still read the session's
    * decode-once embedding checkpoints (decode ≤ 1/modality/session
    * unchanged; q232 is the fully-at-rest, zero-decode form). Same output
    * as q220 by
    * construction — [[crossModalAuditFrom]] is shared verbatim;
    * CrossModalLayoutSpec pins row-for-row equality, the exchange-free
    * served plan, the build-once memo, and deterministic table naming. No
    * SQL oracle for the same reason q220 has none (real codec + trained
    * quantizer). */
  val q231 = EngineQuery("q231_crossmodal_index_layout", None) { t =>
    val (idxTbl, prbTbl) = crossModalLayoutTables(t)
    // Query vectors come from the session decode checkpoint (q231's
    // alignment reads it anyway); q232 is the fully-at-rest form.
    crossModalAuditFrom(t,
      servedProbesFrom(t, t.spark.table(prbTbl), embeddingsOf(t, audio)),
      t.spark.table(idxTbl), prePartitioned = true)
  }

  /** A modality's DECODED-EMBEDDING table at rest: the (doc_id, embedding)
    * frame written once as a doc_id-bucketed, doc_id-sorted table at
    * shuffle width under a deterministic name. The r14 serve sweep named
    * decode as the serve path's last linear per-session term (q231's serve
    * kills train+assign+sign+pack but still decodes both modalities for
    * the ALIGNMENT join — most of its 418 s sf100x serve cold; q228's
    * serve likewise decodes for the exact-cosine verify); stored, a serve
    * session touches no media bytes at all. Bucketed by doc_id so every
    * id-keyed consumer — the alignment join (img ⋈ aud), the candidate
    * verify fetch — runs exchange-free on the embedding side. At 100 TB
    * this is exactly the "vector column next to the corpus" a production
    * pipeline maintains instead of re-running its encoders per session. */
  private[graft] def embTableOf(t: graft.Tables, m: Modality): String =
    standingTable(t, s"${m.short}emb", "embtbl", Seq("doc_id"))(embeddingsOf(t, m))

  /** [[embTableOf]] of the image and audio modalities — q232's alignment
    * sides; the image table doubles as q228's serve-side verify source. */
  private[graft] def crossModalEmbTables(t: graft.Tables): (String, String) =
    (embTableOf(t, image), embTableOf(t, audio))

  /** q220's audit served ENTIRELY from at-rest artifacts — the zero-decode
    * session: retrieval from q231's packed index + probe tables, alignment
    * from [[crossModalEmbTables]]' doc_id-bucketed embedding tables. The
    * only corpus read left is documents' (doc_id, source) projection for
    * the per-source rollup — two pruned columns, no text, no media decode.
    * With SPARK_GRAFT_SERVE_LAYOUTS=1 and the tables on disk from a
    * previous session, a session answers the cross-modal audit having
    * decoded NOTHING and trained NOTHING (CrossModalEmbLayoutSpec pins
    * row-for-row equality with q220, lossless embedding round-trips, the
    * exchange-free alignment join, and the zero-decode served plan). Same
    * audit tail as q220/q231 — [[crossModalAuditFrom]] shared verbatim.
    * No SQL oracle for q220's reason (codec + trained quantizer). */
  val q232 = EngineQuery("q232_crossmodal_emb_layout", None) { t =>
    val (idxTbl, prbTbl) = crossModalLayoutTables(t)
    val (imgTbl, audTbl) = crossModalEmbTables(t)
    // Fully at rest: query vectors join back from the audemb TABLE (both
    // sides qid/doc_id-bucketed — exchange-free), so the serve session
    // reads storage only. The served-probe frame is the SHARED one-per-dir
    // standing cache (content-identical to q231's — sources pinned
    // row-equal); a session that ran q231 first reuses its frame, which
    // costs no extra decode (q231's alignment already paid it).
    crossModalAuditFrom(t,
      servedProbesFrom(t, t.spark.table(prbTbl),
        t.spark.table(audTbl)),
      t.spark.table(idxTbl), prePartitioned = true,
      img = t.spark.table(imgTbl), aud = t.spark.table(audTbl))
  }

  /** q224's standing STORE-side retrieval index: (img_id, bucket, 4-long
    * sketch) for store docs (doc_id % 10 ≠ 0) under the FROZEN store-trained
    * quantizer ([[crossModalStoreFineModel]] — the incremental family never
    * retrains per delta, because retraining re-buckets the standing index).
    * This is [[crossModalImageIndex]]'s incremental twin: built once,
    * checkpointed in [[packXModal]]'s per-bucket packed form, maintained
    * next to the vectors (at 100 TB a bucket-partitioned layout, q94's
    * convention). */
  private[graft] def crossModalStoreIndex(t: graft.Tables): org.apache.spark.sql.DataFrame =
    Artifacts.get(t, "xmstoreidx")({
      import graft.functions.KMeansTrainer
      val m2 = crossModalStoreFineModel(t)
      cacheStanding(packXModal(
        embeddingsOf(t, image).filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id").as("img_id") +:
            KMeansTrainer.fineBucket(col("embedding"), m2).as("bucket") +:
            (crossModalSigCols :+ col("embedding")): _*)))
    })

  /** The FROZEN store-trained two-level quantizer of q224's cross-modal
    * retrieval — [[crossModalFineModel]]'s incremental twin, trained on
    * STORE docs only (doc_id % 10 ≠ 0, the [[incrementalModelOf]]
    * discipline: never retrained per delta, because retraining re-buckets
    * the standing index) and sized k ∝ store size. Memoized per
    * (session, dir). */
  private[graft] def crossModalStoreFineModel(
      t: graft.Tables): graft.functions.KMeansTrainer.Trained2 =
    Artifacts.get(t, "xmstorefine")(
      trainFineModel(t, t.documents.filter(col("doc_id") % 10 =!= 0)))

  /** Tonight's batch as a cross-modal probe frame under the frozen store
    * model: (qid, probed bucket, 4-long sketch, query embedding), one row
    * per (query, probe). Delta-sized map-only work — deliberately NOT
    * memoized: computing this per arrival IS the incremental query's
    * per-night cost. */
  private[graft] def crossModalBatchProbes(t: graft.Tables): org.apache.spark.sql.DataFrame = {
    import graft.functions.KMeansTrainer
    val m2 = crossModalStoreFineModel(t)
    embeddingsOf(t, audio).filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("qid") +:
        explode(KMeansTrainer.fineProbeBuckets(
          col("embedding"), m2, CrossModalL1Probes, CrossModalFineProbes))
          .as("bucket") +: (crossModalSigCols :+ col("embedding").as("qemb")): _*)
  }

  /** The incremental retrieval's top-1 frame — exposed for
    * CrossModalIncrementalSpec's per-doc parity assertions. */
  private[graft] def crossModalIncrementalTop1(
      t: graft.Tables): org.apache.spark.sql.DataFrame =
    crossModalTop1(t, crossModalBatchProbes(t), crossModalStoreIndex(t))

  /** INCREMENTAL cross-modal retrieval — the nightly form of q220's content
    * join (the q221-of-q220, completing the incremental-twin convention for
    * the cross-modal family): new AUDIO arrivals (doc_id ≡ 0 mod 10, the
    * ingest split) query the FROZEN store-side image index by content —
    * store-trained two-level k ∝ N fine blocks
    * ([[crossModalStoreFineModel]], query-side
    * [[CrossModalL1Probes]]/[[CrossModalFineProbes]] fan-out), the fused
    * 256-bit packed-array Hamming + exact-cosine scan
    * ([[graft.functions.HammingCosineTop1]]), deterministic
    * (cos desc, id asc) top-1.
    * The batch's own images are NOT in the index, so a match is a genuine
    * cross-doc, cross-modal resolution: the arrival's audio found a store
    * doc whose image shares its canonical prefix — the content-level
    * store-dup signal a multimodal ingest gates on (q221 gives the same
    * signal within a modality; this is the across-modality form). Per-night
    * work is delta-sized beyond the standing index: probe assignment is
    * map-only over the batch, the candidate join carries ids + four longs
    * per side, and the store is never re-bucketed or re-signed. No
    * continuous (q222-style) form exists BY DESIGN: arrivals query the
    * store independently and never join each other, so slicing the batch
    * cannot change any decision — there is no sequential state to maintain.
    * Output: per source, batch arrivals, content-matched (top-1 ≥ the
    * alignment threshold), honest misses (blocking/sketch loss or
    * sub-threshold top-1 — q210's audit-not-assume discipline). No SQL
    * oracle (codec + trained quantizer); CrossModalIncrementalSpec pins
    * full audit parity vs a single-node mirror on planted and real corpora,
    * planted match/miss outcomes, accounting, the decode-once plan, and the
    * no-cartesian plan. */
  val q224 = EngineQuery("q224_crossmodal_incremental", None) { t =>
    val batch = embeddingsOf(t, audio).filter(col("doc_id") % 10 === 0)
      .select("doc_id")
    orderedByAll(
      batch
        .join(crossModalIncrementalTop1(t), Seq("doc_id"), "left")
        .join(t.documents.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_batch"),
          sum(when(col("top_img").isNotNull &&
            col("top_cos") >= CrossModalAlignT, 1L).otherwise(0L)).as("n_matched"),
          sum(when(col("top_img").isNull ||
            col("top_cos") < CrossModalAlignT, 1L).otherwise(0L)).as("n_miss")))
  }

  /** A modality's frozen STORE-side ledger at rest, PACKED: [[packIngest]]
    * of the store's (doc_id, bucket, sig, embedding) rows — one row per
    * coarse bucket (ids ascending, id-major sig words, id-major vectors,
    * [[graft.functions.HammingCosineReject]]'s operand layout) as a
    * bucket-bucketed table. The standing artifact the fused nightly
    * decision scans; persisting the VECTORS inside it is q231's
    * convention (they live where a production IVF index keeps them), so a
    * serve session re-pays neither decode + train + assign NOR the
    * store-scale pack. */
  private[graft] def storePackTableOf(t: graft.Tables, m: Modality): String =
    standingTable(t, s"${m.tag}storepack", "layout", Seq("bucket"))(storePackedOf(t, m))

  /** Tonight's batch under the frozen model, AT REST: the batch's
    * (doc_id, bucket, sig, embedding) probe rows bucket-bucketed like the
    * packed store ledger, so the served decision's ledger scan joins
    * exchange-free and the batch-internal pack groups without a shuffle.
    * In production the nightly delta is freshly decoded by nature — this
    * table is the ingest ledger's own maintained artifact (the rows
    * q222's ledger appends, plus the vector column the corpus maintains
    * anyway), which is exactly what a serve session replays the audit
    * from without touching media bytes. */
  private[graft] def batchProbeTableOf(t: graft.Tables, m: Modality): String =
    standingTable(t, s"${m.tag}batchprb", "layout", Seq("bucket"))(batchFlatOf(t, m))

  /** Provenance of one nightly fold of admitted arrivals into the packed
    * at-rest store ledger: which hash files the fold rewrote vs left in
    * place — the evidence MediaLedgerFoldSpec uses to prove the append
    * touched only delta-resident files. */
  private[graft] final case class LedgerFoldStats(
      table: String, touchedHashFiles: Int, keptFiles: Int)

  /** MAINTENANCE close of the nightly ingest cycle — the q181→q184 append
    * discipline applied to the PACKED vector ledger: fold night N's
    * ADMITTED arrivals into [[storePackTableOf]] so night N+1's decisions
    * scan a maintained table instead of re-paying the store-scale pack
    * (before this, the ledger was build-only: admitted arrivals never
    * landed in the table the next night scans).
    *
    * File surgery at hash-bucket granularity: a coarse bucket lives in
    * exactly the bucketed part file `pmod(murmur3(bucket), width)` (the
    * identity Spark's bucket pruning relies on; bucket ids ride in the
    * part-file names), so the fold READS only the files whose hash bucket
    * holds a touched coarse bucket, merges id-asc at the array level
    * ([[foldPacked]] — batch ids interleave with store ids, a true sorted
    * merge), APPENDS the merged rows as fresh bucket-aligned files and
    * only then deletes the superseded ones. Untouched files are never
    * opened, never rewritten — byte-identical, spec-pinned. Work is
    * bounded by the admitted delta plus the content of its hash files,
    * never the ledger.
    *
    * The fold restamps the freshness marker (the maintained ledger IS the
    * current artifact — without the restamp the next [[registerIfFresh]]
    * would refuse the very table the fold brought up to date) and DROPS
    * the session's cached packed frame, which would otherwise keep
    * serving the pre-fold ledger (the drop-hook discipline). */
  private[graft] def foldAdmittedIntoStorePack(
      t: graft.Tables, m: Modality,
      admittedIds: org.apache.spark.sql.DataFrame): LedgerFoldStats = {
    val admittedFlat = batchFlatOf(t, m)
      .join(admittedIds, Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val tbl = storePackTableOf(t, m)
    val stats = foldFlatIntoPackedTable(t.spark, tbl,
      t.spark.sessionState.conf.numShufflePartitions, admittedFlat)
    graft.sources.LayoutWriter.restamp(t.spark, tbl, Seq("bucket"), t.dir)
    Artifacts.forget[org.apache.spark.sql.DataFrame](t, s"${m.tag}storepack")
      .foreach(_.unpersist())
    stats
  }

  /** The file-surgery fold itself, over ANY packed bucketed table —
    * shared by the serving ledger's maintenance ([[foldAdmittedIntoStorePack]],
    * which adds the restamp + cache eviction) and the q233 audit's private
    * copy, so the two cannot drift. */
  private[graft] def foldFlatIntoPackedTable(
      spark: org.apache.spark.sql.SparkSession, tbl: String, width: Int,
      deltaFlat: org.apache.spark.sql.DataFrame): LedgerFoldStats = {
    val touched = deltaFlat
      .select(pmod(hash(col("bucket")), lit(width)).cast("int").as("hb"))
      .distinct().collect().map(_.getInt(0)).toSet
    val all = spark.table(tbl).inputFiles
    def hbOf(path: String): Int =
      "_(\\d{5})".r.findFirstMatchIn(path.split('/').last)
        .fold(-1)(_.group(1).toInt)
    val (oldFiles, kept) = all.partition(f => touched(hbOf(f)))
    if (touched.isEmpty) return LedgerFoldStats(tbl, 0, all.length)
    val merged = foldPacked(
      spark.read.schema(spark.table(tbl).schema)
        .parquet(oldFiles.toIndexedSeq: _*),
      deltaFlat)
    // Append-then-delete: the new generation lands next to the kept files
    // before the superseded ones go — a failure in between leaves
    // duplicates a rebuild clears, never missing rows.
    graft.sources.LayoutWriter.writeBucketed(
      merged, tbl, Seq("bucket"), width, "append")
    val conf = spark.sparkContext.hadoopConfiguration
    oldFiles.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).delete(p, false)
    }
    LedgerFoldStats(tbl, oldFiles.length, kept.length)
  }

  /** Evict a modality's ingest-session artifacts — the corpus decode
    * checkpoint, the frozen model, the packed/flat frames — WITHOUT
    * touching the at-rest tables: the "fresh session against a standing
    * warehouse" simulation ([[dropCrossModalSession]]'s ingest twin), and
    * the dir-turnover eviction hook for long sessions. */
  private[graft] def dropIngestSession(t: graft.Tables, m: Modality): Unit = {
    Artifacts.forget(t, s"${m.tag}emb")
    Artifacts.forget(t, s"${m.tag}batchflat")
    Artifacts.forget(t, s"${m.tag}inc")
    Artifacts.forget[org.apache.spark.sql.DataFrame](t, s"${m.tag}storepack")
      .foreach(_.unpersist())
    Artifacts.forget[org.apache.spark.sql.DataFrame](t, s"${m.tag}batchprbpin")
      .foreach(_.unpersist())
    Artifacts.forget(t, s"${m.tag}storeidx")
    Artifacts.forget(t, s"${m.tag}storepack#layout")
    Artifacts.forget(t, s"${m.tag}batchprb#layout")
  }

  /** Drop a modality's packed-ledger artifacts — table, files, and both
    * session cache entries. The restore hook for specs that FOLD into the
    * shared deterministic table (the suite JVM shares one session), and
    * the dir-turnover eviction for long sessions. */
  private[graft] def dropStorePackArtifacts(t: graft.Tables, m: Modality): Unit = {
    val width = t.spark.sessionState.conf.numShufflePartitions
    Artifacts.forget(t, s"${m.tag}storepack#layout")
    Artifacts.forget[org.apache.spark.sql.DataFrame](t, s"${m.tag}storepack")
      .foreach(_.unpersist())
    graft.sources.LayoutWriter.dropLayout(
      t.spark, layoutName(s"${m.tag}storepack", t.dir, width))
  }

  /** The FROZEN store-trained coarse quantizer for a modality's nightly
    * ingest: trained when the store was built, on STORE docs only
    * (doc_id % 10 ≠ 0 — q90/q125's split convention), and never retrained
    * per delta — production does not retrain a quantizer per nightly
    * batch, because retraining re-buckets the entire standing index.
    * This is [[trainCoarseModel]] over the store, k ∝ √(store size).
    * Memoized per
    * (session, dir, modality). */
  private[graft] def incrementalModelOf(
      t: graft.Tables, m: Modality): graft.functions.KMeansTrainer.Trained =
    Artifacts.get(t, s"${m.tag}inc")(
      trainCoarseModel(t, m, t.documents.filter(col("doc_id") % 10 =!= 0)))

  /** The frozen store-side index of a modality: (doc_id, bucket, sig) for
    * every store doc under the store-trained model — the standing artifact
    * a nightly ingest joins against (the vector-space member of the
    * q125-postings / q183-minhash incremental-index family). Derived from
    * the session's decode-once embedding checkpoint and itself
    * checkpointed, so a served incremental plan reads it as ExistingRDD
    * and recomputes nothing corpus-scale. At 100 TB this artifact is a
    * bucket-partitioned layout on disk (q94's bucketed-join convention) so
    * the nightly candidate join co-locates; 20-byte rows — never vectors
    * or media bytes. */
  private[graft] def storeIndexOf(
      t: graft.Tables, m: Modality): org.apache.spark.sql.DataFrame =
    Artifacts.get(t, s"${m.tag}storeidx")(
      storeFlatOf(t, m).drop("embedding").localCheckpoint())

  /** Assignment projection shared by both ingest sides: (doc_id, bucket,
    * sig, embedding) under the modality's frozen model — map-only over
    * whatever embedding frame feeds it. The EMBEDDING rides along (unlike
    * [[storeIndexOf]] / [[batchAssignedOf]]'s 20-byte rows) because the
    * fused decision scans vectors in place instead of fetching them per
    * candidate. */
  private def assignFlat(
      t: graft.Tables, m: Modality,
      emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.functions.{KMeansTrainer, HyperplaneSignature}
    val km = incrementalModelOf(t, m)
    emb.select(col("doc_id"),
      KMeansTrainer.coarseBucket(col("embedding"), km).as("bucket"),
      HyperplaneSignature(col("embedding"), mediaSignPlanes, 64).as("sig"),
      col("embedding"))
  }

  /** The frozen STORE's flat ingest rows — over the decode-once corpus
    * checkpoint. Only the ledger BUILD paths pay this; a live nightly
    * session with a fingerprint-fresh at-rest ledger never calls it. */
  private[graft] def storeFlatOf(
      t: graft.Tables, m: Modality): org.apache.spark.sql.DataFrame =
    assignFlat(t, m, embeddingsOf(t, m).filter(col("doc_id") % 10 =!= 0))

  /** Tonight's BATCH flat rows, decoded DELTA-ONLY ([[embedSlice]] over
    * the batch docs, never the corpus checkpoint) and
    * checkpointed per (session, dir, modality). This is what makes the
    * live nightly forms' cost arrival-bounded: the batch must decode
    * fresh by nature, but it is delta-sized — and with the store side
    * reading its at-rest packed ledger ([[storePackedOf]]'s reuse
    * branch), NOTHING corpus-scale is decoded, trained or packed on the
    * live path (spec-pinned by MediaIngestReuseSpec). */
  private[graft] def batchFlatOf(
      t: graft.Tables, m: Modality): org.apache.spark.sql.DataFrame =
    Artifacts.get(t, s"${m.tag}batchflat")(
      assignFlat(t, m,
        embedSlice(t, m, t.documents.filter(col("doc_id") % 10 === 0)))
        .localCheckpoint())

  /** Pack flat ingest rows into ONE row per coarse bucket — ids ascending,
    * signatures id-major (one word each), embeddings id-major in one float
    * array — [[graft.functions.HammingCosineReject]]'s operand layout
    * ([[packXModal]]'s shape at the ingest family's operating point).
    * ~272 B/entry at dim 64. The groupBy leaves the frame
    * hashpartitioned by `bucket` at shuffle width, which is exactly the
    * distribution every downstream decision join needs. */
  private[graft] def packIngest(
      flat: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    flat.groupBy("bucket")
      .agg(sort_array(collect_list(struct(
        col("doc_id"), col("sig"), col("embedding")))).as("es"))
      .select(col("bucket"),
        transform(col("es"), e => e.getField("doc_id")).as("ids"),
        transform(col("es"), e => e.getField("sig")).as("sigs"),
        flatten(transform(col("es"), e => e.getField("embedding"))).as("embs"))

  /** Fold flat delta rows into a packed ledger — ONE delta-sized pack
    * shuffle plus ONE co-partitioned full-outer join, merging each touched
    * bucket's parallel arrays id-asc AT THE ARRAY LEVEL (re-zip to entry
    * structs, concat, array_sort on the leading doc_id, unzip) instead of
    * exploding to flat rows and re-paying packIngest's groupBy. Work is
    * bounded by the delta plus the CONTENT of the buckets it lands in —
    * the q184 fold economics on the packed operand; ids interleave
    * arbitrarily (the sort is a true merge), so the same fold serves the
    * continuous ledger (ascending slices) and the nightly at-rest append
    * (batch ids interleaved with store ids). */
  private[graft] def foldPacked(
      ledger: org.apache.spark.sql.DataFrame,
      deltaFlat: org.apache.spark.sql.DataFrame,
      dim: Int = 64): org.apache.spark.sql.DataFrame = {
    val deltaPacked = packIngest(
      deltaFlat.select("doc_id", "bucket", "sig", "embedding"))
      .select(col("bucket"), col("ids").as("dids"),
        col("sigs").as("dsigs"), col("embs").as("dembs"))
    def entries(ids: org.apache.spark.sql.Column, sigs: org.apache.spark.sql.Column,
        embs: org.apache.spark.sql.Column) =
      transform(ids, (id, i) => struct(id.as("doc_id"),
        get(sigs, i).as("sig"),
        slice(embs, i * lit(dim) + lit(1), lit(dim)).as("embedding")))
    val ea = entries(col("ids"), col("sigs"), col("embs"))
    val eb = entries(col("dids"), col("dsigs"), col("dembs"))
    // A full-outer row always has at least one non-null side; the empty
    // slice of the OTHER side stands in for the missing one (same type,
    // zero entries), so untouched ledger buckets and brand-new delta
    // buckets both flow through the one merge projection.
    val merged = array_sort(concat(
      coalesce(ea, slice(eb, 1, 0)), coalesce(eb, slice(ea, 1, 0))))
    ledger.join(deltaPacked, Seq("bucket"), "full_outer")
      .select(col("bucket"), merged.as("es"))
      .select(col("bucket"),
        transform(col("es"), e => e.getField("doc_id")).as("ids"),
        transform(col("es"), e => e.getField("sig")).as("sigs"),
        flatten(transform(col("es"), e => e.getField("embedding"))).as("embs"))
  }

  /** A modality's frozen store ledger in PACKED per-bucket form — the
    * fused decision's scan operand, memoized per (session, dir, modality)
    * and CACHED (not checkpointed) so InMemoryRelation preserves the
    * groupBy's hashpartitioning(bucket) and every nightly run's ledger
    * join is exchange-free ([[cacheStanding]]'s rationale).
    *
    * LIVE-form store reuse (round 17 — the q220/q231 `registerIfFresh`
    * mechanism applied to the ingest family): the store side is
    * YESTERDAY'S data by definition, so when the at-rest packed ledger
    * ([[storePackTableOf]]) is present and source-fingerprint-fresh, a
    * live session scans it instead of re-paying the store's decode +
    * assign + sign + pack — the live nightly cold becomes
    * batch-decode-bound, its irreducible term (the batch is new by
    * nature). No flag dance, zero fixture-gaming risk: staleness refuses
    * via the stamp, and the bucketed scan reports the same
    * hashpartitioning(bucket) the session build would. Absent/stale →
    * the session build, unchanged. */
  private[graft] def storePackedOf(
      t: graft.Tables, m: Modality): org.apache.spark.sql.DataFrame =
    Artifacts.get(t, s"${m.tag}storepack")({
      val width = t.spark.sessionState.conf.numShufflePartitions
      val tbl = layoutName(s"${m.tag}storepack", t.dir, width)
      if (graft.sources.LayoutWriter.registerIfFresh(
          t.spark, tbl, Seq("bucket"), width, Some(t.dir)))
        cacheStandingBucketed(t.spark, tbl)
      else
        cacheStanding(packIngest(storeFlatOf(t, m)))
    })

  /** Batch docs a modality's nightly ingest REJECTS: a batch member with a
    * store neighbor (any — the store is already admitted) or an
    * EARLIER batch member (lower doc_id — q125's earlier-member rule) at
    * exact cosine ≥ [[MediaNearDupT]] inside its frozen-model block.
    *
    * FUSED form (round 16 — the [[crossModalTop1]] lesson applied to the
    * ingest family): the join-row form evaluated ledger ⋈ batch Hamming
    * conditions AS JOIN ROWS — Σ_b |store_b|·|batch_b| rows through the
    * join operator, ~10⁹ condition evaluations at sf100x — then shipped
    * admitted pairs into two embedding fetch joins and a distinct. Now
    * the frozen ledger is scanned PACKED ([[storePackedOf]]) by
    * [[graft.functions.HammingCosineReject]], which runs the identical
    * Hamming-then-exact-round4-cosine rule as a primitive-array loop with
    * early exit and emits ONE boolean per arrival: per-night work beyond
    * the frozen artifacts is the batch's map-only assignment, one
    * delta-scale pack, and the scan — nothing pair-scale ever exists.
    * The store is never re-bucketed, re-signed, or re-decoded. (q222's
    * continuous form keeps the join-row [[ingestStepOf]] — its ledger
    * grows per slice, and MediaStreamSpec's q222 ≡ q221 pin doubles as a
    * cross-implementation check of the fused rule.) */
  private[graft] def incrementalDroppedOf(
      t: graft.Tables, m: Modality): org.apache.spark.sql.DataFrame =
    fusedIngestRejected(t, batchProbeOf(t, m), storePackedOf(t, m))

  /** The nightly batch's probe frame (doc_id, bucket, sig, embedding) —
    * the session's delta-decoded checkpoint ([[batchFlatOf]], feeding both
    * the probe rows and the batch-internal pack) repartitioned by `bucket`
    * at full width — the q220 AQE lesson: each probe row scans a whole
    * packed bucket, so coalescing these byte-tiny partitions serializes
    * the kernel compute. */
  private def batchProbeOf(
      t: graft.Tables, m: Modality): org.apache.spark.sql.DataFrame =
    batchFlatOf(t, m)
      .repartition(
        t.spark.sessionState.conf.numShufflePartitions, col("bucket"))

  /** The fused ingest decision over an arbitrary (probe, packed-ledger)
    * pair — shared by the live nightly forms and the at-rest serve
    * ([[ingestAuditServed]]), so the serve tail cannot drift. `probe`
    * must already satisfy hashpartitioning(bucket) ([[batchProbeOf]] /
    * a bucket-bucketed table scan); both joins and the batch-internal
    * groupBy then run exchange-free, and what crosses the wire is the
    * delta-sized probe frame once — id-scale, never pair-scale. The
    * ledger side joins as SHUFFLED HASH build (k ≈ √N packed rows,
    * exchange-free off its cached/bucketed distribution; a broadcast
    * would ship the whole store ledger to every executor). */
  private[graft] def fusedIngestRejected(
      t: graft.Tables,
      probe: org.apache.spark.sql.DataFrame,
      ledgerPacked: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    fusedIngestRejectedWith(t, probe, ledgerPacked, packIngest(probe))

  /** [[fusedIngestRejected]] with the PEER operand injectable: `peersPacked`
    * is the probe's own processed population — the nightly forms pack the
    * whole batch (every peer is a potential earlier member), the continuous
    * form (q222) passes its cumulative per-generation ledger INCLUDING the
    * current slice — scanned with the arrival's own doc_id as the id bound,
    * so ONE kernel pass applies both the processed-ledger rule and the
    * within-slice earlier-member rule (ledger members all carry lower ids
    * by the ascending-slice precondition). One body for all three forms,
    * so none can drift. */
  private[graft] def fusedIngestRejectedWith(
      t: graft.Tables,
      probe: org.apache.spark.sql.DataFrame,
      ledgerPacked: org.apache.spark.sql.DataFrame,
      peersPacked: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.functions.HammingCosineReject
    def reject(ids: org.apache.spark.sql.Column, sigs: org.apache.spark.sql.Column,
        embs: org.apache.spark.sql.Column, bound: org.apache.spark.sql.Column) =
      HammingCosineReject(ids, sigs, embs,
        array(col("sig")), col("embedding"), bound,
        1, MediaHammingSlack, 64, MediaNearDupT)
    val peers = peersPacked.select(col("bucket"),
      col("ids").as("bids"), col("sigs").as("bsigs"), col("embs").as("bembs"))
    probe
      // LEFT: a bucket with no ledger member has no store rejections —
      // the kernel's null propagates and coalesces to false.
      .join(ledgerPacked.hint("shuffle_hash"), Seq("bucket"), "left")
      .join(peers.hint("shuffle_hash"), Seq("bucket"))
      .filter(
        coalesce(
          reject(col("ids"), col("sigs"), col("embs"), lit(Long.MaxValue)),
          lit(false)) ||
        reject(col("bids"), col("bsigs"), col("bembs"), col("doc_id")))
      .select("doc_id")
  }

  /** The batch slice's (doc_id, bucket, sig) under a modality's frozen
    * model — map-only over the decode-once checkpoint (in production, over
    * the night's freshly decoded delta). */
  private[graft] def batchAssignedOf(
      t: graft.Tables, m: Modality,
      sliceIds: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val base = embeddingsOf(t, m).filter(col("doc_id") % 10 === 0)
    val sliced = sliceIds.fold(base)(ids => base.join(ids, Seq("doc_id"), "left_semi"))
    assignFlat(t, m, sliced).drop("embedding")
  }

  /** One ingest decision step in JOIN-ROW form — q222's continuous unit
    * of work (its ledger GROWS per slice: (bucket, sig) rows without
    * vectors, appended after each generation's decisions, so the packed
    * fused operand does not apply): the ids of `slice` members with a
    * LEDGER neighbor (any — everything in the ledger was processed
    * earlier) or an earlier (lower-id) member of the same slice at exact
    * cosine ≥ [[MediaNearDupT]] inside their frozen-model block. The
    * slice side is delta-sized; the ledger side joins as its standing
    * (bucket, sig) index — ids and one long per side through the
    * exchange, embeddings fetched for CANDIDATE ids only. The nightly
    * forms use the fused [[fusedIngestRejected]] instead; MediaStreamSpec's
    * q222 ≡ q221 pin makes the two implementations of the identical rule
    * check each other. */
  private[graft] def ingestStepOf(
      t: graft.Tables, m: Modality,
      ledger: org.apache.spark.sql.DataFrame,
      slice: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val emb = embeddingsOf(t, m)
    // Slice-sized; feeds both joins. The bucket repartition pins the pair
    // joins' width (q220's AQE lesson — byte-tiny shuffles, Σ-pair
    // compute): pinning the slice side forces the co-partitioned ledger
    // exchange to the same width, so AQE cannot coalesce either.
    val s = slice.localCheckpoint(eager = false)
      .repartition(
        t.spark.sessionState.conf.numShufflePartitions, col("bucket"))
    val candLedger = s.as("b")
      .join(ledger.as("s"),
        col("b.bucket") === col("s.bucket") &&
          bit_count(col("b.sig").bitwiseXOR(col("s.sig"))) <= MediaHammingSlack)
      .select(col("s.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val candSlice = s.as("a")
      .join(s.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id") &&
          bit_count(col("a.sig").bitwiseXOR(col("b.sig"))) <= MediaHammingSlack)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val cand = candLedger.unionByName(candSlice).localCheckpoint(eager = false)
    val candDocs = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
    val fetch = emb.join(candDocs, Seq("doc_id")).localCheckpoint(eager = false)
    cand
      .join(fetch.select(col("doc_id").as("doc_a"), col("embedding").as("ea")), "doc_a")
      .join(fetch.select(col("doc_id").as("doc_b"), col("embedding").as("eb")), "doc_b")
      .filter(round4(graft.functions.CosineSimilarity(col("ea"), col("eb"))) >= MediaNearDupT)
      .select(col("doc_b").as("doc_id"))
      .distinct()
  }

  /** A modality's nightly-ingest audit (q221/q225/q226's shared body):
    * per frozen-model bucket, batch arrivals, rejected, admitted. One
    * probe frame feeds both the arrival counts and the fused decision —
    * the batch's assignment pass runs once. */
  private def ingestAudit(
      t: graft.Tables, m: Modality): org.apache.spark.sql.DataFrame = {
    val probe = batchProbeOf(t, m)
    ingestAuditFrom(probe.select("doc_id", "bucket"),
      fusedIngestRejected(t, probe, storePackedOf(t, m)))
  }

  /** A nightly-ingest audit with its serve/live choice — q221/q225/q226's
    * body. Serve mode ([[ingestAuditServed]]): the frozen store index,
    * batch assignments and embeddings all read from at-rest tables — zero
    * decode, zero training. Default = the live nightly build
    * ([[ingestAudit]]). */
  private def ingestAuditFor(
      t: graft.Tables, m: Modality): org.apache.spark.sql.DataFrame =
    if (graft.sources.LayoutWriter.servingLayouts) ingestAuditServed(t, m)
    else ingestAudit(t, m)

  /** The per-bucket ingest report over an arbitrary (batch index, rejected
    * set) pair — shared by the live nightly forms (q221/q225/q226), the
    * continuous form (q222) and the at-rest serve ([[ingestAuditServed]]),
    * so the serve tail cannot drift from the live one. */
  private def ingestAuditFrom(
      batchIdx: org.apache.spark.sql.DataFrame,
      rejected: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    orderedByAll(
      batchIdx.select("doc_id", "bucket")
        .join(rejected.withColumn("rej", lit(1)), Seq("doc_id"), "left")
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_batch"),
          sum(when(col("rej").isNotNull, 1L).otherwise(0L)).as("n_rejected"),
          sum(when(col("rej").isNull, 1L).otherwise(0L)).as("n_admitted")))

  /** A modality's nightly-ingest audit served ENTIRELY from at-rest
    * artifacts — zero decode, zero training, zero store-scale pack: the
    * packed frozen ledger ([[storePackTableOf]]) and the batch's probe
    * rows ([[batchProbeTableOf]]) read as bucket-bucketed tables, so the
    * fused decision's ledger join and batch-internal groupBy run
    * exchange-free off storage. The quantizer itself is not needed to
    * serve — assignments are materialized — the q231 discipline applied
    * to the ingest family; the audit tail is [[ingestAuditFrom]] and the
    * decision is [[fusedIngestRejected]], shared verbatim with the live
    * form, so the serve cannot drift. */
  private[graft] def ingestAuditServed(
      t: graft.Tables, m: Modality): org.apache.spark.sql.DataFrame = {
    // Both standing scans pin in the session cache behind their bucketed
    // table reads (round 17 — the serve dual's warm path re-scanned the
    // data-scale packed ledger per run, measured 49–50 s vs the live
    // reuse branch's 6 s at sf100x): the ledger entry IS storePackedOf's
    // (storePackTableOf ensures the table stands, so its registerIfFresh
    // branch serves it cached — one cache entry, no serve/live fork), and
    // the probe rows pin under their own key. InMemoryRelation preserves
    // the bucketed scans' hashpartitioning, so the decision joins stay
    // exchange-free off the cache.
    val probeTbl = batchProbeTableOf(t, m)
    val probe = Artifacts.get(t, s"${m.tag}batchprbpin")(
      cacheStandingBucketed(t.spark, probeTbl))
    storePackTableOf(t, m)
    ingestAuditFrom(probe.select("doc_id", "bucket"),
      fusedIngestRejected(t, probe, storePackedOf(t, m)))
  }

  /** INCREMENTAL media near-dup — the nightly-ingest form of q218 (the
    * family convention: q90 exact / q125 fuzzy / q183 minhash / q185
    * semdedup all have incremental twins; this is the trained-block vector
    * twin). Yesterday's corpus is a frozen store ([[storeIndexOf]]: the
    * store-trained quantizer + per-doc bucket and sign signature, built
    * once); tonight's batch (doc_id ≡ 0 mod 10) is decoded, bucketed and
    * signed delta-only, admitted unless a store member or an earlier batch
    * member sits at exact cosine ≥ [[MediaNearDupT]] in its block
    * ([[incrementalDroppedOf]]). Output is the per-bucket ingest audit:
    * batch arrivals, admitted, rejected. No SQL oracle (codec + trained
    * quantizer); MediaIncrementalSpec pins the rejected set against a
    * single-node mirror of the exact rule on planted (store-dup,
    * batch-internal-dup, unique) corpora and the real corpus, audit
    * accounting, the decode-once plan, and the no-cartesian plan. */
  val q221 = EngineQuery("q221_media_neardup_incremental", None)(ingestAuditFor(_, image))

  /** AUDIO nightly ingest — q221 on the WAV sample bridge, through the
    * SAME parametrized pipeline ([[Modality]]: one model-train /
    * store-index / batch-assign / decision-step / audit implementation
    * serves all three modalities). The audio span is 512 text bytes, so
    * the ingest's dup structure genuinely differs from the image form: an
    * image-span (256-byte) store dup that diverges later is NOT an audio
    * store dup (MediaIncrementalFamilySpec plants exactly that doc and
    * asserts the asymmetry). No SQL oracle (codec + trained quantizer);
    * the family spec pins rejected-set parity vs the single-node mirror on
    * planted and real corpora, plus decode-once and cartesian-free. */
  val q225 = EngineQuery("q225_audio_neardup_incremental", None)(ingestAuditFor(_, audio))

  /** VIDEO nightly ingest — q221 on the sampled-frame bridge (span
    * [0,256)∪[32,288)), completing the (modality × form) matrix's nightly
    * column: image/audio/video each have one-shot (q218/q219/q223) and
    * nightly (q221/q225/q226) forms, all through shared code; the
    * continuous form's stream ≡ nightly equivalence is proven once on the
    * image modality (q222/MediaStreamSpec) and transfers because the step
    * function is the same parametrized [[ingestStepOf]] for every
    * modality. Same spec coverage as q225. */
  val q226 = EngineQuery("q226_video_neardup_incremental", None)(ingestAuditFor(_, video))

  /** CONTINUOUS media ingest — the third member of the media triple
    * (one-shot q218 / nightly q221 / continuous q222), the q216 convention
    * on the vector index: the batch arrives as id-ordered micro-batches
    * (the engine's window-free [[CurationQueries.generations]] slicer),
    * each slice is decided by [[ingestStepOf]] against the frozen store
    * index PLUS a sequentially maintained ledger of every PROCESSED batch
    * member — processed, not admitted: the earlier-member rule counts
    * lower-id members regardless of their own fate, which is exactly what
    * makes sequential decisions reproduce q221's one-shot batch rule —
    * and the slice's (bucket, sig) rows append to the ledger after its
    * decisions. Per-arrival work is slice-sized beyond the frozen
    * artifacts; the ledger checkpoint keeps lineage flat across
    * generations (q216's discipline). Output is IDENTICAL to q221's audit
    * — MediaStreamSpec pins q222 ≡ q221 row-for-row and drives the same
    * step function from a real readStream/foreachBatch pipeline. */
  val q222 = EngineQuery("q222_media_stream_ingest", None) { t =>
    val width = t.spark.sessionState.conf.numShufflePartitions
    // The batch's flat rows carry the VECTORS: both decision operands run
    // fused (round 17 — the board's last join-row Hamming population
    // closed), so the per-generation ledger packs (doc_id, sig, embedding)
    // per bucket, q231's vectors-live-in-the-index convention.
    val batchFlat = batchFlatOf(t, image)
    val sliced = CurationQueries.generations(batchFlat, 3)
      .localCheckpoint(eager = false)
    // The neighbor set a slice checks is store ∪ processed-batch; BOTH
    // sides now scan packed through [[graft.functions.HammingCosineReject]]:
    // the FROZEN STORE side scans the same standing packed ledger as q221
    // with an unbounded id, and the PROCESSED side scans the cumulative
    // per-generation ledger — [[foldPacked]] repacks only the buckets the
    // slice touches, and because the fold runs BEFORE the decision the
    // ledger includes the current slice, so the arrival's own doc_id as
    // the id bound applies the processed-ledger rule and the within-slice
    // earlier-member rule in ONE kernel pass ([[fusedIngestRejectedWith]],
    // shared verbatim with the nightly forms). Only slice-scale frames
    // re-checkpoint per arrival (the curationStep contract); nothing
    // pair-scale exists on either side. The join-row [[ingestStepOf]]
    // remains the independent cross-implementation check — MediaStreamSpec
    // drives it from a real foreachBatch pipeline and pins
    // stream ≡ q222 ≡ q221.
    val storePacked = storePackedOf(t, image)
    // Lazy checkpoints: each generation's ledger/decision frame still
    // materializes exactly once and cuts lineage for everything after it,
    // but WITHOUT a per-generation job barrier — the three generations'
    // tiny stages pipeline into the audit's own action (an eager barrier
    // per arrival was ~60% of the sf0.1 warm pass; a production stream
    // with unbounded arrivals eagerly checkpoints per trigger, which is
    // exactly what MediaStreamSpec's foreachBatch pipeline does).
    var ledgerPacked = packIngest(batchFlat.limit(0))
      .localCheckpoint(eager = false)
    var rejected: org.apache.spark.sql.DataFrame = null
    for (g <- 1 to 3) {
      val slice = sliced.filter(col("gen") === g).drop("gen")
      ledgerPacked = foldPacked(ledgerPacked, slice)
        .localCheckpoint(eager = false)
      val rej = fusedIngestRejectedWith(t,
        slice.repartition(width, col("bucket")), storePacked, ledgerPacked)
        .localCheckpoint(eager = false)
      rejected = if (rejected == null) rej else rejected.unionByName(rej)
    }
    ingestAuditFrom(batchFlat.select("doc_id", "bucket"), rejected)
  }

  /** MAINTENANCE audit of the packed ingest ledger — the q181→q184 index
    * lifecycle on the VECTOR ledger, exposed as the query a nightly
    * pipeline runs after its ingest: build a fresh PRIVATE copy of the
    * packed store ledger (tag `mediafoldprb` — the audit must not mutate
    * the serving family's ledger mid-gate; overwritten per run, so the
    * fold is exercised from a clean base every time), run the real
    * nightly decision against it, FOLD the admitted arrivals in with
    * file surgery ([[foldFlatIntoPackedTable]] — only hash files holding
    * touched buckets are read/rewritten), and report the fold's
    * provenance plus a DISTRIBUTED parity fingerprint (row count +
    * xxhash64 sum — never a corpus-scale collect) against the
    * from-scratch pack of store ∪ admitted. No oracle (codec + trained
    * quantizer); MediaLedgerFoldSpec pins the stronger invariants —
    * row-for-row parity, byte-identical untouched files, night-two
    * decision parity. */
  val q233 = EngineQuery("q233_media_ledger_fold", None) { t =>
    val spark = t.spark
    // Private-copy width: decoupled from core count (round 18 — the
    // fold's decisions and the parity fingerprint are width-independent,
    // see LayoutWriter.auditBuckets; `width = local[$cores]` made the
    // 32-core audit write and fold 4× the files of the 8-core one).
    val width = graft.sources.LayoutWriter.auditBuckets(spark)
    val tbl = layoutName("mediafoldprb", t.dir, width)
    val storeFlat = storeFlatOf(t, image).localCheckpoint(eager = false)
    graft.sources.LayoutWriter.writeBucketed(
      packIngest(storeFlat), tbl, Seq("bucket"), width, "overwrite")
    val batch = batchFlatOf(t, image)
    val rejected = fusedIngestRejected(t,
      batch.repartition(width, col("bucket")), spark.table(tbl))
    val admittedFlat = batch.join(rejected, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val nBefore = spark.table(tbl).count()
    // decimal(38,0) sum: an ANSI long sum of full-range hashes overflows.
    def fingerprint(df: org.apache.spark.sql.DataFrame): (Long, BigDecimal) = {
      val r = df.select(count(lit(1)),
        sum(xxhash64(col("bucket"), col("ids"), col("sigs"), col("embs"))
          .cast("decimal(38,0)"))).head()
      (r.getLong(0),
        if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
    }
    // The from-scratch parity pack reads only the storeFlat/admittedFlat
    // checkpoints (both materialized above — the pack write actioned
    // storeFlat, the admitted checkpoint is eager), never the table files
    // the fold rewrites — so it overlaps the fold on a second driver
    // thread instead of serializing after it (guide-§2.6 back-fill;
    // Verify's pool is the in-repo precedent). Same values, same
    // comparisons — concurrency only moves wall-clock.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    val scratchF = scala.concurrent.Future(fingerprint(packIngest(
      storeFlat.unionByName(
        admittedFlat.select("doc_id", "bucket", "sig", "embedding")))))(
      scala.concurrent.ExecutionContext.fromExecutor(pool))
    val (stats, folded) =
      try {
        val s = foldFlatIntoPackedTable(spark, tbl, width, admittedFlat)
        (s, fingerprint(spark.table(tbl)))
      } finally pool.shutdown()
    val scratch = scala.concurrent.Await.result(
      scratchF, scala.concurrent.duration.Duration.Inf)
    val spark2 = spark; import spark2.implicits._
    orderedByAll(Seq((nBefore, admittedFlat.count(),
      stats.touchedHashFiles.toLong, stats.keptFiles.toLong,
      folded._1, folded == scratch))
      .toDF("n_buckets_before", "n_admitted", "n_files_rewritten",
        "n_files_kept", "n_buckets_after", "parity_ok"))
  }

  val all: Seq[EngineQuery] =
    Seq(q39, q109, q135, q136, q218, q219, q220, q221, q222, q223, q224,
      q225, q226, q228, q231, q232, q233)
}
