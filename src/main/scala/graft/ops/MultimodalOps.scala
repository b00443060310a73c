package graft.ops

import java.nio.ByteBuffer
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Doc

/** Multimodal columns: media payloads ride as opaque `binary` columns with
  * typed metadata, decoded/feature-extracted in batched per-partition
  * passes — the Spark-side plumbing (schema, batch shape, partitioning) is
  * real and tested. IMAGE decode is REAL: `decodePayload` routes
  * non-GRFT image payloads through the JDK's own `javax.imageio`
  * (JPEG/PNG/BMP/GIF readers ship in every JRE — zero new dependencies).
  * AUDIO decode is REAL too: non-GRFT audio payloads parse through
  * `javax.sound.sampled` (WAV/AIFF/AU readers ship in every JRE).
  * VIDEO container metadata is REAL as well: `decodeVideoMeta` walks
  * genuine ISO BMFF (MP4) boxes — `ftyp`/`moov`/`mvhd`/`tkhd`/`stsz` —
  * by pure big-endian byte arithmetic (duration, timescale, track count,
  * dimensions, sample count), which is exactly what a training-data
  * pipeline filters on BEFORE any decode. The only thing this runtime
  * cannot produce is decoded video FRAME PIXELS (no JDK video codec);
  * no surface here claims them — a production deployment plugs its
  * frame decoder into the same Iterator-of-batches seams.
  */
object MultimodalOps {

  final case class MediaAsset(doc_id: String, media_ref: String, kind: String, payload: Array[Byte])
  /** shared across kinds; for REAL audio payloads width = channels and
    * height = bits_per_sample (the audio-native schema is
    * [[AudioFeatures]]). */
  final case class MediaFeatures(doc_id: String, media_ref: String, kind: String,
                                 width: Int, height: Int, n_frames: Int,
                                 sample_rate: Int, byte_len: Long)
  final case class AudioFeatures(doc_id: String, media_ref: String,
                                 channels: Int, bits_per_sample: Int,
                                 n_frames: Int, sample_rate: Int, byte_len: Long)

  private val Magic = 0x47524654 // "GRFT"

  /** deterministic fake payload for a media ref: 16-byte header + filler.
    * Header: magic, width, height, n_frames, sample_rate (ints). */
  def synthPayload(mediaRef: String, kind: String): Array[Byte] = {
    val h = scala.util.hashing.MurmurHash3.stringHash(mediaRef, 42)
    val width = 160 + math.floorMod(h, 8) * 80
    val height = 120 + math.floorMod(h >> 3, 8) * 60
    val frames = kind match {
      case "video" => 24 + math.floorMod(h >> 6, 240)
      case "image" => 1
      case _ => 0
    }
    val rate = if (kind == "audio") 8000 * (1 + math.floorMod(h >> 9, 5)) else 0
    val filler = math.floorMod(h >> 12, 1024) + 64
    val buf = ByteBuffer.allocate(20 + filler)
    buf.putInt(Magic).putInt(width).putInt(height).putInt(frames).putInt(rate)
    buf.array()
  }

  /** materialize the media-asset table from docs' media spans (binary
    * payload column). One narrow flatMap. */
  def mediaAssets(docs: Dataset[Doc]): Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    docs.flatMap { doc =>
      doc.spans.iterator.filter(s => s.kind != "text" && s.media_ref != null).map { s =>
        MediaAsset(doc.doc_id, s.media_ref, s.kind, synthPayload(s.media_ref, s.kind))
      }
    }
  }

  /** deterministic REAL image dimensions for a media ref — the same hash
    * recipe as [[synthPayload]] at decode-cheap sizes (16–72 × 12–54). */
  def synthImageDims(mediaRef: String): (Int, Int) = {
    val h = scala.util.hashing.MurmurHash3.stringHash(mediaRef, 42)
    (16 + math.floorMod(h, 8) * 8, 12 + math.floorMod(h >> 3, 8) * 6)
  }

  /** deterministic REAL PNG payload for a media ref: dimensions from
    * [[synthImageDims]], a deterministic pixel gradient, encoded by the
    * JDK's own `javax.imageio` PNG writer — zero new dependencies. Lets
    * the real-decode path below be exercised end-to-end in-sandbox. */
  def synthImagePayload(mediaRef: String): Array[Byte] = {
    val (width, height) = synthImageDims(mediaRef)
    val h = scala.util.hashing.MurmurHash3.stringHash(mediaRef, 42)
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { img.setRGB(x, y, (x * 31 + y * 17 + h) & 0xffffff); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** deterministic REAL audio spec for a media ref:
    * (sample_rate, channels, frames) — same hash recipe as
    * [[synthPayload]] at decode-cheap sizes (60–571 frames, 16-bit PCM). */
  def synthAudioSpec(mediaRef: String): (Int, Int, Int) = {
    val h = scala.util.hashing.MurmurHash3.stringHash(mediaRef, 42)
    val rate = Array(8000, 11025, 16000, 22050, 44100)(math.floorMod(h, 5))
    (rate, 1 + math.floorMod(h >> 3, 2), 60 + math.floorMod(h >> 5, 512))
  }

  /** deterministic REAL WAV payload for a media ref: spec from
    * [[synthAudioSpec]], a deterministic wideband 16-bit PCM signal,
    * encoded by the JDK's own `javax.sound.sampled` WAV writer — zero
    * new dependencies. Lets the real audio-decode path be exercised
    * end-to-end in-sandbox (and independently re-parsed from the RIFF
    * header bytes by the SQL oracle). */
  def synthAudioPayload(mediaRef: String): Array[Byte] = {
    val (rate, channels, frames) = synthAudioSpec(mediaRef)
    val h = scala.util.hashing.MurmurHash3.stringHash(mediaRef, 42)
    val pcm = new Array[Byte](frames * channels * 2)
    var i = 0
    while (i < frames * channels) {
      val s = ((i * 2654435761L + h) & 0xffffL).toInt - 32768
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, channels,
      /*signed=*/ true, /*bigEndian=*/ false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** deterministic REAL video CONTAINER spec for a media ref:
    * (timescale, duration_ticks, width, height, n_frames, n_tracks) —
    * width/height/frames reuse the [[synthPayload]] hash recipe so the
    * stub and real tables describe the same assets. */
  def synthVideoSpec(mediaRef: String): (Int, Int, Int, Int, Int, Int) = {
    val h = scala.util.hashing.MurmurHash3.stringHash(mediaRef, 42)
    val width = 160 + math.floorMod(h, 8) * 80
    val height = 120 + math.floorMod(h >> 3, 8) * 60
    val frames = 24 + math.floorMod(h >> 6, 240)
    val timescale = Array(600, 1000, 12288, 24000, 90000)(math.floorMod(h >> 9, 5))
    // nominal 24 fps: duration in movie-timescale ticks
    val duration = (frames.toLong * timescale / 24).toInt
    (timescale, duration, width, height, frames, 1 + math.floorMod(h >> 11, 2))
  }

  // fixed synth BMFF layout (version-0 boxes, constant box sizes; only
  // field VALUES vary per asset). The SQL oracle chain-parses the same
  // layout — these constants are the one source of truth for both sides.
  private[graft] val BmffFtypSize = 24
  private[graft] val BmffMvhdSize = 108
  private[graft] val BmffTrakSize = 176 // 8 + tkhd(92) + mdia(76)
  /** header bytes before the first trak: ftyp + moov header + mvhd. */
  private[graft] val BmffFirstTrak = BmffFtypSize + 8 + BmffMvhdSize // 140

  /** deterministic REAL MP4 (ISO BMFF) container for a media ref: a
    * valid `ftyp` + `moov` box sequence — `mvhd` (movie timescale +
    * duration), one `trak` per track with `tkhd` (16.16 fixed-point
    * dimensions) and a minimal `mdia`→`minf`→`stbl`→`stsz` chain
    * carrying the sample count. Container METADATA is what a
    * training-data pipeline filters on before any decode (duration,
    * resolution, track count) — and it is pure big-endian byte layout,
    * no codec involved, the same move the WAV writer makes for audio.
    * No media samples are embedded (mdat omitted — legal: stsz with
    * fixed sample_size references no offsets here). */
  def synthVideoPayload(mediaRef: String): Array[Byte] = {
    val (timescale, duration, width, height, frames, nTracks) = synthVideoSpec(mediaRef)
    val total = BmffFirstTrak + BmffTrakSize * nTracks
    val buf = ByteBuffer.allocate(total)
    def tag(s: String): Unit = { buf.put(s.getBytes("US-ASCII")); () }
    // ftyp: major brand + minor version + two compatible brands = 24 bytes
    buf.putInt(BmffFtypSize); tag("ftyp"); tag("isom"); buf.putInt(0x200)
    tag("isom"); tag("mp41")
    // moov container
    buf.putInt(8 + BmffMvhdSize + BmffTrakSize * nTracks); tag("moov")
    // mvhd v0
    buf.putInt(BmffMvhdSize); tag("mvhd"); buf.putInt(0) // version+flags
    buf.putInt(0).putInt(0) // creation, modification
    buf.putInt(timescale).putInt(duration)
    buf.putInt(0x00010000) // rate 1.0
    buf.putShort(0x0100.toShort).putShort(0) // volume, reserved
    buf.putLong(0L) // reserved
    for (v <- Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)) buf.putInt(v) // unity matrix
    for (_ <- 0 until 6) buf.putInt(0) // pre_defined
    buf.putInt(nTracks + 1) // next_track_ID
    for (t <- 1 to nTracks) {
      buf.putInt(BmffTrakSize); tag("trak")
      // tkhd v0 (flags: enabled | in-movie | in-preview)
      buf.putInt(92); tag("tkhd"); buf.putInt(0x000007)
      buf.putInt(0).putInt(0) // creation, modification
      buf.putInt(t).putInt(0) // track_ID, reserved
      buf.putInt(duration)
      buf.putLong(0L) // reserved
      buf.putShort(0).putShort(0).putShort(0).putShort(0) // layer, alt, volume, reserved
      for (v <- Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)) buf.putInt(v)
      buf.putInt(width << 16).putInt(height << 16) // 16.16 fixed
      // mdia container: mdhd + minf(stbl(stsz))
      buf.putInt(76); tag("mdia")
      buf.putInt(32); tag("mdhd"); buf.putInt(0)
      buf.putInt(0).putInt(0) // creation, modification
      buf.putInt(timescale).putInt(duration)
      buf.putShort(0x55c4.toShort).putShort(0) // language 'und', pre_defined
      buf.putInt(36); tag("minf")
      buf.putInt(28); tag("stbl")
      buf.putInt(20); tag("stsz"); buf.putInt(0)
      buf.putInt(1024).putInt(frames) // fixed sample_size, sample_count
    }
    buf.array()
  }

  /** the media-asset table with REAL payloads for every kind: images are
    * PNGs (`javax.imageio`), audio is 16-bit PCM WAV
    * (`javax.sound.sampled`), video is a genuine ISO BMFF (MP4)
    * container whose box metadata is parsed by pure byte arithmetic —
    * frame PIXELS are the only thing this runtime cannot decode (no JDK
    * video codec), and no surface here claims them. */
  def mediaAssetsReal(docs: Dataset[Doc]): Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    docs.flatMap { doc =>
      doc.spans.iterator.filter(s => s.kind != "text" && s.media_ref != null).map { s =>
        val payload = s.kind match {
          case "image" => synthImagePayload(s.media_ref)
          case "audio" => synthAudioPayload(s.media_ref)
          case "video" => synthVideoPayload(s.media_ref)
          case _       => synthPayload(s.media_ref, s.kind)
        }
        MediaAsset(doc.doc_id, s.media_ref, s.kind, payload)
      }
    }
  }

  final case class VideoMeta(timescale: Int, duration_ticks: Long,
                             n_tracks: Int, width: Int, height: Int,
                             n_frames: Int)

  /** REAL ISO BMFF (MP4/MOV family) container-metadata parse: a generic
    * recursive box walk (size + fourcc headers, big-endian), NOT a
    * fixed-offset read — `moov`→`mvhd` gives movie timescale/duration
    * (version 0 and 1 layouts), `trak` count and the first track's
    * `tkhd` give dimensions (16.16 fixed), its
    * `mdia`→`minf`→`stbl`→`stsz` chain gives the sample (frame) count.
    * Fails loudly on anything that is not a BMFF container — a silent
    * zero would hide corruption at scale. */
  def decodeVideoMeta(payload: Array[Byte]): VideoMeta = {
    val buf = ByteBuffer.wrap(payload)
    def fourcc(off: Int): String =
      new String(payload, off + 4, 4, "US-ASCII")
    // iterate child boxes of [from, until); returns (offset, type, size).
    // Handles the two legal special sizes real containers use: size==0
    // (box extends to the end of the enclosing range — e.g. a trailing
    // mdat) and size==1 (64-bit largesize in the next 8 bytes — e.g. a
    // >4 GB mdat); only sizes 2..7 are actually malformed.
    def boxes(from: Int, until: Int): Iterator[(Int, String, Int)] =
      new Iterator[(Int, String, Int)] {
        private var off = from
        def hasNext: Boolean = off + 8 <= until
        def next(): (Int, String, Int) = {
          val size = buf.getInt(off) match {
            case 0 => until - off // to end of the enclosing box/file
            case 1 =>
              require(off + 16 <= until, s"truncated largesize box at offset $off")
              val large = buf.getLong(off + 8)
              require(large >= 16L && large <= (until - off).toLong,
                s"malformed BMFF largesize at offset $off: $large")
              large.toInt // payload is an in-memory array, always < 2 GiB
            case s => s
          }
          require(size >= 8 && off + size <= until,
            s"malformed BMFF box at offset $off: size $size")
          val r = (off, fourcc(off), size); off += size; r
        }
      }
    require(payload.length >= 12 && fourcc(0) == "ftyp",
      s"not an ISO BMFF container (${payload.length} bytes, no ftyp)")
    val (moovOff, _, moovSize) = boxes(0, payload.length)
      .find(_._2 == "moov")
      .getOrElse(sys.error("BMFF container without a moov box"))
    val kids = boxes(moovOff + 8, moovOff + moovSize).toVector
    val (mvOff, _, _) = kids.find(_._2 == "mvhd")
      .getOrElse(sys.error("moov without mvhd"))
    val mvVer = buf.get(mvOff + 8) & 0xff
    // durations are 64-bit clean: v0's u32 field reads unsigned, v1's
    // u64 is kept whole — truncating to Int would silently wrap exactly
    // the long-duration files v1 exists for
    val (timescale, duration) =
      if (mvVer == 0) (buf.getInt(mvOff + 20), buf.getInt(mvOff + 24).toLong & 0xffffffffL)
      else (buf.getInt(mvOff + 28), buf.getLong(mvOff + 32))
    val traks = kids.filter(_._2 == "trak")
    require(traks.nonEmpty, "moov without any trak")
    def tkhdOf(t: (Int, String, Int)): Int =
      boxes(t._1 + 8, t._1 + t._3).find(_._2 == "tkhd")
        .getOrElse(sys.error("trak without tkhd"))._1
    def dims(tkOff: Int): (Int, Int) = {
      val tkVer = buf.get(tkOff + 8) & 0xff
      val dimOff = tkOff + (if (tkVer == 0) 84 else 96)
      (buf.getInt(dimOff) >>> 16, buf.getInt(dimOff + 4) >>> 16)
    }
    // the VIDEO track is the one with nonzero tkhd dimensions — real
    // muxers often put an audio track first, whose width/height are 0
    // and whose stsz counts audio samples; blindly taking traks.head
    // would silently report 0x0 and the wrong frame count for them
    val t0 @ (t0off, _, t0size) = traks
      .find(t => dims(tkhdOf(t)) != ((0, 0))).getOrElse(traks.head)
    val (w, h) = dims(tkhdOf(t0))
    // descend trak → mdia → minf → stbl → stsz for the sample count
    def child(off: Int, size: Int, t: String): Option[(Int, String, Int)] =
      boxes(off + 8, off + size).find(_._2 == t)
    val frames = (for {
      (mdOff, _, mdSize) <- child(t0off, t0size, "mdia")
      (mfOff, _, mfSize) <- child(mdOff, mdSize, "minf")
      (sbOff, _, sbSize) <- child(mfOff, mfSize, "stbl")
      (szOff, _, _)      <- child(sbOff, sbSize, "stsz")
    } yield buf.getInt(szOff + 16)).getOrElse(0)
    VideoMeta(timescale, duration, traks.length, w, h, frames)
  }

  final case class VideoFeatures(doc_id: String, media_ref: String,
                                 timescale: Int, duration_ticks: Long,
                                 duration_ms: Long, n_tracks: Int,
                                 width: Int, height: Int, n_frames: Int,
                                 byte_len: Long)

  /** video-native feature extraction over REAL BMFF containers — the
    * pre-decode filter surface (duration / resolution / track count) in
    * the same batched mapPartitions shape as [[extractFeatures]]. GRFT
    * stubs are refused loudly ([[decodeVideoMeta]] recognizes only
    * genuine BMFF) — this surface exists to verify the real parse. */
  def videoFeatures(assets: Dataset[MediaAsset]): Dataset[VideoFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { batch =>
      batch.filter(_.kind == "video").map { a =>
        val m = decodeVideoMeta(a.payload)
        VideoFeatures(a.doc_id, a.media_ref, m.timescale, m.duration_ticks,
          m.duration_ticks * 1000L / m.timescale, m.n_tracks,
          m.width, m.height, m.n_frames, a.payload.length.toLong)
      }
    }
  }

  /** parser for the deterministic GRFT synthetic payloads (the
    * stub-mode asset table [[mediaAssets]]) — every REAL decode path
    * now has its own parser (`javax.imageio`, `javax.sound.sampled`,
    * [[decodeVideoMeta]]). Throws on foreign payloads — decode failures
    * must be visible, not silent. */
  def decodeHeader(payload: Array[Byte]): (Int, Int, Int, Int) = {
    val buf = ByteBuffer.wrap(payload)
    require(buf.getInt() == Magic, "not a GRFT synthetic payload (real codec goes here)")
    (buf.getInt(), buf.getInt(), buf.getInt(), buf.getInt())
  }

  /** REAL audio decode via the JDK's `javax.sound.sampled`
    * (WAV/AIFF/AU readers ship in every JRE). Returns
    * (channels, bits_per_sample, n_frames, sample_rate) — in the shared
    * [[MediaFeatures]] schema, audio rides width=channels and
    * height=bits_per_sample (documented there). Header-only parse: the
    * file format comes from the stream header, no PCM materialization.
    * Fails loudly on anything no JDK codec recognizes, and on a header
    * that omits the frame count — a silent zero would hide corruption
    * at scale. */
  def decodeAudio(payload: Array[Byte]): (Int, Int, Int, Int) = {
    val aff =
      try javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(payload))
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException =>
        sys.error(s"undecodable audio payload (no JDK codec recognizes " +
          s"${payload.length} bytes)") }
    val f = aff.getFormat
    require(aff.getFrameLength >= 0 && f.getChannels > 0 && f.getSampleRate > 0,
      s"audio header parsed but incomplete (${aff.getType}: frames=" +
        s"${aff.getFrameLength}, ch=${f.getChannels}, rate=${f.getSampleRate})")
    (f.getChannels, f.getSampleSizeInBits, aff.getFrameLength, f.getSampleRate.toInt)
  }

  /** decode a payload → (width, height, n_frames, sample_rate). GRFT stub
    * payloads parse their header (both asset modes ride the same batched
    * seam); anything else with kind=image decodes through the REAL
    * `javax.imageio` codec path (JPEG/PNG/BMP/GIF), kind=audio through
    * the REAL `javax.sound.sampled` path (WAV/AIFF/AU), kind=video
    * through the REAL ISO BMFF box walk ([[decodeVideoMeta]] — container
    * metadata; pixels would need a codec and are never claimed here) —
    * for audio the tuple is (channels, bits_per_sample, n_frames,
    * sample_rate). A payload no parser recognizes fails loudly — a
    * silent zero would hide data corruption at scale. */
  def decodePayload(payload: Array[Byte], kind: String): (Int, Int, Int, Int) = {
    // a foreign payload whose first 4 bytes happen to collide with the
    // magic (expected among billions of assets) must not be silently
    // parsed as a stub: the stub route also requires the header fields
    // to satisfy the generator's kind-invariants (image → 1 frame, no
    // rate; audio → no frames, positive rate; video → frames, no rate),
    // which a colliding foreign prefix fails with overwhelming
    // probability — it then falls through to the real codec or the loud
    // no-codec error below. No real image format begins with "GRFT", so
    // genuine images can never be mis-routed in the other direction.
    val stub =
      if (payload.length < 20 || ByteBuffer.wrap(payload).getInt() != Magic) None
      else {
        val h @ (w, ht, frames, rate) = decodeHeader(payload)
        val plausible = w > 0 && ht > 0 && (kind match {
          case "image" => frames == 1 && rate == 0
          case "audio" => frames == 0 && rate > 0
          case "video" => frames > 0 && rate == 0
          case _       => false
        })
        if (plausible) Some(h) else None
      }
    if (stub.isDefined) stub.get
    else if (kind == "image") {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      require(img != null, s"undecodable image payload (${payload.length} bytes)")
      (img.getWidth, img.getHeight, 1, 0)
    } else if (kind == "audio") decodeAudio(payload)
    else if (kind == "video") {
      // REAL container-metadata parse (ISO BMFF box walk) — frame pixels
      // would need a codec, but the shared feature tuple never carries
      // pixels; the video-native surface is [[videoFeatures]]
      val m = decodeVideoMeta(payload)
      (m.width, m.height, m.n_frames, 0)
    } else sys.error(
      s"no $kind decoder in this runtime — GRFT stub payloads only (got " +
        s"${payload.length} foreign bytes)")
  }

  /** batched decode / feature extraction: mapPartitions so a real codec
    * could amortize per-batch init (model load, JNI handles) exactly like
    * the reference amortizes its CoreNLP client per slice
    * (main_ner.py:76-82). */
  def extractFeatures(assets: Dataset[MediaAsset]): Dataset[MediaFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { batch =>
      // per-partition init for the real codec would go here
      batch.map { a =>
        val (w, h, f, r) = decodePayload(a.payload, a.kind)
        MediaFeatures(a.doc_id, a.media_ref, a.kind, w, h, f, r, a.payload.length.toLong)
      }
    }
  }

  /** audio-native feature extraction over REAL audio payloads: the
    * `javax.sound.sampled` header parse in the same batched
    * mapPartitions shape as [[extractFeatures]]. GRFT stubs are refused
    * loudly ([[decodeAudio]] recognizes only genuine WAV/AIFF/AU) — this
    * surface exists to verify the real codec, not the stub. */
  def audioFeatures(assets: Dataset[MediaAsset]): Dataset[AudioFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { batch =>
      batch.filter(_.kind == "audio").map { a =>
        val (ch, bits, frames, rate) = decodeAudio(a.payload)
        AudioFeatures(a.doc_id, a.media_ref, ch, bits, frames, rate,
          a.payload.length.toLong)
      }
    }
  }

  /** exact media dedup: group identical payload BYTES by content hash
    * (md5 over the hex rendering — portable to the SQL oracle), keep the
    * smallest doc_id as keeper. The binary-column counterpart of
    * DedupOps.exact — at 100 TB this is a hash groupBy over fingerprints,
    * never a payload-byte shuffle beyond the first pass. */
  def dedupAssets(assets: Dataset[MediaAsset]): DataFrame =
    assets.toDF()
      .select(col("kind"), md5(hex(col("payload"))).as("payload_fp"), col("doc_id"))
      .groupBy(col("kind"), col("payload_fp"))
      .agg(min(col("doc_id")).as("keeper_doc"), count(lit(1)).as("n_copies"))

  /** media stats per kind — the driver-visible aggregate. */
  def mediaStats(features: Dataset[MediaFeatures]): DataFrame =
    features.groupBy(col("kind"))
      .agg(count(lit(1)).as("n_assets"),
           sum(col("byte_len")).as("total_bytes"),
           max(col("width")).as("max_width"),
           max(col("n_frames")).as("max_frames"))
}
