package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column handling: media travel as
  * opaque `binary` columns with typed metadata; decode/feature-extract
  * run per-partition over Arrow-sized batches (the Scala analog of
  * `mapInPandas`), so executors stream batches instead of
  * row-at-a-time JNI calls.
  *
  * The actual codec step is STUBBED (this container ships no
  * image/audio libraries): `StubCodec` produces deterministic fake
  * pixels/frames from the byte content. The Spark-side plumbing —
  * schema, binary handling, partition-level batching, explode of
  * per-frame rows — is real and tested; swapping `StubCodec` for a
  * JNI/javacpp decoder is a one-object change.
  */
object Multimodal {

  /** Output schema of the stub image decode. */
  case class MediaMeta(
      id: Long,
      n_bytes: Int,
      format: String,
      width: Int,
      height: Int,
      channels: Int)

  case class FrameRow(id: Long, frame_idx: Int, frame_hash: Long)

  /** REAL image-container metadata parse — no codec library needed:
    * width/height/channels live in fixed header fields of the public
    * container specs (PNG IHDR chunk, ISO PNG spec §11.2.2; JPEG SOFn
    * frame segment, ITU T.81 §B.2.2; GIF logical screen descriptor,
    * GIF89a spec §18). Returns None for anything that is not a
    * well-formed container prefix — the caller falls back to the
    * deterministic stub, keeping the decode boundary total. Pixel
    * DECODING stays stubbed (that genuinely needs a codec library);
    * metadata extraction is the part a 100 TB media-ingest pipeline
    * runs on every object, and it is real here.
    */
  object HeaderCodec {
    private def u8(a: Array[Byte], i: Int): Int = a(i) & 0xFF
    private def be16(a: Array[Byte], i: Int): Int =
      (u8(a, i) << 8) | u8(a, i + 1)
    private def be32(a: Array[Byte], i: Int): Int =
      (u8(a, i) << 24) | (u8(a, i + 1) << 16) | (u8(a, i + 2) << 8) | u8(a, i + 3)
    private def le16(a: Array[Byte], i: Int): Int =
      u8(a, i) | (u8(a, i + 1) << 8)

    private val PngSig =
      Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

    /** (format, width, height, channels) or None. */
    def parse(a: Array[Byte]): Option[(String, Int, Int, Int)] =
      if (a.length >= 26 && a.startsWith(PngSig) &&
          a(12) == 'I' && a(13) == 'H' && a(14) == 'D' && a(15) == 'R') {
        // IHDR is mandated first: width/height BE32 at 16/20, color
        // type at 25 → channel count per spec table
        val channels = u8(a, 25) match {
          case 0 => 1 // greyscale
          case 2 => 3 // truecolour
          case 3 => 1 // indexed
          case 4 => 2 // grey+alpha
          case 6 => 4 // truecolour+alpha
          case _ => return None
        }
        Some(("png", be32(a, 16), be32(a, 20), channels))
      } else if (a.length >= 4 &&
          a(0) == 0xFF.toByte && a(1) == 0xD8.toByte) {
        // JPEG: walk the marker stream to the first SOFn (C0-CF minus
        // the non-frame C4/C8/CC); its payload is precision(1),
        // height BE16, width BE16, component count
        var i = 2
        while (i + 9 < a.length && a(i) == 0xFF.toByte) {
          val m = u8(a, i + 1)
          if (m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC)
            return Some(("jpeg", be16(a, i + 7), be16(a, i + 5), u8(a, i + 9)))
          else if (m == 0xD8 || (m >= 0xD0 && m <= 0xD9)) i += 2 // standalone
          else i += 2 + be16(a, i + 2) // segment with length
        }
        None
      } else if (a.length >= 10 && a(0) == 'G' && a(1) == 'I' && a(2) == 'F' &&
          a(3) == '8' && (a(4) == '7' || a(4) == '9') && a(5) == 'a') {
        // GIF logical screen descriptor: width/height LE16 at 6/8
        Some(("gif", le16(a, 6), le16(a, 8), 3))
      } else None
  }

  /** Output schema of the audio-container metadata parse. */
  case class AudioMeta(
      id: Long,
      n_bytes: Int,
      format: String,
      sample_rate: Int,
      channels: Int,
      bits_per_sample: Int,
      n_frames: Long)

  /** REAL audio-container metadata parse (RIFF/WAVE, the public
    * Microsoft/IBM spec): chunk-walk from offset 12 collecting the
    * `fmt ` fields (channels/sample-rate/block-align/bits, all
    * little-endian) and the `data` chunk size; frame count =
    * data bytes / block align. None for anything that is not a
    * well-formed RIFF prefix — same totality contract as the image
    * parse above. Sample DECODING stays out (codec-library
    * territory); per-object metadata is the 100 TB ingest path.
    */
  object AudioHeaderCodec {
    private def u8(a: Array[Byte], i: Int): Int = a(i) & 0xFF
    private def le16(a: Array[Byte], i: Int): Int =
      u8(a, i) | (u8(a, i + 1) << 8)
    private def le32(a: Array[Byte], i: Int): Long =
      (u8(a, i) | (u8(a, i + 1) << 8) | (u8(a, i + 2) << 16)).toLong |
        (u8(a, i + 3).toLong << 24)
    private def tag(a: Array[Byte], i: Int): String =
      new String(a, i, 4, java.nio.charset.StandardCharsets.US_ASCII)

    /** (format, sampleRate, channels, bitsPerSample, nFrames) or None. */
    def parse(a: Array[Byte]): Option[(String, Int, Int, Int, Long)] = {
      if (a.length < 12 || tag(a, 0) != "RIFF" || tag(a, 8) != "WAVE")
        return None
      var i = 12
      var fmt: Option[(Int, Int, Int, Int)] = None // ch, rate, align, bits
      var dataBytes = -1L
      while (i + 8 <= a.length && (fmt.isEmpty || dataBytes < 0)) {
        val id = tag(a, i); val sz = le32(a, i + 4)
        if (id == "fmt " && sz >= 16 && i + 8 + 16 <= a.length)
          fmt = Some((le16(a, i + 10), le32(a, i + 12).toInt,
            le16(a, i + 20), le16(a, i + 22)))
        else if (id == "data") dataBytes = sz
        // chunks are word-aligned: odd sizes carry a pad byte
        i += 8 + sz.toInt + (sz.toInt & 1)
      }
      fmt.collect { case (ch, rate, align, bits)
          if ch > 0 && rate > 0 && align > 0 && dataBytes >= 0 =>
        ("wav", rate, ch, bits, dataBytes / align)
      }
    }
  }

  /** Audio metadata per item, partition-streamed like decodeMeta;
    * non-RIFF payloads fall back to deterministic stub PCM params so
    * the boundary stays total. */
  def decodeAudioMeta(df: DataFrame, idCol: String): Dataset[AudioMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          AudioHeaderCodec.parse(bytes) match {
            case Some((fmt, rate, ch, bits, frames)) =>
              AudioMeta(id, bytes.length, fmt, rate, ch, bits, frames)
            case None => // stub: mono 16-bit 16 kHz raw PCM
              AudioMeta(id, bytes.length, "raw", 16000, 1, 16,
                bytes.length / 2L)
          }
        }
      }
  }

  final case class VideoMeta(
      id: Long,
      n_bytes: Long,
      format: String,
      brand: String,
      timescale: Int,
      duration_ms: Long,
      n_tracks: Int)

  /** REAL video-container metadata parse (ISO-BMFF / MP4, the public
    * ISO/IEC 14496-12 box grammar): walk top-level boxes
    * ([BE32 size][4CC type]; size includes the 8-byte header),
    * read the `ftyp` major brand, then inside `moov` read `mvhd`
    * (version 0: timescale at box+20, duration at box+24, both BE32)
    * and count `trak` children. None for anything that is not a
    * well-formed box stream (including the 64-bit `size==1`
    * largesize form and `size==0` run-to-EOF, which this walker
    * deliberately does not accept — same totality contract as the
    * image/audio parses). Frame/sample DECODING stays out
    * (codec-library territory); per-object metadata is the 100 TB
    * ingest path.
    */
  object VideoHeaderCodec {
    private def u8(a: Array[Byte], i: Int): Int = a(i) & 0xFF
    private def be32(a: Array[Byte], i: Int): Long =
      (u8(a, i).toLong << 24) | (u8(a, i + 1) << 16) |
        (u8(a, i + 2) << 8) | u8(a, i + 3)
    private def tag(a: Array[Byte], i: Int): String =
      new String(a, i, 4, java.nio.charset.StandardCharsets.US_ASCII)

    /** (brand, timescale, durationMs, nTracks) or None. */
    def parse(a: Array[Byte]): Option[(String, Int, Long, Int)] = {
      if (a.length < 8) return None
      var i = 0
      var brand: Option[String] = None
      var timescale = -1L; var duration = -1L; var nTracks = 0
      var sane = true
      while (sane && i + 8 <= a.length) {
        val sz = be32(a, i); val id = tag(a, i + 4)
        if (sz < 8 || i + sz > a.length) {
          // largesize/run-to-EOF/corrupt: reject unless this is
          // trailing junk AFTER a complete moov (mdat may be
          // truncated in a header-only fetch — a real ingest reads
          // ranged prefixes)
          sane = id == "mdat" && timescale > 0
          i = a.length
        } else {
          if (id == "ftyp" && sz >= 12) brand = Some(tag(a, i + 8))
          else if (id == "moov") {
            var j = i + 8
            while (j + 8 <= i + sz) {
              val csz = be32(a, j); val cid = tag(a, j + 4)
              if (csz < 8 || j + csz > i + sz) { sane = false; j = i + sz.toInt }
              else {
                if (cid == "mvhd" && csz >= 28 && u8(a, j + 8) == 0) {
                  timescale = be32(a, j + 20); duration = be32(a, j + 24)
                } else if (cid == "trak") nTracks += 1
                j += csz.toInt
              }
            }
          }
          i += sz.toInt
        }
      }
      (brand, timescale, duration) match {
        case (Some(b), t, dur) if sane && t > 0 && dur >= 0 =>
          Some((b, t.toInt, dur * 1000L / t, nTracks))
        case _ => None
      }
    }
  }

  /** Video metadata per item, partition-streamed like decodeMeta;
    * non-BMFF payloads fall back to a deterministic stub so the
    * boundary stays total. */
  def decodeVideoMeta(df: DataFrame, idCol: String): Dataset[VideoMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          VideoHeaderCodec.parse(bytes) match {
            case Some((brand, ts, durMs, tracks)) =>
              VideoMeta(id, bytes.length, "mp4", brand, ts, durMs, tracks)
            case None => // stub: opaque bitstream
              VideoMeta(id, bytes.length, "raw", "none", 0, 0L, 0)
          }
        }
      }
  }

  /** STUB decode: deterministic pseudo-metadata derived from content
    * bytes (stands in for an image header parse).
    */
  object StubCodec {
    def sniffFormat(bytes: Array[Byte]): String =
      if (bytes.length >= 2 && bytes(0) == 0xFF.toByte && bytes(1) == 0xD8.toByte) "jpeg"
      else if (bytes.length >= 4 && bytes(0) == 0x89.toByte && bytes(1) == 'P') "png"
      else "raw"

    def decodeDims(bytes: Array[Byte]): (Int, Int, Int) = {
      val h = java.util.Arrays.hashCode(bytes)
      (64 + math.abs(h % 1024), 64 + math.abs((h / 1024) % 1024), 3)
    }

    /** Deterministic per-frame content hash (stands in for a decoded
      * frame tensor).
      */
    def frameHash(bytes: Array[Byte], idx: Int): Long = {
      var acc = 1125899906842597L
      var i = idx % math.max(bytes.length, 1)
      var n = 0
      while (n < math.min(bytes.length, 256)) {
        acc = acc * 31 + bytes(i)
        i = (i + 1) % math.max(bytes.length, 1)
        n += 1
      }
      acc
    }
  }

  /** Attach a binary payload column (for corpora that store text-only,
    * e.g. the testdata `documents` table, the bytes are the encoded
    * text — the plumbing is identical for real media bytes).
    */
  def withBinaryPayload(df: DataFrame, srcCol: String): DataFrame =
    df.withColumn("payload", encode(col(srcCol), "UTF-8"))

  /** Decode metadata per media item, partition-streamed (mapPartitions
    * — one codec instance per partition, not per row). Real container
    * headers (PNG/JPEG/GIF) parse for real via [[HeaderCodec]];
    * payloads with no recognizable container — or a recognized
    * signature whose header is malformed — fall back to the
    * deterministic stub dims (format then records the sniffed
    * container, dims the stub).
    */
  def decodeMeta(df: DataFrame, idCol: String): Dataset[MediaMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          HeaderCodec.parse(bytes) match {
            case Some((fmt, w, h, c)) =>
              MediaMeta(id, bytes.length, fmt, w, h, c)
            case None =>
              val (w, h, c) = StubCodec.decodeDims(bytes)
              MediaMeta(id, bytes.length, StubCodec.sniffFormat(bytes), w, h, c)
          }
        }
      }
  }

  /** Frame sampling for "video" payloads: every `stride`-th frame up to
    * `maxFrames`, one output row per frame (the explode happens on
    * executors; a real decoder would emit tensors here).
    */
  def sampleFrames(
      df: DataFrame,
      idCol: String,
      stride: Int = 10,
      maxFrames: Int = 8): Dataset[FrameRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val nFrames = math.min(maxFrames, math.max(bytes.length / 64, 1))
          (0 until nFrames).iterator.map { f =>
            FrameRow(id, f * stride, StubCodec.frameHash(bytes, f * stride))
          }
        }
      }
  }

  /** "Resize" feature stub: fixed-length feature vector from payload
    * bytes (stands in for resize→pool). Pure column expression —
    * stays in codegen, no JVM round trip.
    */
  def byteHistogramFeatures(payload: org.apache.spark.sql.Column, buckets: Int = 16)
      : org.apache.spark.sql.Column = {
    // fold payload bytes (as hex pairs) into a bucketed histogram
    val hexChars = filter(split(hex(payload), ""), c => length(c) > 0)
    transform(sequence(lit(0), lit(buckets - 1)), b =>
      size(filter(hexChars, c => pmod(ascii(c), lit(buckets)) === b)))
  }

  /** Byte-level near-duplicate pairs over OPAQUE binary payloads —
    * the dedup primitive for media columns, where text shingling
    * does not apply: every w-byte sliding window is folded to an
    * EXACT integer Horner hash (base 257 over unsigned byte values —
    * INJECTIVE on windows since the base exceeds the 256-byte
    * alphabet, so distinct windows never collide; no modulus needed
    * through w=7, so the key replays digit-for-digit in any engine
    * and the posting table shuffles 8-byte longs, never 2w-char
    * strings), mod-hash-SAMPLED 1-in-`sampleMod` (min-wise style
    * sketching: both docs keep or drop a shared shingle identically,
    * so sampled-set Jaccard is an unbiased-in-practice estimate of
    * the true byte-gram Jaccard — the sampling is part of the
    * operator's oracle-replayed definition, and injectivity means no
    * cross-window collision inflates it), then the same capped
    * inverted-index join as
    * [[Dedup.ngramJaccardPairs]]. Catches re-encodes with tweaked
    * headers, truncated uploads, and near-identical blobs that
    * content-hash dedup misses.
    *
    * Scale shape: posting volume is corpus-bytes / sampleMod with
    * long keys; ubiquitous byte runs (container magic, padding) are
    * the hot-postings risk, so lists longer than `maxShingleFreq`
    * are dropped from candidate generation (a shingle shared by
    * everything carries no dedup signal). Payloads under w bytes
    * emit nothing. Measured: the string-keyed unsampled rendering
    * ran 15.5 s at sf0.1; this one ~3 s on the identical pair set
    * at minJaccard 0.5.
    *
    * `budget` ([[PairBudget]]) buckets candidates by
    * shingle hash, cand_g = C(f_g, 2) over the frequency-capped
    * postings. Under a cap a pair survives iff a kept shingle still
    * links it, and its `inter` then counts kept shingles only.
    */
  def binaryNearDups(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      w: Int = 7,
      minJaccard: Double = 0.5,
      maxShingleFreq: Int = 200,
      sampleMod: Int = 4,
      budget: PairBudget = PairBudget.Unlimited): DataFrame = {
    // no-modulus base-257 Horner bound (injective on byte windows —
    // see BinarySketchKernels doc): max hash = 255·(257^w − 1)/256,
    // under 2^63 through w = 7 (≈7.4e16)
    require(w >= 2 && w <= 7,
      s"w must be in [2, 7] (base-257 exact-long Horner bound), got $w")
    val rare = binaryRarePostings(df, idCol, payloadCol, w,
      maxShingleFreq, sampleMod)
    val kept = PairBudget.restrict(budget,
      rare.groupBy("g").agg(count(lit(1)).as("f"))
        .withColumn("cand", expr("f * (f - 1) div 2")),
      "binaryNearDups", Seq("g"), Seq(col("cand"), col("g")))(rare).head
    val a = kept.select(col("id").as("id_a"), col("sz").as("sz_a"), col("g"))
    val b = kept.select(col("id").as("id_b"), col("sz").as("sz_b"), col("g"))
    a.join(b, Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast("double")
        / (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Frequency-capped byte-shingle postings (id, sz, g). */
  private def binaryRarePostings(
      df: DataFrame, idCol: String, payloadCol: String,
      w: Int, maxShingleFreq: Int, sampleMod: Int): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      array_distinct(graft.expressions.BinaryShingleHashes(
        col(payloadCol), w, sampleMod)).as("gs"))
    val posts = sh.select(col("id"), size(col("gs")).as("sz"),
      explode(col("gs")).as("g"))
    val w2 = org.apache.spark.sql.expressions.Window.partitionBy("g")
    posts
      .withColumn("f", count(lit(1)).over(w2))
      .filter(col("f") <= maxShingleFreq)
      .drop("f")
  }

  /** Content-defined chunk table over opaque payloads — the
    * storage-dedup view of a media corpus (the FastCDC/rsync family;
    * see [[graft.expressions.BinarySketchKernels.cdcChunks]] for the
    * pure-content-cut variant and why it has no length clamp): one
    * row per chunk with its length and base-257-mod-P fingerprint.
    * Map-only over the corpus (one native O(n) pass per payload +
    * one explode); expected chunk length ≈ maskMod bytes. Output:
    * (id, ci, chunk_len, fp), ci 0-based in payload order.
    */
  def cdcChunkTable(df: DataFrame, idCol: String, payloadCol: String,
      w: Int = 7, maskMod: Int = 61): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(graft.expressions.BinaryCdcChunks(
          col(payloadCol), w, maskMod)).as(Seq("ci", "packed")))
      .select(col("id"), col("ci"),
        shiftright(col("packed"), 32).as("chunk_len"),
        col("packed").bitwiseAND(lit(0xFFFFFFFFL)).as("fp"))

  /** Corpus-level chunk-dedup savings estimate — "what would
    * content-addressed storage save": group the chunk table by
    * fingerprint (one map-side-combined shuffle of (fp, len)
    * partials), keep one copy per distinct fp, report the saved
    * bytes and the savings ratio in exact integer micros. Collision
    * handling is deterministic: the kept copy per fp is the MIN
    * length, so a (vanishingly rare at P ≈ 10⁹) fp collision
    * under-reports savings rather than corrupting them. Output
    * (1 row): total_chunks, distinct_fps, total_bytes, saved_bytes,
    * savings_micros.
    */
  /** Pairwise payload similarity by SHARED CDC chunks — Jaccard over
    * each payload's distinct chunk-fingerprint set, via the fp
    * inverted index (a join per shared fp, never all-pairs), with a
    * hot-fp postings cap so boilerplate chunks (headers, shared
    * footers) can't quadratically explode a bucket. This measures
    * STORAGE overlap — the bytes a content-addressed store would
    * actually share — and, because boundaries are content-defined,
    * it survives insertions that shift every fixed-shingle window
    * (the byte-shingle near-dup's blind spot). Works on any opaque
    * binary payload. Output: (id_a, id_b, shared, jac_micros) for
    * pairs at or above the micros threshold, id_a < id_b.
    */
  def cdcChunkOverlapPairs(df: DataFrame, idCol: String,
      payloadCol: String, w: Int = 7, maskMod: Int = 61,
      maxPostings: Int = 16, minJaccardMicros: Long = 250000L)
      : DataFrame = {
    val cf = cdcChunkTable(df, idCol, payloadCol, w, maskMod)
      .select("id", "fp").distinct()
    val pc = cf.groupBy("fp").agg(count(lit(1)).as("pc"))
    val nd = cf.groupBy("id").agg(count(lit(1)).as("n"))
    val pairs = cf.select(col("id").as("id_a"), col("fp"))
      .join(cf.select(col("id").as("id_b"), col("fp")), Seq("fp"))
      .join(pc.filter(col("pc") <= maxPostings).select("fp"), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
    pairs
      .join(nd.select(col("id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(nd.select(col("id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .withColumn("jac_micros",
        expr("(shared * 1000000) div (na + nb - shared)"))
      .filter(col("jac_micros") >= minJaccardMicros)
      .select("id_a", "id_b", "shared", "jac_micros")
  }

  def cdcDedupStats(df: DataFrame, idCol: String, payloadCol: String,
      w: Int = 7, maskMod: Int = 61): DataFrame =
    cdcChunkTable(df, idCol, payloadCol, w, maskMod)
      .groupBy("fp")
      .agg(count(lit(1)).as("cnt"), sum("chunk_len").as("slen"),
        min("chunk_len").as("mlen"))
      .agg(sum("cnt").as("total_chunks"),
        count(lit(1)).as("distinct_fps"),
        sum("slen").as("total_bytes"),
        sum(col("slen") - col("mlen")).as("saved_bytes"))
      .select(col("total_chunks"), col("distinct_fps"),
        col("total_bytes"), col("saved_bytes"),
        expr("saved_bytes * 1000000 div total_bytes").as("savings_micros"))
}
