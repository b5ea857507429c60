package graft.multimodal

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: images/audio/video ride through the engine as
  * opaque `binary` columns with a typed metadata struct, processed in
  * batch-shaped partition passes (the Scala analogue of `mapInPandas`).
  *
  * Metadata decoding is REAL for all three modalities: images via JDK
  * `javax.imageio` (PNG/JPEG/GIF/BMP header-level width/height/frame-count,
  * no pixel decode), WAV audio via a RIFF chunk-scan (fmt sample rate), and
  * video via container-header walks — MP4/ISO-BMFF boxes (`tkhd` dims,
  * `stsz` sample count) and AVI RIFF (`avih`). Container headers need no
  * codec; the only remaining out-of-scope piece on this codec-less
  * classpath is decoding video FRAME DATA (pixels), and the synthetic test
  * corpus can opt into a clearly-fake deterministic video meta
  * (`syntheticVideoMeta`) since its "video" payloads are UTF-8 text.
  * Undecodable payloads yield a null meta struct — honest "decode failed",
  * never fabricated values.
  *
  * At 100 TB the payload column dominates I/O: keep it in its own parquet
  * column (columnar pruning skips it for metadata queries), partition files
  * by modality/source, and size `spark.sql.files.maxPartitionBytes` so one
  * task holds a bounded number of payloads.
  */
object Multimodal {

  val MediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false), // image | audio | video
    StructField("payload", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_frames", IntegerType),
      StructField("sample_rate", IntegerType))))))

  /** Wrap a text corpus as fake media rows (UTF-8 payloads) — the test/demo
    * source standing in for real image bytes.
    */
  def fromDocuments(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("media_id"),
      (when(col(idCol) % 3 === 0, "image")
        .when(col(idCol) % 3 === 1, "audio").otherwise("video")).as("modality"),
      encode(col(textCol), "UTF-8").as("payload"),
      lit(null).cast(MediaSchema("meta").dataType).as("meta"))

  /** Image header decode via `javax.imageio`: width/height/frame-count for
    * any format the JDK registers a reader for (PNG, JPEG, GIF, BMP, WBMP).
    * Reads ONLY the header — `ImageReader.getWidth/getHeight` parse metadata
    * without decoding pixel data, so a 100 TB metadata pass streams bytes
    * rather than rasterizing them. Returns null if no reader claims the
    * bytes (not an image).
    */
  def decodeImageMeta(bytes: Array[Byte]): Row = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) null
      else {
        val r = readers.next()
        try {
          r.setInput(iis, false, true)
          val nFrames = try r.getNumImages(true) catch { case _: Exception => 1 }
          Row(r.getWidth(0), r.getHeight(0), math.max(nFrames, 1), null)
        } finally r.dispose()
      }
    } catch { case _: Exception => null } finally iis.close()
  }

  /** WAV metadata via a RIFF chunk scan: `RIFF....WAVE`, then walk the
    * chunk list reading `fmt `'s little-endian u32 sample rate and u16
    * block align (byte 24 / 32 in a canonical 44-byte-header file; the
    * scan also handles files with a leading LIST/JUNK chunk), and the
    * `data` chunk's declared size — `n_frames = data_size / block_align`,
    * the per-channel sample count. The scan STOPS at the data header (the
    * payload body is never read — a 100 TB metadata pass range-reads only
    * the leading bytes of each object, and this decoder is exactly that
    * read). Returns null for non-WAV bytes or when no `fmt ` is found.
    */
  def decodeWavMeta(bytes: Array[Byte]): Row = {
    def tag(off: Int): String =
      new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    def u32le(off: Int): Long =
      (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
        ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
    def u16le(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
    if (bytes.length < 36 || tag(0) != "RIFF" || tag(8) != "WAVE") null
    else try {
      var rate = -1L; var blockAlign = -1; var dataSize = -1L
      var off = 12
      var stop = false
      while (!stop && off + 8 <= bytes.length) {
        val size = u32le(off + 4) // unsigned u32: may exceed Int.MaxValue
        val t = tag(off)
        // require the chunk's own declared size to cover the 16 PCM fmt
        // bytes — a nonstandard short fmt chunk must not read rate/align
        // out of the following chunk's bytes
        if (t == "fmt " && size >= 16 && off + 8 + 16 <= bytes.length) {
          rate = u32le(off + 12)
          blockAlign = u16le(off + 8 + 12)
        }
        if (t == "data") { dataSize = size; stop = true } // body never read
        else {
          // advance in Long: a crafted size in [2^31, 2^32) truncated to Int
          // would advance 0/negative (infinite loop or IndexOutOfBounds)
          val next = off.toLong + 8L + size + (size & 1L) // chunks word-aligned
          if (size <= 0 || next <= off || next > bytes.length) stop = true
          else off = next.toInt
        }
      }
      // rate is a declared u32 too: a value over Int.MaxValue would wrap
      // negative through .toInt (same class as the n_frames fix below) —
      // no real sample rate approaches 2^31, so treat it as undecodable
      if (rate < 0 || rate > Int.MaxValue) null
      else {
        // dataSize is a declared u32 (≤ 4294967295): an 8-bit-mono file
        // (blockAlign = 1) can declare more frames than Int.MaxValue —
        // emit null ("unknown") rather than a wrapped negative count that
        // downstream quality gates would silently misclassify
        val nFrames =
          if (dataSize > 0 && blockAlign > 0) dataSize / blockAlign else -1L
        Row(null, null,
          if (nFrames > 0 && nFrames <= Int.MaxValue) nFrames.toInt else null,
          rate.toInt)
      }
    } catch { case _: Exception => null } // undecodable ⇒ null meta, never throw
  }

  /** Build a REAL canonical WAV header — the audio counterpart of
    * [[buildMp4]] for the synthetic corpus: genuine `RIFF/WAVE` grammar
    * (PCM `fmt ` chunk + `data` chunk header carrying the true size), but
    * HEADER-ONLY — no sample body follows, exactly the leading-bytes
    * range-read a production metadata pass fetches per object, and all
    * [[decodeWavMeta]] ever consumes.
    */
  def buildWav(
      sampleRate: Int, nSamples: Long,
      channels: Int = 1, bitsPerSample: Int = 16): Array[Byte] = {
    require(sampleRate > 0 && nSamples >= 0 && channels > 0 && bitsPerSample % 8 == 0)
    val blockAlign = channels * bitsPerSample / 8
    val dataSize = nSamples * blockAlign
    require(dataSize <= 0xffffffffL, "data chunk size overflows u32")
    val b = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt((36L + dataSize).toInt)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(1).putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * blockAlign).putShort(blockAlign.toShort)
      .putShort(bitsPerSample.toShort)
    b.put("data".getBytes("US-ASCII")).putInt(dataSize.toInt)
    b.array()
  }

  /** MP4 (ISO BMFF) container metadata via a pure box walk — no codec
    * involved, exactly like the header-only image reads: width/height from
    * the first `tkhd` with non-zero dims (16.16 fixed-point), frame count
    * from the first `stsz` sample_count. Box grammar: `[u32 size][4cc type]
    * [payload]`, size 1 → 64-bit largesize follows, size 0 → to end of
    * enclosing box; `moov/trak/mdia/minf/stbl` are containers. Returns null
    * for bytes that are not an MP4 (`ftyp` must lead) or carry no
    * video-shaped boxes.
    */
  def decodeMp4Meta(bytes: Array[Byte]): Row = try {
    def u32(off: Int): Long =
      ((bytes(off) & 0xffL) << 24) | ((bytes(off + 1) & 0xffL) << 16) |
        ((bytes(off + 2) & 0xffL) << 8) | (bytes(off + 3) & 0xffL)
    def u64(off: Int): Long = (u32(off) << 32) | u32(off + 4)
    def tag(off: Int): String =
      new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (bytes.length < 12 || tag(4) != "ftyp") return null
    val containers = Set("moov", "trak", "mdia", "minf", "stbl")
    var width = 0; var height = 0; var frames = 0
    def walk(start: Long, end: Long): Unit = {
      var off = start
      while (off + 8 <= end) {
        var size = u32(off.toInt)
        var hdr = 8L
        if (size == 1 && off + 16 <= end) { size = u64(off.toInt + 8); hdr = 16 }
        else if (size == 0) size = end - off
        if (size < hdr || off + size > end) return
        val t = tag(off.toInt + 4)
        if (containers(t)) walk(off + hdr, off + size)
        else if (t == "tkhd" && width == 0) {
          val p = (off + hdr).toInt
          // FullBox version selects 32- vs 64-bit times before the matrix
          val wOff = p + (if ((bytes(p) & 0xff) == 1) 88 else 76)
          if (wOff + 8 <= off + size) {
            val w = (u32(wOff) >> 16).toInt; val h = (u32(wOff + 4) >> 16).toInt
            if (w > 0 && h > 0) { width = w; height = h }
          }
        } else if (t == "stsz" && frames == 0) {
          val p = (off + hdr).toInt // version/flags, sample_size, sample_count
          if (p + 12 <= off + size) frames = u32(p + 8).toInt
        }
        off += size
      }
    }
    walk(0, bytes.length.toLong)
    if (width > 0 || frames > 0)
      Row(if (width > 0) width else null, if (height > 0) height else null,
        if (frames > 0) frames else null, null)
    else null
  } catch { case _: Exception => null }

  /** AVI container metadata via the RIFF walk (same chunk grammar as
    * [[decodeWavMeta]], LIST chunks recursed): total frames / width / height
    * from the `avih` MainAVIHeader. Returns null for non-AVI bytes.
    */
  def decodeAviMeta(bytes: Array[Byte]): Row = try {
    def tag(off: Int): String =
      new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    def u32le(off: Int): Long =
      (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
        ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
    if (bytes.length < 24 || tag(0) != "RIFF" || tag(8) != "AVI ") return null
    var result: Row = null
    def walk(start: Long, end: Long): Unit = {
      var off = start
      while (result == null && off + 8 <= end) {
        val size = u32le(off.toInt + 4)
        val t = tag(off.toInt)
        val next = off + 8L + size + (size & 1L)
        if (size < 0 || next <= off || next > end) return
        if (t == "LIST") walk(off + 12, math.min(off + 8 + size, end))
        else if (t == "avih" && size >= 40) {
          val p = off.toInt + 8
          val frames = u32le(p + 16).toInt
          val w = u32le(p + 32).toInt; val h = u32le(p + 36).toInt
          result = Row(if (w > 0) w else null, if (h > 0) h else null,
            if (frames > 0) frames else null, null)
        }
        off = next
      }
    }
    walk(12, bytes.length.toLong)
    result
  } catch { case _: Exception => null }

  /** Metadata decode, one partition-batch pass (the real contract: iterate a
    * partition, emit one decoded row per input row, never materialize the
    * partition). ALL THREE modalities decode their container metadata for
    * REAL — images/WAV via [[decodeImageMeta]]/[[decodeWavMeta]], video via
    * the [[decodeMp4Meta]]/[[decodeAviMeta]] box walks (container headers
    * need no codec; only pixel/frame-data decode is out of scope on the
    * codec-less classpath). Undecodable payloads get a null meta — honest
    * "decode failed", never fabricated.
    *
    * `syntheticVideoMeta = true` is the TEST-HARNESS escape hatch for the
    * synthetic corpus whose "video" payloads are UTF-8 text, not containers:
    * such payloads get the clearly-fake deterministic
    * `n_frames = 1 + n_bytes mod 300` (and fake dims) so downstream plumbing
    * has stable oracles. Production callers leave it false.
    */
  def decodeMeta(df: DataFrame, syntheticVideoMeta: Boolean = false): DataFrame = {
    val outSchema = StructType(df.schema.fields.map {
      case f if f.name == "meta" => StructField("meta", MediaSchema("meta").dataType)
      case f => f
    })
    val metaIdx = df.schema.fieldIndex("meta")
    val payloadIdx = df.schema.fieldIndex("payload")
    val modalityIdx = df.schema.fieldIndex("modality")
    df.mapPartitions { it =>
      // per-task ImageIO setting: stream from memory, never spill tmp files
      javax.imageio.ImageIO.setUseCache(false)
      it.map { row =>
        val payload = row.getAs[Array[Byte]](payloadIdx)
        val meta: Row = if (payload == null) null else {
          row.getString(modalityIdx) match {
            case "image" => decodeImageMeta(payload)
            case "audio" => decodeWavMeta(payload)
            case _ => // video: REAL container metadata (MP4 box walk, AVI RIFF)
              val mp4 = decodeMp4Meta(payload)
              val real = if (mp4 != null) mp4 else decodeAviMeta(payload)
              if (real != null) real
              else if (!syntheticVideoMeta) null
              else { // harness-only deterministic fake for non-container bytes
                val n = payload.length
                val h = payload.take(8).foldLeft(17)((a, b) => a * 31 + b) & 0x7fffffff
                Row(320 + h % 640, 240 + (h / 3) % 480, 1 + n % 300, null)
              }
          }
        }
        Row.fromSeq(row.toSeq.updated(metaIdx, meta))
      }
    }(Encoders.row(outSchema))
  }

  /** Payload feature extraction that IS fully real: byte statistics computed
    * as codegen'd expressions (no UDF) — length, entropy-proxy distinct-byte
    * count, and a content hash.
    */
  def byteFeatures(df: DataFrame): DataFrame =
    df.withColumn("n_bytes", length(col("payload")).cast(LongType))
      .withColumn("content_hash", md5(col("payload")))

  /** Frame sampling plumbing: every k-th frame index up to n_frames (the
    * decode of each frame would happen in the same partition pass as
    * [[decodeMeta]]). Emits (media_id, frame_idx) rows.
    */
  def sampleFrames(df: DataFrame, everyK: Int): DataFrame =
    df.filter(col("modality") === "video" && col("meta.n_frames").isNotNull)
      .select(col("media_id"),
        explode(sequence(lit(0), col("meta.n_frames") - 1, lit(everyK))).as("frame_idx"))

  /** Fixed-length analysis windows over an audio sample count: starts at
    * 0, hop, 2·hop, … while a full window fits (`start + windowSamples ≤
    * n_samples`) — the frame cutter in front of any spectral/embedding
    * stage. Pure integer `sequence` + `explode` (codegen'd, no UDF); the
    * per-row fan-out is bounded by `n_samples/hop`, so the pass stays an
    * embarrassingly parallel projection at any corpus size.
    */
  def audioWindows(
      df: DataFrame, nSamplesCol: String,
      windowSamples: Int, hopSamples: Int): DataFrame = {
    require(windowSamples > 0 && hopSamples > 0, "window/hop must be positive")
    df.filter(col(nSamplesCol) >= windowSamples)
      .select(col("media_id"),
        explode(sequence(lit(0L),
          col(nSamplesCol).cast(LongType) - windowSamples,
          lit(hopSamples.toLong))).as("start_sample"))
      .withColumn("end_sample", col("start_sample") + windowSamples)
  }

  /** Resize planning: fit each visual payload inside `maxW × maxH` preserving
    * aspect ratio — integer arithmetic on the decoded metadata (exact:
    * `w·maxH` vs `h·maxW` cross-compare, floor-scaled target dims, never
    * upscaled). The PIXEL resample itself would run in the same partition
    * pass as [[decodeMeta]] and is part of that stub; the planning columns
    * (`target_width`/`target_height`/`resize_needed`) are real and drive
    * which payloads a pipeline re-encodes.
    */
  def resizePlan(df: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    // The scaled dims use `div` (Catalyst IntegralDivide — true integer
    // floor for these non-negative operands), NOT double `/` + cast: the
    // all-integer bit-exact-oracle claim must hold literally, and a
    // correctly-rounded double quotient of large products can round up
    // across an integer boundary where integer division must not.
    val staged = df
      .withColumn("__mm_w", col("meta.width").cast(LongType))
      .withColumn("__mm_h", col("meta.height").cast(LongType))
    val w = col("__mm_w")
    val h = col("__mm_h")
    val visual = col("modality").isin("image", "video") && w.isNotNull && h.isNotNull
    val fits = w <= maxW && h <= maxH
    // scale by the tighter axis: if w/maxW >= h/maxH (i.e. w*maxH >= h*maxW)
    // the width binds: target = (maxW, floor(h*maxW/w)); else height binds
    val widthBinds = w * maxH >= h * lit(maxW.toLong)
    val tw = when(fits, w).otherwise(when(widthBinds, lit(maxW.toLong))
      .otherwise(expr(s"(__mm_w * ${maxH}L) div __mm_h")))
    val th = when(fits, h).otherwise(when(widthBinds, expr(s"(__mm_h * ${maxW}L) div __mm_w"))
      .otherwise(lit(maxH.toLong)))
    staged.withColumn("resize_needed", when(visual, !fits))
      .withColumn("target_width", when(visual, tw.cast(IntegerType)))
      .withColumn("target_height", when(visual, th.cast(IntegerType)))
      .drop("__mm_w", "__mm_h")
  }

  /** Execute the [[resizePlan]] for IMAGE payloads: decode via `ImageIO`,
    * bilinear-scale onto the `target_width × target_height` canvas, re-encode
    * as PNG, and refresh payload + meta dims. Rows that don't need a resize
    * (or whose payload isn't a decodable image) pass through untouched. Same
    * partition-batch shape as [[decodeMeta]] — one row in, one row out,
    * nothing materialized; at scale this is the payload-rewrite pass that
    * runs once per corpus ingest.
    *
    * Input must carry the [[resizePlan]] columns; they are consumed (dropped)
    * on output.
    */
  def resizeImages(df: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    val planned = resizePlan(df, maxW, maxH)
    val schema = planned.schema
    val outSchema = StructType(schema.fields.filterNot(f =>
      Set("resize_needed", "target_width", "target_height")(f.name)))
    val keepIdx = outSchema.fieldNames.map(schema.fieldIndex)
    val payloadIdx = schema.fieldIndex("payload")
    val metaIdx = schema.fieldIndex("meta")
    val modalityIdx = schema.fieldIndex("modality")
    val needIdx = schema.fieldIndex("resize_needed")
    val twIdx = schema.fieldIndex("target_width")
    val thIdx = schema.fieldIndex("target_height")
    planned.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { row =>
        val doResize = !row.isNullAt(needIdx) && row.getBoolean(needIdx) &&
          row.getString(modalityIdx) == "image" && !row.isNullAt(payloadIdx)
        val resized: Option[(Array[Byte], Int, Int)] = if (!doResize) None else {
          try {
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](payloadIdx)))
            if (img == null) None
            else {
              val (tw, th) = (row.getInt(twIdx), row.getInt(thIdx))
              val out = new java.awt.image.BufferedImage(
                tw, th, java.awt.image.BufferedImage.TYPE_INT_RGB)
              val g = out.createGraphics()
              try {
                g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                  java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
                g.drawImage(img, 0, 0, tw, th, null)
              } finally g.dispose()
              val baos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(out, "png", baos)
              Some((baos.toByteArray, tw, th))
            }
          } catch { case _: Exception => None }
        }
        val cells = keepIdx.map(row.get)
        resized match {
          case Some((bytes, tw, th)) =>
            val oldMeta = if (row.isNullAt(metaIdx)) null else row.getStruct(metaIdx)
            val newMeta = Row(tw, th,
              if (oldMeta == null) 1 else oldMeta.get(2),
              if (oldMeta == null) null else oldMeta.get(3))
            val outPayloadIdx = outSchema.fieldIndex("payload")
            val outMetaIdx = outSchema.fieldIndex("meta")
            cells(outPayloadIdx) = bytes
            cells(outMetaIdx) = newMeta
            Row.fromSeq(cells.toSeq)
          case None => Row.fromSeq(cells.toSeq)
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Dynamic high-resolution TILING plan — the LLaVA-NeXT-style loader step
    * that picks, per image, a tile grid from a candidate set so the image
    * can be split into `tileSize²` crops for a ViT encoder. For every
    * candidate grid (gx, gy) with gx·gy ≤ `maxTiles`, the image is
    * aspect-preserving scaled to FIT inside the gx·tileSize × gy·tileSize
    * canvas (cross-multiplied integer compare, floor-div scaled dims —
    * the [[resizePlan]] idiom, no float ratios); the chosen grid follows
    * the paper's `select_best_resolution` rule: maximize EFFECTIVE
    * resolution (scaled area capped at the original area — upscaling earns
    * no credit), then minimize wasted canvas, then fewer tiles, then
    * smaller gx — fully deterministic and all-integer, so a SQL oracle
    * replays it exactly. (Minimizing waste alone degenerates: an extreme
    * aspect ratio always "wins" on the 1×1 grid by shrinking the image to
    * almost nothing.)
    *
    * Input: a frame with `media_id` and integer `w`/`h` columns (decoded
    * dims from [[decodeMeta]], or synthetic dims in tests). Output: one row
    * per image with the winning grid, scaled dims, tile count, waste, and
    * `n_patches` = n_tiles · (tileSize div patchSize)² — the vision-token
    * budget the text-side packer consumes ([[graft.operators.Packing]]).
    *
    * Scale: the candidate set is a LITERAL ≤ maxTiles·H(maxTiles)-row
    * array (14 rows at maxTiles = 6) exploded against the corpus — a
    * narrow codegen'd projection + one per-image min-ranking window, no
    * joins, no shuffle beyond the window's own key partitioning.
    */
  def tilingPlan(
      df: DataFrame, idCol: String, wCol: String, hCol: String,
      tileSize: Int, maxTiles: Int, patchSize: Int = 14): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tileSize >= 1 && maxTiles >= 1 && patchSize >= 1)
    val grids = for {
      gx <- 1 to maxTiles; gy <- 1 to maxTiles if gx * gy <= maxTiles
    } yield (gx, gy)
    val gridArr = array(grids.map { case (gx, gy) =>
      struct(lit(gx).as("gx"), lit(gy).as("gy")) }: _*)
    val t = lit(tileSize.toLong)
    val w = col(wCol).cast(LongType); val h = col(hCol).cast(LongType)
    // scaled dims via `div` (Catalyst IntegralDivide), not double `/` +
    // cast — the "floor-div, all-integer" oracle claim must hold literally
    // even where a correctly-rounded double quotient would cross an
    // integer boundary (same discipline as [[resizePlan]]).
    val exploded = df.select(col(idCol).as("media_id"), w.as("w"), h.as("h"),
        explode(gridArr).as("g"))
      .withColumn("__cw", col("g.gx") * t)
      .withColumn("__ch", col("g.gy") * t)
      // aspect-preserving scale-to-fit: width binds iff w·CH ≥ h·CW
      .withColumn("__wb", col("w") * col("__ch") >= col("h") * col("__cw"))
      .withColumn("scaled_w",
        when(col("__wb"), col("__cw")).otherwise(expr("(w * __ch) div h")))
      .withColumn("scaled_h",
        when(col("__wb"), expr("(h * __cw) div w")).otherwise(col("__ch")))
      .withColumn("n_tiles", (col("g.gx") * col("g.gy")).cast(LongType))
      .withColumn("effective",
        least(col("scaled_w") * col("scaled_h"), col("w") * col("h")))
      .withColumn("waste",
        col("__cw") * col("__ch") - col("scaled_w") * col("scaled_h"))
    val pick = Window.partitionBy(col("media_id"))
      .orderBy(col("effective").desc, col("waste"), col("n_tiles"), col("g.gx"))
    val patchesPerTile = (tileSize / patchSize).toLong * (tileSize / patchSize)
    exploded.withColumn("__rn", row_number().over(pick))
      .filter(col("__rn") === 1)
      .select(col("media_id"), col("w"), col("h"),
        col("g.gx").cast(LongType).as("grid_x"),
        col("g.gy").cast(LongType).as("grid_y"),
        col("n_tiles"), col("scaled_w"), col("scaled_h"), col("waste"),
        (col("n_tiles") * patchesPerTile).as("n_patches"))
  }

  /** Schema of one decoded video-timing row: media timescale (ticks per
    * second, from `mdhd`) and the `stts` sample-duration run-length table.
    * Each entry carries PREFIX CUMULATIVES — the index of its first sample
    * and the ticks elapsed before it — so per-frame timestamp arithmetic
    * downstream is a stateless integer projection, no window pass.
    */
  val TimingSchema: StructType = StructType(Seq(
    StructField("timescale", LongType),
    StructField("entries", ArrayType(StructType(Seq(
      StructField("first_idx", LongType, nullable = false),
      StructField("ticks_before", LongType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("delta", LongType, nullable = false))), containsNull = false))))

  /** MP4 sample-TIMING decode — the same ISO-BMFF box walk as
    * [[decodeMp4Meta]] reading two more leaves: the media timescale from
    * `mdhd` (version 0 puts it 12 bytes into the FullBox payload, version 1
    * at 20 after the 64-bit times) and the sample-duration run-length table
    * from `stts` (`entry_count × (sample_count, sample_delta)`). Run
    * lengths are re-emitted with prefix cumulatives ([[TimingSchema]]).
    * Returns null when the bytes are not ISO-BMFF or carry no usable
    * `mdhd`+`stts` pair — honest "decode failed", never fabricated.
    */
  def decodeMp4Timing(bytes: Array[Byte]): Row = try {
    def u32(off: Int): Long =
      ((bytes(off) & 0xffL) << 24) | ((bytes(off + 1) & 0xffL) << 16) |
        ((bytes(off + 2) & 0xffL) << 8) | (bytes(off + 3) & 0xffL)
    def u64(off: Int): Long = (u32(off) << 32) | u32(off + 4)
    def tag(off: Int): String =
      new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (bytes.length < 12 || tag(4) != "ftyp") return null
    val containers = Set("moov", "trak", "mdia", "minf", "stbl")
    var timescale = 0L
    var entries: Array[Row] = null
    def walk(start: Long, end: Long): Unit = {
      var off = start
      while (off + 8 <= end) {
        var size = u32(off.toInt)
        var hdr = 8L
        if (size == 1 && off + 16 <= end) { size = u64(off.toInt + 8); hdr = 16 }
        else if (size == 0) size = end - off
        if (size < hdr || off + size > end) return
        val t = tag(off.toInt + 4)
        if (containers(t)) walk(off + hdr, off + size)
        else if (t == "mdhd" && timescale == 0) {
          val p = (off + hdr).toInt
          // FullBox version selects 32- vs 64-bit creation/modification times
          val tsOff = p + (if ((bytes(p) & 0xff) == 1) 20 else 12)
          if (tsOff + 4 <= off + size) timescale = u32(tsOff)
        } else if (t == "stts" && entries == null) {
          val p = (off + hdr).toInt // version/flags, entry_count, entries
          if (p + 8 <= off + size) {
            val n = u32(p + 4).toInt
            if (n > 0 && p + 8 + 8L * n <= off + size) {
              var firstIdx = 0L; var ticks = 0L
              entries = Array.tabulate(n) { i =>
                val cnt = u32(p + 8 + 8 * i); val d = u32(p + 12 + 8 * i)
                val row = Row(firstIdx, ticks, cnt, d)
                firstIdx += cnt; ticks += cnt * d
                row
              }
            }
          }
        }
        off += size
      }
    }
    walk(0, bytes.length.toLong)
    if (timescale > 0 && entries != null) Row(timescale, entries.toSeq) else null
  } catch { case _: Exception => null }

  /** Build a REAL minimal ISO-BMFF (MP4) payload — the harness-side
    * generator for the synthetic corpus (the [[fromDocuments]] convention:
    * deterministic test bytes, but genuine container grammar, so the box
    * walks [[decodeMp4Meta]]/[[decodeMp4Timing]] parse them exactly as they
    * would production files). Layout:
    * `ftyp` + `moov[trak[tkhd, mdia[mdhd, minf[stbl[stts, stsz]]]]]` with
    * v0 FullBoxes, 16.16 fixed-point tkhd dims, the given mdhd timescale,
    * one stts entry per `(sampleCount, sampleDelta)` run, and an stsz whose
    * sample_count is the total frame count (sample_size = 1, so no
    * per-sample table follows).
    */
  def buildMp4(
      width: Int, height: Int, timescale: Long,
      runs: Seq[(Long, Long)]): Array[Byte] = {
    require(timescale > 0 && runs.nonEmpty && runs.forall(r => r._1 > 0 && r._2 >= 0))
    def u32(v: Long): Array[Byte] = Array(
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(t: String, payload: Array[Byte]*): Array[Byte] = {
      val body = payload.flatten.toArray
      u32(8L + body.length) ++ t.getBytes("US-ASCII") ++ body
    }
    val duration = runs.map { case (c, d) => c * d }.sum
    val nSamples = runs.map(_._1).sum
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII"), u32(0),
      "isom".getBytes("US-ASCII"))
    // tkhd v0: fullbox + creation/modification/track_id/reserved/duration
    // (20) + reserved (8) + layer/alt (4) + volume/reserved (4) + unity
    // matrix (36) + 16.16 width/height
    val tkhd = box("tkhd",
      u32(0), u32(0), u32(0), u32(1), u32(0), u32(duration),
      u32(0), u32(0), u32(0), u32(0),
      u32(0x00010000L), u32(0), u32(0),
      u32(0), u32(0x00010000L), u32(0),
      u32(0), u32(0), u32(0x40000000L),
      u32(width.toLong << 16), u32(height.toLong << 16))
    // mdhd v0: fullbox + creation + modification + timescale + duration +
    // language/pre_defined
    val mdhd = box("mdhd",
      u32(0), u32(0), u32(0), u32(timescale), u32(duration), u32(0x55c40000L))
    val stts = box("stts", u32(0) +: u32(runs.length.toLong) +:
      runs.flatMap { case (c, d) => Seq(u32(c), u32(d)) }: _*)
    val stsz = box("stsz", u32(0), u32(1), u32(nSamples))
    ftyp ++ box("moov", box("trak", tkhd,
      box("mdia", mdhd, box("minf", box("stbl", stts, stsz)))))
  }

  /** Decode per-video sample timing ([[decodeMp4Timing]]) in the same
    * partition-batch shape as [[decodeMeta]]: one row per VIDEO input row —
    * `(media_id, timescale, entries)`, with null timing columns when the
    * payload is not a parseable MP4 (callers filter or count failures).
    */
  def videoTiming(df: DataFrame): DataFrame = {
    val idIdx = df.schema.fieldIndex("media_id")
    val payloadIdx = df.schema.fieldIndex("payload")
    val outSchema = StructType(
      StructField("media_id", LongType, nullable = false) +: TimingSchema.fields)
    df.filter(col("modality").isNotNull && col("modality") === "video")
      .mapPartitions { it =>
        it.map { row =>
          val payload =
            if (row.isNullAt(payloadIdx)) null
            else row.getAs[Array[Byte]](payloadIdx)
          val t = if (payload == null) null else decodeMp4Timing(payload)
          if (t == null) Row(row.getLong(idIdx), null, null)
          else Row(row.getLong(idIdx), t.get(0), t.get(1))
        }
      }(Encoders.row(outSchema))
  }

  /** Frame-sampling plan with REAL presentation timestamps: every k-th
    * frame index with its `stts`-derived pts, in ticks and (floor-div)
    * microseconds — what a frame-extraction pass seeks to, computed from
    * container metadata alone (no codec). Input is [[videoTiming]] output;
    * undecodable rows (null timing) drop out here.
    *
    * All integer: for a sampled frame f inside a run-length entry,
    * `pts_ticks = ticks_before + (f − first_idx)·delta` and
    * `pts_us = pts_ticks·10⁶ div timescale`. Plan shape: explode the
    * (short) entry list, one codegen'd `sequence` explode per entry for
    * the sampled indices in its range — a narrow projection, no shuffle,
    * per-row fan-out bounded by n_frames/k exactly like [[sampleFrames]].
    */
  def frameTimestamps(timing: DataFrame, everyK: Int): DataFrame = {
    require(everyK >= 1, "everyK must be positive")
    val k = everyK.toLong
    timing.filter(col("timescale").isNotNull && col("entries").isNotNull)
      .select(col("media_id"), col("timescale"), explode(col("entries")).as("e"))
      // smallest multiple of k at or after this entry's first sample index
      .withColumn("__first", expr(s"((e.first_idx + ${k - 1}L) div ${k}L) * ${k}L"))
      .filter(col("__first") < col("e.first_idx") + col("e.n_samples"))
      .select(col("media_id"), col("timescale"), col("e"),
        explode(sequence(col("__first"),
          col("e.first_idx") + col("e.n_samples") - 1, lit(k))).as("frame_idx"))
      .withColumn("pts_ticks",
        col("e.ticks_before") + (col("frame_idx") - col("e.first_idx")) * col("e.delta"))
      .withColumn("pts_us", expr("(pts_ticks * 1000000L) div timescale"))
      .select("media_id", "frame_idx", "pts_ticks", "pts_us")
  }

  /** Constant-frame-rate SEGMENT view of a video's timing: one row per
    * `stts` run-length entry — boundaries are exactly where the sample
    * duration changes, which in edited footage marks cut/splice points, so
    * this is the container-only stand-in for scene segmentation (the
    * codec-free part; a pixel-based scene detector would refine within
    * segments). Per segment: ordinal, first frame index, frame count,
    * per-frame tick delta, and floor-div µs start/duration — all integer
    * from [[videoTiming]]'s prefix cumulatives, a stateless posexplode
    * projection (no shuffle, no window).
    */
  def videoSegments(timing: DataFrame): DataFrame =
    timing.filter(col("timescale").isNotNull && col("entries").isNotNull)
      .select(col("media_id"), col("timescale"),
        posexplode(col("entries")).as(Seq("seg_idx", "e")))
      .select(col("media_id"), col("seg_idx").cast(LongType).as("seg_idx"),
        col("e.first_idx").as("first_frame"),
        col("e.n_samples").as("n_frames"),
        col("e.delta").as("frame_ticks"),
        expr("(e.ticks_before * 1000000L) div timescale").as("start_us"),
        expr("(e.n_samples * e.delta * 1000000L) div timescale").as("duration_us"))

  /** CLIP-score-style image–text pair gate — the multimodal curation step
    * that keeps only pairs whose stored image embedding and text embedding
    * agree (cosine ≥ threshold), the web-scale image-text filtering rule
    * (LAION-style: gate on a pretrained CLIP's score; the model inference
    * that PRODUCED the embeddings runs upstream — this operator consumes
    * stored vectors, which is also why it stays a pure Spark projection).
    *
    * Scores fold sequentially ([[graft.operators.Similarity.dot]]'s native
    * expression — identical IEEE accumulation to the DuckDB `list_sum`
    * oracle), so gate decisions are bit-deterministic. One codegen'd
    * projection over the paired frame: no shuffle, no UDF, linear at any
    * corpus size.
    */
  def imageTextGate(
      pairs: DataFrame, imgVecCol: String, txtVecCol: String,
      threshold: Double): DataFrame = {
    val img = graft.operators.Similarity.asDouble(col(imgVecCol))
    val txt = graft.operators.Similarity.asDouble(col(txtVecCol))
    pairs
      .withColumn("clip_score", graft.operators.Similarity.cosine(img, txt))
      .withColumn("kept", col("clip_score") >= threshold)
  }

  /** Modality quality gate — the multimodal loader's pre-filter (the mx4
    * quality-gate shape applied to decoded media metadata, the screen
    * every image/audio/video curation pass runs before tokenization):
    * per example, ONE verdict from integer threshold rules with pinned
    * precedence, then per-(modality, verdict) counts and exact ppm
    * shares.
    *
    *   image: `too_small` if min(w,h) < minDim, else `extreme_aspect`
    *          if w > maxAspect·h or h > maxAspect·w, else `keep`
    *   audio: `too_short` if samples < minSamples, else `keep`
    *   video: `too_short` if frames < minFrames, else `keep`
    *
    * Input needs `modality` plus the per-modality meta columns (`w`/`h`
    * for images, `nsamples` for audio, `nframes` for video — from
    * [[decodeMeta]] in production, synthetic-meta conventions in tests;
    * irrelevant columns may be NULL). All comparisons and the
    * share_ppm = 10⁶·n div modality-total are exact integers.
    *
    * Scale: one codegen'd projection + one (modality, verdict) aggregate
    * + one ppm window over the ≤ |modalities|·|verdicts| grouped frame —
    * nothing data-sized is global.
    */
  /** Row-level verdict for [[modalityQualityGate]]'s rules — exposed
    * separately so curation DAGs can FILTER on it (`verdict = 'keep'`)
    * rather than only report counts. Same pinned precedence, pure
    * codegen'd projection.
    */
  def withModalityVerdict(
      df: DataFrame, minDim: Long = 128, maxAspect: Long = 3,
      minSamples: Long = 16000, minFrames: Long = 10): DataFrame = {
    val verdict =
      when(col("modality") === "image",
        when(least(col("w"), col("h")) < minDim, "too_small")
          .when(col("w") > col("h") * maxAspect ||
                col("h") > col("w") * maxAspect, "extreme_aspect")
          .otherwise("keep"))
      .when(col("modality") === "audio",
        when(col("nsamples") < minSamples, "too_short").otherwise("keep"))
      .otherwise(
        when(col("nframes") < minFrames, "too_short").otherwise("keep"))
    df.withColumn("verdict", verdict)
  }

  def modalityQualityGate(
      df: DataFrame, minDim: Long = 128, maxAspect: Long = 3,
      minSamples: Long = 16000, minFrames: Long = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byModality = Window.partitionBy(col("modality"))
    withModalityVerdict(df, minDim, maxAspect, minSamples, minFrames)
      .groupBy(col("modality"), col("verdict"))
      .agg(count(lit(1)).as("n"))
      .withColumn("__tot", sum(col("n")).over(byModality))
      .withColumn("share_ppm", expr("(1000000 * n) div __tot"))
      .select(col("modality"), col("verdict"), col("n").cast(LongType).as("n"),
        col("share_ppm"))
  }
}
