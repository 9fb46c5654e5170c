package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

import graft.Tables._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column processing: media payloads are opaque `binary` columns
  * with a typed metadata struct riding alongside (the same pattern as the
  * streaming HriRecord's opaque `value`, SURVEY.md §1.1).
  *
  * The decode step is REAL, using the codecs the JDK ships: PNG through
  * `javax.imageio` (images, and the frames of the video container) and
  * PCM WAV through `javax.sound.sampled` (audio). Video has no JDK
  * demuxer, so the container is a minimal length-prefixed PNG-frame table
  * — the demux is a genuine parse and every sampled frame genuinely
  * decodes. Payloads are synthesized deterministically from the asset id
  * (smooth gradients, so PNGs stay small), which makes every decoded
  * value exactly assertable in tests.
  *
  * Scale shape: synthesis and decode are per-row `mapPartitions` work on
  * executors — payload bytes never visit the driver, and a real codec
  * (JNI, hardware) would amortize init across each partition's batch
  * exactly where these loops run.
  */
object Multimodal {

  // ImageIO defaults to a DISK-backed stream cache: every read/write
  // spills through a temp file in java.io.tmpdir
  // (FileCacheImageInput/OutputStream), so per-asset decode cost tracks
  // local-disk health and the create/delete syscalls serialize under
  // executor-thread contention — measured 2.5x slower at 32 threads on
  // this box, and the likely driver of the r15 media-family timing
  // swings (BENCH_DIFF_r15.md watch item). All payloads here are
  // in-memory byte arrays; the memory-backed cache is strictly better.
  // JVM-global, set when the object initializes on each executor —
  // every codec call below goes through this object.
  ImageIO.setUseCache(false)

  /** A media asset: opaque bytes + typed metadata. */
  case class MediaAsset(
      asset_id: Long,
      media_type: String, // "image" | "audio" | "video"
      content: Array[Byte],
      width: Int,
      height: Int,
      n_frames: Int)

  /** Extracted features per asset. `width`/`height` come from the DECODED
    * payload (not the metadata), so a metadata/payload mismatch is
    * observable; `checksum` hashes decoded pixels/samples, not the encoded
    * bytes, so it is stable under re-encoding. */
  case class MediaFeatures(
      asset_id: Long,
      media_type: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      n_frames_sampled: Int,
      checksum: Long)

  /** One sampled frame of an asset: decoded size + decoded-content hash.
    * For video the frame is a PNG-decoded raster; for audio a PCM sample
    * window; for an image the whole raster. */
  case class MediaFrame(
      asset_id: Long,
      frame_idx: Int,
      frame_bytes: Long,
      frame_checksum: Long)

  // ---------------------------------------------------------------- codecs

  /** Deterministic smooth-gradient pixel — compressible (PNG stays ~KB)
    * and exactly recomputable for assertions. */
  private def pixel(seed: Long, x: Int, y: Int): Int = {
    val a = (seed * 2654435761L >>> 16).toInt
    val r = (x + a) & 0xFF
    val g = (y + 2 * a) & 0xFF
    val b = (x + y + 3 * a) & 0xFF
    (r << 16) | (g << 8) | b
  }

  private def synthImage(seed: Long, w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    // bulk raster write: one array store per pixel instead of a setRGB
    // call (which converts through the color model per invocation)
    val arr = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { arr(y * w + x) = pixel(seed, x, y); x += 1 }
      y += 1
    }
    img.setRGB(0, 0, w, h, arr, 0, w)
    img
  }

  private def pngBytes(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Real PNG decode — the JDK's ImageIO reader, not a fake. */
  def decodePng(bytes: Array[Byte]): BufferedImage = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, s"payload of ${bytes.length} bytes is not a decodable image")
    img
  }

  /** Order-pinned rolling hash over the decoded raster (row-major RGB). */
  def rasterChecksum(img: BufferedImage): Long = {
    val w = img.getWidth
    val arr = img.getRGB(0, 0, w, img.getHeight, null, 0, w) // bulk read
    var h = 1125899906842597L
    var i = 0
    while (i < arr.length) { h = 31 * h + (arr(i) & 0xFFFFFF); i += 1 }
    h
  }

  /** Deterministic nearest-neighbor scale — no AWT rendering-hint
    * ambiguity, bit-identical everywhere. Bulk raster in and out. */
  private def scaleNN(img: BufferedImage, w: Int, h: Int): BufferedImage = {
    val sw = img.getWidth
    val src = img.getRGB(0, 0, sw, img.getHeight, null, 0, sw)
    val out = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val sy = (y.toLong * img.getHeight / h).toInt
      var x = 0
      while (x < w) {
        out(y * w + x) = src(sy * sw + (x.toLong * sw / w).toInt)
        x += 1
      }
      y += 1
    }
    val dst = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    dst.setRGB(0, 0, w, h, out, 0, w)
    dst
  }

  private val SampleRate = 8000f
  val AudioWindow = 64 // samples per "frame" for audio frame-sampling

  /** Deterministic 16-bit PCM sample for (seed, index). */
  private def sample(seed: Long, i: Int): Short =
    (((i * (2 * seed + 1) * 2654435761L) >>> 16) & 0xFFFF).toShort

  /** Canonical 44-byte-header PCM WAV (16-bit mono little-endian) — the
    * shape `javax.sound.sampled` reads back natively. */
  private def wavBytes(seed: Long, nSamples: Int): Array[Byte] = {
    val dataLen = nSamples * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(SampleRate.toInt)
      .putInt(SampleRate.toInt * 2) // byte rate
      .putShort(2)  // block align
      .putShort(16) // bits per sample
    buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < nSamples) { buf.putShort(sample(seed, i)); i += 1 }
    buf.array()
  }

  /** Real WAV decode via the JDK's audio system: parses the header,
    * verifies PCM 16-bit, returns the samples. */
  def decodeWav(bytes: Array[Byte]): Array[Short] = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new ByteArrayInputStream(bytes))
    val fmt = in.getFormat
    require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
      s"expected 16-bit mono PCM, got $fmt")
    val raw = in.readAllBytes()
    val bb = java.nio.ByteBuffer.wrap(raw).order(
      if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
      else java.nio.ByteOrder.LITTLE_ENDIAN)
    Array.fill(raw.length / 2)(bb.getShort)
  }

  private def sampleChecksum(samples: Array[Short], from: Int, until: Int): Long = {
    var h = 1125899906842597L
    var i = from
    while (i < until && i < samples.length) { h = 31 * h + samples(i); i += 1 }
    h
  }

  /** Minimal video container: 4-byte big-endian length prefix per PNG
    * frame. Real containers need demuxers the JDK lacks; this keeps the
    * demux a genuine parse and each frame a genuine PNG decode. */
  private def videoBytes(frames: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    frames.foreach { f => out.writeInt(f.length); out.write(f) }
    bos.toByteArray
  }

  /** Demux the frame table back out of the container. */
  def videoFrames(bytes: Array[Byte]): Seq[Array[Byte]] = {
    val in = new java.io.DataInputStream(new ByteArrayInputStream(bytes))
    val frames = Seq.newBuilder[Array[Byte]]
    var ok = true
    while (ok && in.available() >= 4) {
      val len = in.readInt()
      // corrupted length prefix: a negative or past-the-end frame length
      // must not drive the allocation (a flipped bit would otherwise ask
      // for a 2 GB array on an executor) — stop at the last whole frame,
      // the truncated-container posture the zero-frame guards share
      if (len < 0 || len > in.available()) ok = false
      else {
        val f = new Array[Byte](len)
        in.readFully(f)
        frames += f
      }
    }
    frames.result()
  }

  // ------------------------------------------------------------- synthesis

  /** Cap video frames small: per-frame PNG decode work is F× the image
    * path's, and frame content, not frame size, is what the tests pin. */
  private val VideoFrameW = 64
  private val VideoFrameH = 48

  /** Deterministic payload for an asset id: every third doc an image
    * (PNG), audio (WAV), or video (PNG-frame container). Runs on
    * executors inside the Dataset map — the driver never sees a payload. */
  def synthesizeAsset(docId: Long): MediaAsset = (docId % 3) match {
    case 0 =>
      // size distribution, not uniform large: 1 in 8 images is bigger than
      // the 320×240 resize box (so the downscale path stays exercised);
      // the rest are thumbnails. Keeps encode+decode cost ∝ corpus size
      // with a small constant — a uniform-large distribution measured
      // 17-21 s per media query at sf0.1 vs ~2 s with this one.
      val (w, h) =
        if (docId % 24 == 0) (360 + (docId % 120).toInt, 270 + (docId % 90).toInt)
        else (24 + (docId % 136).toInt, 18 + (docId % 102).toInt)
      MediaAsset(docId, "image", pngBytes(synthImage(docId, w, h)), w, h, 1)
    case 1 =>
      val n = 256 + (docId % 256).toInt
      val frames = (n + AudioWindow - 1) / AudioWindow
      MediaAsset(docId, "audio", wavBytes(docId, n), 0, 0, frames)
    case _ =>
      val f = 1 + (docId % 5).toInt
      val frames = (0 until f).map(i =>
        pngBytes(synthImage(docId * 31 + i, VideoFrameW, VideoFrameH)))
      MediaAsset(docId, "video", videoBytes(frames), VideoFrameW, VideoFrameH, f)
  }

  /** Builds the media table from the documents table's ids — real encoded
    * payloads, synthesized per-partition on executors. */
  def mediaFromDocuments(s: SparkSession, d: String): Dataset[MediaAsset] = {
    import s.implicits._
    // the id list reads as one small parquet split, which would serialize
    // the (CPU-heavy) encode/decode work onto one core — spread it first.
    // The shuffle moves only 8-byte ids; payloads are born distributed.
    documents(s, d).select(col("doc_id")).as[Long]
      .repartition(s.sparkContext.defaultParallelism)
      .mapPartitions(_.map(synthesizeAsset))
  }

  // ---------------------------------------------------------------- decode

  /** Real per-type decode: PNG raster, WAV samples, or demux + per-frame
    * PNG decode. Partition-batched so a heavier codec amortizes init. */
  def decode(a: MediaAsset): MediaFeatures = a.media_type match {
    case "image" =>
      val img = decodePng(a.content)
      MediaFeatures(a.asset_id, a.media_type, a.content.length.toLong,
        img.getWidth, img.getHeight, 1, rasterChecksum(img))
    case "audio" =>
      val samples = decodeWav(a.content)
      val windows = (samples.length + AudioWindow - 1) / AudioWindow
      MediaFeatures(a.asset_id, a.media_type, a.content.length.toLong,
        0, 0, windows, sampleChecksum(samples, 0, samples.length))
    case _ =>
      val frames = videoFrames(a.content).map(decodePng)
      var h = 1125899906842597L
      frames.foreach(f => h = 31 * h + rasterChecksum(f))
      MediaFeatures(a.asset_id, a.media_type, a.content.length.toLong,
        frames.headOption.map(_.getWidth).getOrElse(0),
        frames.headOption.map(_.getHeight).getOrElse(0),
        frames.length, h)
  }

  /** Feature extraction over a media table: partition-parallel batched
    * decode (the Scala analogue of a mapInPandas batch). */
  def extractFeatures(assets: Dataset[MediaAsset]): Dataset[MediaFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.map(decode))
  }

  /** Real resize: decode, deterministic nearest-neighbor scale into the
    * box (aspect kept, only downscale), re-encode. Video scales every
    * frame and rebuilds the container; audio passes through (no spatial
    * dims). Metadata dims are taken from the re-decoded output, so they
    * cannot drift from the payload. */
  def resizeAsset(a: MediaAsset, maxW: Int, maxH: Int): MediaAsset = a.media_type match {
    case "image" =>
      val img = decodePng(a.content)
      val s = math.min(1.0, math.min(
        maxW.toDouble / img.getWidth, maxH.toDouble / img.getHeight))
      if (s >= 1.0) a.copy(width = img.getWidth, height = img.getHeight)
      else {
        val out = scaleNN(img,
          math.max(1, (img.getWidth * s).toInt), math.max(1, (img.getHeight * s).toInt))
        a.copy(content = pngBytes(out), width = out.getWidth, height = out.getHeight)
      }
    case "audio" => a
    case _ =>
      // demux ONCE and branch (frameRows' shape — a guard-pattern
      // emptiness test would parse the whole container twice per video)
      val raw = videoFrames(a.content)
      if (raw.isEmpty)
        // zero-frame container: pass through with zero dims, the same
        // malformed-payload posture as decode()'s headOption guards
        a.copy(width = 0, height = 0)
      else {
        val frames = raw.map(decodePng)
        val w0 = frames.head.getWidth
        val h0 = frames.head.getHeight
        val s = math.min(1.0, math.min(maxW.toDouble / w0, maxH.toDouble / h0))
        if (s >= 1.0) a.copy(width = w0, height = h0)
        else {
          val w = math.max(1, (w0 * s).toInt)
          val h = math.max(1, (h0 * s).toInt)
          a.copy(content = videoBytes(frames.map(f => pngBytes(scaleNN(f, w, h)))),
            width = w, height = h)
        }
      }
  }

  def resize(assets: Dataset[MediaAsset], maxW: Int, maxH: Int): Dataset[MediaAsset] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.map(resizeAsset(_, maxW, maxH)))
  }

  /** Real frame sampling: video demuxes and PNG-decodes an even stride of
    * min(k, n) frames (frame_idx = position in the CONTAINER, so sampling
    * is reproducible); audio hashes min(k, n) PCM windows; an image is its
    * own single frame. One asset flatMaps to ≤k frame rows — the
    * row-explosion shape a video pipeline needs, with decoded frames owned
    * by executors, never the driver. */
  def frameRows(a: MediaAsset, k: Int): Seq[MediaFrame] = a.media_type match {
    case "image" =>
      val img = decodePng(a.content)
      Seq(MediaFrame(a.asset_id, 0, a.content.length.toLong, rasterChecksum(img)))
    case "audio" =>
      val samples = decodeWav(a.content)
      val windows = (samples.length + AudioWindow - 1) / AudioWindow
      val n = math.min(k, math.max(1, windows))
      (0 until n).map { i =>
        val w = (windows.toLong * i / n).toInt // even stride over windows
        val from = w * AudioWindow
        val until = math.min(samples.length, from + AudioWindow)
        MediaFrame(a.asset_id, w, (until - from) * 2L,
          sampleChecksum(samples, from, until))
      }
    case _ =>
      val frames = videoFrames(a.content)
      if (frames.isEmpty) Seq.empty // zero-frame container → no frame rows
      else {
        val n = math.min(k, frames.length)
        (0 until n).map { i =>
          val idx = (frames.length.toLong * i / n).toInt
          val png = frames(idx)
          MediaFrame(a.asset_id, idx, png.length.toLong, rasterChecksum(decodePng(png)))
        }
      }
  }

  def sampleFrames(assets: Dataset[MediaAsset], k: Int): Dataset[MediaFrame] = {
    import assets.sparkSession.implicits._
    assets.flatMap(frameRows(_, k))
  }

  // ------------------------------------------------ frozen decode boundary

  // The decode boundary freezes as [[Frozen]] "media-<which>", shared
  // verbatim with the DuckDB twins: decode itself cannot run in DuckDB, so
  // the per-asset DECODED table is the frozen boundary and everything
  // downstream of it (resize-box arithmetic, per-type aggregation
  // algebra) is recomputed independently by the oracle. The decode stays
  // pinned by OperatorSpec's deterministic-checksum and
  // distributed==local equality tests.

  /** Image dimensions via the codec's HEADER parse — `ImageReader
    * .getWidth/getHeight` read the PNG IHDR without rasterizing a single
    * pixel. This is the 100 TB-correct way to learn geometry (a dims
    * pass over petabytes of media must not raster-decode every payload);
    * it is still a REAL codec read, so a corrupt header fails loudly. */
  def pngDims(bytes: Array[Byte]): (Int, Int) = {
    val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
    try {
      val readers = ImageIO.getImageReaders(iis)
      require(readers.hasNext, s"payload of ${bytes.length} bytes has no image reader")
      val r = readers.next()
      try { r.setInput(iis); (r.getWidth(0), r.getHeight(0)) }
      finally r.dispose()
    } finally iis.close()
  }

  /** Header-parse-only dims/frames row: image = IHDR dims; audio = frame
    * count from the WAV header (no sample read); video = demux the frame
    * TABLE (length prefixes only) + IHDR of the first frame. Agrees with
    * [[decode]]'s raster-level values by construction — MediaSpec pins
    * the equality and the media_resize driver hash runs through it. */
  def dimsOnly(a: MediaAsset): (Long, String, Int, Int, Int) = a.media_type match {
    case "image" =>
      val (w, h) = pngDims(a.content)
      (a.asset_id, a.media_type, w, h, 1)
    case "audio" =>
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new ByteArrayInputStream(a.content))
      // Fail-loud posture matching pngDims: close the stream, and reject
      // streams with no declared length (getFrameLength returns
      // AudioSystem.NOT_SPECIFIED = -1) rather than yielding 0 frames.
      val samples =
        try {
          val n = in.getFrameLength
          require(n >= 0, s"audio payload of asset ${a.asset_id} has no declared frame length")
          n.toInt // 16-bit mono: frames == samples
        } finally in.close()
      (a.asset_id, a.media_type, 0, 0, (samples + AudioWindow - 1) / AudioWindow)
    case _ =>
      val frames = videoFrames(a.content)
      if (frames.isEmpty) (a.asset_id, a.media_type, 0, 0, 0)
      else {
        val (w, h) = pngDims(frames.head)
        (a.asset_id, a.media_type, w, h, frames.length)
      }
  }

  /** Registered media_resize entry — HASH-GREEN since r11 (r10 VERDICT
    * task 7): freezes the decoded INPUT dimensions (a header-parse codec
    * pass — [[dimsOnly]]), then runs the real decode → nearest-neighbor
    * scale → re-encode pipeline. The oracle recomputes the aspect-keeping
    * box arithmetic (s = min(1, 320/w, 240/h); out = max(1, ⌊dim·s⌋))
    * from the frozen input dims, so the hash gate covers header-vs-raster
    * decode agreement plus the whole resize-accounting algebra; the
    * pixel-level scale/re-encode content stays pinned by OperatorSpec's
    * checksum assertions (payload bytes are opaque to the driver). */
  def qMediaResize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val assets = mediaFromDocuments(s, d)
    Frozen(
      assets.mapPartitions(_.map(dimsOnly))
        .toDF("asset_id", "media_type", "width", "height", "n_frames"),
      Frozen.path("media-resize-in", d))
    resize(assets, 320, 240).toDF().drop("content")
  }

  /** Per-type corpus accounting over the decoded-feature table — the
    * report a media-curation run ships (asset counts, payload mass,
    * frame totals, decoded-dimension envelope, order-independent decoded-
    * content checksum). The registered entry freezes the decoded table
    * ([[Frozen]] "media-features") and aggregates the loaded copy;
    * the DuckDB twin recomputes the whole aggregation from the same
    * parquet — the downstream algebra of the media family is hash-gated
    * even though the decode boundary itself cannot run in SQL. Checksum
    * travels as decimal(38,0)-summed STRING (the release_manifest
    * convention: order/partitioning-independent, engine-portable). */
  def qMediaReport(s: SparkSession, d: String): DataFrame = {
    val frozen = Frozen(extractFeatures(mediaFromDocuments(s, d)).toDF(),
      Frozen.path("media-features", d))
    frozen.groupBy(col("media_type")).agg(
      count(lit(1)).as("n_assets"),
      sum(col("n_bytes")).as("total_bytes"),
      sum(col("n_frames_sampled").cast("long")).as("total_frames"),
      max(col("width")).as("max_width"),
      max(col("height")).as("max_height"),
      sum(col("checksum").cast("decimal(38,0)")).cast("decimal(38,0)")
        .cast("string").as("checksum_sum"))
  }

  /** Registered media_frame_audit entry — HASH-GREEN frames accounting
    * (r11 VERDICT task 4, completing the media family the media_report
    * way): the header-parse dims/frame-count table is frozen
    * ([[Frozen]] "media-frames-in"), then the REAL sampler
    * ([[sampleFrames]], k=4 — the registered media_frames entry's k) runs
    * over the real decode and each asset's sampled container indices are
    * emitted with their per-asset sample ordinal. The DuckDB twin
    * recomputes the sampler's stride arithmetic PURELY from the frozen
    * table — n = 1 (image) / min(k, max(1, windows)) (audio) /
    * min(k, n_frames) (video, zero-frame containers dropped); frame_idx
    * = ⌊n_frames·i/n⌋ in integer math — so a hash match proves the real
    * decode-and-sample path hits exactly the positions the arithmetic
    * promises, for every asset. media_frames itself stays declared
    * rows-only (pixel decode); its accounting no longer is. The ordinal
    * window is PARTITIONED by asset_id (≤ k rows per key — bounded). */
  def qMediaFrameAudit(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val assets = mediaFromDocuments(s, d)
    val fz = Frozen(
      assets.mapPartitions(_.map(dimsOnly))
        .toDF("asset_id", "media_type", "width", "height", "n_frames"),
      Frozen.path("media-frames-in", d))
    val byAsset = Window.partitionBy(col("asset_id")).orderBy(col("frame_idx"))
    sampleFrames(assets, 4).toDF()
      .select(col("asset_id"), col("frame_idx"))
      .withColumn("sample_i", (row_number().over(byAsset) - 1).cast("int"))
      .join(fz.select(col("asset_id"), col("media_type"), col("n_frames")),
        Seq("asset_id"))
      .select(col("asset_id"), col("media_type"), col("n_frames"),
        col("sample_i"), col("frame_idx"))
  }

  /** media_features_check (r13, VERDICT r12 task 7) — puts the codec
    * boundary's OUTPUT (not just its downstream algebra) under the driver
    * hash gate: the LIVE distributed decode is aggregated per type while
    * the SAME per-asset decoded table is frozen to its own artifact, and
    * the DuckDB twin recomputes the identical totals from the frozen
    * parquet. A hash match therefore certifies the live decode content ==
    * the frozen boundary content (counts, byte mass, frame totals, and the
    * order-free decimal checksum mass), per media type — if the
    * distributed decode ever drifted from what was frozen (torn write,
    * nondeterministic codec, partition-dependent content), the live side
    * moves and the row goes red. media_features itself stays declared
    * rows-only (its per-asset payload rows have no SQL equivalent); its
    * OUTPUT accounting no longer is. */
  def qMediaFeaturesCheck(s: SparkSession, d: String): DataFrame = {
    val live = extractFeatures(mediaFromDocuments(s, d)).toDF()
    Frozen(live, Frozen.path("media-features-check", d))
    live.groupBy(col("media_type")).agg(
      count(lit(1)).as("n_assets"),
      sum(col("n_bytes")).as("total_bytes"),
      sum(col("n_frames_sampled").cast("long")).as("total_frames"),
      sum(col("checksum").cast("decimal(38,0)")).cast("decimal(38,0)")
        .cast("string").as("checksum_sum"))
  }

  /** media_frames_check — the [[qMediaFeaturesCheck]] pattern for the
    * frame sampler: live per-asset frame accounting (sampled-frame count,
    * decoded byte mass, order-free decimal checksum mass) vs the frozen
    * per-frame table the same run wrote. Per-ASSET grain (≤ k rows fold
    * into one), so a single asset whose sampled frames drift is
    * pinpointed, not averaged away in a corpus total. */
  def qMediaFramesCheck(s: SparkSession, d: String): DataFrame = {
    val live = sampleFrames(mediaFromDocuments(s, d), 4).toDF()
    Frozen(live, Frozen.path("media-frames-check", d))
    live.groupBy(col("asset_id")).agg(
      count(lit(1)).as("n_frames_sampled"),
      sum(col("frame_bytes")).as("total_frame_bytes"),
      sum(col("frame_checksum").cast("decimal(38,0)")).cast("decimal(38,0)")
        .cast("string").as("checksum_sum"))
  }

  /** Oracle-checkable slice of the multimodal path: binary payload length,
    * content digest, and the batch shape a frame-sampler would use. */
  def qMultimodalMeta(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("blob", col("text").cast("binary"))
      .select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio").otherwise("video").as("media_type"),
        length(col("blob")).cast("long").as("n_bytes"),
        md5(col("blob")).as("content_md5"),
        ceil(length(col("blob")).cast("double") / 64.0).cast("long").as("n_chunks"))
}
