package graft.multimodal

import graft.{Portable, QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY.md §2.6).
  *
  * Blobs are opaque `binary` columns with a typed metadata struct —
  * the layout a 100 TB image/audio corpus uses (content in parquet
  * binary or pointed-to object storage, metadata columns for pruning).
  *
  * Two kernel tiers: [[decodeImage]]/[[imageFeatures]]/[[resizePng]]
  * are a REAL image pipeline on the JDK's built-in `javax.imageio`
  * codecs (PNG/JPEG/GIF/BMP), and [[decodeAudio]]/[[audioFeatures]]
  * are a REAL audio pipeline on the JDK's built-in
  * `javax.sound.sampled` WAV/PCM codec — both spec-verified on
  * synthesized media, corrupt-blob tolerant. VIDEO is the one
  * modality with no JDK codec, so the `mm_features`/`mm_frames`
  * queries use `decodeStub`, a clearly-marked deterministic fake
  * whose features are pure functions of the bytes (md5-derived) —
  * the gate corpus is text stand-in bytes, and the stub keeps the
  * whole fan-out pipeline verifiable bit-for-bit against the DuckDB
  * oracle (a real deployment swaps only the kernel function).
  */
object Multimodal {

  /** Typed per-blob feature row (what a real decoder would emit). */
  final case class BlobFeatures(
      doc_id: Long, n_bytes: Long, fake_width: Long, fake_height: Long,
      channels: Int, codec: String)

  /** STUB decode kernel: stands in for an image decoder. Deterministic
    * md5-derived dimensions so the plumbing is verifiable end-to-end.
    * A real deployment swaps only this function (and keeps the
    * mapPartitions batching around it). */
  def decodeStub(docId: Long, content: Array[Byte]): BlobFeatures = {
    val md = java.security.MessageDigest.getInstance("MD5").digest(content)
    val hex = md.take(8).map(b => f"$b%02x").mkString // first 15 of 16 hex chars
    val h60 = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    BlobFeatures(docId, content.length.toLong, h60 % 512, (h60 >> 9) % 512, 3, "stub-rgb8")
  }

  /** Binary-column feature extraction over a per-partition iterator
    * (the `mapPartitions` shape lets a real decoder amortize codec
    * init per partition, exactly like `mapInPandas` batching). */
  val features = QueryDef(
    "mm_features",
    Some(s"""SELECT doc_id, octet_length(encode(text)) AS n_bytes,
      ${Portable.h60Sql("text")} % 512 AS fake_width,
      (${Portable.h60Sql("text")} >> 9) % 512 AS fake_height,
      3 AS channels, 'stub-rgb8' AS codec
      FROM documents ORDER BY doc_id"""),
    (s, d) => {
      val sp = s
      import sp.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("content"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          // per-partition: real codecs would init native resources here
          it.map { case (id, bytes) => decodeStub(id, bytes) }
        }
        .toDF()
        .orderBy(col("doc_id"))
    })

  /** Per-frame output of the stub "video" pipeline: deterministic
    * frame sampling (every ~Nth byte offset as a frame boundary) with
    * a resize-stub on the fake dimensions. The explode shape — one
    * blob row in, k frame rows out — is exactly how a real
    * frame-sampler fans out, and the per-frame features stay pure
    * functions of the bytes so the whole fan-out is oracle-verified. */
  final case class FrameRow(
      doc_id: Long, frame_idx: Int, frame_offset: Long,
      resized_w: Long, resized_h: Long)

  val frames = QueryDef(
    "mm_frames",
    Some(s"""WITH f AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        ${Portable.h60Sql("text")} % 512 AS w,
        (${Portable.h60Sql("text")} >> 9) % 512 AS h
        FROM documents)
      SELECT doc_id, CAST(i AS INT) AS frame_idx, i * (n_bytes // 4) AS frame_offset,
        CAST(least(w, 256) AS BIGINT) AS resized_w, CAST(least(h, 256) AS BIGINT) AS resized_h
      FROM f, (SELECT unnest(range(0, 4)) AS i)
      ORDER BY doc_id, frame_idx"""),
    (s, d) => {
      val sp = s
      import sp.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("content"))
        .as[(Long, Array[Byte])]
        .flatMap { case (id, bytes) =>
          val feat = decodeStub(id, bytes)
          // STUB frame sampler: 4 evenly spaced offsets; a real decoder
          // would seek keyframes here. Resize stub caps dims at 256.
          (0 until 4).map(i => FrameRow(id, i, i.toLong * (feat.n_bytes / 4),
            math.min(feat.fake_width, 256), math.min(feat.fake_height, 256)))
        }
        .toDF()
        .orderBy(col("doc_id"), col("frame_idx"))
    }, bench = false)

  // ------------------------------------------------- real image kernel
  /** Decoded-image feature row: dimensions, per-channel means, 8-bin
    * luminance histogram. */
  final case class ImageFeatures(
      doc_id: Long, width: Int, height: Int,
      mean_r: Double, mean_g: Double, mean_b: Double,
      lum_hist: Seq[Long])

  /** REAL image decode via the JDK's built-in `javax.imageio` codecs
    * (PNG/JPEG/GIF/BMP — zero external dependencies, works headless).
    * Returns None for undecodable bytes so corrupt blobs drop out
    * instead of failing the job — the tolerance mode a 100 TB crawl
    * corpus needs. Only the audio/video codecs remain stubbed in this
    * environment. */
  def decodeImage(docId: Long, bytes: Array[Byte]): Option[ImageFeatures] =
    decodeRaw(bytes).map { img =>
      val (w, h) = (img.getWidth, img.getHeight)
      var (sr, sg, sb) = (0L, 0L, 0L)
      val hist = new Array[Long](8)
      val row = new Array[Int](w) // bulk row fetch — per-pixel getRGB pays a color-model conversion per call
      var y = 0
      while (y < h) {
        img.getRGB(0, y, w, 1, row, 0, w)
        var x = 0
        while (x < w) {
          val rgb = row(x)
          val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
          sr += r; sg += g; sb += b
          // integer Rec.601 luma, binned into 8 buckets
          hist(((299 * r + 587 * g + 114 * b) / 1000) >> 5) += 1
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      ImageFeatures(docId, w, h,
        sr.toDouble / n, sg.toDouble / n, sb.toDouble / n, hist.toSeq)
    }

  /** Image feature extraction over (id, binary) rows — the same
    * per-partition batch shape as [[features]], with the real codec in
    * the kernel slot; undecodable blobs are dropped. */
  def imageFeatures(df: org.apache.spark.sql.DataFrame, id: String,
      content: String): org.apache.spark.sql.DataFrame = {
    val sp = df.sparkSession
    import sp.implicits._
    df.select(col(id).cast("long"), col(content).cast("binary"))
      // null ids/content would crash the non-nullable tuple encoder —
      // tolerance means such rows drop, like undecodable bytes
      .filter(col(id).isNotNull && col(content).isNotNull)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (i, bytes) => decodeImage(i, bytes) })
      .toDF()
  }

  /** Bilinear resize capped at `maxDim` on the long side, re-encoded
    * as PNG — the thumbnail/normalize step of an image ingest
    * pipeline. Pure JDK (`Graphics2D`). */
  def resizePng(bytes: Array[Byte], maxDim: Int): Option[Array[Byte]] =
    decodeRaw(bytes).map { img =>
      val scale = maxDim.toDouble / math.max(img.getWidth, img.getHeight)
      val (w, h) =
        if (scale >= 1.0) (img.getWidth, img.getHeight)
        else (math.max(1, (img.getWidth * scale).round.toInt),
          math.max(1, (img.getHeight * scale).round.toInt))
      val out = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val gfx = out.createGraphics()
      gfx.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      gfx.drawImage(img, 0, 0, w, h, null)
      gfx.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      bos.toByteArray
    }

  private def decodeRaw(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    if (bytes == null) None
    else try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
    catch { case _: Exception => None }

  // --------------------------------------------- real-codec gated query
  /** Gate for the REAL `javax.imageio` kernel (not [[decodeStub]]):
    * [[ImageGate]] synthesizes a parquet table of actual PNG bytes from
    * closed-form pixel patterns (solid color / vertical gradient), the
    * Spark side decodes them with [[imageFeatures]], and the oracle
    * recomputes the identical features ANALYTICALLY from the pattern
    * parameters — PNG is lossless and TYPE_INT_RGB is exact, so a
    * hash-green row proves the real decode path end-to-end without the
    * oracle engine needing an image codec. Output is de-arrayed: one
    * row per (image, luma-bin), plus exact per-channel means (integer
    * sums divided as doubles — same IEEE op both sides). */
  val imageFeaturesGate = QueryDef(
    "mm_image_features",
    Some(s"""WITH imgs AS (SELECT i AS img_id,
        8 + (i*7)%25 AS w, 8 + (i*11)%25 AS h, i%2 AS kind,
        (i*37)%256 AS br, (i*59)%256 AS bg, (i*83)%256 AS bb
      FROM range(0, ${ImageGate.NumImages}) t(i)),
      ys AS (SELECT img_id, w, h, kind, br, bg, bb, unnest(range(0, h)) AS y FROM imgs),
      rws AS (SELECT img_id, w, bg, bb,
        CASE WHEN kind = 0 THEN br ELSE (br + 3*y) % 256 END AS r FROM ys),
      px AS (SELECT img_id, w, r, bg AS g, bb AS b,
        ((299*r + 587*g + 114*b) // 1000) // 32 AS bin FROM rws),
      sums AS (SELECT img_id, sum(w * r) AS sr FROM px GROUP BY img_id),
      binc AS (SELECT img_id, bin, CAST(sum(w) AS BIGINT) AS cnt FROM px GROUP BY img_id, bin),
      allb AS (SELECT img_id, unnest(range(0, 8)) AS bin FROM imgs),
      hist AS (SELECT a.img_id, a.bin, COALESCE(b.cnt, CAST(0 AS BIGINT)) AS cnt
        FROM allb a LEFT JOIN binc b ON a.img_id = b.img_id AND a.bin = b.bin)
      SELECT i.img_id, i.w AS width, i.h AS height,
        CAST(s.sr AS DOUBLE) / (i.w * i.h) AS mean_r,
        CAST(i.bg AS DOUBLE) AS mean_g,
        CAST(i.bb AS DOUBLE) AS mean_b,
        hh.bin, hh.cnt
      FROM imgs i JOIN sums s ON s.img_id = i.img_id
      JOIN hist hh ON hh.img_id = i.img_id
      ORDER BY i.img_id, hh.bin"""),
    (s, d) => {
      val path = ImageGate.ensureParquet(s)
      imageFeatures(s.read.parquet(path), "img_id", "png")
        .select(col("doc_id").as("img_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("mean_r"), col("mean_g"), col("mean_b"),
          posexplode(col("lum_hist")).as(Seq("bin0", "cnt")))
        .select(col("img_id"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"),
          col("bin0").cast("long").as("bin"), col("cnt"))
        .orderBy(col("img_id"), col("bin"))
    }, bench = false)

  /** Gate for the REAL resize kernel: solid-color gate images (even
    * ids) are resized to maxDim=10 with [[resizePng]] (decode →
    * bilinear `Graphics2D` → PNG re-encode), decoded AGAIN with
    * [[imageFeatures]], and checked against analytic expectations —
    * bilinear interpolation of a constant image is exactly that
    * constant, and the target dimensions are closed-form
    * (`round(w * maxDim/max(w,h))`, same IEEE ops both sides). Proves
    * the full decode → transform → re-encode → decode cycle. */
  val resizeGate = QueryDef(
    "mm_resize",
    Some(s"""WITH imgs AS (SELECT i AS img_id,
        8 + (i*7)%25 AS w, 8 + (i*11)%25 AS h,
        (i*37)%256 AS br, (i*59)%256 AS bg, (i*83)%256 AS bb
      FROM range(0, ${ImageGate.NumImages}) t(i) WHERE i % 2 = 0)
      SELECT img_id,
        CASE WHEN 10.0 / greatest(w, h) >= 1.0 THEN w
             ELSE greatest(1, CAST(round(w * (10.0 / greatest(w, h))) AS BIGINT)) END AS width,
        CASE WHEN 10.0 / greatest(w, h) >= 1.0 THEN h
             ELSE greatest(1, CAST(round(h * (10.0 / greatest(w, h))) AS BIGINT)) END AS height,
        CAST(br AS DOUBLE) AS mean_r, CAST(bg AS DOUBLE) AS mean_g, CAST(bb AS DOUBLE) AS mean_b
      FROM imgs ORDER BY img_id"""),
    (s, d) => {
      val path = ImageGate.ensureParquet(s)
      val sp = s
      import sp.implicits._
      val resized = s.read.parquet(path)
        .filter(pmod(col("img_id"), lit(2)) === 0) // solid-color images only
        .select(col("img_id"), col("png"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (i, b) =>
          resizePng(b, 10).map(rb => (i, rb))
        })
        .toDF("img_id", "png2")
      imageFeatures(resized, "img_id", "png2")
        .select(col("doc_id").as("img_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .orderBy(col("img_id"))
    }, bench = false)

  // --------------------------------------------- real audio kernel
  /** Decoded-audio feature row: format header fields plus the standard
    * waveform statistics (peak, RMS, zero-crossing count). */
  final case class AudioFeatures(
      audio_id: Long, sample_rate: Long, channels: Int, n_samples: Long,
      duration_sec: Double, peak: Long, rms: Double, zero_crossings: Long)

  /** REAL audio decode via the JDK's built-in `javax.sound.sampled`
    * WAV/PCM codec (zero external dependencies, works headless — no
    * audio device is touched for stream decode). Decodes the RIFF/WAVE
    * header + 16-bit signed little-endian PCM frames and computes
    * waveform features from the DECODED samples. Returns None for
    * undecodable bytes so corrupt blobs drop out instead of failing
    * the job — the same tolerance mode as [[decodeImage]]. Only the
    * video codec remains stubbed in this environment (the JDK ships
    * image and WAV codecs, but no video demuxer). */
  def decodeAudio(audioId: Long, bytes: Array[Byte]): Option[AudioFeatures] =
    if (bytes == null) None
    else try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = ais.getFormat
        if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
            fmt.getSampleSizeInBits != 16) None
        else {
          val channels = fmt.getChannels
          val bigEndian = fmt.isBigEndian
          val data = ais.readAllBytes()
          val nFrames = data.length / (2 * channels)
          if (nFrames == 0) return None // empty data chunk: rms would be 0/0 = NaN — treat as undecodable
          // mono fold: average channels sample-wise would lose 16-bit
          // exactness; features are over channel-0 (the gate corpus is
          // mono, and a real pipeline picks a channel policy explicitly)
          var j = 0
          var sumSq = 0L
          var peak = 0L
          var zc = 0L
          var prevNonNeg = true
          while (j < nFrames) {
            val base = j * 2 * channels
            val s =
              if (bigEndian) ((data(base) << 8) | (data(base + 1) & 0xff)).toShort
              else ((data(base + 1) << 8) | (data(base) & 0xff)).toShort
            val v = s.toLong
            sumSq += v * v
            val a = math.abs(v); if (a > peak) peak = a
            val nonNeg = v >= 0
            if (j >= 1 && nonNeg != prevNonNeg) zc += 1
            prevNonNeg = nonNeg
            j += 1
          }
          val sr = fmt.getSampleRate.toLong
          Some(AudioFeatures(audioId, sr, channels, nFrames.toLong,
            nFrames.toLong.toDouble / sr, peak,
            math.sqrt(sumSq.toDouble / nFrames), zc))
        }
      } finally ais.close()
    } catch { case _: Exception => None }

  /** Audio feature extraction over (id, binary) rows — the same
    * per-partition batch shape as [[imageFeatures]], with the real WAV
    * codec in the kernel slot; undecodable blobs are dropped. */
  def audioFeatures(df: org.apache.spark.sql.DataFrame, id: String,
      content: String): org.apache.spark.sql.DataFrame = {
    val sp = df.sparkSession
    import sp.implicits._
    df.select(col(id).cast("long"), col(content).cast("binary"))
      .filter(col(id).isNotNull && col(content).isNotNull)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (i, bytes) => decodeAudio(i, bytes) })
      .toDF()
  }

  /** Gate for the REAL `javax.sound.sampled` kernel (the audio twin of
    * [[imageFeaturesGate]]): [[AudioGate]] synthesizes a parquet table
    * of actual RIFF/WAVE bytes from closed-form integer sample
    * patterns, the Spark side decodes them with [[audioFeatures]], and
    * the oracle recomputes the identical features ANALYTICALLY from
    * the pattern parameters — 16-bit PCM WAV is lossless, so a
    * hash-green row proves the real decode path end-to-end without the
    * oracle engine needing an audio codec. Integer features (peak,
    * zero crossings, sample counts) are exact; the two doubles
    * (duration, RMS) are single IEEE ops over exact integers, applied
    * identically on both sides. */
  val audioFeaturesGate = QueryDef(
    "mm_audio_features",
    Some(s"""WITH clips AS (SELECT i AS audio_id,
        CASE i % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS sr,
        500 + (i*131) % 1000 AS n, i % 2 AS kind,
        1000 + (i*37) % 9000 AS amp, 7919 + 2*i AS c1, (i*104729) % 20001 AS c2
      FROM range(0, ${AudioGate.NumClips}) t(i)),
      xs AS (SELECT audio_id, sr, n, j,
        CASE WHEN kind = 0 THEN amp ELSE ((j*c1 + c2) % 20001) - 10000 END AS x,
        CASE WHEN kind = 0 THEN amp ELSE (((j-1)*c1 + c2) % 20001) - 10000 END AS xprev
      FROM (SELECT audio_id, sr, n, kind, amp, c1, c2, unnest(range(0, n)) AS j FROM clips)),
      agg AS (SELECT audio_id, sr, n, max(abs(x)) AS peak,
        CAST(sum(x*x) AS BIGINT) AS sumsq,
        CAST(sum(CASE WHEN j >= 1 AND ((xprev >= 0) <> (x >= 0)) THEN 1 ELSE 0 END) AS BIGINT) AS zc
      FROM xs GROUP BY audio_id, sr, n)
      SELECT audio_id, CAST(sr AS BIGINT) AS sample_rate, CAST(1 AS INTEGER) AS channels,
        CAST(n AS BIGINT) AS n_samples, CAST(n AS DOUBLE) / sr AS duration_sec,
        CAST(peak AS BIGINT) AS peak, sqrt(CAST(sumsq AS DOUBLE) / n) AS rms, zc AS zero_crossings
      FROM agg ORDER BY audio_id"""),
    (s, d) => {
      val path = AudioGate.ensureParquet(s)
      audioFeatures(s.read.parquet(path), "audio_id", "wav")
        .orderBy(col("audio_id"))
    }, bench = false)

  // --------------------------------------------------- energy VAD
  /** VAD frame length in samples (20 ms at 8 kHz — the standard
    * telephony frame). */
  val VadFrameLen = 160

  /** Frame-level voice-activity row: exact integer counts; the
    * fraction is computed downstream via the shared round6Ratio. */
  final case class VadFeatures(
      audio_id: Long, n_samples: Long, n_frames: Long,
      n_voiced: Long, n_segments: Long)

  /** REAL energy-based voice-activity detection over the decoded
    * 16-bit PCM stream (the `javax.sound.sampled` codec of
    * [[decodeAudio]]): the clip splits into [[VadFrameLen]]-sample
    * frames, and a frame is VOICED iff its mean-square energy strictly
    * exceeds HALF the clip's mean square — the classic adaptive energy
    * gate (Rabiner & Sambur 1975's energy threshold, clip-relative so
    * gain changes don't move decisions), decided by exact integer
    * CROSS-MULTIPLICATION (2·Σx²_f·n > Σx²·n_f — no division, no
    * doubles, so the oracle derives identical bits analytically).
    * Segments count voiced runs (speech bursts). BigInt at frame
    * grain: the cross products exceed int64 at ~45 s of full-scale
    * 16-bit audio, and frames are metadata-scale. */
  def decodeVad(audioId: Long, bytes: Array[Byte],
      frameLen: Int = VadFrameLen): Option[VadFeatures] =
    if (bytes == null) None
    else try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = ais.getFormat
        if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
            fmt.getSampleSizeInBits != 16) None
        else {
          val channels = fmt.getChannels
          val bigEndian = fmt.isBigEndian
          val data = ais.readAllBytes()
          val nFrames = data.length / (2 * channels)
          if (nFrames == 0) return None
          val nf = (nFrames + frameLen - 1) / frameLen
          val frameSq = new Array[Long](nf)
          val frameN = new Array[Long](nf)
          var total = 0L
          var j = 0
          while (j < nFrames) {
            val base = j * 2 * channels
            val s =
              if (bigEndian) ((data(base) << 8) | (data(base + 1) & 0xff)).toShort
              else ((data(base + 1) << 8) | (data(base) & 0xff)).toShort
            val v = s.toLong
            frameSq(j / frameLen) += v * v
            frameN(j / frameLen) += 1
            total += v * v
            j += 1
          }
          var voiced = 0L
          var segs = 0L
          var prev = false
          var f = 0
          while (f < nf) {
            val isV = BigInt(2) * frameSq(f) * nFrames > BigInt(total) * frameN(f)
            if (isV) { voiced += 1; if (!prev) segs += 1 }
            prev = isV
            f += 1
          }
          Some(VadFeatures(audioId, nFrames.toLong, nf.toLong, voiced, segs))
        }
      } finally ais.close()
    } catch { case _: Exception => None }

  /** VAD extraction over (id, binary) rows — the [[audioFeatures]]
    * batch shape with the VAD kernel in the slot. */
  def vadFeatures(df: org.apache.spark.sql.DataFrame, id: String,
      content: String): org.apache.spark.sql.DataFrame = {
    val sp = df.sparkSession
    import sp.implicits._
    df.select(col(id).cast("long"), col(content).cast("binary"))
      .filter(col(id).isNotNull && col(content).isNotNull)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (i, bytes) => decodeVad(i, bytes) })
      .toDF()
  }

  /** mm_audio_vad: the real-codec VAD gate — [[VadGate]] synthesizes
    * RIFF/WAVE bytes from closed-form BURST patterns (tone bursts
    * alternating with silence, burst length deliberately NOT
    * frame-aligned so partial frames exercise the n_f term; plus
    * constant-tone clips whose every frame ties the mean and must
    * decide by the STRICT inequality), the Spark side decodes with the
    * real codec, and the oracle recomputes per-sample → per-frame →
    * per-clip ANALYTICALLY from the pattern parameters (16-bit PCM WAV
    * is lossless). All decisions are exact integers; the surfaced
    * fraction is the shared round6Ratio. */
  val audioVadGate = QueryDef(
    "mm_audio_vad",
    Some(s"""WITH clips AS (SELECT i AS audio_id,
        800 + (i*131) % 1600 AS n, i % 2 AS kind,
        2000 + (i*37) % 6000 AS amp, 200 + (i*53) % 300 AS b
      FROM range(0, ${VadGate.NumClips}) t(i)),
      xs AS (SELECT audio_id, n, (j // $VadFrameLen) AS f,
        CASE WHEN kind = 1 THEN amp
             WHEN (j // b) % 2 = 0 THEN amp ELSE 0 END AS x
      FROM (SELECT audio_id, n, kind, amp, b, unnest(range(0, n)) AS j FROM clips)),
      fr AS (SELECT audio_id, n, f, CAST(count(*) AS BIGINT) AS nf,
          CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sq
        FROM xs GROUP BY audio_id, n, f),
      tot AS (SELECT audio_id, CAST(sum(sq) AS HUGEINT) AS total FROM fr GROUP BY audio_id),
      vd AS (SELECT fr.audio_id, fr.n, fr.f,
          CASE WHEN 2 * fr.sq * fr.n > tot.total * fr.nf THEN 1 ELSE 0 END AS v
        FROM fr JOIN tot ON fr.audio_id = tot.audio_id),
      sg AS (SELECT audio_id, n, f, v,
          lag(v) OVER (PARTITION BY audio_id ORDER BY f) AS pv FROM vd),
      agg AS (SELECT audio_id, CAST(min(n) AS BIGINT) AS n_samples,
          CAST(count(*) AS BIGINT) AS n_frames,
          CAST(sum(v) AS BIGINT) AS n_voiced,
          CAST(sum(CASE WHEN v = 1 AND (pv IS NULL OR pv = 0) THEN 1 ELSE 0 END) AS BIGINT) AS n_segments
        FROM sg GROUP BY audio_id)
      SELECT audio_id, n_samples, n_frames, n_voiced, n_segments,
        ${Portable.round6RatioDuck("n_voiced", "n_frames")} AS voiced_fraction
      FROM agg ORDER BY audio_id"""),
    (s, d) => {
      val path = VadGate.ensureParquet(s)
      vadFeatures(s.read.parquet(path), "audio_id", "wav")
        .selectExpr("audio_id", "n_samples", "n_frames", "n_voiced", "n_segments",
          s"${Portable.round6RatioSpark("n_voiced", "n_frames")} AS voiced_fraction")
        .orderBy(col("audio_id"))
    })

  // --------------------------------------------- perceptual-hash dedup
  /** Average-hash (aHash) of a decoded image: 8×8 grid of Rec.601
    * luma block sums; bit (bx, by) is set iff the block's mean STRICTLY
    * exceeds the global mean, decided by exact integer cross-multiply
    * (`S·N > G·n` — no division, no doubles, so the oracle can derive
    * the identical bits analytically). The 64 bits are returned as two
    * nonnegative 32-bit halves so banding/XOR stay clear of the BIGINT
    * sign bit. Flat images hash to all-zero — aHash's documented
    * collision class, which is exactly what makes it a dedup signal:
    * re-encoded/resized copies of the same picture land on the same or
    * nearby bits. Kernel is generic per-pixel work over the REAL
    * `javax.imageio` decode; the gate's analytic oracle exploits that
    * gate patterns vary only by row. */
  def decodeAHash(docId: Long, bytes: Array[Byte]): Option[(Long, Long, Long)] =
    decodeRaw(bytes).map { img =>
      val (w, h) = (img.getWidth, img.getHeight)
      val blockSum = Array.ofDim[Long](8, 8)
      val blockN = Array.ofDim[Long](8, 8)
      var g = 0L
      val row = new Array[Int](w)
      var y = 0
      while (y < h) {
        img.getRGB(0, y, w, 1, row, 0, w)
        val by = y * 8 / h
        var x = 0
        while (x < w) {
          val rgb = row(x)
          val lum = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)) / 1000
          val bx = x * 8 / w
          blockSum(by)(bx) += lum
          blockN(by)(bx) += 1
          g += lum
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      var h1 = 0L; var h2 = 0L
      var b = 0
      while (b < 64) {
        val by = b / 8; val bx = b % 8
        if (blockSum(by)(bx) * n > g * blockN(by)(bx)) {
          if (b < 32) h1 |= 1L << b else h2 |= 1L << (b - 32)
        }
        b += 1
      }
      (docId, h1, h2)
    }

  /** Hamming radius for aHash near-duplicates (out of 64 bits). */
  val PhashHamT = 6
  /** Per-band population cap, ENFORCED in engine and oracle alike
    * (r7 — closes the r6 "documented but not enforced" verdict item):
    * flat/boilerplate images are the all-zero hash class by aHash's
    * construction, so on a real crawl one band value can hold
    * millions of rows and the band self-join goes quadratic in that
    * class. Bands above the cap are dropped before the join
    * (broadcast drop-list anti-join — the DedupApi `maxBucketSize`
    * discipline); a pair in a dropped band survives iff another of
    * its 4 bands is under cap. Generous vs the 40-image gate corpus
    * so gate results are unchanged; `MultimodalSpec` pins the
    * planted-megabucket behavior. */
  val PhashBandCap = 256

  /** The banded pair stage over (img_id, h1, h2) hash rows, shared by
    * the gated query and the spec: 4×16-bit bands, cap-filtered band
    * join, exact-popcount ≤ `hamT` verify. */
  def phashPairs(hs: DataFrame, hamT: Int = PhashHamT,
      maxBandSize: Int = PhashBandCap): DataFrame = {
    val bandsAll = hs.select(col("img_id"), col("h1"), col("h2"),
      explode(array(
        expr("h1 & 65535"),
        expr("(shiftright(h1, 16) & 65535) + 65536"),
        expr("(h2 & 65535) + 131072"),
        expr("(shiftright(h2, 16) & 65535) + 196608"))).as("bd"))
    val bands =
      if (maxBandSize <= 0) bandsAll
      else {
        val oversized = bandsAll.groupBy(col("bd")).agg(count(lit(1)).as("__bsz"))
          .filter(col("__bsz") > maxBandSize)
          .select(col("bd").as("f_bd"))
        bandsAll.join(broadcast(oversized), col("bd") === col("f_bd"), "left_anti")
      }
    val cand = bands.as("a").join(bands.as("b"),
        col("a.bd") === col("b.bd") && col("a.img_id") < col("b.img_id"))
      .select(col("a.img_id").as("ia"), col("b.img_id").as("ib"))
      .distinct()
    cand
      .join(hs.select(col("img_id").as("ia"), col("h1").as("a1"), col("h2").as("a2")), Seq("ia"))
      .join(hs.select(col("img_id").as("ib"), col("h1").as("b1"), col("h2").as("b2")), Seq("ib"))
      .select(col("ia"), col("ib"),
        expr("CAST(bit_count(a1 ^ b1) + bit_count(a2 ^ b2) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= hamT)
      .orderBy(col("ia"), col("ib"))
  }

  /** Perceptual-hash image near-dup pairs over the REAL decode
    * pipeline: aHash each blob ([[decodeAHash]]), band the 64 bits
    * into 4×16-bit blocks, candidate pairs share ≥ 1 band (exact
    * hamming-0 dups ALWAYS share all four; radius-6 near-dups are
    * found when ≥ 1 band survives — the simhash banding trade), verify
    * by exact popcount ≤ [[PhashHamT]]. The oracle derives every
    * hash analytically from the gate patterns (flat images are the
    * all-zero collision class; gradients differ per pattern) and runs
    * the identical band join — INCLUDING the [[PhashBandCap]]
    * population filter — plus popcount, so a hash-green row proves
    * decode, blocking, banding, the cap, and verify end-to-end.
    *
    * 100 TB shape: decode is mapPartitions batch work; the pair stage
    * is the standard banded near-dup join with the enforced
    * [[PhashBandCap]] (see [[phashPairs]]), never all-pairs. */
  val phashDedup = QueryDef(
    "mm_phash_dedup",
    Some(s"""WITH imgs AS (SELECT i AS img_id,
        8 + (i*7)%25 AS w, 8 + (i*11)%25 AS h, i%2 AS kind,
        (i*37)%256 AS br, (i*59)%256 AS bg, (i*83)%256 AS bb
      FROM range(0, ${ImageGate.NumImages}) t(i)),
      ys0 AS (SELECT img_id, w, h, kind, br, bg, bb, unnest(range(0, h)) AS y FROM imgs),
      ys AS (SELECT img_id, w, h, y,
        (299*(CASE WHEN kind = 0 THEN br ELSE (br + 3*y) % 256 END)
         + 587*bg + 114*bb) // 1000 AS lum
      FROM ys0),
      rsum AS (SELECT img_id, w, h, (y*8)//h AS by, sum(lum) AS rs, count(*) AS yc
        FROM ys GROUP BY img_id, w, h, (y*8)//h),
      xc AS (SELECT img_id, (x*8)//w AS bx, count(*) AS xc
        FROM (SELECT img_id, w, unnest(range(0, w)) AS x FROM imgs) t GROUP BY img_id, (x*8)//w),
      gt AS (SELECT img_id, w*h AS n, (SELECT sum(rs*i.w) FROM rsum r WHERE r.img_id = i.img_id) AS g
        FROM imgs i),
      bits AS (SELECT r.img_id, r.by, x.bx,
          CASE WHEN r.rs * x.xc * gt.n > gt.g * (x.xc * r.yc) THEN 1 ELSE 0 END AS bit
        FROM rsum r JOIN xc x ON x.img_id = r.img_id JOIN gt ON gt.img_id = r.img_id),
      hs AS (SELECT img_id,
          CAST(sum(CASE WHEN by*8+bx < 32 THEN bit * (CAST(1 AS BIGINT) << (by*8+bx)) ELSE 0 END) AS BIGINT) AS h1,
          CAST(sum(CASE WHEN by*8+bx >= 32 THEN bit * (CAST(1 AS BIGINT) << (by*8+bx-32)) ELSE 0 END) AS BIGINT) AS h2
        FROM bits GROUP BY img_id),
      bands0 AS (SELECT img_id, h1, h2, unnest([
          (h1 & 65535), ((h1 >> 16) & 65535) + 65536*1,
          (h2 & 65535) + 65536*2, ((h2 >> 16) & 65535) + 65536*3]) AS bd
        FROM hs),
      bsz AS (SELECT bd, count(*) AS bn FROM bands0 GROUP BY bd),
      bands AS (SELECT bands0.* FROM bands0 JOIN bsz ON bands0.bd = bsz.bd
        WHERE bsz.bn <= $PhashBandCap),
      cand AS (SELECT DISTINCT a.img_id AS ia, b.img_id AS ib
        FROM bands a JOIN bands b ON a.bd = b.bd AND a.img_id < b.img_id),
      pr AS (SELECT ia, ib,
          bit_count(CAST(xor(ha.h1, hb.h1) AS BIGINT)) + bit_count(CAST(xor(ha.h2, hb.h2) AS BIGINT)) AS ham
        FROM cand JOIN hs ha ON ha.img_id = cand.ia JOIN hs hb ON hb.img_id = cand.ib)
      SELECT ia, ib, CAST(ham AS BIGINT) AS hamming FROM pr
      WHERE ham <= $PhashHamT ORDER BY ia, ib"""),
    (s, d) => {
      val path = ImageGate.ensureParquet(s)
      val sp = s
      import sp.implicits._
      // persist the decoded hashes: phashPairs fans hs out FOUR ways
      // (band-size cap aggregate, band-join build, two hash-lookup
      // joins) — unpersisted, the mapPartitions image decode would
      // recompute per consumer
      val hs = graft.CacheScope.untracked.persist(s.read.parquet(path)
        .select(col("img_id").cast("long"), col("png").cast("binary"))
        .filter(col("img_id").isNotNull && col("png").isNotNull)
        .as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (i, bytes) => decodeAHash(i, bytes) })
        .toDF("img_id", "h1", "h2"))
      phashPairs(hs)
    })

  // --------------------------------------------- audio fingerprint dedup
  /** Energy-contour fingerprint windows: the clip is cut into
    * [[AudioFpWindows]] equal sample windows; bit i is set iff window
    * i's energy STRICTLY exceeds window i−1's — the shape (not the
    * level) of the energy envelope, the core idea behind published
    * audio fingerprints (Haitsma–Kalker 2002 band-energy signs,
    * Shazam's peak constellations): level-invariant, robust to gain
    * changes, exact integer arithmetic end to end. */
  val AudioFpWindows = 16

  /** Energy-contour fingerprint over the REAL `javax.sound.sampled`
    * decode (channel 0, same header/PCM contract as [[decodeAudio]]):
    * per-window Σv² in exact Longs, 15 strict-compare bits packed
    * little-endian. Returns None for undecodable bytes. */
  def decodeAudioFp(audioId: Long, bytes: Array[Byte]): Option[(Long, Long)] =
    if (bytes == null) None
    else try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = ais.getFormat
        if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
            fmt.getSampleSizeInBits != 16) None
        else {
          val channels = fmt.getChannels
          val bigEndian = fmt.isBigEndian
          val data = ais.readAllBytes()
          val nFrames = data.length / (2 * channels)
          if (nFrames < AudioFpWindows) return None // degenerate: empty windows
          val energy = new Array[Long](AudioFpWindows)
          var j = 0
          while (j < nFrames) {
            val base = j * 2 * channels
            val s =
              if (bigEndian) ((data(base) << 8) | (data(base + 1) & 0xff)).toShort
              else ((data(base + 1) << 8) | (data(base) & 0xff)).toShort
            val v = s.toLong
            energy(j * AudioFpWindows / nFrames) += v * v
            j += 1
          }
          var fp = 0L
          var i = 1
          while (i < AudioFpWindows) {
            if (energy(i) > energy(i - 1)) fp |= 1L << (i - 1)
            i += 1
          }
          Some((audioId, fp))
        }
      } finally ais.close()
    } catch { case _: Exception => None }

  /** mm_audio_fingerprint: audio near-dup PAIRS by energy-contour
    * fingerprint equality over the REAL WAV decode — the audio twin of
    * [[phashDedup]]. The fingerprint table is one map-partitions
    * decode pass; pairs come from an EXACT hash self-join on the
    * 15-bit fingerprint (a re-gained copy of a clip lands on the SAME
    * contour — the level-invariance the sign encoding buys). Flat
    * clips (constant energy) are the all-zero collision class, the
    * aHash-analogous documented behavior. The oracle re-derives every
    * fingerprint ANALYTICALLY from the gate patterns (window energies
    * as grouped integer sums over the same closed forms) and replays
    * the identical pair join, so a hash-green row pins decode →
    * windowing → sign bits → blocking end to end. */
  val audioFingerprint = QueryDef(
    "mm_audio_fingerprint",
    Some(s"""WITH clips AS (SELECT i AS audio_id,
        500 + (i*131) % 1000 AS n, i % 2 AS kind,
        1000 + (i*37) % 9000 AS amp, 7919 + 2*i AS c1, (i*104729) % 20001 AS c2
      FROM range(0, ${AudioGate.NumClips}) t(i)),
      xs AS (SELECT audio_id, n, j,
        CASE WHEN kind = 0 THEN amp ELSE ((j*c1 + c2) % 20001) - 10000 END AS x
      FROM (SELECT audio_id, n, kind, amp, c1, c2, unnest(range(0, n)) AS j FROM clips)),
      e AS (SELECT audio_id, (j * $AudioFpWindows) // n AS w, CAST(sum(x*x) AS BIGINT) AS e
        FROM xs GROUP BY audio_id, (j * $AudioFpWindows) // n),
      fp AS (SELECT c.audio_id, CAST(sum(CASE WHEN c.e > p.e THEN 1 << (c.w - 1) ELSE 0 END) AS BIGINT) AS fp
        FROM e c JOIN e p ON p.audio_id = c.audio_id AND p.w = c.w - 1
        GROUP BY c.audio_id)
      SELECT a.audio_id AS a_id, b.audio_id AS b_id, a.fp
      FROM fp a JOIN fp b ON a.fp = b.fp AND a.audio_id < b.audio_id
      ORDER BY a_id, b_id"""),
    (s, d) => {
      val sp = s
      import sp.implicits._
      val path = AudioGate.ensureParquet(s)
      val fp = s.read.parquet(path)
        .select(col("audio_id").cast("long"), col("wav").cast("binary"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (i, bytes) => decodeAudioFp(i, bytes) })
        .toDF("audio_id", "fp")
      fp.as("a").join(fp.as("b"),
          col("a.fp") === col("b.fp") && col("a.audio_id") < col("b.audio_id"))
        .select(col("a.audio_id").as("a_id"), col("b.audio_id").as("b_id"), col("a.fp"))
        .orderBy(col("a_id"), col("b_id"))
    })

  val defs: Seq[QueryDef] = Seq(features, frames, imageFeaturesGate, resizeGate,
    audioFeaturesGate, phashDedup, audioFingerprint, audioVadGate)
}

/** Deterministic synthetic WAV corpus for the real-codec audio gate:
  * every clip's 16-bit PCM samples are a closed-form integer function
  * of its index (even ids a constant-amplitude DC signal, odd ids a
  * full-range LCG waveform), encoded through the JDK's
  * `javax.sound.sampled` WAV writer, and parqueted as an
  * (audio_id, wav binary) table. Pattern parameters are shared
  * verbatim with the oracle SQL above, which recomputes the expected
  * features analytically (16-bit PCM WAV round-trip is lossless). */
object AudioGate {
  val NumClips = 40

  /** (sampleRate, nSamples, kind, amp, c1, c2) for clip `i` — keep in
    * lockstep with the `clips` CTE of the oracle. */
  private def pattern(i: Int): (Int, Int, Int, Int, Long, Long) =
    (Seq(8000, 16000, 44100)(i % 3), 500 + (i * 131) % 1000, i % 2,
      1000 + (i * 37) % 9000, 7919L + 2L * i, (i.toLong * 104729L) % 20001L)

  /** Sample j of clip i (closed form, always within int16 range). */
  def sample(i: Int, j: Int): Int = {
    val (_, _, kind, amp, c1, c2) = pattern(i)
    if (kind == 0) amp else (((j * c1 + c2) % 20001L) - 10000L).toInt
  }

  def makeWav(i: Int): Array[Byte] = {
    val (sr, n, _, _, _, _) = pattern(i)
    val pcm = new Array[Byte](n * 2) // 16-bit little-endian mono
    var j = 0
    while (j < n) {
      val v = sample(i, j)
      pcm(2 * j) = (v & 0xff).toByte
      pcm(2 * j + 1) = ((v >> 8) & 0xff).toByte
      j += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(sr.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  @volatile private var generated: Option[String] = None

  /** Write the WAV table once per JVM (tmp dir) and return its path. */
  def ensureParquet(spark: org.apache.spark.sql.SparkSession): String = synchronized {
    generated.getOrElse {
      val dir = java.nio.file.Files.createTempDirectory("graft_mm_audio").toString
      val sp = spark
      import sp.implicits._
      (0 until NumClips).map(i => (i.toLong, makeWav(i))).toDF("audio_id", "wav")
        .repartition(4) // several files: the scan shape under test is a distributed binary read
        .write.mode("overwrite").parquet(dir)
      generated = Some(dir)
      dir
    }
  }
}

/** Deterministic bursty-WAV corpus for the VAD gate — same synthesis
  * machinery as [[AudioGate]], burst patterns in lockstep with the
  * `clips` CTE of the `mm_audio_vad` oracle. */
object VadGate {
  val NumClips = 40

  /** (nSamples, kind, amp, burstLen) for clip `i`. */
  private def pattern(i: Int): (Int, Int, Int, Int) =
    (800 + (i * 131) % 1600, i % 2, 2000 + (i * 37) % 6000, 200 + (i * 53) % 300)

  def sample(i: Int, j: Int): Int = {
    val (_, kind, amp, b) = pattern(i)
    if (kind == 1) amp else if ((j / b) % 2 == 0) amp else 0
  }

  def makeWav(i: Int): Array[Byte] = {
    val (n, _, _, _) = pattern(i)
    val pcm = new Array[Byte](n * 2)
    var j = 0
    while (j < n) {
      val v = sample(i, j)
      pcm(2 * j) = (v & 0xff).toByte
      pcm(2 * j + 1) = ((v >> 8) & 0xff).toByte
      j += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  @volatile private var generated: Option[String] = None

  def ensureParquet(spark: org.apache.spark.sql.SparkSession): String = synchronized {
    generated.getOrElse {
      val dir = java.nio.file.Files.createTempDirectory("graft_mm_vad").toString
      val sp = spark
      import sp.implicits._
      (0 until NumClips).map(i => (i.toLong, makeWav(i))).toDF("audio_id", "wav")
        .repartition(4)
        .write.mode("overwrite").parquet(dir)
      generated = Some(dir)
      dir
    }
  }
}

/** Deterministic synthetic PNG corpus for the real-codec gate: every
  * image is drawn from a closed-form pixel function of its index (even
  * ids solid RGB, odd ids a vertical red-channel gradient), encoded
  * with the JDK PNG writer, and parqueted as an (img_id, png binary)
  * table — the same opaque-binary + typed-metadata layout the 100 TB
  * corpus uses. Pattern parameters are shared verbatim with the
  * oracle SQL above, which recomputes the expected features
  * analytically (PNG round-trip is lossless). */
object ImageGate {
  val NumImages = 40

  /** (w, h, kind, baseR, baseG, baseB) for image `i` — keep in lockstep
    * with the `imgs` CTE of the oracle. */
  private def pattern(i: Int): (Int, Int, Int, Int, Int, Int) =
    (8 + (i * 7) % 25, 8 + (i * 11) % 25, i % 2, (i * 37) % 256, (i * 59) % 256, (i * 83) % 256)

  def makePng(i: Int): Array[Byte] = {
    val (w, h, kind, br, bg, bb) = pattern(i)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      val r = if (kind == 0) br else (br + 3 * y) % 256
      val rgb = (r << 16) | (bg << 8) | bb
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  @volatile private var generated: Option[String] = None

  /** Write the PNG table once per JVM (tmp dir) and return its path. */
  def ensureParquet(spark: org.apache.spark.sql.SparkSession): String = synchronized {
    generated.getOrElse {
      val dir = java.nio.file.Files.createTempDirectory("graft_mm_images").toString
      val sp = spark
      import sp.implicits._
      (0 until NumImages).map(i => (i.toLong, makePng(i))).toDF("img_id", "png")
        .repartition(4) // several files: the scan shape under test is a distributed binary read
        .write.mode("overwrite").parquet(dir)
      generated = Some(dir)
      dir
    }
  }
}
