package graft
package contracts

import org.apache.spark.sql.functions._

import Shared._

/** `mm_*`: the multimodal operators of the training-data pipeline
  * (real PNG decode via javax.imageio, media containers and codecs).
  */
object MmContracts {

  val all: Seq[Contract] = Seq(
    // real codec round-trip: deterministic PNGs (dims derived from doc_id)
    // encoded then decoded through ImageIO; the oracle predicts the decoded
    // geometry independently. ahash/size_bytes are byte-level artifacts of
    // the PNG writer, asserted in MultimodalSpec instead.
    Contract("mm_image_features", (s, dir) => {
      val media = graft.operators.Multimodal.pngMediaFromDocuments(s, dir)
      graft.operators.Multimodal.decodeImages(media,
          () => new graft.operators.Multimodal.ImageIoDecoder).toDF()
        .select(col("media_id"), col("width"), col("height"), col("channels"))
        .orderBy(col("media_id"))
    },
      """SELECT doc_id AS media_id,
        |  ((doc_id % 16) + 1) * 4 AS width,
        |  ((doc_id % 12) + 1) * 4 AS height,
        |  3 AS channels
        |FROM documents ORDER BY media_id""".stripMargin),

    // real audio codec round-trip: deterministic 16-bit PCM WAVs (geometry
    // derived from doc_id) encoded then decoded through javax.sound; the
    // oracle predicts decoded sample rate / channels / frame count
    // independently. peak/rms are byte-level codec artifacts: sanity-bounded
    // here (booleans the oracle can assert), exact values in MultimodalSpec.
    Contract("mm_audio_features", (s, dir) => {
      val media = graft.operators.Multimodal.wavMediaFromDocuments(s, dir)
      graft.operators.Multimodal.decodeAudioFeatures(media,
          () => new graft.operators.Multimodal.ImageIoDecoder).toDF()
        .select(col("media_id"), col("sample_rate"), col("channels"), col("n_frames"),
          (col("peak") > 0.0 && col("rms") > 0.0 && col("rms") <= col("peak") &&
            col("peak") <= lit(1.0)).as("pcm_ok"))
        .orderBy(col("media_id"))
    },
      """SELECT doc_id AS media_id,
        |  8000 * ((doc_id % 3) + 1) AS sample_rate,
        |  (doc_id % 2) + 1 AS channels,
        |  ((doc_id % 25) + 1) * 200 AS n_frames,
        |  TRUE AS pcm_ok
        |FROM documents ORDER BY media_id""".stripMargin),

    // image resize pass: aspect-preserving integer-NN downscale of the real
    // PNG corpus to maxDim=16, re-decoded through ImageIO — proving the
    // resized bytes are genuine PNGs with EXACTLY the dims the oracle
    // derives from the doc_id geometry (pure integer arithmetic both sides)
    Contract("mm_image_resize", (s, dir) => {
      val media = graft.operators.Multimodal.pngMediaFromDocuments(s, dir)
      val resized = graft.operators.Multimodal.resizeImages(media, maxDim = 16)
      graft.operators.Multimodal.decodeImages(resized,
          () => new graft.operators.Multimodal.ImageIoDecoder).toDF()
        .select(col("media_id"), col("width"), col("height"), col("channels"))
        .orderBy(col("media_id"))
    },
      """SELECT doc_id AS media_id,
        |  CASE WHEN GREATEST(w, h) <= 16 THEN w
        |       ELSE GREATEST(1, w * 16 // GREATEST(w, h)) END AS width,
        |  CASE WHEN GREATEST(w, h) <= 16 THEN h
        |       ELSE GREATEST(1, h * 16 // GREATEST(w, h)) END AS height,
        |  3 AS channels
        |FROM (SELECT doc_id, ((doc_id % 16) + 1) * 4 AS w,
        |             ((doc_id % 12) + 1) * 4 AS h
        |      FROM documents) ORDER BY media_id""".stripMargin),

    // real FLAC codec round-trip: the SAME deterministic PCM as the WAV
    // corpus, encoded as spec-correct FLAC (verbatim subframes, CRC-8/16 +
    // MD5 integrity fields), decoded by the structural frame walk. The
    // oracle predicts the geometry independently; codec_parity pins that
    // the lossless path reproduces the WAV path's features BIT-FOR-BIT
    // (same PCM bytes, same feature math).
    Contract("mm_flac_features", (s, dir) => {
      val flac = graft.operators.Multimodal.flacMediaFromDocuments(s, dir)
      val wav = graft.operators.Multimodal.wavMediaFromDocuments(s, dir)
      def feats(m: org.apache.spark.sql.Dataset[graft.operators.Multimodal.MediaRecord]) =
        graft.operators.Multimodal.decodeAudioFeatures(m,
          () => new graft.operators.Multimodal.ImageIoDecoder).toDF()
      feats(flac).alias("a").join(feats(wav).alias("w"), "media_id")
        .select(col("media_id"),
          col("a.sample_rate").as("sample_rate"),
          col("a.channels").as("channels"),
          col("a.n_frames").as("n_frames"),
          (col("a.sample_rate") === col("w.sample_rate") &&
            col("a.channels") === col("w.channels") &&
            col("a.n_frames") === col("w.n_frames") &&
            col("a.peak") === col("w.peak") &&
            col("a.rms") === col("w.rms")).as("codec_parity"))
        .orderBy(col("media_id"))
    },
      """SELECT doc_id AS media_id,
        |  8000 * ((doc_id % 3) + 1) AS sample_rate,
        |  (doc_id % 2) + 1 AS channels,
        |  ((doc_id % 25) + 1) * 200 AS n_frames,
        |  TRUE AS codec_parity
        |FROM documents ORDER BY media_id""".stripMargin),

    // wild-FLAC decode: the same PCM compressed with FIXED predictors +
    // Rice residuals (even ids) or LPC subframes (odd ids), stereo frames
    // auto-decorrelated — the prediction-based shapes real .flac files
    // carry, which the verbatim contract never touches. Parity vs the WAV
    // path proves warmup + residual reconstruction + decorrelation are
    // bit-exact (each stream also MD5-self-verifies inside the decoder);
    // `compressed` pins that the predictor genuinely shrinks the bytes.
    Contract("mm_flac_fixed", (s, dir) => {
      val flac = graft.operators.Multimodal.flacCompressedMediaFromDocuments(s, dir)
      val wav = graft.operators.Multimodal.wavMediaFromDocuments(s, dir)
      def feats(m: org.apache.spark.sql.Dataset[graft.operators.Multimodal.MediaRecord]) =
        graft.operators.Multimodal.decodeAudioFeatures(m,
          () => new graft.operators.Multimodal.ImageIoDecoder).toDF()
      feats(flac).alias("a").join(feats(wav).alias("w"), "media_id")
        .select(col("media_id"),
          col("a.sample_rate").as("sample_rate"),
          col("a.channels").as("channels"),
          col("a.n_frames").as("n_frames"),
          (col("a.sample_rate") === col("w.sample_rate") &&
            col("a.channels") === col("w.channels") &&
            col("a.n_frames") === col("w.n_frames") &&
            col("a.peak") === col("w.peak") &&
            col("a.rms") === col("w.rms")).as("codec_parity"),
          (col("a.size_bytes") < col("w.size_bytes")).as("compressed"))
        .orderBy(col("media_id"))
    },
      """SELECT doc_id AS media_id,
        |  8000 * ((doc_id % 3) + 1) AS sample_rate,
        |  (doc_id % 2) + 1 AS channels,
        |  ((doc_id % 25) + 1) * 200 AS n_frames,
        |  TRUE AS codec_parity,
        |  TRUE AS compressed
        |FROM documents ORDER BY media_id""".stripMargin),

    // real OGG container demux: the same FLAC stream shipped in OGG pages
    // per the xiph mapping (page CRCs verified, packets reassembled across
    // lacing/continuation), then the same structural FLAC decode. Same
    // bit-for-bit parity contract vs the WAV path — proving the page walk
    // end-to-end, the audio sibling of mm_avi/mp4/mkv_frames.
    Contract("mm_ogg_features", (s, dir) => {
      val ogg = graft.operators.Multimodal.oggMediaFromDocuments(s, dir)
      val wav = graft.operators.Multimodal.wavMediaFromDocuments(s, dir)
      def feats(m: org.apache.spark.sql.Dataset[graft.operators.Multimodal.MediaRecord]) =
        graft.operators.Multimodal.decodeAudioFeatures(m,
          () => new graft.operators.Multimodal.ImageIoDecoder).toDF()
      feats(ogg).alias("a").join(feats(wav).alias("w"), "media_id")
        .select(col("media_id"),
          col("a.sample_rate").as("sample_rate"),
          col("a.channels").as("channels"),
          col("a.n_frames").as("n_frames"),
          (col("a.sample_rate") === col("w.sample_rate") &&
            col("a.channels") === col("w.channels") &&
            col("a.n_frames") === col("w.n_frames") &&
            col("a.peak") === col("w.peak") &&
            col("a.rms") === col("w.rms")).as("codec_parity"))
        .orderBy(col("media_id"))
    },
      """SELECT doc_id AS media_id,
        |  8000 * ((doc_id % 3) + 1) AS sample_rate,
        |  (doc_id % 2) + 1 AS channels,
        |  ((doc_id % 25) + 1) * 200 AS n_frames,
        |  TRUE AS codec_parity
        |FROM documents ORDER BY media_id""".stripMargin),

    // audio-rate normalization, end to end through the hardest path: the
    // OGG-FLAC corpus is page-demuxed, FLAC-decoded, integer-NN resampled
    // to a uniform 16 kHz, re-encoded WAV, and feature-decoded — the oracle
    // predicts the output geometry (including the floor-division frame
    // counts of the 24 kHz downsamples) with the same integer arithmetic
    Contract("mm_audio_resample", (s, dir) => {
      val media = graft.operators.Multimodal.oggMediaFromDocuments(s, dir)
      val resampled = graft.operators.Multimodal.resampleAudio(media, targetRate = 16000)
      graft.operators.Multimodal.decodeAudioFeatures(resampled,
          () => new graft.operators.Multimodal.ImageIoDecoder).toDF()
        .select(col("media_id"), col("sample_rate"), col("channels"), col("n_frames"),
          (col("peak") > 0.0 && col("rms") > 0.0 && col("rms") <= col("peak") &&
            col("peak") <= lit(1.0)).as("pcm_ok"))
        .orderBy(col("media_id"))
    },
      """SELECT doc_id AS media_id, 16000 AS sample_rate,
        |  (doc_id % 2) + 1 AS channels,
        |  (((doc_id % 25) + 1) * 200 * 16000) // (8000 * ((doc_id % 3) + 1))
        |    AS n_frames,
        |  TRUE AS pcm_ok
        |FROM documents ORDER BY media_id""".stripMargin),

    // media dedup end-to-end: grid PNGs whose REAL decoded ahash is
    // bit-controlled, every third document cloned at hamming distance 2 —
    // perceptual blocking (4x16-bit pigeonhole equi-join, never all-pairs)
    // + hamming verify + connected components must cluster each clone with
    // its original and nothing else; keep-min elects the original. The
    // oracle derives every (cluster, kept) from the doc_id rule.
    Contract("mm_image_dedup", (s, dir) => {
      val media = graft.operators.Multimodal.imageDedupCorpusFromDocuments(s, dir)
      val feats = graft.operators.Multimodal.decodeImages(media,
        () => new graft.operators.Multimodal.ImageIoDecoder).toDF()
      graft.operators.Dedup.perceptualDedup(feats, "ahash", "media_id", maxHamming = 3)
        .select(col("id").as("media_id"), col("cluster"), col("kept"))
        .orderBy(col("media_id"))
    },
      """SELECT media_id, cluster, kept FROM (
        |  SELECT doc_id AS media_id, doc_id AS cluster, TRUE AS kept
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000, doc_id, FALSE
        |  FROM documents WHERE doc_id % 3 = 0)
        |ORDER BY media_id""".stripMargin),

    // the media CURATION PIPELINE end-to-end, composing the round's
    // stages the way a crawl job would: corrupt records (every 7th
    // original truncated) divert in the SAFE resize, survivors are
    // normalized to <=16px, near-duplicate clones (hamming-2 grid images,
    // every 3rd doc) collapse in perceptual dedup — and when a clone's
    // original was quarantined, the clone survives as the cluster's only
    // member. Every (status, resized_ok) derives from doc_id arithmetic.
    // The dedup runs ON the resized corpus: the grid construction survives
    // integer-NN downscale bit-exactly, which the oracle relies on.
    Contract("mm_media_pipeline", (s, dir) => {
      import s.implicits._
      val mm = graft.operators.Multimodal
      val corpus = mm.imageDedupCorpusFromDocuments(s, dir).map(r =>
        if (r.media_id < 1000000000L && r.media_id % 7 == 0)
          r.copy(content = java.util.Arrays.copyOf(r.content, 8))
        else r)
      // both checkpointed (r14): `safe` feeds the decode AND the
      // error-status projection, `feats` feeds the dedup AND the resize
      // audit — without them the fabricate+resize and the decode each ran
      // twice (the r14 profile measured 38 s of task CPU here)
      val safe = mm.resizeImagesSafe(corpus, maxDim = 16).localCheckpoint()
      val feats = mm.decodeImages(mm.keptRecords(safe),
        () => new mm.ImageIoDecoder).toDF().localCheckpoint()
      val deduped = graft.operators.Dedup.perceptualDedup(
        feats, "ahash", "media_id", maxHamming = 3)
      safe.toDF().select(col("media_id"), col("error"))
        .join(deduped.select(col("id").as("media_id"), col("kept")), Seq("media_id"), "left")
        .join(feats.select(col("media_id"),
          (greatest(col("width"), col("height")) <= 16).as("rok")), Seq("media_id"), "left")
        .select(col("media_id"),
          when(col("error").isNotNull, lit("quarantined"))
            .when(col("kept"), lit("kept")).otherwise(lit("deduped")).as("status"),
          coalesce(col("rok"), lit(true)).as("resized_ok"))
        .orderBy(col("media_id"))
    },
      """SELECT media_id, status, TRUE AS resized_ok FROM (
        |  SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 7 = 0 THEN 'quarantined' ELSE 'kept' END AS status
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000,
        |    CASE WHEN doc_id % 7 = 0 THEN 'kept' ELSE 'deduped' END
        |  FROM documents WHERE doc_id % 3 = 0)
        |ORDER BY media_id""".stripMargin),

    // image metadata WITHOUT pixel decode: PNG chunk walk (IHDR fields +
    // tEXt provenance, every chunk CRC verified) and JPEG segment walk
    // (SOF dims + APP1 EXIF TIFF: orientation + description) — the
    // header-only metadata pass that decides resize transposition and
    // carries provenance before any megapixel is decoded. The corpus
    // splices real tEXt / EXIF into the deterministic images, so every
    // field is doc_id arithmetic.
    Contract("mm_image_metadata", (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id"), col("source")).as[(Long, String)]
        .map { case (id, source) =>
          val w = ((id % 16) + 1).toInt * 4
          val h = ((id % 12) + 1).toInt * 4
          // fully-qualified module calls: static MODULE$ access, nothing
          // captured into the task closure
          val bytes =
            if (id % 2 == 0)
              graft.operators.ImageMetadata.addPngText(
                graft.operators.Multimodal.deterministicPng(id, w, h),
                "source", s"$source/$id")
            else
              graft.operators.ImageMetadata.addJpegExif(
                graft.operators.Multimodal.deterministicMjpeg(id, w, h, 1),
                (1 + id % 8).toInt, s"doc $id")
          val m = graft.operators.ImageMetadata.parse(bytes)
          (id, m.format, m.width, m.height,
            m.bitDepth, m.orientation, m.texts.get("source"), m.description)
        }
        .toDF("media_id", "format", "width", "height",
          "bit_depth", "orientation", "text_source", "description")
        .orderBy(col("media_id"))
    },
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |  ((doc_id % 16) + 1) * 4 AS width,
        |  ((doc_id % 12) + 1) * 4 AS height,
        |  CASE WHEN doc_id % 2 = 0 THEN 8 END AS bit_depth,
        |  CASE WHEN doc_id % 2 = 1 THEN 1 + doc_id % 8 END AS orientation,
        |  CASE WHEN doc_id % 2 = 0 THEN source || '/' || doc_id END AS text_source,
        |  CASE WHEN doc_id % 2 = 1 THEN 'doc ' || doc_id END AS description
        |FROM documents ORDER BY media_id""".stripMargin),

    // the crawl TRIAGE pass: a mixed ten-family corpus (png/jpeg/wav/
    // flac/ogg-flac/mp3/ogg-vorbis/avi/mp4/mkv+webm) probed from HEADERS
    // ONLY — container, codec, geometry, duration, and whether this
    // engine can fully decode it. mp3 and ogg-vorbis probe with full
    // geometry but decodable=false (decode is a loud reject, MEDIA.md);
    // every field derives from doc_id arithmetic so DuckDB predicts the
    // whole table. Map-only: the expensive full decode runs ONLY on
    // records triage routes to it.
    Contract("mm_media_probe", (s, dir) => {
      import s.implicits._
      val mm = graft.operators.Multimodal
      mm.probeMedia(mm.mixedMediaFromDocuments(s, dir))
        .toDF()
        .orderBy(col("media_id"))
    },
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 10
        |    WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'wav' WHEN 3 THEN 'flac'
        |    WHEN 4 THEN 'ogg' WHEN 5 THEN 'mp3' WHEN 6 THEN 'ogg' WHEN 7 THEN 'avi'
        |    WHEN 8 THEN 'mp4'
        |    ELSE CASE WHEN (doc_id // 10) % 2 = 1 THEN 'webm' ELSE 'mkv' END END AS container,
        |  CASE doc_id % 10
        |    WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'pcm_s16le' WHEN 3 THEN 'flac'
        |    WHEN 4 THEN 'flac'
        |    WHEN 5 THEN CASE WHEN (doc_id // 10) % 2 = 0 THEN 'mpeg1-layer3' ELSE 'mpeg2-layer3' END
        |    WHEN 6 THEN 'vorbis' ELSE 'mjpeg' END AS codec,
        |  CASE WHEN doc_id % 10 IN (0, 1) THEN (((doc_id // 10) % 16) + 1) * 4
        |       WHEN doc_id % 10 >= 7 THEN 16 END AS width,
        |  CASE WHEN doc_id % 10 IN (0, 1) THEN (((doc_id // 10) % 12) + 1) * 4
        |       WHEN doc_id % 10 >= 7 THEN 16 END AS height,
        |  CASE WHEN doc_id % 10 IN (2, 3, 4, 6) THEN 8000 * (((doc_id // 10) % 3) + 1)
        |       WHEN doc_id % 10 = 5 THEN CASE WHEN (doc_id // 10) % 2 = 0
        |         THEN CASE (doc_id // 10) % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END
        |         ELSE CASE (doc_id // 10) % 3 WHEN 0 THEN 22050 WHEN 1 THEN 24000 ELSE 16000 END END
        |  END AS sample_rate,
        |  CASE WHEN doc_id % 10 IN (2, 3, 4, 6) THEN ((doc_id // 10) % 2) + 1
        |       WHEN doc_id % 10 = 5 THEN CASE WHEN (doc_id // 10) % 3 = 0 THEN 1 ELSE 2 END
        |  END AS channels,
        |  CASE WHEN doc_id % 10 IN (2, 3, 4) THEN (((doc_id // 10) % 25) + 1) * 200
        |       WHEN doc_id % 10 = 5 THEN (((doc_id // 10) % 10) + 1) *
        |         (CASE WHEN (doc_id // 10) % 2 = 0 THEN 1152 ELSE 576 END)
        |       WHEN doc_id % 10 >= 7 THEN ((doc_id // 10) % 8) + 2
        |  END AS n_frames,
        |  doc_id % 10 NOT IN (5, 6) AS decodable
        |FROM documents ORDER BY media_id""".stripMargin),

    // cross-container VIDEO dedup, completing the modality triple: the
    // same frames shipped as raw MJPEG, AVI (every 3rd doc), and MP4
    // (every 5th) fold to the same ordered-frame-hash fingerprint, so
    // exact-key clustering (maxHamming 0) recovers every planted clone
    // group and nothing else — the oracle derives all of it from doc_id.
    Contract("mm_video_dedup", (s, dir) => {
      val media = graft.operators.Multimodal.videoDedupCorpusFromDocuments(s, dir)
      val fps = graft.operators.Multimodal.videoFingerprints(media,
        () => new graft.operators.Multimodal.ImageIoDecoder)
      graft.operators.Dedup.perceptualDedup(fps, "fingerprint", "media_id", maxHamming = 0)
        .select(col("id").as("media_id"), col("cluster"), col("kept"))
        .orderBy(col("media_id"))
    },
      """SELECT media_id, cluster, kept FROM (
        |  SELECT doc_id AS media_id, doc_id AS cluster, TRUE AS kept
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000, doc_id, FALSE
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000000, doc_id, FALSE
        |  FROM documents WHERE doc_id % 5 = 0)
        |ORDER BY media_id""".stripMargin),

    // cross-container audio dedup: the same recording shipped as WAV and
    // (every third document) as OGG-FLAC must cluster — the fingerprint is
    // computed from decoded PCM, so lossless transcoding cannot hide a
    // duplicate. Blocking is the same pigeonhole equi-join as the image
    // path; AudioFingerprintSpec pins cross-clip separation exhaustively
    // over the sf0.1 id range, so the oracle's doc_id rule is exact.
    Contract("mm_audio_dedup", (s, dir) => {
      val media = graft.operators.Multimodal.audioDedupCorpusFromDocuments(s, dir)
      val fps = graft.operators.Multimodal.audioFingerprints(media)
      graft.operators.Dedup.perceptualDedup(fps, "fingerprint", "media_id", maxHamming = 2)
        .select(col("id").as("media_id"), col("cluster"), col("kept"))
        .orderBy(col("media_id"))
    },
      """SELECT media_id, cluster, kept FROM (
        |  SELECT doc_id AS media_id, doc_id AS cluster, TRUE AS kept
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000, doc_id, FALSE
        |  FROM documents WHERE doc_id % 3 = 0)
        |ORDER BY media_id""".stripMargin),

    // corrupt-media policy on the normalization stages: every 7th record of
    // each corpus is truncated to garbage, then pushed through the SAFE
    // resize/resample variants — the batch must survive with the bad rows
    // DIVERTED (stable reason tags), and every survivor must be genuinely
    // processed (image long side <= 16 on re-decode; audio at 16 kHz). The
    // oracle derives the ok/diverted counts from the doc_id rule.
    Contract("mm_media_quarantine", (s, dir) => {
      import s.implicits._
      val mm = graft.operators.Multimodal
      def dec = () => new mm.ImageIoDecoder
      val corruptPng = mm.pngMediaFromDocuments(s, dir).map(r =>
        if (r.media_id % 7 == 0) r.copy(content = java.util.Arrays.copyOf(r.content, 8)) else r)
      val corruptWav = mm.wavMediaFromDocuments(s, dir).map(r =>
        if (r.media_id % 7 == 0) r.copy(content = java.util.Arrays.copyOf(r.content, 10)) else r)
      // checkpointed (r14): each outcome feeds the survivor re-decode AND
      // the status aggregate — fabricate+resize/resample once, not twice
      val imgOut = mm.resizeImagesSafe(corruptPng, maxDim = 16).localCheckpoint()
      val audOut = mm.resampleAudioSafe(corruptWav, targetRate = 16000).localCheckpoint()
      val imgOk = mm.decodeImages(mm.keptRecords(imgOut), dec).toDF()
        .select(col("media_id"), (greatest(col("width"), col("height")) <= 16).as("ok"))
      val audOk = mm.decodeAudioFeatures(mm.keptRecords(audOut), dec).toDF()
        .select(col("media_id"), (col("sample_rate") === 16000).as("ok"))
      def statusAgg(out: org.apache.spark.sql.Dataset[mm.MediaOutcome],
          modality: String, okDf: org.apache.spark.sql.DataFrame) =
        out.toDF().select(col("media_id"), coalesce(col("error"), lit("ok")).as("status"))
          .join(okDf, Seq("media_id"), "left")
          .groupBy(lit(modality).as("modality"), col("status"))
          .agg(count(lit(1)).as("n_rows"),
            bool_and(coalesce(col("ok"), lit(true))).as("survivors_ok"))
      statusAgg(imgOut, "image", imgOk)
        .unionAll(statusAgg(audOut, "audio", audOk))
        .orderBy(col("modality"), col("status"))
    },
      """SELECT modality, status, COUNT(*) AS n_rows, TRUE AS survivors_ok
        |FROM (
        |  SELECT 'image' AS modality,
        |    CASE WHEN doc_id % 7 = 0 THEN 'undecodable_image' ELSE 'ok' END AS status
        |  FROM documents
        |  UNION ALL
        |  SELECT 'audio',
        |    CASE WHEN doc_id % 7 = 0 THEN 'undecodable_audio' ELSE 'ok' END
        |  FROM documents)
        |GROUP BY modality, status ORDER BY modality, status""".stripMargin),

    // real video-frame decode: deterministic MJPEG clips (frame count
    // derived from doc_id) sampled every 2nd frame through the JPEG codec;
    // the oracle predicts the sampled-frame count independently. Frame
    // hashes are codec artifacts asserted in the unit suite.
    Contract("mm_video_frames", (s, dir) => {
      val media = graft.operators.Multimodal.mjpegMediaFromDocuments(s, dir)
      graft.operators.Multimodal.sampleFrames(media, everyN = 2,
          () => new graft.operators.Multimodal.ImageIoDecoder).toDF()
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_sampled"),
          countDistinct(col("frame_hash")).as("n_distinct_hashes"))
        .select(col("media_id"), col("n_sampled"),
          (col("n_distinct_hashes") >= lit(1)).as("hashes_ok"))
        .orderBy(col("media_id"))
    },
      """SELECT doc_id AS media_id,
        |  CAST(CEIL(((doc_id % 8) + 2) / 2.0) AS BIGINT) AS n_sampled,
        |  TRUE AS hashes_ok
        |FROM documents ORDER BY media_id""".stripMargin),

    // real CONTAINER demux: the same deterministic JPEG frames shipped in a
    // spec-correct RIFF/AVI container (hdrl+movi+idx1), demuxed by chunk
    // structure and decoded through the JPEG codec. The query proves the
    // container path end-to-end AND that it lands on identical frame hashes
    // as the raw concatenated-MJPEG path — per media_id, the sampled hash
    // multisets from both containers must be equal.
    Contract("mm_avi_frames", (s, dir) => {
      val avi = graft.operators.Multimodal.aviMediaFromDocuments(s, dir)
      val mjpeg = graft.operators.Multimodal.mjpegMediaFromDocuments(s, dir)
      def sampled(m: org.apache.spark.sql.Dataset[graft.operators.Multimodal.MediaRecord]) =
        graft.operators.Multimodal.sampleFrames(m, everyN = 2,
            () => new graft.operators.Multimodal.ImageIoDecoder).toDF()
          .groupBy(col("media_id"))
          .agg(count(lit(1)).as("n_sampled"),
            sort_array(collect_list(col("frame_hash"))).as("hashes"))
      sampled(avi).alias("a")
        .join(sampled(mjpeg).alias("m"), "media_id")
        .select(col("media_id"), col("a.n_sampled").as("n_sampled"),
          (col("a.hashes") === col("m.hashes") &&
            col("a.n_sampled") === col("m.n_sampled")).as("container_parity"))
        .orderBy(col("media_id"))
    },
      """SELECT doc_id AS media_id,
        |  CAST(CEIL(((doc_id % 8) + 2) / 2.0) AS BIGINT) AS n_sampled,
        |  TRUE AS container_parity
        |FROM documents ORDER BY media_id""".stripMargin),

    // real ISO BMFF demux: the same deterministic JPEG frames shipped in a
    // spec-correct MP4 (ftyp + moov stsc/stsz/stco tables + mdat), demuxed
    // by box structure and decoded through the JPEG codec. Same parity
    // contract as mm_avi_frames: per media_id, the sampled hash multisets
    // from the MP4 path and the raw concatenated-MJPEG path must be equal.
    Contract("mm_mp4_frames", (s, dir) => {
      val mp4 = graft.operators.Multimodal.mp4MediaFromDocuments(s, dir)
      val mjpeg = graft.operators.Multimodal.mjpegMediaFromDocuments(s, dir)
      def sampled(m: org.apache.spark.sql.Dataset[graft.operators.Multimodal.MediaRecord]) =
        graft.operators.Multimodal.sampleFrames(m, everyN = 2,
            () => new graft.operators.Multimodal.ImageIoDecoder).toDF()
          .groupBy(col("media_id"))
          .agg(count(lit(1)).as("n_sampled"),
            sort_array(collect_list(col("frame_hash"))).as("hashes"))
      sampled(mp4).alias("a")
        .join(sampled(mjpeg).alias("m"), "media_id")
        .select(col("media_id"), col("a.n_sampled").as("n_sampled"),
          (col("a.hashes") === col("m.hashes") &&
            col("a.n_sampled") === col("m.n_sampled")).as("container_parity"))
        .orderBy(col("media_id"))
    },
      """SELECT doc_id AS media_id,
        |  CAST(CEIL(((doc_id % 8) + 2) / 2.0) AS BIGINT) AS n_sampled,
        |  TRUE AS container_parity
        |FROM documents ORDER BY media_id""".stripMargin),

    // container-parity contract as mm_avi_frames/mm_mp4_frames: per
    // media_id, the sampled hash multisets from the Matroska path (DocType
    // alternating matroska/webm — the demux is structural and must not
    // care) and the raw concatenated-MJPEG path must be equal.
    Contract("mm_mkv_frames", (s, dir) => {
      val mkv = graft.operators.Multimodal.mkvMediaFromDocuments(s, dir)
      val mjpeg = graft.operators.Multimodal.mjpegMediaFromDocuments(s, dir)
      def sampled(m: org.apache.spark.sql.Dataset[graft.operators.Multimodal.MediaRecord]) =
        graft.operators.Multimodal.sampleFrames(m, everyN = 2,
            () => new graft.operators.Multimodal.ImageIoDecoder).toDF()
          .groupBy(col("media_id"))
          .agg(count(lit(1)).as("n_sampled"),
            sort_array(collect_list(col("frame_hash"))).as("hashes"))
      sampled(mkv).alias("a")
        .join(sampled(mjpeg).alias("m"), "media_id")
        .select(col("media_id"), col("a.n_sampled").as("n_sampled"),
          (col("a.hashes") === col("m.hashes") &&
            col("a.n_sampled") === col("m.n_sampled")).as("container_parity"))
        .orderBy(col("media_id"))
    },
      """SELECT doc_id AS media_id,
        |  CAST(CEIL(((doc_id % 8) + 2) / 2.0) AS BIGINT) AS n_sampled,
        |  TRUE AS container_parity
        |FROM documents ORDER BY media_id""".stripMargin),

    Contract("mm_frame_sample", (s, dir) => {
      val media = graft.operators.Multimodal.fakeMediaFromDocuments(s, dir)
      graft.operators.Multimodal.sampleFrames(media, everyN = 100).toDF()
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"))
        .orderBy(col("media_id"))
    },
      """SELECT doc_id AS media_id,
        |  CAST(CEIL(octet_length(encode(text)) / 100.0) AS BIGINT) AS n_frames
        |FROM documents ORDER BY media_id""".stripMargin)
  )
}
