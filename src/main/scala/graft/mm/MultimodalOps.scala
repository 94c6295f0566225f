package graft.mm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.util.{Det, SessionMemo}

/** A media item: opaque binary payload + typed metadata. At production the
  * payload is the raw image/audio/video bytes (or an object-store pointer
  * for large blobs) and `meta` carries container-level facts extracted at
  * ingest. */
case class MediaRow(doc_id: Long, kind: String, payload: Array[Byte],
    width: Int, height: Int, sample_rate: Int)

/** One decoded feature record per media item. */
case class MediaFeatures(doc_id: Long, kind: String, features: Array[Float])

/** One sampled frame (fixed-size binary chunk) of a media payload. */
case class MediaFrame(doc_id: Long, frame_idx: Int, frame: Array[Byte])

/** Per-item media quality-control stats (decoded-payload level). For
  * images `contrast` is RMS contrast and `zcr` is 0; for audio
  * `contrast` is RMS energy and `zcr` the zero-crossing rate. Levels
  * are normalized to [0, 1] (gray/255, |pcm|/32768). */
/** Per-clip audio spectral stats (frames of 256, hop 128). */
case class AudioSpectral(doc_id: Long, n_frames: Long, mean_rms: Double,
    max_rms: Double, mean_zcr: Double, dom_hz: Long, dom_power: Double)

case class MediaQc(doc_id: Long, kind: String, n_units: Long,
    mean_level: Double, contrast: Double, zcr: Double,
    peak: Double, clip_frac: Double)

/** Multimodal-column plumbing: image/audio/video as opaque `BINARY`
  * columns with typed metadata, processed by per-partition batch
  * operators — the Spark-side shape of a decode/feature-extract stage.
  *
  * The decode is REAL: payloads are valid BMP/PNG/JPEG (images) and WAV
  * (audio) containers, and [[decode]] parses the actual container
  * structure via [[MediaCodec]] (magic-byte dispatch; hand-rolled
  * BMP/WAV parsers, `javax.imageio` for PNG/JPEG — pure JDK, offline)
  * before computing features — no native codec libraries needed. The surrounding plumbing is the load-bearing part at scale:
  * the schema, the typed Dataset boundary, per-partition batching (one
  * codec init per partition, not per row), frame sampling, and the
  * downstream aggregation.
  *
  * Scale posture: payloads stay columnar-binary end to end (never
  * stringified), decode is mapPartitions (amortized setup, no shuffle),
  * frame sampling explodes map-side, and only fixed-width features flow
  * into shuffles.
  */
object MultimodalOps {

  private val FeatureDim = 16
  private val FrameBytes = 64

  /** Build-once encoded media corpus ([[SessionMemo]]) — the AnnIndex
    * discipline applied to the ingest/encode stage: at production the
    * encode (or decode-and-normalize) of a binary corpus runs ONCE and
    * every downstream read consumes the materialized table, so the
    * declared mm queries share one synthesize+encode pass per session
    * and corpus instead of paying it each. LAZY checkpoint: plan
    * construction (PlanSpec's sweep) runs no encode job; the first
    * executed query materializes it. */
  def mediaOrGet(spark: SparkSession, sfDir: String): Dataset[MediaRow] =
    SessionMemo.getOrBuild(spark, sfDir, "mm.media")(
      media(spark, sfDir).localCheckpoint(eager = false))

  /** Deterministic synthetic media over `documents`: every payload is a
    * REAL container — text bytes rendered as grayscale pixels in a
    * 24-bpp BMP (even doc_id) or as 16-bit PCM samples in a mono WAV
    * (odd doc_id); metadata mirrors the container header. */
  /** doc_id offset for the planted near-dup clones — far above any
    * real doc_id at any SF, so clones never collide with corpus ids. */
  private[graft] val CloneIdOffset = 1000000000L

  def media(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val content = if (bytes.isEmpty) Array[Byte](0) else bytes
        val base = if (id % 2 == 0) {
          val w = 16 + (id % 16).toInt
          val h = 16 + (id % 9).toInt
          val gray = Array.tabulate(w * h)(i => content(i % content.length))
          MediaRow(id, "image", MediaCodec.encodeBmp(w, h, gray),
            width = w, height = h, sample_rate = 0)
        } else {
          val rate = 16000
          val n = math.max(256, content.length)
          val samples = Array.tabulate(n)(i =>
            ((content(i % content.length) - 64) * 256).toShort)
          MediaRow(id, "audio", MediaCodec.encodeWav(rate, samples),
            width = 0, height = 0, sample_rate = rate)
        }
        // Plant a deterministic near-dup clone for doc 0 (image) and
        // doc 1 (audio): the natural corpus carries no guaranteed
        // near-pair at every SF, so without these the dedup queries can
        // go green-on-empty (the r14 vacuous-fixture hazard class). The
        // nudge is verified LOCALLY against the wide-probe d <= 2
        // guarantee, falling back to a byte-exact copy (hamming 0) —
        // non-degeneracy is by construction, never by luck.
        if (id == 0L || id == 1L) Seq(base, nearDupClone(base))
        else Seq(base)
      }
  }

  /** A near-identical clone of one media row (doc_id offset by
    * [[CloneIdOffset]]): first sub-threshold edit whose perceptual-hash
    * hamming vs the original is <= 2, else a byte-exact copy. */
  private def nearDupClone(m: MediaRow): MediaRow = {
    val cid = m.doc_id + CloneIdOffset
    if (m.kind == "image") {
      val h0 = MediaHash.imageAhash(m.payload)
      val (w, h, gray) = MediaCodec.decodeImage(m.payload)
      // 3-, 2-, 1-pixel low-bit nudges (the MediaCodecSpec planted-pair
      // construction), most-perturbed first — re-encoded as PNG so the
      // planted pair also exercises the format-dispatch decode path
      // (gray round-trips bit-exactly through a TYPE_BYTE_GRAY PNG)
      val candidates = Seq(3, 2, 1).map { k =>
        val t = gray.clone()
        (0 until k).foreach { i =>
          val p = (i * 37) % t.length
          t(p) = (t(p) ^ 0x01).toByte
        }
        MediaCodec.encodePng(w, h, t)
      }
      val pay = candidates
        .find(p => java.lang.Long.bitCount(h0 ^ MediaHash.imageAhash(p)) <= 2)
        .getOrElse(m.payload.clone())
      m.copy(doc_id = cid, payload = pay)
    } else {
      val h0 = MediaHash.audioAhash(m.payload)
      val (rate, samples) = MediaCodec.decodeWav(m.payload)
      // gain edits that keep the energy envelope's shape
      val candidates = Seq(2, 4).map { div =>
        MediaCodec.encodeWav(rate, samples.map(s => (s / div).toShort))
      }
      val pay = candidates
        .find(p => java.lang.Long.bitCount(h0 ^ MediaHash.audioAhash(p)) <= 2)
        .getOrElse(m.payload.clone())
      m.copy(doc_id = cid, payload = pay)
    }
  }

  /** Real decode: parse the container, cross-check its header against
    * the row metadata, and fold the decoded payload into a unit-norm
    * [[FeatureDim]]-vector (luminance histogram for images, mean-abs
    * band energy for audio). */
  private def decode(m: MediaRow): Array[Float] = {
    val raw = new Array[Float](FeatureDim)
    m.kind match {
      case "image" =>
        val (w, h, gray) = MediaCodec.decodeImage(m.payload)
        require(w == m.width && h == m.height,
          s"container geometry ${w}x$h != metadata ${m.width}x${m.height}")
        gray.foreach(g => raw(((g & 0xff) * FeatureDim) >> 8) += 1f)
      case "audio" =>
        val (rate, samples) = MediaCodec.decodeWav(m.payload)
        require(rate == m.sample_rate,
          s"container rate $rate != metadata ${m.sample_rate}")
        val band = math.max(1, samples.length / FeatureDim)
        samples.zipWithIndex.foreach { case (s, i) =>
          val b = math.min(i / band, FeatureDim - 1)
          raw(b) += math.abs(s.toInt).toFloat
        }
      case k => throw new IllegalArgumentException(s"unknown kind $k")
    }
    val norm = math.sqrt(raw.map(x => x.toDouble * x).sum)
    if (norm > 0) raw.map(x => (x / norm).toFloat) else raw
  }

  /** Batch feature extraction: one pass per partition (decoder state —
    * buffers, a JNI codec in richer formats — amortized per partition,
    * not per row). */
  def decodeFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map(m => MediaFeatures(m.doc_id, m.kind, decode(m)))
    }
  }

  /** Media resize/downsample — the normalization stage every multimodal
    * training pipeline runs before feature extraction: images are
    * nearest-neighbor resampled to `outW`×`outH` (decode → grid sample →
    * re-encode, all inside the real BMP codec), audio is decimated by
    * `audioFactor` (every k-th PCM sample, rate/k in the re-encoded
    * header). Map-side only; payloads stay BINARY. */
  def resize(media: Dataset[MediaRow], outW: Int = 16, outH: Int = 16,
      audioFactor: Int = 2): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { m =>
        m.kind match {
          case "image" =>
            val (w, h, gray) = MediaCodec.decodeImage(m.payload)
            val out = Array.tabulate(outW * outH) { i =>
              val x = (i % outW) * w / outW
              val y = (i / outW) * h / outH
              gray(y * w + x)
            }
            MediaRow(m.doc_id, m.kind, MediaCodec.encodeBmp(outW, outH, out),
              outW, outH, 0)
          case _ =>
            val (rate, samples) = MediaCodec.decodeWav(m.payload)
            val out = samples.indices.collect {
              case i if i % audioFactor == 0 => samples(i)
            }.toArray
            val newRate = rate / audioFactor
            MediaRow(m.doc_id, m.kind, MediaCodec.encodeWav(newRate, out),
              0, 0, newRate)
        }
      }
    }
  }

  /** Declared query: resize normalization audit — byte/geometry movement
    * per kind, end to end through decode → resample → re-encode. No
    * oracle (binary path); spec asserts decoded geometry/rate. */
  def resizeStats(spark: SparkSession, sfDir: String): DataFrame = {
    // synthesize+encode the corpus ONCE — both the before-side and the
    // resize input read the materialized Dataset, halving the most
    // expensive stage (the codec encode); LAZY so merely constructing
    // the query (PlanSpec's plan-only sweep) runs no encode job
    val m = mediaOrGet(spark, sfDir)
    val before = m.toDF()
      .select(col("doc_id"), col("kind"),
        length(col("payload")).as("bytes_in"))
    val after = resize(m).toDF()
      .select(col("doc_id"), length(col("payload")).as("bytes_out"),
        col("width"), col("height"), col("sample_rate"))
    before.join(after, "doc_id")
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"),
        sum(col("bytes_in")).as("total_in"),
        sum(col("bytes_out")).as("total_out"),
        countDistinct(col("width"), col("height"), col("sample_rate"))
          .as("n_shapes"))
      .orderBy("kind")
  }

  /** Frame sampling: fixed-size binary chunks with frame index — the
    * video/audio windowing primitive (map-side explode, no shuffle). */
  def frameSample(media: Dataset[MediaRow]): Dataset[MediaFrame] = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      m.payload.grouped(FrameBytes).zipWithIndex.map {
        case (chunk, i) => MediaFrame(m.doc_id, i, chunk)
      }
    }
  }

  /** Declared query: per-kind feature statistics — proves the whole
    * binary → decode → features → aggregate path end to end. No oracle
    * (binary plumbing is not SQL-expressible portably); spec-tested. */
  def features(spark: SparkSession, sfDir: String): DataFrame =
    decodeFeatures(mediaOrGet(spark, sfDir)).toDF()
      .select(col("doc_id"), col("kind"),
        element_at(col("features"), 1).cast("double").as("f0"),
        aggregate(col("features"), lit(0.0d),
          (acc, x) => acc + x.cast("double") * x.cast("double")).as("sq"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"),
        Det.r4(avg(col("f0"))).as("avg_f0"),
        Det.r4(min(col("sq"))).as("min_sq"),
        Det.r4(max(col("sq"))).as("max_sq"))
      .orderBy("kind")

  /** Declared query: frames per kind — exercises the frame sampler. */
  def frames(spark: SparkSession, sfDir: String): DataFrame = {
    val m = mediaOrGet(spark, sfDir)
    frameSample(m).toDF()
      .join(m.toDF().select(col("doc_id"), col("kind")), "doc_id")
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_frames"),
        countDistinct(col("doc_id")).as("n_docs"),
        max(col("frame_idx")).as("max_frame_idx"))
      .orderBy("kind")
  }

  /** Per-item media QUALITY CONTROL — the cheap gate a multimodal
    * training pipeline runs before admitting an item: level/contrast
    * for images (dark or flat images carry no signal), RMS energy,
    * zero-crossing rate and clipping fraction for audio (silence and
    * clipped takes are dropped). All stats come off the REAL decoded
    * payload (pixels / PCM samples), map-side in one mapPartitions
    * pass; only the fixed-width stats row flows on. */
  def mediaQc(m: MediaRow): MediaQc = m.kind match {
    case "image" =>
      val (w, h, gray) = MediaCodec.decodeImage(m.payload)
      val n = w * h
      val lv = gray.map(g => (g & 0xff) / 255.0)
      val mean = lv.sum / n
      val contrast = math.sqrt(lv.map(x => (x - mean) * (x - mean)).sum / n)
      val clip = lv.count(x => x == 0.0 || x == 1.0).toDouble / n
      MediaQc(m.doc_id, "image", n.toLong, mean, contrast, 0.0,
        lv.max, clip)
    case "audio" =>
      val (_, samples) = MediaCodec.decodeWav(m.payload)
      val n = samples.length
      val xs = samples.map(_ / 32768.0)
      val mean = xs.sum / n
      val rms = math.sqrt(xs.map(x => x * x).sum / n)
      val zc = (1 until n).count(i =>
        (samples(i) >= 0) != (samples(i - 1) >= 0))
      val peak = xs.map(math.abs).max
      val clip = xs.count(x => math.abs(x) >= 32700.0 / 32768.0).toDouble / n
      MediaQc(m.doc_id, "audio", n.toLong, mean, rms,
        zc.toDouble / (n - 1), peak, clip)
    case k => throw new IllegalArgumentException(s"unknown kind $k")
  }

  /** Declared query: the QC gate outcome per kind — count admitted vs
    * flagged (flat/dark images; silent/clipped audio). No oracle
    * (binary decode path); spec checks stats against a driver-side
    * decode of the same payloads. */
  def qcStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val qc = mediaOrGet(spark, sfDir).mapPartitions(_.map(mediaQc)).toDF()
    val pass = col("kind") === "image" &&
      col("contrast") >= 0.02 && col("mean_level") >= 0.05 ||
      col("kind") === "audio" &&
      col("contrast") >= 0.01 && col("clip_frac") <= 0.2
    qc.groupBy(col("kind"))
      .agg(count(lit(1)).as("n"),
        sum(when(pass, 1L).otherwise(0L)).as("n_pass"),
        Det.r4(avg(col("mean_level"))).as("avg_level"),
        Det.r4(avg(col("contrast"))).as("avg_contrast"),
        Det.r4(max(col("peak"))).as("max_peak"),
        Det.r4(max(col("clip_frac"))).as("max_clip"))
      .orderBy("kind")
  }

  /** Per-clip audio SPECTRAL profile — the feature pass a speech/music
    * curation pipeline runs after the QC gate: 256-sample frames (hop
    * 128), per-frame RMS and zero-crossing rate, and Goertzel band
    * power at four probe tones; the clip's dominant band is the argmax
    * of summed band power (lowest frequency wins ties). Goertzel —
    * the O(N) single-bin DFT (Goertzel 1958) — replaces a full FFT
    * because the gate only asks "where does the energy sit", and four
    * bins of O(N) beat an O(N log N) transform whose other bins are
    * discarded. Runs in the same mapPartitions decode pass as the rest
    * of the mm family; only the fixed-width stats row flows on. */
  def audioSpectral(m: MediaRow): AudioSpectral = {
    val (sr, samples) = MediaCodec.decodeWav(m.payload)
    val frameLen = 256
    val hop = 128
    val bands = Array(500, 1000, 2000, 4000)
    val bandPow = new Array[Double](bands.length)
    var nFrames = 0L
    var rmsSum = 0.0
    var rmsMax = 0.0
    var zcrSum = 0.0
    var start = 0
    while (start + frameLen <= samples.length) {
      var i = 0
      var sq = 0.0
      var zc = 0
      while (i < frameLen) {
        val x = samples(start + i) / 32768.0
        sq += x * x
        if (i > 0 && ((samples(start + i) >= 0) !=
            (samples(start + i - 1) >= 0))) zc += 1
        i += 1
      }
      val rms = math.sqrt(sq / frameLen)
      rmsSum += rms; if (rms > rmsMax) rmsMax = rms
      zcrSum += zc.toDouble / (frameLen - 1)
      var b = 0
      while (b < bands.length) {
        // Goertzel at bin k = round(N·f/sr): s ← x + 2cos(w)·s1 − s2
        val k = math.round(frameLen.toDouble * bands(b) / sr).toInt
        val coeff = 2.0 * math.cos(2.0 * math.Pi * k / frameLen)
        var s1 = 0.0; var s2 = 0.0
        var j = 0
        while (j < frameLen) {
          val s = samples(start + j) / 32768.0 + coeff * s1 - s2
          s2 = s1; s1 = s
          j += 1
        }
        bandPow(b) += s1 * s1 + s2 * s2 - coeff * s1 * s2
        b += 1
      }
      nFrames += 1
      start += hop
    }
    val dom = if (nFrames == 0) -1 else {
      var best = 0
      var b = 1
      while (b < bands.length) {
        if (bandPow(b) > bandPow(best)) best = b
        b += 1
      }
      bands(best)
    }
    AudioSpectral(m.doc_id, nFrames,
      if (nFrames == 0) 0.0 else rmsSum / nFrames, rmsMax,
      if (nFrames == 0) 0.0 else zcrSum / nFrames, dom.toLong,
      if (nFrames == 0) 0.0 else bandPow.max / nFrames)
  }

  /** Declared query: the spectral profile rolled up by dominant band —
    * how the corpus' audio energy distributes over the probe tones. No
    * oracle (binary decode + libm trig are engine-side by design);
    * spec verifies the physics on a crafted pure-tone WAV and
    * determinism across runs. */
  def audioSpectralStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mediaOrGet(spark, sfDir)
      .filter(_.kind == "audio")
      .mapPartitions(_.map(audioSpectral)).toDF()
      .groupBy(col("dom_hz"))
      .agg(count(lit(1)).as("n_clips"),
        sum(col("n_frames")).as("n_frames"),
        Det.r4(avg(col("mean_rms"))).as("avg_rms"),
        Det.r4(max(col("max_rms"))).as("peak_rms"),
        Det.r4(avg(col("mean_zcr"))).as("avg_zcr"))
      .orderBy("dom_hz")
  }

  /** Perceptual AVERAGE-HASH of one image: decode, nearest-neighbor
    * sample to 8×8 (the [[resize]] kernel's sampling), bit i set iff
    * pixel_i·64 > Σpixels — the mean threshold kept in exact integer
    * arithmetic, so the 64-bit signature is a pure function of the
    * payload. The classic near-identical-image fingerprint: crops and
    * re-encodes move a few bits; unrelated images differ in ~32. */
  private[graft] def imageAhash(m: MediaRow): Long =
    MediaHash.imageAhash(m.payload)

  private val AhashMaxHamming = 3 // == the 4-block pigeonhole guarantee

  /** Shared near-dup pair generation over ANY 64-bit perceptual hash
    * column — the multi-index block probe ([[graft.llm.TextOps]]'s
    * simhash machinery): 4×16-bit blocks, equi-join collisions on
    * (table, key), pigeonhole-complete for hamming ≤ 3. `sigs` must
    * be (doc_id LONG, hsh LONG) and is checkpointed by the caller. */
  private def hashDedupPairs(sigs: DataFrame): DataFrame = {
    val probeArr = array((0 until 4).map(b =>
      struct(lit(b).as("tbl"),
        shiftrightunsigned(col("hsh"), b * 16)
          .bitwiseAND(lit(0xFFFFL)).as("key"))): _*)
    val probes = sigs
      .select(col("doc_id"), col("hsh"), explode(probeArr).as("p"))
      .select(col("doc_id"), col("hsh"),
        col("p.tbl").as("tbl"), col("p.key").as("key"))
    probes.as("a")
      .join(probes.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.hsh").bitwiseXOR(col("b.hsh"))).cast("long")
          .as("hamming"))
      .where(col("hamming") <= AhashMaxHamming)
      .distinct()
      .orderBy(col("hamming"), col("a_id"), col("b_id"))
  }

  private[graft] val WideAhashMaxHamming = 2 // C(4,2) block-pair guarantee

  /** WIDE-KEY variant of [[hashDedupPairs]] for ≫10⁸-item corpora —
    * [[graft.llm.TextOps.simhashWide]]'s geometry applied to any
    * 64-bit perceptual hash: signatures split into FOUR 16-bit blocks,
    * one probe table per block PAIR (C(4,2) = 6) keyed on the 32-bit
    * concatenation. Pigeonhole: hamming ≤ 2 leaves ≥ 2 of the 4 blocks
    * untouched, so every such pair collides in the table of one intact
    * pair — complete at d ≤ 2. Key-width math: 2³² buckets per table →
    * expected occupancy n/2³² ≈ 0.02 at n = 10⁸ and ≈ 2.3 at n = 10¹⁰,
    * vs the single-block probe's 2¹⁶ keys whose buckets hold n/65536
    * items (≈ 1.5k at 10⁸ — the equi-join inside each bucket goes
    * quadratic). The cost of the width is the narrower guaranteed
    * radius (d ≤ 2, not ≤ 3) and 6n probe rows instead of 4n — exactly
    * Manku's table-count/radius dial. */
  private def hashDedupPairsWide(sigs: DataFrame): DataFrame = {
    val block = (i: Int) =>
      shiftrightunsigned(col("hsh"), i * 16).bitwiseAND(lit(0xFFFFL))
    val probeArr = array((for { i <- 0 until 4; j <- i + 1 until 4 } yield
      struct(lit(i * 4 + j).as("tbl"),
        (block(i) * lit(65536L) + block(j)).as("key"))): _*)
    val probes = sigs
      .select(col("doc_id"), col("hsh"), explode(probeArr).as("p"))
      .select(col("doc_id"), col("hsh"),
        col("p.tbl").as("tbl"), col("p.key").as("key"))
    probes.as("a")
      .join(probes.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.hsh").bitwiseXOR(col("b.hsh"))).cast("long")
          .as("hamming"))
      .where(col("hamming") <= WideAhashMaxHamming)
      .distinct()
      .orderBy(col("hamming"), col("a_id"), col("b_id"))
  }

  /** [[imageDedup]]'s ≫10⁸-image form: same signatures, the
    * [[hashDedupPairsWide]] block-pair probe. Spec'd equal to brute
    * force at its d ≤ 2 guarantee. */
  def imageDedupWide(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sigs = mediaOrGet(spark, sfDir)
      .filter(_.kind == "image")
      .map(m => (m.doc_id, imageAhash(m)))
      .toDF("doc_id", "hsh")
      .localCheckpoint(eager = false)
    hashDedupPairsWide(sigs)
  }

  /** [[audioDedup]]'s ≫10⁸-clip form — see [[imageDedupWide]]. */
  def audioDedupWide(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sigs = mediaOrGet(spark, sfDir)
      .filter(_.kind == "audio")
      .map(m => (m.doc_id, audioAhash(m)))
      .toDF("doc_id", "hsh")
      .localCheckpoint(eager = false)
    hashDedupPairsWide(sigs)
  }

  /** Perceptual hash of one AUDIO clip — [[imageAhash]]'s idea in the
    * time domain: 64 equal frames, per-frame mean |PCM| energy, bit i
    * set iff energy_i·64 > Σenergies (exact integer threshold). Robust
    * to gain-preserving edits that keep the energy envelope; a
    * re-gained copy moves few bits (energies scale together, the
    * mean-relative bits mostly survive). */
  private[graft] def audioAhash(m: MediaRow): Long =
    MediaHash.audioAhash(m.payload)

  /** AUDIO NEAR-DUP pairs — the clip-level face of [[imageDedup]],
    * same probe machinery over [[audioAhash]] signatures. No oracle
    * (binary decode path); spec'd equal to brute-force hamming. */
  def audioDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sigs = mediaOrGet(spark, sfDir)
      .filter(_.kind == "audio")
      .map(m => (m.doc_id, audioAhash(m)))
      .toDF("doc_id", "hsh")
      .localCheckpoint(eager = false)
    hashDedupPairs(sigs)
  }

  /** IMAGE NEAR-DUP pairs — the multimodal face of the dedup family:
    * per-image average-hash signatures (one decode pass over the
    * encoded corpus), then candidate generation by multi-index block
    * probing exactly as the text [[graft.llm.TextOps.simhash]] does —
    * 4×16-bit blocks, so every pair within hamming ≤ 3 shares at
    * least one block (pigeonhole) and candidates come from equi-join
    * collisions on (table, key), never an all-pairs join. The REPORTED
    * threshold equals the index guarantee (no silent misses). 4n probe
    * rows into 4·2¹⁶ buckets; at ≫10⁸ images use [[imageDedupWide]]'s
    * 32-bit block-pair keys. No oracle (binary decode path); spec'd
    * equal to the brute-force hamming join including a planted
    * near-identical pair. */
  def imageDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sigs = mediaOrGet(spark, sfDir)
      .filter(_.kind == "image")
      .map(m => (m.doc_id, imageAhash(m)))
      .toDF("doc_id", "hsh")
      .localCheckpoint(eager = false) // probed twice below
    hashDedupPairs(sigs)
  }

  /** STREAMING image-contamination gate — [[graft.streaming.Ingest]]'s
    * `contaminationGate` shape applied to binary media: incoming images
    * decode map-side to their [[imageAhash]] and flag when within
    * `maxHamming` of ANY signature on the broadcast blocklist (eval-set
    * images, known-bad content). Fully STATELESS — the blocklist is a
    * curated model-sized array riding the closure, the per-image cost
    * is one decode plus a linear scan of the list (near-match against a
    * big blocklist would graduate to the multi-index probe of
    * [[imageDedup]]); works identically on a batch or streaming
    * Dataset. Non-image rows pass through unflagged (hamming = -1). */
  def imageGate(media: Dataset[MediaRow], blocked: Array[Long],
      maxHamming: Int = 3): DataFrame = {
    import media.sparkSession.implicits._
    val bc = media.sparkSession.sparkContext.broadcast(blocked)
    media.map { m =>
      if (m.kind != "image") (m.doc_id, m.kind, false, -1L)
      else {
        val hsh = imageAhash(m)
        var best = Long.MaxValue
        bc.value.foreach { b =>
          val d = java.lang.Long.bitCount(hsh ^ b).toLong
          if (d < best) best = d
        }
        if (best == Long.MaxValue) (m.doc_id, m.kind, false, -1L)
        else (m.doc_id, m.kind, best <= maxHamming, best)
      }
    }.toDF("doc_id", "kind", "blocked", "min_hamming")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mm_features" -> features _,
    "q_mm_frames" -> frames _,
    "q_mm_resize" -> resizeStats _,
    "q_mm_qc" -> qcStats _,
    "q_mm_audio_spectral" -> audioSpectralStats _,
    "q_mm_image_dedup" -> imageDedup _,
    "q_mm_audio_dedup" -> audioDedup _,
    "q_mm_image_dedup_wide" -> imageDedupWide _,
    "q_mm_audio_dedup_wide" -> audioDedupWide _
  )

  /** No oracles: the binary decode path is engine-side by design. */
  val oracleSql: Map[String, String] = Map.empty
}
