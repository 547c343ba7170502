package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._

/** Multimodal columns (north star): image/audio/video as opaque BINARY
  * columns plus typed metadata, with decode / resize / frame-sample /
  * feature-extract as per-partition batch transforms.
  *
  * The container has no media codecs, so the codec layer is a clearly
  * marked DETERMINISTIC STUB (`StubCodec`) — but everything Spark-side is
  * real and load-bearing: the asset schema, the `Dataset[T]`/`mapPartitions`
  * batch shape (decoder constructed once per partition, exactly where a
  * JNI/FFI codec handle would live), the explode-based frame fan-out, and
  * the binary-payload columns. Swapping `StubCodec` for a real codec
  * changes no query shape.
  *
  * Scale notes: assets are value-heavy rows — transforms are narrow
  * (no shuffle); frame sampling fans out via `explode(sequence(...))`
  * (codegen'd, no UDF); only the tiny metadata projections ever aggregate.
  */
object MultimodalOps extends QueryModule {

  /** An opaque media asset: typed metadata + binary payload. */
  final case class MediaAsset(asset_id: Long, kind: String, content: Array[Byte])

  final case class DecodedMeta(
      asset_id: Long, kind: String, n_bytes: Long,
      width: Long, height: Long, n_frames: Long)

  /** DETERMINISTIC STUB for the codec layer: metadata is derived from the
    * payload length by fixed formulas so the DuckDB oracle can replay it.
    * A real implementation would parse the container header here.
    */
  object StubCodec extends Serializable {
    def decode(a: MediaAsset): DecodedMeta = {
      val n = a.content.length.toLong
      DecodedMeta(a.asset_id, a.kind, n,
        width = 1 + n % 320,
        height = 1 + (n * 7) % 200,
        n_frames = if (a.kind == "video") 1 + n / 100 else 1L)
    }

    /** Stub resize: a w×h×3 buffer filled with a constant byte. */
    def resize(a: MediaAsset, w: Int, h: Int): Array[Byte] =
      Array.fill(w * h * 3)('x'.toByte)

    /** Stub feature extractor, integer lattice: slot j accumulates
      * byte·position over bytes at positions ≡ j (mod 8), mod 1000003 —
      * content-dependent, order-sensitive, and exactly replayable in the
      * DuckDB oracle (no wrap-around arithmetic). */
    def featureLattice(a: MediaAsset): Array[Long] = {
      val out = new Array[Long](8)
      var i = 0
      while (i < a.content.length) {
        out(i % 8) = (out(i % 8) + (a.content(i) & 0xff).toLong * (i + 1)) % 1000003L
        i += 1
      }
      out
    }

    /** Stub feature extractor: the lattice scaled into [0,1) floats. */
    def features(a: MediaAsset): Array[Float] =
      featureLattice(a).map(m => (m.toDouble / 1000003.0).toFloat)
  }

  /** Fixture assets: the documents table as opaque payloads (UTF-8 bytes of
    * `text`), kind assigned round-robin.
    *
    * The DuckDB oracles replay the byte-level StubCodec formulas with
    * `ord(text[i])` — CODE POINTS — so byte/code-point agreement (ASCII) is
    * load-bearing for the hash gate. The guard makes the assumption fail
    * loudly at read time instead of surfacing as an inscrutable hash
    * mismatch: any non-ASCII fixture text throws. */
  def assets(s: SparkSession, dir: String): Dataset[MediaAsset] = {
    import s.implicits._
    table(s, dir, "documents")
      .where(coalesce(assert_true(
        col("text").isNull || !col("text").rlike("[^\\x00-\\x7F]"),
        lit("multimodal fixture text must be ASCII: the byte-level " +
          "StubCodec lattice is replayed in DuckDB over code points")),
        lit(true)))
      .select(col("doc_id").as("asset_id"),
        element_at(typedlit(Seq("image", "audio", "video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        encode(col("text"), "UTF-8").as("content"))
      .as[MediaAsset]
  }

  /** Decode pass: one codec instance per partition, batch iteration. */
  def decoded(s: SparkSession, dir: String): Dataset[DecodedMeta] = {
    import s.implicits._
    assets(s, dir).mapPartitions { it =>
      val codec = StubCodec // per-partition decoder handle
      it.map(codec.decode)
    }
  }

  /** ±1 hyperplanes for the lattice sign-LSH (q_mm_neardup): the seven
    * non-trivial Walsh-Hadamard rows over the 8 feature slots —
    * pairwise-orthogonal and provably distinct (an earlier linear-mod
    * pattern silently duplicated a plane). 7 planes → 128 buckets, enough
    * key cardinality for the bucket-cap window to parallelize. Plane dots
    * over integer lattices are exact integer sums, so the BUCKETING ITSELF
    * is DuckDB-replayable — both the Column expressions and the oracle SQL
    * are generated from this one matrix. */
  private val Planes: Seq[Seq[Int]] = (1 to 7).map { p =>
    (0 until 8).map { i =>
      if (java.lang.Integer.bitCount(p & i) % 2 == 0) 1 else -1
    }
  }

  /** Keep-first-K per bucket, replayed identically in SQL. */
  private val MaxNdBucket = 200

  /** q_mm_audio_chunks: 30 s windows on a 25 s stride, in SAMPLES at the
    * rate PARSED from each asset's RIFF/WAV header (r12: real container
    * decode — the r11 per-byte sample-count stub is gone). */
  private val AudioWinSec = 30L
  private val AudioHopSec = 25L

  /** Per-asset PCM sample rates, cycled by asset_id % 4 at ENCODE time. */
  private[graft] val AudioRates = Seq(8000, 16000, 32000, 48000)

  /** q_mm_container_meta: video frame interval (25 fps). */
  private val VideoUsPerFrame = 40000L

  /** ALL assets wrapped in REAL containers (r12): image → 24bpp BMP whose
    * header carries the decode-contract dims (1+n%320 × 1+(n·7)%200);
    * audio → canonical PCM WAV (16-bit mono, rate cycled by asset_id % 4
    * over [[AudioRates]]); video → AVI-lite whose avih carries the
    * n_frames contract (1 + n/100) at 25 fps with the contract dims.
    * Query sides read every field back from the ACTUAL bytes via the
    * fixed-offset little-endian parsers (RiffWav / Bmp / AviLite). */
  def containerAssets(s: SparkSession, dir: String): Dataset[MediaAsset] = {
    import s.implicits._
    assets(s, dir).mapPartitions { it =>
      it.map { a =>
        val n = a.content.length.toLong
        val (w, h) = ((1 + n % 320).toInt, (1 + (n * 7) % 200).toInt)
        a.kind match {
          case "image" => a.copy(content = Bmp.encode(w, h, a.content))
          case "audio" =>
            val rate = AudioRates(((a.asset_id % 4) + 4).toInt % 4)
            a.copy(content = RiffWav.encode(rate, 16, 1, a.content))
          case _ =>
            a.copy(content =
              AviLite.encode(VideoUsPerFrame, 1 + n / 100, w, h, a.content))
        }
      }
    }
  }

  /** Audio-kind assets in their REAL PCM WAV containers — nSamples floors
    * to len/2 (blockAlign 2 drops a ragged trailing byte, exactly as a
    * real decoder does). */
  def audioWavAssets(s: SparkSession, dir: String): Dataset[MediaAsset] =
    containerAssets(s, dir).filter(_.kind == "audio")

  /** (asset_id, ms, bucket) — the q_mm_neardup bucketing stage, whose
    * bucket sizes SCALING.md's "Round-4 measurement: bucket histograms"
    * audit recorded. */
  private[graft] def latticeBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val feats = assets(s, dir).mapPartitions { it =>
      val codec = StubCodec
      it.map(a => (a.asset_id, codec.featureLattice(a)))
    }.toDF("asset_id", "ms")
    def planeDot(plane: Seq[Int]): Column =
      plane.zipWithIndex.map { case (sgn, i) =>
        element_at(col("ms"), i + 1) * lit(sgn.toLong)
      }.reduce(_ + _)
    val bucket = Planes.zipWithIndex.map { case (plane, p) =>
      when(planeDot(plane) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    feats.withColumn("bucket", bucket)
  }

  def queries: Seq[(String, Q)] = Seq(
    "q_mm_decode" -> ((s: SparkSession, dir: String) =>
      decoded(s, dir).toDF()
        .select("asset_id", "kind", "n_bytes", "width", "height", "n_frames")
        .orderBy("asset_id")),

    // BMP channel statistics (r15) — the image twin of q_mm_audio_energy:
    // decode the REAL container (Bmp.parse header walk, payload from the
    // parsed data offset) and fold the 24bpp BGR triples into exact
    // per-channel integer sums (unsigned bytes — the engine decodes
    // & 0xFF even though fixture ASCII never sets the high bit; the spec
    // covers ≥ 0x80 payloads the oracle never sees). Integer-weighted
    // ITU-R 601 luminance (299·R + 587·G + 114·B) stays exact; mean_lum
    // is ONE double division. width/height surface from the PARSED
    // header; the oracle replays the known generator formulas (the
    // mm-family oracle split). Ragged trailing 1–2 bytes drop exactly
    // as a stride-less decoder would (n_px = len div 3).
    "q_mm_image_channel_stats" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      containerAssets(s, dir).filter(_.kind == "image")
        .mapPartitions { it =>
          it.flatMap { a =>
            val m = Bmp.parse(a.content).getOrElse(
              sys.error(s"unparseable BMP for asset ${a.asset_id}"))
            val p = java.util.Arrays.copyOfRange(a.content,
              m.dataOffset.toInt, (m.dataOffset + m.dataBytes).toInt)
            val nPx = p.length / 3
            if (nPx < 1) None
            else {
              var sb = 0L; var sg = 0L; var sr = 0L
              var i = 0
              while (i < 3 * nPx) {
                sb += p(i) & 0xFF
                sg += p(i + 1) & 0xFF
                sr += p(i + 2) & 0xFF
                i += 3
              }
              Some((a.asset_id, m.width.toLong, m.height.toLong,
                nPx.toLong, sb, sg, sr))
            }
          }
        }
        .toDF("asset_id", "width", "height", "n_px",
          "sum_b", "sum_g", "sum_r")
        .selectExpr("asset_id", "width", "height", "n_px",
          "sum_b", "sum_g", "sum_r",
          "CAST(299 * sum_r + 587 * sum_g + 114 * sum_b AS BIGINT) AS lum_sum",
          "CAST(299 * sum_r + 587 * sum_g + 114 * sum_b AS DOUBLE)" +
            " / CAST(1000 * n_px AS DOUBLE) AS mean_lum")
        .orderBy("asset_id")
    }),

    // Per-channel exposure histogram (r15) — the contrast/clipping
    // screen an image-curation pass runs before training: 4 brightness
    // buckets (byte div 64) per BGR channel over the REAL parsed BMP
    // payload (unsigned decode — engine `& 0xFF >> 6`, oracle
    // `ord // 64`; fixture ASCII populates only buckets 0–1, the spec
    // covers ≥0x80 payloads the oracle never sees). All 12
    // (channel, bucket) rows emit per asset including zeros, so the
    // report shape is deterministic.
    "q_mm_image_hist" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      containerAssets(s, dir).filter(_.kind == "image")
        .mapPartitions { it =>
          it.flatMap { a =>
            val m = Bmp.parse(a.content).getOrElse(
              sys.error(s"unparseable BMP for asset ${a.asset_id}"))
            val p = java.util.Arrays.copyOfRange(a.content,
              m.dataOffset.toInt, (m.dataOffset + m.dataBytes).toInt)
            val nPx = p.length / 3
            if (nPx < 1) Iterator.empty
            else {
              val counts = Array.ofDim[Long](3, 4)
              var i = 0
              while (i < 3 * nPx) {
                counts(0)((p(i) & 0xFF) >> 6) += 1
                counts(1)((p(i + 1) & 0xFF) >> 6) += 1
                counts(2)((p(i + 2) & 0xFF) >> 6) += 1
                i += 3
              }
              val chans = Array("b", "g", "r")
              (0 until 3).iterator.flatMap(c => (0 until 4).map(bkt =>
                (a.asset_id, chans(c), bkt.toLong, counts(c)(bkt),
                  nPx.toLong)))
            }
          }
        }
        .toDF("asset_id", "channel", "bucket", "cnt", "n_px")
        .selectExpr("asset_id", "channel", "bucket", "cnt",
          "CAST(cnt AS DOUBLE) / CAST(n_px AS DOUBLE) AS share")
        .orderBy("asset_id", "channel", "bucket")
    }),

    // Frame sampling: every 5th frame of each video, fanned out without UDFs.
    "q_mm_frame_sample" -> ((s: SparkSession, dir: String) =>
      decoded(s, dir).toDF()
        .where(col("kind") === "video")
        .select(col("asset_id"),
          explode(sequence(lit(0L), col("n_frames") - 1, lit(5L))).as("frame_idx"))
        .orderBy("asset_id", "frame_idx")),

    // PCM energy / loudness readout (r12c3) — the first REAL-SAMPLE
    // audio operator: decode the WAV data chunk's 16-bit LE samples
    // (RiffWav.dataPayload — the fourth byte-level parser surface,
    // signed decode, ragged trailing byte dropped exactly as the
    // blockAlign contract) and report per asset the EXACT integer
    // energy Σs², |peak| and DC sum, plus the staged RMS (one division
    // + one sqrt — IEEE-exact). The fixture payloads are asserted-ASCII
    // text bytes, so every ground-truth sample is ord(c₀) + 256·ord(c₁)
    // (< 2^15 ⇒ sign bit never set on FIXTURE data — the engine still
    // decodes signed, and the spec attacks it with ≥0x80 high bytes the
    // oracle never sees). One scan-side mapPartitions; energy stays
    // < 2^63 (n·(2^15)² needs n > 2^33 samples per asset to overflow).
    "q_mm_audio_energy" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      audioWavAssets(s, dir)
        .mapPartitions { it =>
          it.flatMap { a =>
            val m = RiffWav.parse(a.content).getOrElse(
              sys.error(s"unparseable WAV container for asset ${a.asset_id}"))
            val data = RiffWav.dataPayload(a.content).getOrElse(
              sys.error(s"missing data chunk for asset ${a.asset_id}"))
            val n = data.length / 2
            if (n == 0) None
            else {
              var energy = 0L
              var peak = 0L
              var dc = 0L
              var i = 0
              while (i < n) {
                val raw = (data(2 * i) & 0xff) | ((data(2 * i + 1) & 0xff) << 8)
                val sv = raw.toShort.toLong
                energy += sv * sv
                val av = math.abs(sv)
                if (av > peak) peak = av
                dc += sv
                i += 1
              }
              Some((a.asset_id, m.sampleRate.toLong, n.toLong, energy, peak, dc))
            }
          }
        }
        .toDF("asset_id", "sample_rate", "n_samples", "energy", "peak_abs",
          "dc_sum")
        .selectExpr("asset_id", "sample_rate", "n_samples", "energy",
          "peak_abs", "dc_sum",
          "sqrt(CAST(energy AS DOUBLE) / CAST(n_samples AS DOUBLE)) AS rms")
        .orderBy("asset_id")
    }),

    // Frame-to-frame motion energy (r14) — the scene-dynamics read a
    // video curation pipeline runs before frame sampling: per adjacent
    // frame pair, the sum of absolute byte differences (SAD) over the
    // REAL decoded AVI payload (AviLite.parse + moviPayload — the r12
    // container-decode split: engine does the byte-level roundtrip,
    // oracle replays the known text-slice ground truth via per-char
    // ord() folds, the parser+kernel are spec-attacked). Bytes compare
    // UNSIGNED ((b & 0xFF) — fixture ASCII never sets the high bit; the
    // spec covers ≥ 0x80 payloads the oracle never sees, the audio
    // signed-decode precedent). Single-frame assets have no pairs and
    // drop (f ≥ 2, declared). All per-asset work is scan-side in one
    // mapPartitions; only the one-row-per-asset report shuffles.
    "q_mm_video_motion" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      containerAssets(s, dir).filter(_.kind == "video")
        .mapPartitions(_.flatMap(a => motionStats(a.asset_id, a.content)))
        .toDF("asset_id", "n_frames", "frame_size", "total_motion",
          "max_motion", "peak_pair")
        .orderBy("asset_id")
    }),

    // Video keyframe / scene-cut scan (r12c3) — the static-frame dedup
    // pass before an encoder sees a video: walk the REAL AVI container
    // (avih for the frame count, the movi 00dc body via
    // AviLite.moviPayload — a second parser surface, spec-attacked),
    // slice the payload into n_frames equal byte segments (ragged tail
    // ignored, declared), digest each frame with the SAME two-chain
    // 60-bit kernel as the text shingles (TextHashes.shingleKey; content
    // is asserted ASCII so the codepoint fold IS the byte fold and the
    // oracle replays it with shingleKeySql over text slices), and report
    // per asset: frames, frame size, distinct frames, cuts (digest
    // changes) and the longest static run. All per-asset work is
    // scan-side in one mapPartitions — frames per asset are bounded by
    // the container's own n/100 contract, nothing shuffles but the
    // one-row-per-asset report.
    "q_mm_video_keyframes" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      containerAssets(s, dir).filter(_.kind == "video")
        .mapPartitions { it =>
          it.flatMap { a =>
            val bytes = a.content
            val meta = AviLite.parse(bytes).getOrElse(
              sys.error(s"unparseable AVI container for asset ${a.asset_id}"))
            val pay = AviLite.moviPayload(bytes).getOrElse(
              sys.error(s"missing movi payload for asset ${a.asset_id}"))
            val f = meta.totalFrames.toInt
            val fs = if (f > 0) pay.length / f else 0
            if (fs == 0) None
            else {
              val digests = (0 until f).map { i =>
                graft.functions.TextHashes.shingleKey(
                  org.apache.spark.unsafe.types.UTF8String
                    .fromBytes(pay, i * fs, fs))
              }
              var cuts = 0L
              var run = 1L
              var longest = 1L
              (1 until f).foreach { i =>
                if (digests(i) != digests(i - 1)) { cuts += 1; run = 1 }
                else { run += 1; if (run > longest) longest = run }
              }
              Some((a.asset_id, f.toLong, fs.toLong,
                digests.distinct.size.toLong, cuts, longest))
            }
          }
        }
        .toDF("asset_id", "n_frames", "frame_size", "n_distinct", "n_cuts",
          "longest_run")
        .orderBy("asset_id")
    }),

    // Audio windowing (r11b, r12 real-decode) — the whisper-style
    // preprocessing cut: each audio asset becomes fixed 30 s windows on a
    // 25 s stride (5 s overlap), ready for a per-window encoder. r12: the
    // sample rate and sample count come from an ACTUAL RIFF/WAV header
    // parse over the binary payload (RiffWav.parse's chunk walk — the r11
    // per-byte stub formula is gone), so window sizes vary per asset with
    // the parsed rate. Zero-sample payloads are filtered BEFORE the
    // explode (Spark's sequence throws on start > stop; DuckDB's
    // generate_series returns no rows — r11 ADVICE guard, mirrored in the
    // oracle). Pure scan-side fan-out via explode(sequence(...)); the two
    // second-columns are single long/long IEEE divisions.
    "q_mm_audio_chunks" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val parsed = audioWavAssets(s, dir)
        .mapPartitions { it =>
          it.map { a =>
            val m = RiffWav.parse(a.content).getOrElse(
              sys.error(s"unparseable WAV container for asset ${a.asset_id}"))
            (a.asset_id, m.sampleRate.toLong, m.nSamples)
          }
        }
        .toDF("asset_id", "sample_rate", "n_samples")
      parsed
        .where(col("n_samples") > 0)
        .withColumn("hop", col("sample_rate") * AudioHopSec)
        .withColumn("win", col("sample_rate") * AudioWinSec)
        .select(col("asset_id"), col("sample_rate"), col("hop"), col("win"),
          col("n_samples"),
          explode(sequence(lit(0L), col("n_samples") - 1,
            col("hop"))).as("start_sample"))
        .select(col("asset_id"), col("sample_rate"),
          expr("start_sample div hop").as("chunk_id"),
          col("start_sample"),
          least(col("win"), col("n_samples") - col("start_sample"))
            .as("chunk_samples"),
          (col("start_sample").cast("double") / col("sample_rate"))
            .as("start_sec"),
          (least(col("win"), col("n_samples") - col("start_sample"))
            .cast("double") / col("sample_rate")).as("dur_sec"))
        .orderBy("asset_id", "chunk_id")
    }),

    // Unified container-metadata decode (r12): EVERY kind's fields come
    // from an actual byte-level header parse — BMP dims for images, WAV
    // rate/samples for audio, AVI avih frames/dims for video — over the
    // real containers containerAssets builds. One scan-side
    // mapPartitions (a codec handle per partition), no shuffle before
    // the presentation sort; the oracle replays the encode-side ground
    // truth and the parsers are pinned by ContainersSpec/RiffWavSpec
    // adversarial bytes.
    "q_mm_container_meta" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      containerAssets(s, dir).mapPartitions { it =>
        it.map { a =>
          val none = Option.empty[Long]
          a.kind match {
            case "image" =>
              val m = Bmp.parse(a.content).getOrElse(
                sys.error(s"unparseable BMP for asset ${a.asset_id}"))
              (a.asset_id, a.kind, Some(m.width.toLong), Some(m.height.toLong),
                none, none, none)
            case "audio" =>
              val m = RiffWav.parse(a.content).getOrElse(
                sys.error(s"unparseable WAV for asset ${a.asset_id}"))
              (a.asset_id, a.kind, none, none, none,
                Some(m.sampleRate.toLong), Some(m.nSamples))
            case _ =>
              val m = AviLite.parse(a.content).getOrElse(
                sys.error(s"unparseable AVI for asset ${a.asset_id}"))
              (a.asset_id, a.kind, Some(m.width.toLong), Some(m.height.toLong),
                Some(m.totalFrames), none, none)
          }
        }
      }.toDF("asset_id", "kind", "width", "height", "n_frames",
          "sample_rate", "n_samples")
        .orderBy("asset_id")
    }),

    // Resize: stub payload, but the byte-level output is oracle-checkable.
    "q_mm_resize" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      assets(s, dir)
        .map { a =>
          val resized = StubCodec.resize(a, 64, 48)
          (a.asset_id, a.kind, resized.length.toLong, resized)
        }
        .toDF("asset_id", "kind", "resized_len", "resized")
        .select(col("asset_id"), col("kind"), col("resized_len"),
          sha2(col("resized"), 256).as("resized_sha"))
        .orderBy("asset_id")
    }),

    // Cosine top-10 over the extracted feature lattices — the ONLY oracled
    // kNN in the inventory: dot product and norms are exact BIGINT sums
    // (lattice slots < 1000003, so no overflow at 8 dims), and the cosine
    // itself uses only IEEE-correctly-rounded ops (sqrt, multiply, divide),
    // which DuckDB reproduces bit-for-bit — unlike the float-accumulation
    // cosine over `embeddings`, which is legitimately oracle-less.
    "q_mm_embed_knn" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val feats = assets(s, dir).mapPartitions { it =>
        val codec = StubCodec
        it.map(a => (a.asset_id, codec.featureLattice(a)))
      }.toDF("asset_id", "ms")
      val probe = feats.where(col("asset_id") === 0)
        .select("ms").head().getSeq[Long](0)
      val probeNorm = probe.map(x => x * x).sum
      val pv = typedlit(probe)
      val dotCol = aggregate(zip_with(col("ms"), pv, _ * _), lit(0L), _ + _)
      val naCol = aggregate(transform(col("ms"), x => x * x), lit(0L), _ + _)
      feats.where(col("asset_id") =!= 0)
        .select(col("asset_id"), dotCol.as("dot"), naCol.as("na"))
        .select(col("asset_id"), col("dot"),
          when(col("na") === 0L || lit(probeNorm) === 0L, 0.0)
            .otherwise(col("dot").cast("double")
              / (sqrt(col("na").cast("double")) * lit(math.sqrt(probeNorm.toDouble))))
            .as("cos_sim"))
        .orderBy(desc("cos_sim"), asc("asset_id"))
        .limit(10)
    }),

    // Sign-LSH near-dup pairing over the feature lattices — the first
    // FULLY-oracled bucketed near-dup pipeline in the inventory: the plane
    // dots are exact integer sums (sign reproducible in SQL), the
    // keep-first-K bucket cap is a row_number both engines compute
    // identically, and the cosine uses only IEEE-exact ops.
    // Perceptual-hash image near-dup (r12): the dHash pattern over REAL
    // parsed containers — the engine reads each image's pixel payload
    // through Bmp.parse's DECLARED data offset (never a hardcoded 54),
    // samples 72 evenly-strided payload bytes as the grayscale proxy, and
    // sets bit k iff g[k] > g[k+1] → a 63-bit hash (bit 63 stays 0: the
    // mask never goes negative in Spark nor overflows DuckDB's checked
    // shift — the bitmap_overlap rule). Pairing blocks on four 16-bit
    // bands, keep-first-200 bucket cap, exact hamming = bit_count(xor)
    // on every candidate — the report is the top-100 NEAREST candidate
    // pairs (candidates + exact rerank, the ADC two-stage shape) with
    // dup_flag marking hamming ≤ 3, the slice whose recall the
    // pigeonhole makes EXACT (≤ 3 flipped bits ⇒ ≥ 1 identical band —
    // the simhash argument; a threshold-only report was near-empty at
    // sf0.01, where the templated texts never hash within 3). The oracle
    // replays the hash from the documents' code points (payload bytes ARE
    // the ASCII text — the assets() assertion), so the hash gate IS the
    // container-roundtrip proof (the q_mm_audio_chunks split discipline).
    "q_mm_phash" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val hashes = containerAssets(s, dir).filter(_.kind == "image")
        .mapPartitions { it =>
          it.map { a =>
            val m = Bmp.parse(a.content).getOrElse(
              sys.error(s"unparseable BMP for asset ${a.asset_id}"))
            val payload = java.util.Arrays.copyOfRange(a.content,
              m.dataOffset.toInt, (m.dataOffset + m.dataBytes).toInt)
            (a.asset_id, dhash63(payload))
          }
        }.toDF("asset_id", "h")
      val bands = hashes
        .select(col("asset_id"), col("h"),
          explode(expr("sequence(0, 3)")).as("bk"))
        .withColumn("bv",
          expr("shiftrightunsigned(h, CAST(bk * 16 AS INT)) & 65535"))
      val capped = graft.ops.LlmOps.capBuckets(
        bands, Seq("bk", "bv"), "asset_id", MaxNdBucket)
      val aSide = capped.select(col("bk"), col("bv"),
        col("asset_id").as("doc_a"), col("h").as("ha"))
      val bSide = capped.select(col("bk"), col("bv"),
        col("asset_id").as("doc_b"), col("h").as("hb"))
      aSide.join(bSide, Seq("bk", "bv"))
        .where(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(min(expr("bit_count(ha ^ hb)")).as("hm"))
        .selectExpr("doc_a", "doc_b", "CAST(hm AS BIGINT) AS hamming",
          s"CAST(CASE WHEN hm <= $PhashMaxHam THEN 1 ELSE 0 END AS BIGINT) AS dup_flag")
        .orderBy("hamming", "doc_a", "doc_b")
        .limit(100)
    }),

    "q_mm_neardup" -> ((s: SparkSession, dir: String) => {
      val capped = graft.ops.LlmOps.capBuckets(
        latticeBuckets(s, dir),
        Seq("bucket"), "asset_id", MaxNdBucket)
      val a = capped.select(col("bucket"), col("asset_id").as("doc_a"), col("ms").as("ms_a"))
      val b = capped.select(col("bucket"), col("asset_id").as("doc_b"), col("ms").as("ms_b"))
      val dot = aggregate(zip_with(col("ms_a"), col("ms_b"), _ * _), lit(0L), _ + _)
      val na = aggregate(transform(col("ms_a"), x => x * x), lit(0L), _ + _)
      val nb = aggregate(transform(col("ms_b"), x => x * x), lit(0L), _ + _)
      a.join(b, Seq("bucket"))
        .where(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          when(na === 0L || nb === 0L, 0.0)
            .otherwise(dot.cast("double")
              / (sqrt(na.cast("double")) * sqrt(nb.cast("double"))))
            .as("cos_sim"))
        .orderBy(desc("cos_sim"), asc("doc_a"), asc("doc_b"))
        .limit(50)
    }),

    // Feature extraction → embedding column. The raw float array stays an
    // internal column (downstream ANN consumes it); the DECLARED output is
    // hash-stable projections only — dim, f1 (exact: BIGINT/DOUBLE then one
    // IEEE float round-trip, identical on both engines), and a sha256 digest
    // of the integer lattice — so the DuckDB oracle can replay the
    // deterministic StubCodec formula exactly, like q_mm_resize does.
    "q_mm_embed" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      assets(s, dir)
        .mapPartitions { it =>
          val codec = StubCodec
          it.map { a =>
            val ms = codec.featureLattice(a)
            (a.asset_id, codec.features(a), ms)
          }
        }
        .toDF("asset_id", "features", "lattice")
        .select(col("asset_id"),
          asLong(size(col("features"))).as("dim"),
          element_at(col("features"), 1).cast("double").as("f1"),
          sha2(concat_ws(",", transform(col("lattice"), _.cast("string"))), 256)
            .as("features_sha"))
        .orderBy("asset_id")
    })
  )

  /** q_mm_phash: hamming acceptance threshold — 4 bands of a 63-bit hash
    * give pigeonhole-exact recall at ≤ 3. */
  private val PhashMaxHam = 3

  /** Sampled 63-bit dHash over a pixel payload: 72 evenly-strided bytes
    * as the grayscale proxy, bit k = g(k) > g(k+1). Strides in Long (the
    * i·n product), bytes unsigned. Empty payload hashes to 0. */
  private[graft] def dhash63(payload: Array[Byte]): Long = {
    val n = payload.length
    if (n == 0) return 0L
    val g = Array.tabulate(72)(i => payload(((i.toLong * n) / 72).toInt) & 0xFF)
    var h = 0L
    var k = 0
    while (k < 63) { if (g(k) > g(k + 1)) h |= 1L << k; k += 1 }
    h
  }

  /** The q_mm_video_motion per-asset kernel, factored for the
    * adversarial spec: parse the AVI container, slice the movi payload
    * into equal frames (ragged tail ignored — the keyframes contract),
    * and fold adjacent-pair SADs over UNSIGNED bytes. Returns None for
    * single-frame or empty-frame assets (no pairs). peak_pair is the
    * FIRST 1-based pair index attaining the max (deterministic ties). */
  private[graft] def motionStats(assetId: Long, bytes: Array[Byte])
      : Option[(Long, Long, Long, Long, Long, Long)] = {
    val meta = AviLite.parse(bytes).getOrElse(
      sys.error(s"unparseable AVI container for asset $assetId"))
    val pay = AviLite.moviPayload(bytes).getOrElse(
      sys.error(s"missing movi payload for asset $assetId"))
    val f = meta.totalFrames.toInt
    val fs = if (f > 0) pay.length / f else 0
    if (f < 2 || fs == 0) None
    else {
      var total = 0L; var mx = -1L; var peak = 0L
      var i = 1
      while (i < f) {
        var sad = 0L
        var j = 0
        while (j < fs) {
          sad += math.abs((pay(i * fs + j) & 0xFF) -
            (pay((i - 1) * fs + j) & 0xFF))
          j += 1
        }
        total += sad
        if (sad > mx) { mx = sad; peak = i.toLong }
        i += 1
      }
      Some((assetId, f.toLong, fs.toLong, total, mx, peak))
    }
  }

  def oracle: Seq[(String, String)] = Seq(
    // ground truth: samples over the asserted-ASCII payload are
    // ord(c₀) + 256·ord(c₁) — always positive on fixture data, so |peak|
    // = max and the signed path never fires here (the spec covers it)
    // Ground-truth replay of the image channel stats: kind = image ⇔
    // doc_id % 3 = 0; width/height are the generator formulas the engine
    // re-reads from the REAL parsed header; channels are the 1-based
    // (3i−2, 3i−1, 3i) byte positions of the BGR triples (ASCII fixture
    // ⇒ ord(char) = byte, the video_motion precedent).
    "q_mm_image_channel_stats" ->
      """WITH a AS (
        |  SELECT doc_id AS asset_id, text,
        |         CAST(1 + strlen(text) % 320 AS BIGINT) AS width,
        |         CAST(1 + (strlen(text) * 7) % 200 AS BIGINT) AS height,
        |         CAST(strlen(text) AS BIGINT) // 3 AS n_px
        |  FROM documents WHERE doc_id % 3 = 0 AND strlen(text) >= 3),
        |px AS (
        |  SELECT asset_id, width, height, n_px,
        |         CAST(list_aggregate(list_transform(
        |           range(1, CAST(n_px + 1 AS INT)), i ->
        |             CAST(ord(substr(text, CAST(3 * i - 2 AS INT), 1)) AS BIGINT)),
        |           'sum') AS BIGINT) AS sum_b,
        |         CAST(list_aggregate(list_transform(
        |           range(1, CAST(n_px + 1 AS INT)), i ->
        |             CAST(ord(substr(text, CAST(3 * i - 1 AS INT), 1)) AS BIGINT)),
        |           'sum') AS BIGINT) AS sum_g,
        |         CAST(list_aggregate(list_transform(
        |           range(1, CAST(n_px + 1 AS INT)), i ->
        |             CAST(ord(substr(text, CAST(3 * i AS INT), 1)) AS BIGINT)),
        |           'sum') AS BIGINT) AS sum_r
        |  FROM a)
        |SELECT asset_id, width, height, n_px, sum_b, sum_g, sum_r,
        |       CAST(299 * sum_r + 587 * sum_g + 114 * sum_b AS BIGINT) AS lum_sum,
        |       CAST(299 * sum_r + 587 * sum_g + 114 * sum_b AS DOUBLE)
        |         / CAST(1000 * n_px AS DOUBLE) AS mean_lum
        |FROM px ORDER BY asset_id""".stripMargin,

    "q_mm_image_hist" ->
      """WITH a AS (
        |  SELECT doc_id AS asset_id, text,
        |         CAST(strlen(text) AS BIGINT) // 3 AS n_px
        |  FROM documents WHERE doc_id % 3 = 0 AND strlen(text) >= 3),
        |ch(channel, off) AS (VALUES ('b', 0), ('g', 1), ('r', 2)),
        |bk(bucket) AS (VALUES (0), (1), (2), (3)),
        |cnts AS (
        |  SELECT asset_id, channel, bucket, n_px,
        |         CAST(list_aggregate(list_transform(
        |           range(1, CAST(n_px + 1 AS INT)), i ->
        |             CASE WHEN ord(substr(text, CAST(3 * i - 2 + off AS INT), 1))
        |                    // 64 = bucket THEN 1 ELSE 0 END),
        |           'sum') AS BIGINT) AS cnt
        |  FROM a CROSS JOIN ch CROSS JOIN bk)
        |SELECT asset_id, channel, CAST(bucket AS BIGINT) AS bucket, cnt,
        |       CAST(cnt AS DOUBLE) / CAST(n_px AS DOUBLE) AS share
        |FROM cnts ORDER BY asset_id, channel, bucket""".stripMargin,

    "q_mm_audio_energy" -> {
      val rates = AudioRates.mkString("[", ", ", "]")
      s"""WITH a AS (
         |  SELECT doc_id AS asset_id,
         |         CAST($rates[CAST(doc_id % 4 + 1 AS INT)] AS BIGINT)
         |           AS sample_rate,
         |         text, CAST(strlen(text) AS BIGINT) // 2 AS n
         |  FROM documents WHERE doc_id % 3 = 1 AND strlen(text) >= 2),
         |sm AS (
         |  SELECT asset_id, sample_rate, n,
         |         list_transform(range(1, CAST(n + 1 AS INT)), i ->
         |           CAST(ord(substr(text, CAST(2 * i - 1 AS INT), 1))
         |             + 256 * ord(substr(text, CAST(2 * i AS INT), 1))
         |             AS BIGINT)) AS ss
         |  FROM a),
         |ag AS (
         |  SELECT asset_id, sample_rate, n AS n_samples,
         |         CAST(list_aggregate(list_transform(ss, v -> v * v), 'sum')
         |           AS BIGINT) AS energy,
         |         CAST(list_aggregate(ss, 'max') AS BIGINT) AS peak_abs,
         |         CAST(list_aggregate(ss, 'sum') AS BIGINT) AS dc_sum
         |  FROM sm)
         |SELECT asset_id, sample_rate, n_samples, energy, peak_abs, dc_sum,
         |       sqrt(CAST(energy AS DOUBLE) / CAST(n_samples AS DOUBLE)) AS rms
         |FROM ag ORDER BY asset_id""".stripMargin
    },

    // ground-truth replay over the text slices the encoder packed
    // (ASCII ⇒ ord(char) = byte); sads read twice (report + argmax) ⇒
    // MATERIALIZED
    "q_mm_video_motion" ->
      """WITH v AS (
        |  SELECT doc_id AS asset_id, text, strlen(text) AS n,
        |         1 + strlen(text) // 100 AS f
        |  FROM documents WHERE doc_id % 3 = 2 AND strlen(text) > 0),
        |fr AS (
        |  SELECT asset_id, f, n // f AS fs, i,
        |         substring(text, CAST(i * (n // f) + 1 AS INT),
        |                   CAST(n // f AS INT)) AS seg
        |  FROM (SELECT asset_id, text, n, f,
        |               unnest(generate_series(0, f - 1)) AS i
        |        FROM v)
        |  WHERE f >= 2 AND n // f > 0),
        |lg AS (
        |  SELECT asset_id, f, fs, i, seg,
        |         lag(seg) OVER (PARTITION BY asset_id ORDER BY i) AS pseg
        |  FROM fr),
        |sads AS MATERIALIZED (
        |  SELECT asset_id, f, fs, i,
        |         CAST(list_sum(list_transform(range(1, CAST(fs AS INT) + 1),
        |           j -> abs(ord(substring(seg, j, 1))
        |                    - ord(substring(pseg, j, 1))))) AS BIGINT) AS sad
        |  FROM lg WHERE pseg IS NOT NULL),
        |rep AS (
        |  SELECT asset_id, CAST(max(f) AS BIGINT) AS n_frames,
        |         CAST(max(fs) AS BIGINT) AS frame_size,
        |         CAST(sum(sad) AS BIGINT) AS total_motion,
        |         CAST(max(sad) AS BIGINT) AS max_motion
        |  FROM sads GROUP BY asset_id),
        |pk AS (
        |  SELECT s.asset_id, CAST(min(s.i) AS BIGINT) AS peak_pair
        |  FROM sads s JOIN rep ON s.asset_id = rep.asset_id
        |   AND s.sad = rep.max_motion
        |  GROUP BY s.asset_id)
        |SELECT rep.asset_id, n_frames, frame_size, total_motion,
        |       max_motion, peak_pair
        |FROM rep JOIN pk ON rep.asset_id = pk.asset_id
        |ORDER BY rep.asset_id""".stripMargin,

    "q_mm_video_keyframes" ->
      s"""WITH v AS (
         |  SELECT doc_id AS asset_id, text, strlen(text) AS n,
         |         1 + strlen(text) // 100 AS f
         |  FROM documents WHERE doc_id % 3 = 2 AND strlen(text) > 0),
         |fr AS (
         |  SELECT asset_id, f, n // f AS fs, i,
         |         substring(text, CAST(i * (n // f) + 1 AS INT),
         |                   CAST(n // f AS INT)) AS seg
         |  FROM (SELECT asset_id, text, n, f,
         |               unnest(generate_series(0, f - 1)) AS i
         |        FROM v)),
         |dg AS (
         |  SELECT asset_id, f, fs, i,
         |         ${graft.functions.ReplayableHash.shingleKeySql("seg")} AS d
         |  FROM fr),
         |lg AS MATERIALIZED (
         |  SELECT asset_id, f, fs, i, d,
         |         lag(d) OVER (PARTITION BY asset_id ORDER BY i) AS pd
         |  FROM dg),
         |isl AS (
         |  SELECT asset_id, i, d,
         |         sum(CASE WHEN pd IS NULL OR pd <> d THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY asset_id ORDER BY i) AS run_id
         |  FROM lg),
         |runs AS (
         |  SELECT asset_id, run_id, CAST(count(*) AS BIGINT) AS rl
         |  FROM isl GROUP BY asset_id, run_id),
         |rep AS (
         |  SELECT asset_id, CAST(max(f) AS BIGINT) AS n_frames,
         |         CAST(max(fs) AS BIGINT) AS frame_size,
         |         CAST(count(DISTINCT d) AS BIGINT) AS n_distinct,
         |         CAST(sum(CASE WHEN pd IS NOT NULL AND pd <> d
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts
         |  FROM lg GROUP BY asset_id),
         |mr AS (
         |  SELECT asset_id, CAST(max(rl) AS BIGINT) AS longest_run
         |  FROM runs GROUP BY asset_id)
         |SELECT rep.asset_id, rep.n_frames, rep.frame_size, rep.n_distinct,
         |       rep.n_cuts, mr.longest_run
         |FROM rep JOIN mr USING (asset_id) ORDER BY asset_id""".stripMargin,

    "q_mm_phash" ->
      s"""WITH img AS (
         |  SELECT doc_id AS asset_id, text, strlen(text) AS n
         |  FROM documents WHERE doc_id % 3 = 0),
         |gs AS (
         |  SELECT asset_id,
         |         list_transform(range(0, 72), i ->
         |           ascii(substr(text, CAST((i * n) // 72 AS INT) + 1, 1))) AS g
         |  FROM img),
         |hs AS (
         |  SELECT asset_id,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           list_transform(range(1, 64), k ->
         |             CASE WHEN g[k] > g[k + 1]
         |                  THEN CAST(1 AS BIGINT) << CAST(k - 1 AS INT)
         |                  ELSE CAST(0 AS BIGINT) END)),
         |           (a, b) -> a + b) AS h
         |  FROM gs),
         |bands AS (
         |  SELECT asset_id, h, bk,
         |         (h >> CAST(bk * 16 AS INT)) & 65535 AS bv
         |  FROM hs CROSS JOIN (SELECT unnest(range(0, 4)) AS bk)),
         |capped AS (
         |  SELECT asset_id, h, bk, bv FROM (
         |    SELECT asset_id, h, bk, bv,
         |           row_number() OVER (PARTITION BY bk, bv
         |                              ORDER BY asset_id) AS brn
         |    FROM bands) WHERE brn <= $MaxNdBucket)
         |SELECT a.asset_id AS doc_a, b.asset_id AS doc_b,
         |       CAST(min(bit_count(xor(a.h, b.h))) AS BIGINT) AS hamming,
         |       CAST(CASE WHEN min(bit_count(xor(a.h, b.h))) <= $PhashMaxHam
         |                 THEN 1 ELSE 0 END AS BIGINT) AS dup_flag
         |FROM capped a JOIN capped b
         |  ON a.bk = b.bk AND a.bv = b.bv AND a.asset_id < b.asset_id
         |GROUP BY 1, 2
         |ORDER BY hamming, doc_a, doc_b LIMIT 100""".stripMargin,

    "q_mm_decode" ->
      """WITH a AS (
        |  SELECT doc_id AS asset_id,
        |         ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
        |         CAST(length(text) AS BIGINT) AS n
        |  FROM documents)
        |SELECT asset_id, kind, n AS n_bytes,
        |       1 + n % 320 AS width,
        |       1 + (n * 7) % 200 AS height,
        |       CASE WHEN kind = 'video' THEN 1 + n // 100 ELSE 1 END AS n_frames
        |FROM a ORDER BY asset_id""".stripMargin,

    "q_mm_frame_sample" ->
      """WITH a AS (
        |  SELECT doc_id AS asset_id,
        |         ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
        |         CAST(length(text) AS BIGINT) AS n
        |  FROM documents)
        |SELECT asset_id, unnest(generate_series(0, (1 + n // 100) - 1, 5)) AS frame_idx
        |FROM a WHERE kind = 'video'
        |ORDER BY asset_id, frame_idx""".stripMargin,

    // Ground-truth replay of the WAV roundtrip: the engine ENCODES a
    // canonical 16-bit mono PCM container (rate cycled by asset_id % 4)
    // and PARSES it back, so the oracle replays the known metadata —
    // n_samples = len // blockAlign(2), rate from the same cycle. The
    // parse itself is pinned by RiffWavSpec's adversarial containers
    // (extra LIST chunk, odd-size padding, truncation, bad magic).
    "q_mm_audio_chunks" -> {
      val rates = AudioRates.mkString("[", ", ", "]")
      s"""WITH a AS (
         |  SELECT doc_id AS asset_id,
         |         CAST($rates[CAST(doc_id % 4 + 1 AS INT)] AS BIGINT) AS sample_rate,
         |         CAST(length(text) AS BIGINT) // 2 AS n_samples
         |  FROM documents WHERE doc_id % 3 = 1),
         |c AS (
         |  SELECT asset_id, sample_rate, n_samples,
         |         unnest(generate_series(0, n_samples - 1, $AudioHopSec * sample_rate)) AS start_sample
         |  FROM a WHERE n_samples > 0)
         |SELECT asset_id, sample_rate,
         |       start_sample // ($AudioHopSec * sample_rate) AS chunk_id, start_sample,
         |       least($AudioWinSec * sample_rate, n_samples - start_sample) AS chunk_samples,
         |       CAST(start_sample AS DOUBLE) / sample_rate AS start_sec,
         |       CAST(least($AudioWinSec * sample_rate, n_samples - start_sample) AS DOUBLE) / sample_rate AS dur_sec
         |FROM c ORDER BY asset_id, chunk_id""".stripMargin
    },

    // Ground-truth replay of the per-kind container roundtrips (the WAV
    // rule generalized): the engine encodes real BMP/WAV/AVI bytes and
    // parses them back; the oracle replays the known field formulas.
    "q_mm_container_meta" -> {
      val rates = AudioRates.mkString("[", ", ", "]")
      s"""WITH a AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n FROM documents)
         |SELECT doc_id AS asset_id,
         |       ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
         |       CASE WHEN doc_id % 3 <> 1 THEN 1 + n % 320 END AS width,
         |       CASE WHEN doc_id % 3 <> 1 THEN 1 + (n * 7) % 200 END AS height,
         |       CASE WHEN doc_id % 3 = 2 THEN 1 + n // 100 END AS n_frames,
         |       CASE WHEN doc_id % 3 = 1
         |            THEN CAST($rates[CAST(doc_id % 4 + 1 AS INT)] AS BIGINT) END AS sample_rate,
         |       CASE WHEN doc_id % 3 = 1 THEN n // 2 END AS n_samples
         |FROM a ORDER BY asset_id""".stripMargin
    },

    "q_mm_resize" ->
      """SELECT doc_id AS asset_id,
        |       ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
        |       CAST(64 * 48 * 3 AS BIGINT) AS resized_len,
        |       sha256(repeat('x', 64 * 48 * 3)) AS resized_sha
        |FROM documents ORDER BY asset_id""".stripMargin,

    "q_mm_neardup" -> {
      val planeSql = Planes.zipWithIndex.map { case (plane, p) =>
        val dot = plane.zipWithIndex
          .map { case (sgn, i) => s"ms[${i + 1}] * ($sgn)" }.mkString(" + ")
        s"(CASE WHEN $dot > 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
      val pairDot = (1 to 8).map(k => s"x.ms[$k] * y.ms[$k]").mkString(" + ")
      def norm(side: String) = (1 to 8).map(k => s"$side.ms[$k] * $side.ms[$k]").mkString(" + ")
      s"""WITH f AS (
         |  SELECT doc_id AS asset_id,
         |         list_transform(range(0, 8), j ->
         |           coalesce(list_sum(list_transform(range(j + 1, length(text) + 1, 8),
         |             i -> ord(text[i]) * i)), 0) % 1000003) AS ms
         |  FROM documents),
         |bkt AS (
         |  SELECT asset_id, ms, $planeSql AS bucket FROM f),
         |capped AS (
         |  SELECT * FROM (
         |    SELECT asset_id, ms, bucket,
         |           row_number() OVER (PARTITION BY bucket ORDER BY asset_id) AS brn
         |    FROM bkt) WHERE brn <= $MaxNdBucket),
         |pairs AS (
         |  SELECT x.asset_id AS doc_a, y.asset_id AS doc_b,
         |         CAST($pairDot AS BIGINT) AS dot,
         |         CAST(${norm("x")} AS BIGINT) AS na,
         |         CAST(${norm("y")} AS BIGINT) AS nb
         |  FROM capped x JOIN capped y USING (bucket)
         |  WHERE x.asset_id < y.asset_id)
         |SELECT doc_a, doc_b,
         |       CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |            ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
         |       END AS cos_sim
         |FROM pairs
         |ORDER BY cos_sim DESC, doc_a ASC, doc_b ASC LIMIT 50""".stripMargin
    },

    "q_mm_embed_knn" ->
      """WITH f AS (
        |  SELECT doc_id AS asset_id,
        |         list_transform(range(0, 8), j ->
        |           coalesce(list_sum(list_transform(range(j + 1, length(text) + 1, 8),
        |             i -> ord(text[i]) * i)), 0) % 1000003) AS ms
        |  FROM documents),
        |p AS (SELECT ms AS pms FROM f WHERE asset_id = 0),
        |sc AS (
        |  SELECT f.asset_id,
        |         CAST(list_sum(list_transform(range(1, 9), k -> f.ms[k] * p.pms[k])) AS BIGINT) AS dot,
        |         CAST(list_sum(list_transform(range(1, 9), k -> f.ms[k] * f.ms[k])) AS BIGINT) AS na,
        |         CAST(list_sum(list_transform(range(1, 9), k -> p.pms[k] * p.pms[k])) AS BIGINT) AS nb
        |  FROM f CROSS JOIN p WHERE f.asset_id <> 0)
        |SELECT asset_id, dot,
        |       CASE WHEN na = 0 OR nb = 0 THEN 0.0
        |            ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
        |       END AS cos_sim
        |FROM sc ORDER BY cos_sim DESC, asset_id ASC LIMIT 10""".stripMargin,

    // Replays StubCodec.featureLattice: slot j sums ord(char at 1-based
    // position p)·p over p ≡ j+1 (mod 8), mod 1000003 (fixtures are ASCII so
    // char == byte); f1 makes the same double→float→double round trip as the
    // Spark side, so the hashes agree bit-for-bit.
    "q_mm_embed" ->
      """WITH f AS (
        |  SELECT doc_id AS asset_id,
        |         list_transform(range(0, 8), j ->
        |           coalesce(list_sum(list_transform(range(j + 1, length(text) + 1, 8),
        |             i -> ord(text[i]) * i)), 0) % 1000003) AS ms
        |  FROM documents)
        |SELECT asset_id,
        |       CAST(8 AS BIGINT) AS dim,
        |       CAST(CAST(ms[1] / 1000003.0 AS FLOAT) AS DOUBLE) AS f1,
        |       sha256(array_to_string(ms, ',')) AS features_sha
        |FROM f ORDER BY asset_id""".stripMargin
  )
}
