package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** [EXT] Multimodal-column plumbing (SURVEY.md builder prompt): media
  * treated as opaque `binary` columns with typed metadata, decoded /
  * feature-extracted / frame-sampled via `mapPartitions` (the Scala
  * equivalent of mapInPandas batching: one iterator pass per partition,
  * constant memory, no per-row UDF dispatch).
  *
  * Three codecs plug into the same decode boundary: `RealCodec` decodes
  * real image payloads (PNG/BMP/GIF/JPEG) with JDK-builtin
  * `javax.imageio`, `RealAudioCodec` decodes real audio payloads
  * (WAV/AIFF/AU PCM) with JDK-builtin `javax.sound.sampled` — no external
  * media libraries needed for either — and `DeterministicFakeCodec`
  * derives "pixels" from the blob bytes so the DuckDB oracle can recompute
  * every feature (the driver fixtures carry text blobs, not media). The
  * declared queries run on the fake codec for oracle exactness; the real
  * codecs are exercised end-to-end over synthesized PNGs/WAVs in
  * MultimodalSpec.
  */
object Multimodal {

  final case class DecodedMedia(nBytes: Int, meanPixel: Double)

  /** Decode boundary. A production build would plug javax.imageio / ffmpeg
    * here; the interface is the contract the plumbing is tested against. */
  trait BlobCodec extends Serializable {
    def decode(bytes: Array[Byte]): DecodedMedia
  }

  /** Real image decode via JDK-builtin `javax.imageio` (PNG/BMP/GIF/JPEG —
    * every format the default JDK plugin set registers). meanPixel is the
    * mean of the R/G/B channel values over all pixels, normalized to [0,1]
    * — alpha excluded so the statistic matches the fake codec's "average
    * intensity" semantics. Decoding happens executor-side inside the same
    * mapPartitions batching as the fake codec (one ImageIO call per blob,
    * no per-row UDF dispatch); ImageIO instances are not shared across
    * threads, and none are: `decode` holds no state. */
  object RealCodec extends BlobCodec {
    def decode(bytes: Array[Byte]): DecodedMedia = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      require(img != null, s"undecodable media payload (${bytes.length} bytes)")
      // Bulk row-at-a-time getRGB (sRGB regardless of the stored model):
      // per-pixel getRGB(x, y) pays a color-model conversion call per pixel
      // and is far too slow for executor-side decode of large images.
      val w = img.getWidth
      val row = new Array[Int](w)
      var sum = 0L
      var y = 0
      while (y < img.getHeight) {
        img.getRGB(0, y, w, 1, row, 0, w)
        var x = 0
        while (x < w) {
          val rgb = row(x)
          sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          x += 1
        }
        y += 1
      }
      val n = w.toLong * img.getHeight * 3
      DecodedMedia(bytes.length, if (n == 0) 0.0 else sum.toDouble / n / 255.0)
    }
  }

  /** Real audio decode via JDK-builtin `javax.sound.sampled` (WAV/AIFF/AU
    * — the formats the default JDK provider set registers). `meanPixel`
    * doubles as the mean normalized amplitude: mean |sample| / full-scale
    * over all frames and channels — the same [0,1] statistic RealCodec
    * computes for images, so both real codecs plug into the identical
    * decode boundary and feature plumbing. Supports LINEAR PCM only:
    * 8-bit signed (AIFF/AU) or unsigned (WAV, midpoint 128) and 16-bit
    * signed (format-declared endianness); ULAW/ALAW and other encodings
    * are rejected rather than mis-decoded with linear math. */
  object RealAudioCodec extends BlobCodec {
    def decode(bytes: Array[Byte]): DecodedMedia = {
      val in =
        try javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        catch {
          case e: javax.sound.sampled.UnsupportedAudioFileException =>
            throw new IllegalArgumentException(
              s"undecodable audio payload (${bytes.length} bytes)", e)
        }
      try {
        val fmt = in.getFormat
        val bits = fmt.getSampleSizeInBits
        val enc = fmt.getEncoding
        import javax.sound.sampled.AudioFormat.Encoding.{PCM_SIGNED, PCM_UNSIGNED}
        // linear PCM only: ULAW/ALAW (or anything else) must be rejected,
        // not decoded with linear math
        require(bits == 8 && (enc == PCM_SIGNED || enc == PCM_UNSIGNED) ||
          bits == 16 && enc == PCM_SIGNED,
          s"unsupported audio format: $bits-bit $enc")
        val data = in.readAllBytes()
        var sum = 0.0
        var n = 0
        if (bits == 8) {
          val signed = enc == PCM_SIGNED // AIFF/AU; WAV 8-bit is unsigned
          var i = 0
          while (i < data.length) {
            sum += (if (signed) math.abs(data(i).toInt)
                    else math.abs((data(i) & 0xff) - 128)) / 128.0
            n += 1; i += 1
          }
        } else {
          val bigEndian = fmt.isBigEndian
          var i = 0
          while (i + 1 < data.length) {
            val s =
              if (bigEndian) ((data(i) << 8) | (data(i + 1) & 0xff)).toShort
              else ((data(i + 1) << 8) | (data(i) & 0xff)).toShort
            sum += math.abs(s / 32768.0); n += 1; i += 2
          }
        }
        DecodedMedia(bytes.length, if (n == 0) 0.0 else sum / n)
      } finally in.close()
    }
  }

  /** Deterministic stand-in: nBytes is the raw blob size; "pixels" are the
    * code points of the UTF-8-decoded blob scaled by 1/255 (code points —
    * not raw bytes — so the DuckDB oracle's unicode() arithmetic matches on
    * non-ASCII content too). */
  object DeterministicFakeCodec extends BlobCodec {
    def decode(bytes: Array[Byte]): DecodedMedia = {
      val cps = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        .codePoints().toArray
      var sum = 0L
      var i = 0
      while (i < cps.length) { sum += cps(i); i += 1 }
      DecodedMedia(bytes.length,
        if (cps.isEmpty) 0.0 else sum.toDouble / cps.length / 255.0)
    }
  }

  final case class BlobRow(doc_id: Long, blob: Array[Byte], width: Int,
      height: Int, format: String)
  final case class BlobFeatures(doc_id: Long, n_bytes: Long, width: Long,
      height: Long, n_frames: Long, mean_pixel: Double)

  /** Ingest: attach a binary column + typed metadata to each document.
    * (In production the blob comes off object storage; here it is the UTF-8
    * text bytes, which keeps every downstream feature recomputable in SQL.) */
  def withBlobs(s: SparkSession, d: String): Dataset[BlobRow] = {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"),
        col("text").cast("binary").as("blob"),
        (lit(64) + (col("doc_id") % 16) * 16).cast("int").as("width"),
        lit(64).as("height"),
        lit("fake/raw").as("format"))
      .as[BlobRow]
  }

  /** Batched decode + feature extraction via mapPartitions: one codec
    * reference per partition, lazy iterator (no partition materialization).
    * Codec-generic so the same plumbing runs the oracle-checked fake path
    * and the real ImageIO path (MultimodalSpec). */
  def blobFeatures(blobs: Dataset[BlobRow], codec: BlobCodec): DataFrame = {
    import blobs.sparkSession.implicits._
    blobs
      .mapPartitions { rows =>
        rows.map { r =>
          val m = codec.decode(r.blob)
          // half-away-from-zero rounding, matching SQL round() semantics
          // (math.rint is half-even and can disagree at .00005 boundaries)
          BlobFeatures(r.doc_id, m.nBytes.toLong, r.width.toLong, r.height.toLong,
            1L + m.nBytes / 256, math.floor(m.meanPixel * 10000 + 0.5) / 10000)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** E5 — declared fake-codec form (oracle recomputes the byte arithmetic). */
  def e5BlobFeatures(s: SparkSession, d: String): DataFrame =
    blobFeatures(withBlobs(s, d), DeterministicFakeCodec)

  /** E5 — frame sampling: split the blob into 256-byte "frames", keep every
    * 2nd frame, fingerprint each (rolling hash of the frame's text slice).
    * Generator-style explode keeps this a narrow, shuffle-free map. */
  def e5FrameSample(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), col("text"),
        ((length(col("text")) - 1) / 256).cast("long").as("max_frame"))
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), col("max_frame"))).as("frame_id"))
      .filter(col("frame_id") % 2 === 0)
      .select(col("doc_id"), col("frame_id"),
        length(expr("substring(text, CAST(frame_id * 256 + 1 AS INT), 256)"))
          .cast("long").as("frame_len"),
        graft.functions.Hashes.rollingHash(
          expr("substring(text, CAST(frame_id * 256 + 1 AS INT), 256)")).as("frame_fp"))
      .orderBy("doc_id", "frame_id")

  /** Video near-dup knobs — interpolated into BOTH engines. Frame
    * fingerprints repeat far less than word shingles, so the df cap is
    * tighter than MaxShingleDf; the Jaccard threshold is higher than the
    * text one (0.5 vs 0.2) because sampled-frame overlap below half is
    * clip reuse, not a duplicate video. */
  val FrameDfCap = 64
  val VideoTau = 0.5

  /** E5 — VIDEO near-duplicate detection: sampled-frame-fingerprint
    * Jaccard between assets — the e1_ngram_jaccard discipline applied at
    * the video level, which is how video dedup actually ships (sample
    * frames, fingerprint each, match assets on fingerprint-set overlap;
    * a real pipeline swaps the fake codec's rolling hash for a
    * perceptual frame hash, and the plan is IDENTICAL). Reuses
    * e5_frame_sample's every-2nd-frame fingerprints verbatim; frames
    * shared by more than FrameDfCap assets are dropped (intros/black
    * frames — the hot-shingle cap transplanted), then one fingerprint
    * equi-join + per-pair intersection count gives Jaccard over the
    * distinct-fingerprint sets. At 100 TB: blobs never move (frame fps
    * are scan-side per blob), the join carries 8-byte fingerprints, and
    * the df cap bounds the pair fan-out exactly as in text dedup. */
  def e5VideoNeardup(s: SparkSession, d: String): DataFrame = {
    val f = e5FrameSample(s, d)
      .select(col("doc_id"), col("frame_fp")).distinct()
    val hot = f.groupBy("frame_fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > FrameDfCap).select("frame_fp")
    val ff = f.join(broadcast(hot), Seq("frame_fp"), "left_anti")
    val sz = ff.groupBy("doc_id").agg(count(lit(1)).as("n"))
    ff.as("a")
      .join(ff.as("b"),
        col("a.frame_fp") === col("b.frame_fp") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("i"))
      .join(sz.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sz.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .filter(col("i").cast("double") / (col("na") + col("nb") - col("i"))
        >= VideoTau)
      .select(col("da"), col("db"),
        round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 4)
          .as("jaccard"))
      .orderBy("da", "db")
  }

  /** Scene-cut threshold on the mean-"brightness" delta between
    * consecutive frames (probed on the fixtures: median delta 0.95,
    * p90 3.4 — 1.5 splits transitions ~1:2). */
  val SceneTau = 1.5

  final case class FrameMean(doc_id: Long, frame_id: Long, mean_cp: Double)

  /** E5 — SCENE-CUT detection: the temporal segmentation pass a video
    * pipeline runs before per-scene sampling/captioning. Frames are the
    * fake codec's 256-code-point slices; each frame reduces to a mean
    * "brightness" (integer code-point sum / length — ONE exact division),
    * and a cut is a consecutive-frame delta above SceneTau. Emits per
    * asset the frame count, cut count, and mean frames-per-scene. Same
    * mapPartitions decode batching as every E5 feature (one codec pass,
    * narrow (doc, frame, scalar) output); the only shuffle is the doc_id
    * window whose per-key rows are bounded by asset length — at 100 TB
    * the decode parallelizes per blob and nothing media-sized moves. A
    * production build swaps the fake brightness for a real frame
    * embedding delta; the plan shape is identical. */
  def e5SceneCuts(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val frames = withBlobs(s, d)
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val cps = new String(r.blob, java.nio.charset.StandardCharsets.UTF_8)
            .codePoints().toArray
          cps.grouped(256).zipWithIndex.map { case (fr, i) =>
            FrameMean(r.doc_id, i.toLong,
              fr.map(_.toLong).sum.toDouble / fr.length)
          }
        }
      }.toDF()
    val w = Window.partitionBy("doc_id").orderBy("frame_id")
    frames
      .withColumn("prev", lag(col("mean_cp"), 1).over(w))
      .withColumn("cut",
        when(col("prev").isNotNull &&
          abs(col("mean_cp") - col("prev")) > lit(SceneTau), 1L).otherwise(0L))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"), sum(col("cut")).as("n_cuts"))
      .select(col("doc_id"), col("n_frames"), col("n_cuts"),
        round(col("n_frames") / (col("n_cuts") + lit(1L)), 4)
          .as("avg_scene_frames"))
      .orderBy("doc_id")
  }

  /** Audio window length in samples and the silence threshold in TENTHS
    * of mean sample value (930 = mean < 93.0; p10–p50 of the fixture's
    * window means is 92.4–94.6, so both silent and voiced windows exist
    * at every sf). Integer rule ws·10 < Tau·wl — no float boundary. */
  val AudioWin = 64
  val SilenceTauTenths = 930L

  final case class WindowSum(doc_id: Long, win_id: Long, ws: Long, wl: Long)

  /** E5 — audio SILENCE segmentation: the audio twin of e5_scene_cuts'
    * video scene detection. The fake codec's code points are the sample
    * stream; fixed AudioWin-sample windows reduce to an integer energy
    * sum, a window is SILENT when its mean sample sits below the
    * threshold (exact integer comparison ws·10 < Tau·wl), and the VOICED
    * segments are the gaps-and-islands runs of consecutive non-silent
    * windows — per asset: window/silence counts, segment count, and the
    * longest voiced run, which is what a speech pipeline cuts clips on
    * before transcription/captioning. A real build swaps the codec for
    * PCM frames and the mean for RMS energy with the identical plan.
    * Plan at scale: per-blob decode in mapPartitions (the codec
    * batching), then one doc_id exchange serving BOTH island windows and
    * the final per-asset aggregate — windows are asset-length-bounded,
    * blobs never shuffle twice. */
  def e5AudioSegments(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val wins = withBlobs(s, d)
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val cps = new String(r.blob, java.nio.charset.StandardCharsets.UTF_8)
            .codePoints().toArray
          cps.grouped(AudioWin).zipWithIndex.map { case (w, i) =>
            WindowSum(r.doc_id, i.toLong, w.map(_.toLong).sum, w.length.toLong)
          }
        }
      }.toDF()
      .withColumn("silent",
        (col("ws") * 10L < lit(SilenceTauTenths) * col("wl")).cast("long"))
    val w = Window.partitionBy("doc_id").orderBy("win_id")
    val runs = wins.filter(col("silent") === 0L)
      .withColumn("prev_id", lag(col("win_id"), 1).over(w))
      .withColumn("nr",
        when(col("prev_id").isNull || col("win_id") =!= col("prev_id") + 1, 1L)
          .otherwise(0L))
      .withColumn("run",
        sum(col("nr")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy("doc_id", "run").agg(count(lit(1)).as("seg_len"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"), max(col("seg_len")).as("max_seg"))
    wins.groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"), sum(col("silent")).as("n_silent"))
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"), col("n_silent"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("max_seg"), lit(0L)).as("max_seg"))
      .orderBy("doc_id")
  }

  final case class BandFeature(doc_id: Long, band: Int, value: Double)

  /** E5 — feature-VECTOR extraction (the blob → embedding bridge a
    * multimodal pipeline runs before similarity search): an 8-band mean
    * over the decoded "pixels" (band b = every 8th code point starting at
    * b), one row per (doc, band) so the oracle compares exact scalars
    * instead of array encodings. Same mapPartitions batching as the scalar
    * decode — one codec pass per partition, narrow output, no shuffle. A
    * production build swaps the stub for a real model forward pass; the
    * batch shape (iterator in, fixed-width vector out) is the contract. */
  def e5BandFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withBlobs(s, d)
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val cps = new String(r.blob, java.nio.charset.StandardCharsets.UTF_8)
            .codePoints().toArray
          (0 until 8).map { b =>
            var sum = 0L; var n = 0; var i = b
            while (i < cps.length) { sum += cps(i); n += 1; i += 8 }
            BandFeature(r.doc_id, b,
              if (n == 0) 0.0
              else math.floor(sum.toDouble / n / 255.0 * 10000 + 0.5) / 10000)
          }
        }
      }
      .toDF()
      .orderBy("doc_id", "band")
  }

  final case class BandVector(doc_id: Long, vec: Array[Double])

  /** The 8-band features of e5BandFeatures assembled as one array<double>
    * vector per document (identical per-band arithmetic and 4dp rounding,
    * so the oracle rebuilds the same vectors from the per-band SQL). */
  private def bandVectors(s: SparkSession, d: String): Dataset[BandVector] = {
    import s.implicits._
    withBlobs(s, d).mapPartitions { rows =>
      rows.map { r =>
        val cps = new String(r.blob, java.nio.charset.StandardCharsets.UTF_8)
          .codePoints().toArray
        val v = Array.tabulate(8) { b =>
          var sum = 0L; var n = 0; var i = b
          while (i < cps.length) { sum += cps(i); n += 1; i += 8 }
          if (n == 0) 0.0
          else math.floor(sum.toDouble / n / 255.0 * 10000 + 0.5) / 10000
        }
        BandVector(r.doc_id, v)
      }
    }
  }

  /** Rounded-4dp cosine threshold above which two media items count as
    * near-duplicates — interpolated into BOTH engines. Tuned on the
    * fixture sim distribution: 8-dim band-mean vectors of text blobs are
    * strongly concentrated (most in-cell pairs exceed 0.999), and 0.9999
    * keeps ~1% of candidate pairs — the genuinely near-identical band
    * profiles — rather than half the cell. */
  val NeardupSimThreshold = 0.9999

  /** E5 — near-duplicate media detection: the multimodal analogue of the
    * e1 dedup family, run over the e5 feature VECTORS through the same IVF
    * index shape as e2_ann_ivf (the blob → features → ANN bridge a real
    * multimodal pipeline runs — with a model embedding in place of the
    * band features, the plan is unchanged). ceil(√n) coarse cells seeded
    * by smallest splitmix64(doc_id), every vector assigned to its nearest
    * cell via ONE broadcast join, then candidate pairs are generated
    * within cells only (equi-join on cell id — never all-pairs) and kept
    * when rounded cosine ≥ NeardupSimThreshold. Recall is the standard
    * IVF trade (cross-cell near-dups are missed; raise nProbe to trade
    * cost for recall); identical payloads always share a cell and are
    * always found (pinned by a MultimodalSpec property: byte-identical
    * payloads pair at rounded sim 1.0 in every run). Oracle-exact: band
    * values and sims are rounded 4dp, the threshold compares rounded
    * values, and the seed/assignment arithmetic is the engine-portable
    * splitmix64 + cosine the e2 oracles already replicate.
    *
    * Scale profile (SCALE.md r6: 1.35 / 5.64 / 62.8 s at 1×/10×/100×):
    * CANDIDATE generation is bounded by the IVF cell structure — √n cells
    * of ~√n vectors gives the n·√n work model e2_ann_ivf measures — but
    * OUTPUT is quadratic in duplication density: a duplicate class of k
    * near-identical payloads emits C(k,2) pairs, so corpus replication
    * (which multiplies every class size by N) grows pairs ~N², exactly
    * e1_simhash_pairs' profile. On a real corpus, where duplication
    * density is roughly constant as the corpus grows, pairs grow
    * linearly. A hot cell (many vectors collapsing into one coarse cell,
    * e.g. a monoculture of near-black thumbnails) bounds that cell's join
    * at |cell|² — the mitigation at 100 TB is the same as e1_simhash's
    * hot-bucket cap: cap per-cell candidates or split hot cells by a
    * secondary hash before the self-join. */
  def e5ImageNeardup(s: SparkSession, d: String): DataFrame = {
    val v = bandVectors(s, d).toDF()
      .withColumn("nrm", graft.functions.Vectors.l2NormD(col("vec")))
      .filter(col("nrm") > 0)
    // corpus row count (IVF grid sizing), as in Similarity.countOnce
    val nCells = Similarity.ivfCells(
      graft.Memo.value("media_corpus_count", s, d)(documents(s, d).count()))
    val seeds = v
      .orderBy(org.apache.spark.sql.graftext.minhashExpression
        .mix64(col("doc_id")), col("doc_id"))
      .limit(nCells)
      .select(col("doc_id").as("cell"), col("vec").as("cvec"), col("nrm").as("cnrm"))
    val assignW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("c_sim").desc, col("cell"))
    val assigned = v.join(broadcast(seeds))
      .withColumn("c_sim",
        graft.functions.Vectors.dotD(col("vec"), col("cvec")) /
          (col("nrm") * col("cnrm")))
      // narrow before the assign exchange: drop the broadcast seed
      // vectors from the scored rows (the pre-window projection rule —
      // Catalyst does not prune columns carried through a Window)
      .select(col("doc_id"), col("vec"), col("nrm"), col("cell"),
        col("c_sim"))
      .withColumn("c_rn", row_number().over(assignW))
      .filter(col("c_rn") === 1)
      .select(col("doc_id"), col("vec"), col("nrm"), col("cell"))
    val right = assigned.select(col("doc_id").as("dup_id"),
      col("vec").as("bvec"), col("nrm").as("bnrm"), col("cell"))
    assigned.join(right, Seq("cell"))
      .filter(col("doc_id") < col("dup_id"))
      .withColumn("sim", round(
        graft.functions.Vectors.dotD(col("vec"), col("bvec")) /
          (col("nrm") * col("bnrm")), 4))
      .filter(col("sim") >= NeardupSimThreshold)
      .select(col("doc_id"), col("dup_id"), col("sim"))
      .orderBy("doc_id", "dup_id")
  }

  /** E5 — exact BLOB dedup: content-hash the raw bytes BEFORE any decode —
    * the first pass of every media pipeline (mirrored uploads and exact
    * re-posts are the bulk of media duplication, and a hash pass costs a
    * scan while a decode pass costs CPU-hours). Emits one row per
    * duplicated fingerprint: copy count, the keeper (min doc_id, the
    * e1_exact_dedup policy), per-copy byte size, and the bytes a
    * keeper-only store saves. Plan at scale: md5 is computed scan-side
    * over the binary column (blobs never shuffle — the exchange carries
    * 16-byte fingerprints and counts) into one fingerprint-keyed
    * map-side-combinable aggregate. One row per distinct fingerprint,
    * like e1_exact_dedup (a production pass filters n_copies ≥ 2; the
    * full table is the asset store's content-addressed index). The
    * multimodal twin of e1_exact_dedup; near-dup (perceptual) media
    * matching is e5_image_neardup. */
  def e5BlobDedup(s: SparkSession, d: String): DataFrame =
    withBlobs(s, d).toDF()
      .select(col("doc_id"), md5(col("blob")).as("fp"),
        length(col("blob")).cast("long").as("n_bytes"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_doc_id"),
        max(col("n_bytes")).as("n_bytes"),
        (sum(col("n_bytes")) - max(col("n_bytes"))).cast("long").as("bytes_saved"))
      .orderBy("keeper_doc_id")

  /** Archive-packing knobs — interpolated into BOTH engines. 4 KiB
    * archives keep several archives per (source, shard) group at the
    * fixture sizes; a production WebDataset run sets ~1 GiB. */
  val ArchiveBytes = 4096L
  val ArchShards = 4
  val ArchShardSalt = 0x35d8a6c47b19e02fL
  val ArchIdStride = 1000000L

  /** E5 — STORAGE PLAN: pack blobs into fixed-budget sequential archives
    * (the WebDataset/tar-shard layout every multimodal trainer streams
    * from) and emit the per-archive manifest (blob count, byte mass,
    * id span) a dataloader validates before an epoch. Packing uses the
    * START-OFFSET rule on the running byte sum — a blob belongs to the
    * archive its first byte lands in, so archives overflow by at most
    * one blob (streaming tar-writer semantics, no lookahead); order
    * inside a group is doc_id, so the plan is a pure function of the
    * corpus. This is e7_shard_plan's byte-axis sibling (that balances
    * TOKEN mass across a fixed shard count; this cuts BYTE mass into
    * budget-sized sequential archives) and e3_pack's discipline moved
    * from context windows to storage. Plan at 100 TB: the running sum
    * runs per (source, splitmix64 doc-shard) — the e3_pack two-level
    * window, partition-parallel with no global sort; only (id, nbytes)
    * pairs enter the window, BLOBS NEVER MOVE (the manifest tells the
    * writer what to fetch); the manifest aggregate partial-combines. */
  def e5StoragePlan(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source", "shard").orderBy("doc_id")
    documents(s, d)
      .select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("nbytes"),
        pmod(org.apache.spark.sql.graftext.minhashExpression
          .mix64(col("doc_id").bitwiseXOR(lit(ArchShardSalt)))
          .bitwiseAND(lit(Long.MaxValue)), lit(ArchShards.toLong))
          .as("shard"))
      .withColumn("cum", sum(col("nbytes")).over(w))
      .withColumn("archive_id",
        col("shard") * ArchIdStride +
          expr(s"(cum - nbytes) div $ArchiveBytes"))
      .groupBy("source", "archive_id")
      .agg(count(lit(1)).as("n_blobs"), sum(col("nbytes")).as("arch_bytes"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("source", "archive_id")
  }

  /** E5 — ASPECT-RATIO BUCKETING for image training (the NovelAI/SDXL
    * recipe: group images by aspect ratio and resize each bucket to a
    * shared target shape of roughly constant AREA, so batches stack
    * without crop-induced composition loss): blobs bucket by their
    * metadata aspect in exact QUARTER units (width·4 div height — the
    * fixture's 16px-step widths over a 64px height make this a lossless
    * integerization), each bucket gets the 8-aligned target dims that
    * keep ≈ the 64×64 reference area at the bucket's aspect, and the
    * manifest reports per-bucket image count, source/target pixel mass,
    * and the shrink ratio in basis points. The only double is
    * sqrt(16384/aq) on identical small integers (correctly-rounded IEEE
    * in both engines), floored into the 8-grid immediately. Plan at
    * 100 TB: pure scan-side arithmetic on metadata (blobs are never
    * touched — the e5_storage_plan rule) folding into a ≤16-key
    * map-side-combined aggregate; the resize itself is the
    * e5_blob_features mapPartitions stage, priced there. */
  def e5AspectBuckets(s: SparkSession, d: String): DataFrame = {
    withBlobs(s, d).toDF()
      .select(col("doc_id"), col("width").cast("long").as("w"),
        col("height").cast("long").as("h"))
      .withColumn("aq", expr("w * 4 div h"))
      .withColumn("tgt_h",
        expr("CAST(floor(sqrt(16384.0 / aq)) AS BIGINT) div 8 * 8"))
      .withColumn("tgt_w", expr("aq * tgt_h div 4 div 8 * 8"))
      .groupBy("aq", "tgt_w", "tgt_h")
      .agg(count(lit(1)).as("n_images"),
        sum(expr("w * h")).as("src_pixels"),
        sum(expr("tgt_w * tgt_h")).as("tgt_pixels"))
      .select(col("aq").as("aspect_q4"), col("tgt_w"), col("tgt_h"),
        col("n_images"), col("src_pixels"), col("tgt_pixels"),
        expr("(src_pixels - tgt_pixels) * 10000 div src_pixels")
          .as("shrink_bp"))
      .orderBy("aspect_q4")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e5_storage_plan" -> (e5StoragePlan _),
    "e5_aspect_buckets" -> (e5AspectBuckets _),
    "e5_blob_dedup" -> (e5BlobDedup _),
    "e5_blob_features" -> (e5BlobFeatures _),
    "e5_frame_sample" -> (e5FrameSample _),
    "e5_video_neardup" -> (e5VideoNeardup _),
    "e5_band_features" -> (e5BandFeatures _),
    "e5_image_neardup" -> (e5ImageNeardup _),
    "e5_scene_cuts" -> (e5SceneCuts _),
    "e5_audio_segments" -> (e5AudioSegments _),
  )

  /** DuckDB replica of the neardup path: the e5_band_features per-band
    * arithmetic assembled into 8-dim vectors, then the same IVF
    * seed/assign/in-cell-pair search the e2 oracles replicate (splitmix64
    * seed order, cosine assignment with ties to the lower cell, rounded
    * sims, threshold on the ROUNDED value). */
  private val imageNeardupOracle: String = {
    import OracleSql._
    s"""WITH bf AS (SELECT doc_id, CAST(b.range AS INT) AS band,
       |  CASE WHEN length(text) > b.range THEN
       |    round(list_reduce(list_transform(
       |        range(0, (length(text) - 1 - CAST(b.range AS INT)) // 8 + 1),
       |        k -> CAST(unicode(substring(text,
       |          CAST(b.range + 1 + k * 8 AS INT), 1)) AS BIGINT)),
       |      (a, x) -> a + x)
       |      / CAST((length(text) - 1 - CAST(b.range AS INT)) // 8 + 1 AS DOUBLE)
       |      / 255.0, 4)
       |  ELSE 0.0 END AS value
       |  FROM documents, range(0, 8) b),
       |vec0 AS (SELECT doc_id, list(value ORDER BY band) AS v FROM bf
       |  GROUP BY doc_id),
       |vv AS (SELECT doc_id, v FROM vec0
       |  WHERE sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) > 0),
       |mx_in AS (SELECT doc_id, CAST(doc_id AS HUGEINT) AS h0 FROM vv),
       |${mixCtes("mx", "h0", "h1", Seq("doc_id"))},
       |mxs AS (SELECT doc_id, ${toSigned("h1")} AS m FROM mx),
       |seeds AS (SELECT vv.doc_id AS cell, vv.v AS cv
       |  FROM vv JOIN mxs ON vv.doc_id = mxs.doc_id
       |  ORDER BY mxs.m, vv.doc_id
       |  LIMIT (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM documents)),
       |ranked AS (SELECT vv.doc_id, vv.v, s.cell,
       |  row_number() OVER (PARTITION BY vv.doc_id
       |    ORDER BY list_cosine_similarity(vv.v, s.cv) DESC, s.cell) AS crn
       |  FROM vv, seeds s),
       |asg AS (SELECT doc_id, v, cell FROM ranked WHERE crn = 1)
       |SELECT doc_id, dup_id, sim FROM (
       |  SELECT a.doc_id AS doc_id, b.doc_id AS dup_id,
       |    round(list_cosine_similarity(a.v, b.v), 4) AS sim
       |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.doc_id < b.doc_id)
       |WHERE sim >= $NeardupSimThreshold ORDER BY doc_id, dup_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // start-offset archive packing over the (source, ar-shard) running
    // byte sum (see e5StoragePlan); shard off the shared splitmix chain
    "e5_storage_plan" -> {
      import OracleSql._
      val saltU = java.lang.Long.toUnsignedString(ArchShardSalt)
      s"""WITH ar_in AS (SELECT doc_id, source,
         |    CAST(length(text) AS BIGINT) AS nbytes,
         |    xor(CAST(doc_id AS HUGEINT), CAST('$saltU' AS HUGEINT)) AS a0
         |  FROM documents),
         |${mixCtes("ar", "a0", "a1", Seq("doc_id", "source", "nbytes"))},
         |ash AS (SELECT doc_id, source, nbytes,
         |    CAST((a1 % CAST(power(2, 63) AS HUGEINT)) % $ArchShards
         |      AS BIGINT) AS shard FROM ar),
         |acum AS (SELECT doc_id, source, nbytes, shard,
         |    sum(nbytes) OVER (PARTITION BY source, shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM ash),
         |aid AS (SELECT doc_id, source, nbytes,
         |    shard * $ArchIdStride + (cum - nbytes) // $ArchiveBytes
         |      AS archive_id
         |  FROM acum)
         |SELECT source, CAST(archive_id AS BIGINT) AS archive_id,
         |  count(*) AS n_blobs, CAST(sum(nbytes) AS BIGINT) AS arch_bytes,
         |  CAST(min(doc_id) AS BIGINT) AS first_doc,
         |  CAST(max(doc_id) AS BIGINT) AS last_doc
         |FROM aid GROUP BY 1, 2 ORDER BY source, archive_id""".stripMargin
    },
    // metadata-only arithmetic (the blob never decodes); aspect in exact
    // quarter units, target dims floored onto the 8-grid from
    // sqrt(16384/aq) over identical small integers
    "e5_aspect_buckets" ->
      """WITH ab AS (SELECT doc_id,
        |    CAST(64 + (doc_id % 16) * 16 AS BIGINT) AS w,
        |    CAST(64 AS BIGINT) AS h FROM documents),
        |ab2 AS (SELECT doc_id, w, h, w * 4 // h AS aq FROM ab),
        |ab3 AS (SELECT doc_id, w, h, aq,
        |    CAST(floor(sqrt(16384.0 / aq)) AS BIGINT) // 8 * 8 AS tgt_h
        |  FROM ab2),
        |ab4 AS (SELECT doc_id, w, h, aq, tgt_h,
        |    aq * tgt_h // 4 // 8 * 8 AS tgt_w FROM ab3)
        |SELECT aq AS aspect_q4, tgt_w, tgt_h,
        |  CAST(count(*) AS BIGINT) AS n_images,
        |  CAST(sum(w * h) AS BIGINT) AS src_pixels,
        |  CAST(sum(tgt_w * tgt_h) AS BIGINT) AS tgt_pixels,
        |  CAST(sum(w * h) - sum(tgt_w * tgt_h) AS BIGINT) * 10000
        |    // CAST(sum(w * h) AS BIGINT) AS shrink_bp
        |FROM ab4 GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    "e5_audio_segments" ->
      s"""WITH w AS (SELECT doc_id, text,
         |  unnest(range(0, 1 + (length(text) - 1) // $AudioWin)) AS wid
         |  FROM documents),
         |sw AS (SELECT doc_id, wid,
         |  CAST(list_reduce(list_transform(
         |      range(1, least(length(text) - wid * $AudioWin, $AudioWin) + 1),
         |      i -> CAST(unicode(substring(text,
         |        CAST(wid * $AudioWin + i AS INT), 1)) AS BIGINT)),
         |    (a, b) -> a + b) AS BIGINT) AS ws,
         |  CAST(least(length(text) - wid * $AudioWin, $AudioWin) AS BIGINT)
         |    AS wl FROM w),
         |nz AS (SELECT doc_id, wid,
         |    lag(wid) OVER (PARTITION BY doc_id ORDER BY wid) AS prev
         |  FROM sw WHERE ws * 10 >= $SilenceTauTenths * wl),
         |rr AS (SELECT doc_id, wid, sum(CASE WHEN prev IS NULL
         |      OR wid <> prev + 1 THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY doc_id ORDER BY wid
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
         |  FROM nz),
         |segs AS (SELECT doc_id, run, count(*) AS seg_len FROM rr
         |  GROUP BY 1, 2),
         |ra AS (SELECT doc_id, count(*) AS n_segments,
         |    CAST(max(seg_len) AS BIGINT) AS max_seg FROM segs GROUP BY doc_id),
         |tot AS (SELECT doc_id, count(*) AS n_windows,
         |    CAST(sum(CASE WHEN ws * 10 < $SilenceTauTenths * wl
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_silent
         |  FROM sw GROUP BY doc_id)
         |SELECT tot.doc_id, n_windows, n_silent,
         |  coalesce(n_segments, 0) AS n_segments,
         |  coalesce(max_seg, 0) AS max_seg
         |FROM tot LEFT JOIN ra USING (doc_id) ORDER BY doc_id""".stripMargin,
    // the blob IS the UTF-8 text bytes (ASCII fixture), so DuckDB's md5
    // over the text replicates Spark's md5 over the binary exactly
    "e5_blob_dedup" ->
      """WITH b AS (SELECT doc_id, md5(text) AS fp,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes FROM documents)
        |SELECT fp, CAST(count(*) AS BIGINT) AS n_copies,
        |  min(doc_id) AS keeper_doc_id, max(n_bytes) AS n_bytes,
        |  CAST(sum(n_bytes) - max(n_bytes) AS BIGINT) AS bytes_saved
        |FROM b GROUP BY fp ORDER BY keeper_doc_id""".stripMargin,
    "e5_image_neardup" -> imageNeardupOracle,
    // the fake decode is pure byte arithmetic → DuckDB recomputes it exactly
    "e5_blob_features" ->
      // n_bytes/n_frames measure BYTES (strlen); mean_pixel averages code
      // points (unicode over chars) — matching the codec exactly
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |CAST(64 + (doc_id % 16) * 16 AS BIGINT) AS width,
        |CAST(64 AS BIGINT) AS height,
        |CAST(1 + strlen(text) // 256 AS BIGINT) AS n_frames,
        |round(list_reduce(list_transform(range(1, length(text) + 1),
        |    i -> CAST(unicode(substring(text, CAST(i AS INT), 1)) AS BIGINT)),
        |  (a, b) -> a + b) / CAST(length(text) AS DOUBLE) / 255.0, 4) AS mean_pixel
        |FROM documents ORDER BY doc_id""".stripMargin,
    "e5_band_features" ->
      // band b = code points at 1-based positions b+1, b+9, b+17, …;
      // integer code-point sums make the one final division exact
      """SELECT doc_id, CAST(b.range AS INT) AS band,
        |CASE WHEN length(text) > b.range THEN
        |  round(list_reduce(list_transform(
        |      range(0, (length(text) - 1 - CAST(b.range AS INT)) // 8 + 1),
        |      k -> CAST(unicode(substring(text,
        |        CAST(b.range + 1 + k * 8 AS INT), 1)) AS BIGINT)),
        |    (a, x) -> a + x)
        |    / CAST((length(text) - 1 - CAST(b.range AS INT)) // 8 + 1 AS DOUBLE)
        |    / 255.0, 4)
        |ELSE 0.0 END AS value
        |FROM documents, range(0, 8) b ORDER BY doc_id, band""".stripMargin,
    "e5_scene_cuts" ->
      s"""WITH fr AS (SELECT doc_id, text,
        |  unnest(range(0, 1 + (length(text) - 1) // 256)) AS frame_id
        |  FROM documents),
        |fm AS (SELECT doc_id, frame_id,
        |  CAST(list_reduce(list_transform(
        |      range(1, least(length(text) - frame_id * 256, 256) + 1),
        |      i -> CAST(unicode(substring(text,
        |        CAST(frame_id * 256 + i AS INT), 1)) AS BIGINT)),
        |    (a, b) -> a + b) AS DOUBLE) /
        |    least(length(text) - frame_id * 256, 256) AS mc FROM fr),
        |ct AS (SELECT doc_id, frame_id, mc,
        |  lag(mc) OVER (PARTITION BY doc_id ORDER BY frame_id) AS prev FROM fm)
        |SELECT doc_id, count(*) AS n_frames,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND abs(mc - prev) > $SceneTau
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
        |  round(CAST(count(*) AS DOUBLE) /
        |    (sum(CASE WHEN prev IS NOT NULL AND abs(mc - prev) > $SceneTau
        |      THEN 1 ELSE 0 END) + 1), 4) AS avg_scene_frames
        |FROM ct GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "e5_frame_sample" ->
      """WITH f AS (SELECT doc_id, text,
        |  unnest(range(0, 1 + (length(text) - 1) // 256)) AS frame_id
        |  FROM documents)
        |SELECT doc_id, frame_id,
        |CAST(length(substring(text, CAST(frame_id * 256 + 1 AS INT), 256)) AS BIGINT)
        |  AS frame_len,
        |list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |    range(1, length(substring(text, CAST(frame_id * 256 + 1 AS INT), 256)) + 1),
        |    i -> CAST(unicode(substring(substring(text, CAST(frame_id * 256 + 1 AS INT), 256),
        |      CAST(i AS INT), 1)) AS BIGINT))),
        |  (a, b) -> (a * 131 + b) % 1000000007) AS frame_fp
        |FROM f WHERE frame_id % 2 = 0 ORDER BY doc_id, frame_id""".stripMargin,
    // same frame-fp chain as e5_frame_sample, distinct per asset, df cap,
    // then the standard jaccard idiom over fingerprint sets
    "e5_video_neardup" ->
      s"""WITH f AS (SELECT doc_id, text,
         |  unnest(range(0, 1 + (length(text) - 1) // 256)) AS frame_id
         |  FROM documents),
         |fp0 AS (SELECT DISTINCT doc_id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
         |      range(1, length(substring(text, CAST(frame_id * 256 + 1 AS INT), 256)) + 1),
         |      i -> CAST(unicode(substring(substring(text, CAST(frame_id * 256 + 1 AS INT), 256),
         |        CAST(i AS INT), 1)) AS BIGINT))),
         |    (a, b) -> (a * 131 + b) % 1000000007) AS fp
         |  FROM f WHERE frame_id % 2 = 0),
         |hot AS (SELECT fp FROM fp0 GROUP BY fp HAVING count(*) > $FrameDfCap),
         |ff AS (SELECT doc_id, fp FROM fp0 WHERE fp NOT IN (SELECT fp FROM hot)),
         |sz AS (SELECT doc_id, count(*) AS n FROM ff GROUP BY 1),
         |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
         |  FROM ff a JOIN ff b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT da, db,
         |  round(CAST(i AS DOUBLE) / (x.n + y.n - i), 4) AS jaccard
         |FROM inter JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
         |WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= $VideoTau
         |ORDER BY da, db""".stripMargin,
  )
}
