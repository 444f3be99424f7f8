package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.multimodal.Multimodal

/** Driver hash gates for the multimodal PLUMBING (the column-math half
  * of `Multimodal` — the codec half is spec-tested against real
  * JDK-decoded bytes): media metadata is synthesized from `customer`
  * residues the x-query way, runs through the real `resizePlan` /
  * `frameSample` operators, and DuckDB recomputes the plans
  * algebraically. Both are narrow scan-local transforms — zero shuffle
  * at any scale.
  *
  * Parity notes: the scale factor is ONE double divide + multiply with
  * the identical formula both sides; ceil is exact on integral-valued
  * doubles; the frame timestamp mirrors Spark's double-divide +
  * truncating cast with an explicit floor (positive domain). */
object MultimodalQueries {

  /** M1 — aspect-preserving resize bound over synthesized image dims
    * (no upscale: scale clamps at 1.0). */
  val m1ResizePlan: QuerySpec = QuerySpec.sql(
    "m1_resize_plan",
    """WITH m AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k,
      |    100 + CAST(c_custkey AS BIGINT) % 1900 AS w,
      |    80 + (CAST(c_custkey AS BIGINT) // 3) % 1200 AS h
      |  FROM customer
      |)
      |SELECT k AS media_id,
      |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
      |  CAST(ceil(w * LEAST(1.0, 640 / CAST(GREATEST(w, h) AS DOUBLE))) AS INTEGER) AS target_width,
      |  CAST(ceil(h * LEAST(1.0, 640 / CAST(GREATEST(w, h) AS DOUBLE))) AS INTEGER) AS target_height
      |FROM m WHERE k % 2 = 0
      |ORDER BY media_id""".stripMargin) { (s, d) =>
    val k = col("k")
    val media = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("k"))
      .select(k.as("mediaId"),
        when(k % 2 === 0, "image").otherwise("video").as("kind"),
        struct(
          (lit(100) + k % 1900).cast("int").as("width"),
          (lit(80) + expr("k div 3") % 1200).cast("int").as("height"),
          lit(0L).as("durationMs")).as("meta"))
    Multimodal.resizePlan(media, maxSide = 640)
      .select(col("mediaId").as("media_id"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("target_width"), col("target_height"))
      .orderBy("media_id")
  }

  /** M2 — k evenly spaced frame timestamps per synthesized clip. */
  val m2FrameSample: QuerySpec = QuerySpec.sql(
    "m2_frame_sample",
    """WITH m AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k,
      |    1000 + (CAST(c_custkey AS BIGINT) % 977) * 37 AS dur
      |  FROM customer
      |)
      |SELECT k AS media_id, dur AS duration_ms,
      |  CAST(i AS BIGINT) AS frame_idx,
      |  CAST(floor(i * dur / 4) AS BIGINT) AS frame_ts_ms
      |FROM m, range(0, 4) t(i) WHERE k % 2 = 1
      |ORDER BY media_id, frame_idx""".stripMargin) { (s, d) =>
    val k = col("k")
    val media = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("k"))
      .select(k.as("mediaId"),
        when(k % 2 === 0, "image").otherwise("video").as("kind"),
        struct(lit(0).as("width"), lit(0).as("height"),
          (lit(1000L) + (k % 977) * 37).as("durationMs")).as("meta"))
    Multimodal.frameSample(media, k = 4)
      .select(col("mediaId").as("media_id"), col("duration_ms"),
        col("frame_idx").cast("long").as("frame_idx"), col("frame_ts_ms"))
      .orderBy("media_id", "frame_idx")
  }

  /** M3 — the REAL video container path under the driver gate: genuine
    * per-row MP4 bytes (ftyp + moov/mvhd, timescale 600, duration
    * 600+k%100000 ticks) decoded by the distributed `decode` pass,
    * whose durationMs comes from the mvhd box walk; DuckDB recomputes
    * ticks·1000/timescale with the same truncating integer division.
    * Pixel decode stays the one honest stub — this gates everything a
    * container READ yields without a codec. */
  val m3Mp4Duration: QuerySpec = QuerySpec.sql(
    "m3_mp4_duration",
    """SELECT CAST(c_custkey AS BIGINT) AS media_id,
      |  (600 + CAST(c_custkey AS BIGINT) % 100000) * 1000 // 600 AS duration_ms
      |FROM customer
      |ORDER BY media_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val rows = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("k")).as[Long]
      .map { k =>
        Multimodal.MediaRow(k, "video",
          Multimodal.mp4Fixture(600, 600L + k % 100000),
          Multimodal.MediaMeta("mp4", 0, 0, 0, 0))
      }
    Multimodal.decode(rows)
      .select(col("mediaId").as("media_id"),
        col("durationMs").as("duration_ms"))
      .orderBy("media_id")
  }

  /** M4 — audio metadata through the REAL javax.sound decode path,
    * distributed: per-row genuine WAV bytes (8 kHz mono PCM,
    * id-derived frame count) decoded on executors; frames are a
    * multiple of rate/1000 so duration_ms is integer-exact and the
    * oracle is pure arithmetic. The m3 pattern, audio edition. The
    * id cap bounds the gate's cost: unlike m3's ~150-byte boxes, WAV
    * synthesis writes real PCM per row, and the gate's job is codec
    * coverage, not fixture-generation throughput. */
  val m4WavDuration: QuerySpec = QuerySpec.sql(
    "m4_wav_duration",
    """SELECT CAST(c_custkey AS BIGINT) AS media_id,
      |  CAST(8000 AS INT) AS sample_rate,
      |  100 + CAST(c_custkey AS BIGINT) % 100 AS duration_ms
      |FROM customer WHERE c_custkey < 1000
      |ORDER BY media_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val rows = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("k"))
      .filter(col("k") < 1000).as[Long]
      .map { k =>
        Multimodal.MediaRow(k, "audio",
          Multimodal.wavFixture((800 + (k % 100) * 8).toInt),
          Multimodal.MediaMeta("wav", 0, 0, 8000, 0))
      }
    Multimodal.decode(rows)
      .select(col("mediaId").as("media_id"),
        col("sampleRate").as("sample_rate"),
        col("durationMs").as("duration_ms"))
      .orderBy("media_id")
  }

  /** M5 — MJPEG-in-AVI frame sampling with REAL PIXEL DECODE under the
    * driver gate: per-row genuine AVI bytes (id-derived frame count and
    * dims, 10 fps, actual ImageIO-encoded JPEG frames) run through the
    * distributed `frameSampleAvi` — RIFF walk, evenly spaced sample,
    * per-frame JPEG decode on executors. The gated columns are the
    * container/sampling math plus the DECODED dimensions (real pixels:
    * dims come off the decoded raster, not the header); the pixel
    * CHECKSUM is spec-checked against a direct ImageIO decode instead,
    * because JPEG is lossy — no SQL oracle can recompute raster bytes.
    * Same id cap as m4: JPEG encode per row is fixture cost, not the
    * gate's subject. */
  val m5AviFrames: QuerySpec = QuerySpec.sql(
    "m5_avi_frames",
    """WITH m AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k,
      |    4 + CAST(c_custkey AS BIGINT) % 5 AS n
      |  FROM customer WHERE c_custkey < 300
      |)
      |SELECT k AS media_id, CAST(i AS INT) AS frame_idx,
      |  CAST(i * n // 3 AS INT) AS frame_no,
      |  (i * n // 3) * 100 AS frame_ts_ms,
      |  CAST(32 + k % 3 * 16 AS INT) AS width,
      |  CAST(24 + k % 2 * 8 AS INT) AS height
      |FROM m, range(0, 3) t(i)
      |ORDER BY media_id, frame_idx""".stripMargin) { (s, d) =>
    import s.implicits._
    val rows = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("k"))
      .filter(col("k") < 300).as[Long]
      .map { k =>
        Multimodal.MediaRow(k, "video",
          Multimodal.aviMjpegFixture(
            frames = (4 + k % 5).toInt,
            width = (32 + k % 3 * 16).toInt,
            height = (24 + k % 2 * 8).toInt, fps = 10),
          Multimodal.MediaMeta("avi", 0, 0, 0, 0))
      }
    Multimodal.frameSampleAvi(rows, k = 3)
      .select(col("mediaId").as("media_id"), col("frameIdx").as("frame_idx"),
        col("frameNo").as("frame_no"), col("frameTsMs").as("frame_ts_ms"),
        col("width"), col("height"))
      .orderBy("media_id", "frame_idx")
  }

  /** M6 — audio FEATURE EXTRACTION over real decoded samples under the
    * driver gate: per-row genuine WAV bytes (the m4 fixture — PCM byte
    * i is (i·13) mod 251), decoded by javax.sound on executors and
    * projected by [[Multimodal.featuresPcm]]'s seeded deterministic
    * matrix. The oracle never touches a codec: it reconstructs each
    * 16-bit LE sample algebraically from the byte generator
    * (lo = (2j·13) mod 251; hi sign-extends past 127) and recomputes
    * the exact integer projection — so a green row pins decode + sample
    * assembly + projection end to end. Long-form (media_id, d, v)
    * output keeps the gate scalar-typed per the f15 convention. */
  val m6AudioFeatures: QuerySpec = QuerySpec.sql(
    "m6_audio_features",
    """WITH m AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k,
      |    800 + (CAST(c_custkey AS BIGINT) % 100) * 8 AS frames
      |  FROM customer WHERE c_custkey < 200
      |),
      |s0 AS (SELECT k, unnest(range(0, frames)) AS j FROM m),
      |s AS (
      |  SELECT k, j,
      |    ((2*j)*13 % 251)
      |      + 256 * (CASE WHEN ((2*j+1)*13 % 251) >= 128
      |               THEN ((2*j+1)*13 % 251) - 256
      |               ELSE ((2*j+1)*13 % 251) END) AS v
      |  FROM s0
      |)
      |SELECT k AS media_id, CAST(d AS INT) AS d,
      |  CAST(SUM(v * ((d+1)*(j+7) % 101 - 50)) AS BIGINT) AS v
      |FROM s, range(0, 4) u(d)
      |GROUP BY 1, 2
      |ORDER BY media_id, d""".stripMargin) { (s, d) =>
    import s.implicits._
    val rows = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("k"))
      .filter(col("k") < 200).as[Long]
      .map { k =>
        Multimodal.MediaRow(k, "audio",
          Multimodal.wavFixture((800 + (k % 100) * 8).toInt),
          Multimodal.MediaMeta("wav", 0, 0, 8000, 0))
      }
    Multimodal.featuresPcm(rows, dim = 4)
      .select(col("mediaId").as("media_id"), col("d"), col("v"))
      .orderBy("media_id", "d")
  }

  /** M7 — image FEATURE EXTRACTION over real decoded pixels under the
    * driver gate: per-row genuine PNG bytes (the deterministic
    * gradient fixture — PNG is lossless, so unlike m5's JPEG frames
    * the raster IS algebraically known), decoded by ImageIO on
    * executors and projected by [[Multimodal.featuresPixels]]'s seeded
    * matrix over row-major pixel index p = y·w + x with
    * pixVal = r + g + b. The oracle never touches a codec: it
    * recomputes each channel from the gradient formula and the exact
    * integer projection — a green row pins PNG decode + raster walk +
    * projection end to end, retiring the image path's model-forward
    * stub the way m6 retired audio's. Long-form (media_id, d, v), the
    * m6 convention; frame_idx is dropped (constant −1 for stills). */
  val m7ImageFeatures: QuerySpec = QuerySpec.sql(
    "m7_image_features",
    """WITH m AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k,
      |    16 + CAST(c_custkey AS BIGINT) % 5 AS w,
      |    12 + CAST(c_custkey AS BIGINT) % 3 AS h
      |  FROM customer WHERE c_custkey < 200
      |),
      |px AS (SELECT k, w, unnest(range(0, w * h)) AS p FROM m),
      |v AS (
      |  SELECT k, p,
      |    ((k*53 + (p % w)*3) % 256) + ((k*29 + (p // w)*5) % 256)
      |      + ((k*17 + (p % w) + (p // w)) % 256) AS pv
      |  FROM px
      |)
      |SELECT k AS media_id, CAST(d AS INT) AS d,
      |  CAST(SUM(pv * ((d+1)*(p+7) % 101 - 50)) AS BIGINT) AS v
      |FROM v, range(0, 4) u(d)
      |GROUP BY 1, 2
      |ORDER BY media_id, d""".stripMargin) { (s, d) =>
    import s.implicits._
    val rows = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("k"))
      .filter(col("k") < 200).as[Long]
      .map { k =>
        Multimodal.MediaRow(k, "image",
          Multimodal.pngFixture(k,
            width = (16 + k % 5).toInt, height = (12 + k % 3).toInt),
          Multimodal.MediaMeta("png", (16 + k % 5).toInt,
            (12 + k % 3).toInt, 0, 0))
      }
    Multimodal.featuresPixels(rows, dim = 4)
      .select(col("mediaId").as("media_id"), col("d"), col("v"))
      .orderBy("media_id", "d")
  }

  /** M8 — DECODED-RASTER EXACT DEDUP under the driver gate: 200
    * images carrying only 17 distinct rasters (gradient seed k % 17),
    * HALF ENCODED AS PNG AND HALF AS BMP (both lossless), grouped by
    * [[Multimodal.rasterSignature]] — content identity AFTER decode.
    * The point the fixture forces: a byte-level checksum (the
    * m-family `decode` checksum, or t1's hash applied to the binary
    * column) sees 200 distinct values because the CONTAINERS differ;
    * the raster signature sees the 17 groups a dedup pipeline
    * actually wants. Keeper rule is lowest-media-id (the a5
    * convention); the oracle knows the grouping algebraically
    * (same seed ⟺ same raster ⇒ same signature; distinct seeds are
    * distinct rasters by the gradient's k-term). One narrow shuffle
    * on the signature — t1's exact-dedup shape on a decoded key. */
  val m8RasterDedup: QuerySpec = QuerySpec.sql(
    "m8_raster_dedup",
    """SELECT CAST(c_custkey AS BIGINT) AS media_id,
      |  CAST(c_custkey AS BIGINT) % 17 AS dup_group,
      |  (CAST(c_custkey AS BIGINT) < 17) AS is_keeper
      |FROM customer WHERE c_custkey < 200
      |ORDER BY media_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val rows = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("k"))
      .filter(col("k") < 200).as[Long]
      .map { k =>
        val fmt = if (k % 2 == 0) "png" else "bmp"
        Multimodal.MediaRow(k, "image",
          Multimodal.imageFixture(k % 17, 18, 16, fmt),
          Multimodal.MediaMeta(fmt, 18, 16, 0, 0))
      }
    val sig = Multimodal.rasterSignature(rows).toDF()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("sig")
    sig.select(col("mediaId").as("media_id"), col("sig"))
      .withColumn("dup_group", min("media_id").over(w))
      .select(col("media_id"), col("dup_group"),
        (col("media_id") === col("dup_group")).as("is_keeper"))
      .orderBy("media_id")
  }

  /** M9 — PERCEPTUAL NEAR-DUP via dHash under the driver gate: 200
    * images in 17 noise families, where each image carries a
    * SUM-PRESERVING single-pixel perturbation whose magnitude cycles
    * with k/17 — so raster-exact hashing fragments every family into
    * its (seed, magnitude) classes (the mod-68 classes m10 builds on)
    * while every family shares one dHash BY CONSTRUCTION (block sums
    * unchanged; see [[Multimodal.perturbedImageFixture]]), and the
    * perceptual grouping recovers the 17 families whole. Cross-family distinctness is the
    * gradient's k-term moving every block mean (deterministic —
    * MultimodalSpec also pins it directly). This is the image
    * analogue of t3's SimHash near-dup: a locality hash grouped by
    * exact equality, one narrow shuffle on the 64-bit key. */
  val m9DhashNearDup: QuerySpec = QuerySpec.sql(
    "m9_dhash_neardup",
    """SELECT CAST(c_custkey AS BIGINT) AS media_id,
      |  CAST(c_custkey AS BIGINT) % 17 AS dup_group,
      |  (CAST(c_custkey AS BIGINT) < 17) AS is_keeper
      |FROM customer WHERE c_custkey < 200
      |ORDER BY media_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val rows = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("k"))
      .filter(col("k") < 200).as[Long]
      .map { k =>
        Multimodal.MediaRow(k, "image",
          Multimodal.perturbedImageFixture(k % 17,
            delta = 1 + ((k / 17) % 4).toInt, 18, 16),
          Multimodal.MediaMeta("png", 18, 16, 0, 0))
      }
    val hashed = Multimodal.dHash(rows).toDF()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("dhash")
    hashed.select(col("mediaId").as("media_id"), col("dhash"))
      .withColumn("dup_group", min("media_id").over(w))
      .select(col("media_id"), col("dup_group"),
        (col("media_id") === col("dup_group")).as("is_keeper"))
      .orderBy("media_id")
  }

  /** M10 — the MEDIA CURATION MANIFEST end to end (the x8 idea for
    * the image tier): one fixture set carrying BOTH duplication
    * structures at once — 272 images in 17 perceptual families
    * (noise seed k % 17), each with a sum-preserving perturbation
    * whose magnitude cycles with k/17, encoded half PNG / half BMP.
    * Two images share a RASTER iff they share (seed, magnitude) ⟺
    * k ≡ k' (mod 68); they share a FAMILY iff k ≡ k' (mod 17). The
    * composed pipeline — decode once conceptually, exact-dedup on
    * [[Multimodal.rasterSignature]], perceptual-group on
    * [[Multimodal.dHash]] — must recover exactly those two nested
    * partitions and the two-tier keeper decision (exact keeper =
    * lowest id per raster; selected = the family representative,
    * which is by construction also an exact keeper). The oracle knows
    * every group algebraically from k. Scale shape: two narrow
    * hash-partitioned grouping windows + one id-keyed join of the two
    * per-media frames — nothing wider than the hash keys ever
    * shuffles. */
  val m10MediaManifest: QuerySpec = QuerySpec.sql(
    "m10_media_manifest",
    """SELECT CAST(c_custkey AS BIGINT) AS media_id,
      |  CAST(c_custkey AS BIGINT) % 68 AS exact_group,
      |  CAST(c_custkey AS BIGINT) % 17 AS perceptual_group,
      |  (CAST(c_custkey AS BIGINT) < 68) AS is_exact_keeper,
      |  (CAST(c_custkey AS BIGINT) < 17) AS selected
      |FROM customer WHERE c_custkey < 272
      |ORDER BY media_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val rows = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("k"))
      .filter(col("k") < 272).as[Long]
      .map { k =>
        val fmt = if (k % 2 == 0) "png" else "bmp"
        Multimodal.MediaRow(k, "image",
          Multimodal.perturbedImageFixture(k % 17,
            delta = 1 + ((k / 17) % 4).toInt, 18, 16, fmt),
          Multimodal.MediaMeta(fmt, 18, 16, 0, 0))
      }
      .localCheckpoint() // one fixture synthesis feeds both hash legs
    val sig = Multimodal.rasterSignature(rows).toDF()
      .select(col("mediaId").as("media_id"), col("sig"))
    val ph = Multimodal.dHash(rows).toDF()
      .select(col("mediaId").as("media_id"), col("dhash"))
    val wSig = org.apache.spark.sql.expressions.Window.partitionBy("sig")
    val wPh = org.apache.spark.sql.expressions.Window.partitionBy("dhash")
    sig.join(ph, "media_id")
      .withColumn("exact_group", min("media_id").over(wSig))
      .withColumn("perceptual_group", min("media_id").over(wPh))
      .select(col("media_id"), col("exact_group"), col("perceptual_group"),
        (col("media_id") === col("exact_group")).as("is_exact_keeper"),
        (col("media_id") === col("perceptual_group")).as("selected"))
      .orderBy("media_id")
  }

  /** M11 — AUDIO PERCEPTUAL NEAR-DUP via the PCM block-mean hash: the
    * m9 story, audio edition. 200 clips in 17 noise-PCM families,
    * every clip carrying its own sum-preserving two-sample
    * perturbation (magnitude cycles with k/17, so no two clips in a
    * family are byte-identical), decoded by javax.sound on executors
    * and hashed by [[Multimodal.aHash64Pcm]] — block sums unchanged
    * by construction, so each family shares one hash PROVABLY while
    * exact PCM hashing sees 200 singletons; the grouping recovers the
    * 17 families the oracle knows algebraically. One narrow shuffle
    * on the 64-bit key. */
  val m11AudioNearDup: QuerySpec = QuerySpec.sql(
    "m11_audio_neardup",
    """SELECT CAST(c_custkey AS BIGINT) AS media_id,
      |  CAST(c_custkey AS BIGINT) % 17 AS dup_group,
      |  (CAST(c_custkey AS BIGINT) < 17) AS is_keeper
      |FROM customer WHERE c_custkey < 200
      |ORDER BY media_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val rows = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("k"))
      .filter(col("k") < 200).as[Long]
      .map { k =>
        Multimodal.MediaRow(k, "audio",
          Multimodal.wavNoiseFixture(k % 17, frames = 1280,
            delta = 1 + ((k / 17) % 4).toInt),
          Multimodal.MediaMeta("wav", 0, 0, 8000, 0))
      }
    val hashed = Multimodal.audioHash(rows).toDF()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("ahash")
    hashed.select(col("mediaId").as("media_id"), col("ahash"))
      .withColumn("dup_group", min("media_id").over(w))
      .select(col("media_id"), col("dup_group"),
        (col("media_id") === col("dup_group")).as("is_keeper"))
      .orderBy("media_id")
  }

  /** M12 — VIDEO CLIP NEAR-DUP via shared sampled-frame rasters: the
    * t58 inverted-index pattern applied across a modality. Each clip's
    * 4 sampled frames are decoded ([[Multimodal.frameSampleAvi]] —
    * real RIFF walk + JPEG decode on executors) and keyed by their
    * raster checksum; clips sharing ≥ 2 frame rasters pair, with the
    * shared count. The fixture: 100 MJPEG-AVI clips in 10 families
    * (seeded frame gradients), with per-clip LENGTH cycling 6/7/8
    * frames — same-family clips of different length sample
    * overlapping-but-different frame sets, so the pair rule exercises
    * genuine partial overlap (6∩7 = 3 frames, 6∩8 = 2, 7∩8 = 1 —
    * only the first two pair). The oracle recomputes the sampled
    * frame-number sets algebraically (i·n/4) and intersects; frame
    * rasters are distinct across (family, frame) by the seeded
    * gradient, which MultimodalSpec pins. Scale shape: decode
    * partition-local, one (checksum)-keyed inverted-index self-join,
    * pair counts aggregated — the exact t58/t61 machinery on media
    * keys. */
  val m12ClipNearDup: QuerySpec = QuerySpec.sql(
    "m12_clip_neardup",
    """WITH m AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k,
      |    CAST(c_custkey AS BIGINT) % 10 AS fam,
      |    6 + (CAST(c_custkey AS BIGINT) // 10) % 3 AS n
      |  FROM customer WHERE c_custkey < 100
      |),
      |sf AS (
      |  SELECT DISTINCT k, fam, i * n // 4 AS frame
      |  FROM m, range(0, 4) t(i)
      |)
      |SELECT a.k AS d1, b.k AS d2, CAST(COUNT(*) AS BIGINT) AS n_shared
      |FROM sf a JOIN sf b ON a.fam = b.fam AND a.frame = b.frame
      |  AND a.k < b.k
      |GROUP BY 1, 2
      |HAVING COUNT(*) >= 2
      |ORDER BY d1, d2""".stripMargin) { (s, d) =>
    import s.implicits._
    val rows = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("k"))
      .filter(col("k") < 100).as[Long]
      .map { k =>
        Multimodal.MediaRow(k, "video",
          Multimodal.aviMjpegFixture(
            frames = (6 + (k / 10) % 3).toInt, width = 24, height = 16,
            fps = 10, seed = k % 10),
          Multimodal.MediaMeta("avi", 24, 16, 0, 0))
      }
    val frames = Multimodal.frameSampleAvi(rows, k = 4).toDF()
      .filter(col("width") > 0) // decode failures never fabricate a key
      .select(col("mediaId").as("media_id"), col("pixChecksum").as("fsig"))
      .distinct()
      .localCheckpoint() // one decode pass feeds both join sides
    frames.as("a")
      .join(frames.as("b"),
        col("a.fsig") === col("b.fsig") &&
          col("a.media_id") < col("b.media_id"))
      .groupBy(col("a.media_id").as("d1"), col("b.media_id").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .orderBy("d1", "d2")
  }

  /** M13 — IMAGE SIMILARITY SEARCH over the decoded-pixel features:
    * the media tier wired into the ANN family end to end. Each image's
    * 4-dim exact-integer projection ([[Multimodal.featuresPixels]], the
    * m7 gate's vectors) is assembled into an embedding; the first 10
    * images are queries and brute-force cosine top-3 neighbors come
    * back with rank and cosine — t5's brute-force contract on
    * embeddings the engine itself EXTRACTED from media bytes, not a
    * pre-supplied table. Exactness: dot products and norms are pure
    * long arithmetic (projections ≤ ~1.1e7, 4-dim dots ≤ ~5e14 ≪ 2^63);
    * the only doubles are one sqrt+divide chain written identically in
    * both engines (the t5 discipline). Ties break by neighbor id.
    * Scale shape: query side broadcasts against the corpus features —
    * no shuffle before the per-query top-k. */
  val m13ImageAnn: QuerySpec = QuerySpec.sql(
    "m13_image_ann",
    """WITH m AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k,
      |    16 + CAST(c_custkey AS BIGINT) % 5 AS w,
      |    12 + CAST(c_custkey AS BIGINT) % 3 AS h
      |  FROM customer WHERE c_custkey < 120
      |),
      |px AS (SELECT k, w, unnest(range(0, w * h)) AS p FROM m),
      |pv AS (
      |  SELECT k, p,
      |    ((k*53 + (p % w)*3) % 256) + ((k*29 + (p // w)*5) % 256)
      |      + ((k*17 + (p % w) + (p // w)) % 256) AS pv
      |  FROM px
      |),
      |f AS (
      |  SELECT k, d, CAST(SUM(pv * ((d+1)*(p+7) % 101 - 50)) AS BIGINT) AS v
      |  FROM pv, range(0, 4) u(d)
      |  GROUP BY 1, 2
      |),
      |ss AS (SELECT k, CAST(SUM(v * v) AS BIGINT) AS ss FROM f GROUP BY 1),
      |dots AS (
      |  SELECT a.k AS qid, b.k AS nid, CAST(SUM(a.v * b.v) AS BIGINT) AS dot
      |  FROM f a JOIN f b ON a.d = b.d AND a.k < 10 AND b.k <> a.k
      |  GROUP BY 1, 2
      |),
      |r AS (
      |  SELECT qid, nid, cos,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
      |  FROM (
      |    SELECT qid, nid,
      |      CAST(dot AS DOUBLE)
      |        / sqrt(CAST(sa.ss AS DOUBLE) * CAST(sb.ss AS DOUBLE)) AS cos
      |    FROM dots
      |    JOIN ss sa ON sa.k = dots.qid
      |    JOIN ss sb ON sb.k = dots.nid
      |  )
      |)
      |SELECT qid, nid, CAST(rn AS BIGINT) AS rank, cos
      |FROM r WHERE rn <= 3
      |ORDER BY qid, rank""".stripMargin) { (s, d) =>
    import s.implicits._
    val rows = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("k"))
      .filter(col("k") < 120).as[Long]
      .map { k =>
        Multimodal.MediaRow(k, "image",
          Multimodal.pngFixture(k,
            width = (16 + k % 5).toInt, height = (12 + k % 3).toInt),
          Multimodal.MediaMeta("png", (16 + k % 5).toInt,
            (12 + k % 3).toInt, 0, 0))
      }
    // assemble (media_id, eL, ss) from the long-form projection — the
    // KMeans.step sort_array(collect_list) vector-assembly pattern
    val vecs = Multimodal.featuresPixels(rows, dim = 4).toDF()
      .groupBy(col("mediaId").as("media_id"))
      .agg(transform(sort_array(collect_list(struct(col("d"), col("v")))),
        x => x.getField("v")).as("eL"))
      .withColumn("ss", call_function("long_dot", col("eL"), col("eL")))
      .localCheckpoint() // one decode+project pass feeds both sides
    val q = vecs.select(col("media_id").as("qid"), col("eL").as("qL"),
      col("ss").as("qss")).filter(col("qid") < 10)
    val cos = call_function("long_dot", col("qL"), col("eL")).cast("double") /
      sqrt(col("qss").cast("double") * col("ss").cast("double"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    vecs.join(broadcast(q), col("media_id") =!= col("qid"))
      .select(col("qid"), col("media_id").as("nid"), cos.as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("nid"), col("rank"), col("cos"))
      .orderBy("qid", "rank")
  }

  /** The SQL CTE text shared by m13b/m13c: pixel features at `dim`
    * dims over the first 120 customers' gradient PNGs (m13's fixture
    * algebra, parameterized dim), as long-form (k, d, v). */
  private def pixelFeatureSql(dim: Int): String =
    s"""m13b_m AS (
       |  SELECT CAST(c_custkey AS BIGINT) AS k,
       |    16 + CAST(c_custkey AS BIGINT) % 5 AS w,
       |    12 + CAST(c_custkey AS BIGINT) % 3 AS h
       |  FROM customer WHERE c_custkey < 120
       |),
       |m13b_px AS (SELECT k, w, unnest(range(0, w * h)) AS p FROM m13b_m),
       |m13b_pv AS (
       |  SELECT k, p,
       |    ((k*53 + (p % w)*3) % 256) + ((k*29 + (p // w)*5) % 256)
       |      + ((k*17 + (p % w) + (p // w)) % 256) AS pv
       |  FROM m13b_px
       |),
       |m13b_f AS (
       |  SELECT k, d, CAST(SUM(pv * ((d+1)*(p+7) % 101 - 50)) AS BIGINT) AS v
       |  FROM m13b_pv, range(0, $dim) u(d)
       |  GROUP BY 1, 2
       |)""".stripMargin

  /** m13b's operating point: 8 projection dims = 2 sign-bit tables ×
    * 4 bits (16 buckets each over the 120-image corpus), hot buckets
    * capped at t10's contract. The seeded projection matrix IS a
    * random-projection family, so its sign bits are exactly the
    * hyperplane-LSH key the t10 family uses on pre-supplied
    * embeddings — here computed from media bytes the engine decoded
    * itself. */
  private val M13bDim = 8
  private val M13bTables = 2
  private val M13bBits = 4
  private val M13bCap = 64

  /** Spark-side assembled (media_id, eL, ss) pixel-feature vectors at
    * `dim` dims — m13's assembly, parameterized and checkpointed (one
    * decode+project pass feeds keys and both score fetches). */
  private def imageVecs(s: org.apache.spark.sql.SparkSession, d: String,
      dim: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val rows = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("k"))
      .filter(col("k") < 120).as[Long]
      .map { k =>
        Multimodal.MediaRow(k, "image",
          Multimodal.pngFixture(k,
            width = (16 + k % 5).toInt, height = (12 + k % 3).toInt),
          Multimodal.MediaMeta("png", (16 + k % 5).toInt,
            (12 + k % 3).toInt, 0, 0))
      }
    Multimodal.featuresPixels(rows, dim = dim).toDF()
      .groupBy(col("mediaId").as("media_id"))
      .agg(transform(sort_array(collect_list(struct(col("d"), col("v")))),
        x => x.getField("v")).as("eL"))
      .withColumn("ss", call_function("long_dot", col("eL"), col("eL")))
      .localCheckpoint()
  }

  /** M13b — BUCKETED IMAGE ANN, the SCALE path for m13 (VERDICT r14
    * item 5): t10b's sign-bit LSH applied to embeddings the engine
    * EXTRACTED from media bytes. Each image's 8-dim exact-integer
    * projection yields 2 tables × 4 sign bits; candidates come from a
    * bucket-keyed equi self-join (hot buckets capped — the t10
    * overflow contract), then exact long-cosine on the candidate set
    * and top-3 per query — the fetch-then-score shape, never a
    * brute-force pair sweep. At 100 TB the knobs are t10b's: bits
    * grow with log2(corpus), tables recover recall. The oracle
    * derives identical keys (string_agg of sign bits over d), the
    * same cap screen, and the same ranking. */
  val m13bImageAnnLsh: QuerySpec = QuerySpec.sql(
    "m13b_image_ann_lsh",
    s"""WITH ${pixelFeatureSql(M13bDim)},
       |keys AS (
       |  SELECT k, d // $M13bBits AS tbl,
       |    string_agg(CASE WHEN v >= 0 THEN '1' ELSE '0' END, ''
       |      ORDER BY d) AS bkey
       |  FROM m13b_f GROUP BY 1, 2
       |),
       |ok AS (SELECT tbl, bkey FROM keys GROUP BY 1, 2
       |       HAVING COUNT(*) <= $M13bCap),
       |cand AS (
       |  SELECT DISTINCT x.k AS qid, y.k AS nid
       |  FROM keys x JOIN keys y ON x.tbl = y.tbl AND x.bkey = y.bkey
       |    AND x.k < 10 AND y.k <> x.k
       |  JOIN ok o ON x.tbl = o.tbl AND x.bkey = o.bkey
       |),
       |ss AS (SELECT k, CAST(SUM(v * v) AS BIGINT) AS ss
       |       FROM m13b_f GROUP BY 1),
       |dots AS (
       |  SELECT qid, nid, CAST(SUM(a.v * b.v) AS BIGINT) AS dot
       |  FROM cand JOIN m13b_f a ON a.k = qid
       |  JOIN m13b_f b ON b.k = nid AND b.d = a.d
       |  GROUP BY 1, 2
       |),
       |r AS (
       |  SELECT qid, nid, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
       |  FROM (
       |    SELECT qid, nid,
       |      CAST(dot AS DOUBLE)
       |        / sqrt(CAST(sa.ss AS DOUBLE) * CAST(sb.ss AS DOUBLE)) AS cos
       |    FROM dots
       |    JOIN ss sa ON sa.k = dots.qid
       |    JOIN ss sb ON sb.k = dots.nid
       |  )
       |)
       |SELECT qid, nid, CAST(rn AS BIGINT) AS rank, cos
       |FROM r WHERE rn <= 3
       |ORDER BY qid, rank""".stripMargin) { (s, d) =>
    val vecs = imageVecs(s, d, M13bDim)
    val bitCols = (tbl: Int) => concat((0 until M13bBits).map(i =>
      when(element_at(col("eL"), tbl * M13bBits + i + 1) >= 0, "1")
        .otherwise("0")): _*)
    val keys = vecs.select(col("media_id"),
      posexplode(array((0 until M13bTables).map(bitCols): _*))
        .as(Seq("tbl", "bkey")))
    val ok = keys.groupBy("tbl", "bkey").agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= M13bCap).select("tbl", "bkey")
    val cand = keys.filter(col("media_id") < 10)
      .select(col("media_id").as("qid"), col("tbl"), col("bkey"))
      .join(keys.select(col("media_id").as("nid"), col("tbl"), col("bkey")),
        Seq("tbl", "bkey"))
      .filter(col("nid") =!= col("qid"))
      .join(ok, Seq("tbl", "bkey"))
      .select("qid", "nid").distinct()
    val cos = cand
      .join(vecs.select(col("media_id").as("qid"), col("eL").as("qL"),
        col("ss").as("qss")), "qid")
      .join(vecs.select(col("media_id").as("nid"), col("eL").as("nL"),
        col("ss").as("nss")), "nid")
      .select(col("qid"), col("nid"),
        (call_function("long_dot", col("qL"), col("nL")).cast("double") /
          sqrt(col("qss").cast("double") * col("nss").cast("double")))
          .as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    cos.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("qid", "nid", "rank", "cos")
      .orderBy("qid", "rank")
  }

  /** M13c — recall@3 of the bucketed image ANN against m13's
    * brute-force truth, per query: the t20/t30 recall-gate convention
    * for the media tier. Composed from the two gates' own definitions
    * on BOTH sides (Spark joins the operators' outputs, the oracle
    * embeds their SQL), so the recall number can never drift from the
    * operators it scores — an approximate family ships with its
    * measured trade, never an assumed one. */
  val m13cImageAnnRecall: QuerySpec = QuerySpec.sql(
    "m13c_image_ann_recall",
    s"""WITH bf AS (${m13ImageAnn.oracle}),
       |lsh AS (${m13bImageAnnLsh.oracle})
       |SELECT b.qid, count(l.nid) AS n_hits,
       |  CAST(count(l.nid) AS DOUBLE) / 3 AS recall_at_3
       |FROM (SELECT qid, nid FROM bf) b
       |LEFT JOIN lsh l ON b.qid = l.qid AND b.nid = l.nid
       |GROUP BY b.qid
       |ORDER BY b.qid""".stripMargin) { (s, d) =>
    val bf = m13ImageAnn.run(s, d).select(col("qid"), col("nid"))
    val lsh = m13bImageAnnLsh.run(s, d)
      .select(col("qid").as("lqid"), col("nid").as("lnid"))
    bf.join(lsh, col("qid") === col("lqid") && col("nid") === col("lnid"),
        "left")
      .groupBy("qid")
      .agg(count(col("lnid")).as("n_hits"))
      .select(col("qid"), col("n_hits"),
        (col("n_hits").cast("double") / 3).as("recall_at_3"))
      .orderBy("qid")
  }

  /** M14 — RAW-VIDEO CLIP NEAR-DUP: the m12 shape with the JPEG codec
    * REMOVED — clips are uncompressed BI_RGB AVIs
    * ([[Multimodal.aviDibFixture]]) whose `00db` frames decode
    * codec-free through the same [[Multimodal.decodeAviFrame]] seam
    * (raw bottom-up BGR rows, stride-aligned), proving the video
    * pixel path needs no codec at all for the raw-frame coverage
    * point that retires the r14 stub. Same fixture algebra as m12:
    * 100 clips in 10 families with per-clip length cycling 6/7/8, so
    * the sampled frame sets overlap partially (6∩7 = 3, 6∩8 = 2,
    * 7∩8 = 1 — only the first two pair at the ≥ 2 threshold); the
    * oracle intersects the i·n/4 sample sets algebraically. Raster
    * distinctness across (family, frame) is spec-pinned
    * (MultimodalSpec) exactly as for m12. Same scale shape too:
    * decode partition-local, one checksum-keyed inverted-index
    * self-join. */
  val m14RawClipNearDup: QuerySpec = QuerySpec.sql(
    "m14_raw_clip_neardup",
    """WITH m AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k,
      |    CAST(c_custkey AS BIGINT) % 10 AS fam,
      |    6 + (CAST(c_custkey AS BIGINT) // 10) % 3 AS n
      |  FROM customer WHERE c_custkey < 100
      |),
      |sf AS (
      |  SELECT DISTINCT k, fam, i * n // 4 AS frame
      |  FROM m, range(0, 4) t(i)
      |)
      |SELECT a.k AS d1, b.k AS d2, CAST(COUNT(*) AS BIGINT) AS n_shared
      |FROM sf a JOIN sf b ON a.fam = b.fam AND a.frame = b.frame
      |  AND a.k < b.k
      |GROUP BY 1, 2
      |HAVING COUNT(*) >= 2
      |ORDER BY d1, d2""".stripMargin) { (s, d) =>
    import s.implicits._
    val rows = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("k"))
      .filter(col("k") < 100).as[Long]
      .map { k =>
        Multimodal.MediaRow(k, "video",
          Multimodal.aviDibFixture(
            frames = (6 + (k / 10) % 3).toInt, width = 24, height = 16,
            fps = 10, seed = k % 10),
          Multimodal.MediaMeta("avi", 24, 16, 0, 0))
      }
    val frames = Multimodal.frameSampleAvi(rows, k = 4).toDF()
      .filter(col("width") > 0) // decode failures never fabricate a key
      .select(col("mediaId").as("media_id"), col("pixChecksum").as("fsig"))
      .distinct()
      .localCheckpoint() // one decode pass feeds both join sides
    frames.as("a")
      .join(frames.as("b"),
        col("a.fsig") === col("b.fsig") &&
          col("a.media_id") < col("b.media_id"))
      .groupBy(col("a.media_id").as("d1"), col("b.media_id").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .orderBy("d1", "d2")
  }

  /** M15 — RAW-FRAME PIXEL FEATURES with a FULLY ALGEBRAIC oracle: the
    * m7 projection applied to SAMPLED VIDEO FRAMES. m5/m12 had to
    * spec-pin their pixel values because JPEG is lossy; raw BI_RGB
    * frames are lossless, so here — for the first time on the video
    * path — DuckDB recomputes every decoded pixel from the fixture's
    * gradient formula and the exact integer projection over row-major
    * p = y·w + x. A green row therefore pins the whole chain: RIFF
    * walk → strf BI_RGB dispatch → raw-BGR row/stride/bottom-up
    * decode → raster projection, end to end, cell-exact. 150 clips,
    * 18×16 frames, length cycling 4/5/6, 3 sampled frames
    * (f = i·n/3), dim 4. Partition-parallel, no shuffle before the
    * final aggregation-free projection. */
  val m15RawFrameFeatures: QuerySpec = QuerySpec.sql(
    "m15_raw_frame_features",
    """WITH m AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k,
      |    4 + CAST(c_custkey AS BIGINT) % 3 AS n
      |  FROM customer WHERE c_custkey < 150
      |),
      |sf AS (SELECT k, i, i * n // 3 AS f FROM m, range(0, 3) t(i)),
      |px AS (SELECT k, i, f, unnest(range(0, 288)) AS p FROM sf),
      |v AS (
      |  SELECT k, i, p,
      |    ((f*53 + k*101 + (p % 18)*3) % 256)
      |      + ((f*29 + k*59 + (p // 18)*5) % 256)
      |      + ((f*17 + k*23 + (p % 18) + (p // 18)) % 256) AS pv
      |  FROM px
      |)
      |SELECT k AS media_id, CAST(i AS INT) AS frame_idx,
      |  CAST(d AS INT) AS d,
      |  CAST(SUM(pv * ((d+1)*(p+7) % 101 - 50)) AS BIGINT) AS v
      |FROM v, range(0, 4) u(d)
      |GROUP BY 1, 2, 3
      |ORDER BY media_id, frame_idx, d""".stripMargin) { (s, d) =>
    import s.implicits._
    val rows = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("k"))
      .filter(col("k") < 150).as[Long]
      .map { k =>
        Multimodal.MediaRow(k, "video",
          Multimodal.aviDibFixture(
            frames = (4 + k % 3).toInt, width = 18, height = 16,
            fps = 10, seed = k),
          Multimodal.MediaMeta("avi", 18, 16, 0, 0))
      }
    Multimodal.featuresFrames(rows, k = 3, dim = 4)
      .select(col("mediaId").as("media_id"), col("frameIdx").as("frame_idx"),
        col("d"), col("v"))
      .orderBy("media_id", "frame_idx", "d")
  }

  /** The m16 fixture's target dHash pattern for media index j (0-based):
    * 13 perceptual families × 6 variants. Family identity lives in the
    * HIGH bits — family f sets the 4-bit group at bits 8+4f..11+4f
    * (f ≤ 12 → top bit 59), so any two families differ in exactly 8
    * high bits that no variant ever touches. Variants perturb only the
    * LOW 8 bits, in two sub-chains:
    *
    *   v=0..3  flip {}, {0}, {0,1}, {0,1,2}   — a 1-bit-step CHAIN:
    *           v0↔v3 are distance 3 (> the threshold 2, NOT an edge)
    *           yet one component via v1/v2 — transitivity is exercised,
    *           not just direct edges;
    *   v=4..5  flip {0..5}, {0..6}            — distance ≥ 3 from every
    *           chain-A member (min: v3↔v4 = |{3,4,5}| = 3), so a
    *           SECOND component per family.
    *
    * Expected clusters are therefore pure k-arithmetic: {v0..v3} labeled
    * by v0's id, {v4,v5} by v4's — which is what lets the oracle state
    * every cluster, size, and keeper without computing a single hash. */
  private[graft] def m16Bits(j: Long): Long = {
    val f = (j % 13).toInt
    val flip = (j / 13).toInt match {
      case 0 => 0L
      case 1 => 0x1L
      case 2 => 0x3L
      case 3 => 0x7L
      case 4 => 0x3fL
      case _ => 0x7fL
    }
    (0xfL << (8 + 4 * f)) ^ flip
  }

  /** M16 — PERCEPTUAL NEAR-DUP CLUSTERS (hamming-tolerant): the media
    * tier's t32. m9 groups on EXACT dHash equality, so a re-encode
    * that flips even one gradient sign escapes it; m16 clusters within
    * hamming distance ≤ 2 via [[Multimodal.dHashClusters]] — band-split
    * LSH candidates (exact by pigeonhole at 4×16-bit bands), codegen'd
    * popcount edges, min-label connected components. The fixture
    * ([[Multimodal.bitPatternFixture]]) REALIZES chosen 64-bit patterns
    * as real PNG rasters (dHash64(render(bits)) == bits, spec-pinned),
    * so the family/chain structure in [[m16Bits]] IS the hash-space
    * geometry and the oracle knows every cluster algebraically —
    * including the v0↔v3 pair that is NOT an edge but IS one cluster,
    * which pins CC transitivity, not just pair generation. Scale
    * shape: decode+hash partition-local, one (band, bval) equi-join,
    * bounded CC rounds — no pairwise hamming sweep exists at any
    * scale. */
  /** The 78-element chain UNIVERSE shared by m16/m17 (image) and
    * m18/m21 (audio): ONE builder for the k < 78 bound and the
    * k → fixture rule the shared oracles depend on — a universe change
    * in one gate but not its oracle-sharing twin is impossible by
    * construction. */
  private def chainMedia(s: org.apache.spark.sql.SparkSession, d: String,
      mk: Long => Multimodal.MediaRow)
      : org.apache.spark.sql.Dataset[Multimodal.MediaRow] = {
    import s.implicits._
    Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("k"))
      .filter(col("k") < 78).as[Long]
      .map(mk)
  }

  private def chainImageRow(k: Long): Multimodal.MediaRow =
    Multimodal.MediaRow(k, "image",
      Multimodal.bitPatternFixture(m16Bits(k)),
      Multimodal.MediaMeta("png", 36, 32, 0, 0))

  private def chainAudioRow(k: Long): Multimodal.MediaRow =
    Multimodal.MediaRow(k, "audio",
      Multimodal.wavPatternFixture(m16Bits(k)),
      Multimodal.MediaMeta("wav", 0, 0, 8000, 0))

  /** The chain-geometry cluster oracle shared by m16 (image dHash) and
    * m18 (audio aHash): both fixtures realize the SAME [[m16Bits]]
    * patterns in their modality's hash space, so the expected
    * clustering is one piece of k-arithmetic. */
  private val ChainClusterOracleSql: String =
    """WITH m AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k,
      |    CAST(c_custkey AS BIGINT) % 13 AS f,
      |    CAST(c_custkey AS BIGINT) // 13 AS v
      |  FROM customer WHERE c_custkey < 78
      |)
      |SELECT k AS media_id,
      |  CASE WHEN v < 4 THEN f ELSE f + 52 END AS cluster_id,
      |  CAST(CASE WHEN v < 4 THEN 4 ELSE 2 END AS BIGINT) AS cluster_size,
      |  (k = CASE WHEN v < 4 THEN f ELSE f + 52 END) AS is_keeper
      |FROM m ORDER BY media_id""".stripMargin

  val m16PhashClusters: QuerySpec = QuerySpec.sql(
    "m16_phash_clusters",
    ChainClusterOracleSql) { (s, d) =>
    val rows = chainMedia(s, d, chainImageRow)
    val clusters = Multimodal.dHashClusters(
      Multimodal.dHash(rows).toDF(), maxDist = 2, bands = 4)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
    clusters
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("is_keeper", col("media_id") === col("cluster_id"))
      .orderBy("media_id")
  }

  /** M18 — AUDIO PERCEPTUAL CLUSTERS: m16's hamming-tolerant
    * clustering applied to the AUDIO hash space. The cluster machinery
    * ([[Multimodal.dHashClusters]]) is hash-agnostic — band-split LSH
    * + popcount edges + CC work on any 64-bit perceptual key — so the
    * audio tier gets transitive near-dup groups by renaming one
    * column, which is the point of keeping the operator generic. The
    * fixture ([[Multimodal.wavPatternFixture]]) realizes the SAME
    * [[m16Bits]] chain patterns as aHash values (block b of 16-bit PCM
    * at +amp/−amp per bit; popcount < 64 always holds here since
    * patterns carry ≤ 11 set bits), spec-pinned through the real WAV
    * codec — so the oracle is m16's, verbatim. Same scale shape:
    * decode+hash partition-local, band equi-join, bounded CC. */
  val m18AudioPhashClusters: QuerySpec = QuerySpec.sql(
    "m18_audio_phash_clusters",
    ChainClusterOracleSql) { (s, d) =>
    val rows = chainMedia(s, d, chainAudioRow)
    val clusters = Multimodal.dHashClusters(
      Multimodal.audioHash(rows).toDF()
        .select(col("mediaId"), col("ahash").as("dhash")),
      maxDist = 2, bands = 4)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
    clusters
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("is_keeper", col("media_id") === col("cluster_id"))
      .orderBy("media_id")
  }

  /** M17 — DELTA PERCEPTUAL PROBE (the t38 ingest shape for media): a
    * small arrival batch probes the STANDING corpus's dHash band index
    * within hamming ≤ 2 — never re-pairing the corpus against itself —
    * via [[Multimodal.dHashProbe]]. Completes the perceptual tier's
    * ingest story: exact-hash dedup at the door
    * (MediaStream.dedupePerceptual), hamming-tolerant probe against
    * the standing index per ingest batch (this gate; at 100 TB the
    * index is persisted bucketed by (band, bval) — the t38b
    * discipline), full m16 re-cluster on the slow cadence.
    *
    * Fixture: the m16 bit-pattern universe (13 families × 6 chain
    * variants); membership rule k % 7 == 3 marks 11 arrivals, the
    * rest stand. Because the fixture geometry is exact, the oracle
    * enumerates the qualifying variant pairs (the ≤ 2-distance chain
    * edges) as a VALUES list and derives every hit, count, and
    * verdict from k arithmetic alone. Delta-delta pairs are out of
    * scope by construction (they belong to the door dedup / next
    * sweep, not the corpus probe). */
  /** The chain-geometry delta-probe oracle shared by m17 (image) and
    * m21 (audio) — the qualifying ≤ 2-distance variant pairs as a
    * VALUES list, hits/counts/verdicts from k arithmetic. */
  private val ChainDeltaOracleSql: String =
    """WITH m AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k,
      |    CAST(c_custkey AS BIGINT) % 13 AS f,
      |    CAST(c_custkey AS BIGINT) // 13 AS v,
      |    (CAST(c_custkey AS BIGINT) % 7 = 3) AS is_delta
      |  FROM customer WHERE c_custkey < 78
      |),
      |e AS (SELECT * FROM (VALUES (0,1),(1,0),(0,2),(2,0),(1,2),(2,1),
      |        (1,3),(3,1),(2,3),(3,2),(4,5),(5,4)) t(va, vb)),
      |hits AS (
      |  SELECT d.k AS delta_id, c.k AS corpus_id
      |  FROM m d JOIN e ON d.is_delta AND e.va = d.v
      |  JOIN m c ON c.f = d.f AND c.v = e.vb AND NOT c.is_delta
      |),
      |agg AS (SELECT delta_id, COUNT(*) AS n_corpus_hits,
      |          MIN(corpus_id) AS nearest_dup
      |        FROM hits GROUP BY 1)
      |SELECT m.k AS media_id,
      |  COALESCE(n_corpus_hits, 0) AS n_corpus_hits,
      |  COALESCE(nearest_dup, -1) AS nearest_dup,
      |  CASE WHEN COALESCE(n_corpus_hits, 0) > 0
      |       THEN 'dup_corpus' ELSE 'keep' END AS verdict
      |FROM m LEFT JOIN agg ON m.k = agg.delta_id
      |WHERE m.is_delta
      |ORDER BY media_id""".stripMargin

  /** Shared m17/m21 finalize: probe the standing side with the delta
    * side via [[Multimodal.dHashProbe]] and shape the per-arrival
    * report — one composition so the two modalities' delta semantics
    * cannot drift. Input: (mediaId, dhash, is_delta). */
  private def deltaProbeReport(
      hashed: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val hits = Multimodal.dHashProbe(
      hashed.filter(col("is_delta")).select("mediaId", "dhash"),
      hashed.filter(!col("is_delta")).select("mediaId", "dhash"),
      maxDist = 2, bands = 4)
    val agg = hits.groupBy("delta_id").agg(
      count(lit(1)).as("n_corpus_hits"), min("corpus_id").as("nearest_dup"))
    hashed.filter(col("is_delta"))
      .select(col("mediaId").as("media_id"))
      .join(agg, col("media_id") === col("delta_id"), "left")
      .select(col("media_id"),
        coalesce(col("n_corpus_hits"), lit(0L)).as("n_corpus_hits"),
        coalesce(col("nearest_dup"), lit(-1L)).as("nearest_dup"),
        when(coalesce(col("n_corpus_hits"), lit(0L)) > 0, "dup_corpus")
          .otherwise("keep").as("verdict"))
      .orderBy("media_id")
  }

  val m17DeltaPhash: QuerySpec = QuerySpec.sql(
    "m17_delta_phash",
    ChainDeltaOracleSql) { (s, d) =>
    val hashed = Multimodal.dHash(chainMedia(s, d, chainImageRow)).toDF()
      .withColumn("is_delta", col("mediaId") % 7 === 3)
      .localCheckpoint() // one decode+hash pass feeds both probe sides
    deltaProbeReport(hashed)
  }

  /** M21 — AUDIO DELTA PROBE: m17's ingest shape in the aHash space,
    * completing probe symmetry across the perceptual tiers (clusters:
    * m16 image / m18 audio; delta probe: m17 image / m21 audio;
    * streaming doors: both). Same chain universe realized by
    * [[Multimodal.wavPatternFixture]], same membership rule, same
    * shared finalize ([[deltaProbeReport]]) and the SAME oracle
    * string — modality enters only through the decode+hash pass. */
  val m21AudioDeltaPhash: QuerySpec = QuerySpec.sql(
    "m21_audio_delta_phash",
    ChainDeltaOracleSql) { (s, d) =>
    val hashed = Multimodal.audioHash(chainMedia(s, d, chainAudioRow)).toDF()
      .select(col("mediaId"), col("ahash").as("dhash"))
      .withColumn("is_delta", col("mediaId") % 7 === 3)
      .localCheckpoint() // one decode+hash pass feeds both probe sides
    deltaProbeReport(hashed)
  }

  /** M19 — EXACT CLIP-LEVEL VIDEO DEDUP: the t1 shape for video. m12
    * finds PARTIAL overlap (clips sharing ≥ 2 sampled frames); a
    * mirror re-serving the SAME clip needs the exact tier first — one
    * content signature per clip, group, keep lowest id. The signature
    * is md5 over the frameIdx-ordered sampled-frame raster checksums
    * (content identity after decode, so container-level byte noise —
    * chunk padding, index layout — cannot split a group, the m8
    * raster-vs-byte argument at clip granularity). Fixture: the m12
    * MJPEG corpus, where two clips share all 4 sampled frames iff they
    * share (family, length) — so dup_group = fam + 10·(n−6)
    * algebraically. Scale shape: decode partition-local, one
    * groupBy(media_id) to assemble the ordered digest, one
    * hash-keyed grouping window — no pair join at the exact tier,
    * ever. */
  val m19ClipDedup: QuerySpec = QuerySpec.sql(
    "m19_clip_dedup",
    """WITH m AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k,
      |    CAST(c_custkey AS BIGINT) % 10 AS fam,
      |    6 + (CAST(c_custkey AS BIGINT) // 10) % 3 AS n
      |  FROM customer WHERE c_custkey < 100
      |)
      |SELECT k AS media_id,
      |  fam + 10 * (n - 6) AS dup_group,
      |  (k = fam + 10 * (n - 6)) AS is_keeper
      |FROM m ORDER BY media_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val rows = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("k"))
      .filter(col("k") < 100).as[Long]
      .map { k =>
        Multimodal.MediaRow(k, "video",
          Multimodal.aviMjpegFixture(
            frames = (6 + (k / 10) % 3).toInt, width = 24, height = 16,
            fps = 10, seed = k % 10),
          Multimodal.MediaMeta("avi", 24, 16, 0, 0))
      }
    val sigs = Multimodal.frameSampleAvi(rows, k = 4).toDF()
      .filter(col("width") > 0) // decode failures never fabricate a key
      .groupBy(col("mediaId").as("media_id"))
      .agg(md5(concat_ws(",",
        transform(sort_array(collect_list(
          struct(col("frameIdx"), col("pixChecksum")))),
          x => x.getField("pixChecksum")))).as("clip_sig"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("clip_sig")
    sigs
      .withColumn("dup_group", min("media_id").over(w))
      .select(col("media_id"), col("dup_group"),
        (col("media_id") === col("dup_group")).as("is_keeper"))
      .orderBy("media_id")
  }

  /** M20 — the PERCEPTUAL CURATION MANIFEST end to end: m10's composed
    * two-tier idea upgraded to the hamming ladder. One corpus carrying
    * both duplication structures — 156 images = the 78-pattern m16
    * chain universe rendered twice (PNG and BMP: byte-distinct,
    * raster-EQUAL) — runs the composed production pipeline: (1)
    * raster-exact dedup ([[Multimodal.rasterSignature]], lowest-id
    * keeper), (2) hamming clusters over the KEEPERS ONLY
    * ([[Multimodal.dHashClusters]] — the dedup-before-cluster order
    * every real pipeline uses: why band-join rows the exact tier
    * already collapsed), (3) per-image verdict: `exact_dup` (a
    * re-encode of a kept raster), `representative` (its cluster's
    * lowest id), or `near_dup`, with every image carrying its
    * keeper's cluster id. The oracle knows all three tiers from k
    * arithmetic: raster twins are k ↔ k+78, clusters are the chain
    * formula on k mod 78. Scale shape: two partition-local decode
    * passes feeding hash-keyed machinery, one id-keyed join back —
    * tier costs stay the component gates' costs. */
  val m20PhashManifest: QuerySpec = QuerySpec.sql(
    "m20_phash_manifest",
    """WITH m AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k,
      |    CAST(c_custkey AS BIGINT) % 78 AS b,
      |    CAST(c_custkey AS BIGINT) % 78 % 13 AS f,
      |    CAST(c_custkey AS BIGINT) % 78 // 13 AS v
      |  FROM customer WHERE c_custkey < 156
      |)
      |SELECT k AS media_id,
      |  b AS exact_keeper,
      |  CASE WHEN v < 4 THEN f ELSE f + 52 END AS cluster_id,
      |  CASE WHEN k >= 78 THEN 'exact_dup'
      |       WHEN k = CASE WHEN v < 4 THEN f ELSE f + 52 END
      |       THEN 'representative'
      |       ELSE 'near_dup' END AS verdict
      |FROM m ORDER BY media_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val rows = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("k"))
      .filter(col("k") < 156).as[Long]
      .map { k =>
        val fmt = if (k < 78) "png" else "bmp"
        Multimodal.MediaRow(k, "image",
          Multimodal.bitPatternFixture(m16Bits(k % 78), format = fmt),
          Multimodal.MediaMeta(fmt, 36, 32, 0, 0))
      }
      .localCheckpoint() // one fixture build feeds both decode passes
    // tier 1: raster-exact dedup, lowest-id keeper per decoded raster
    val wSig = org.apache.spark.sql.expressions.Window.partitionBy("sig")
    val exact = Multimodal.rasterSignature(rows).toDF()
      .select(col("mediaId").as("media_id"), col("sig"))
      .withColumn("exact_keeper", min("media_id").over(wSig))
      .select(col("media_id"), col("exact_keeper"))
      .localCheckpoint() // feeds the keeper screen + the final join
    // tier 2: hamming clusters over keepers only
    val keepers = exact.filter(col("media_id") === col("exact_keeper"))
      .select(col("media_id").as("keeper_id"))
    val clusters = Multimodal.dHashClusters(
      Multimodal.dHash(rows).toDF()
        .join(keepers, col("mediaId") === col("keeper_id"))
        .select("mediaId", "dhash"),
      maxDist = 2, bands = 4)
      .select(col("media_id").as("ck"), col("cluster_id"))
    // tier 3: every image inherits its keeper's cluster; verdict
    exact
      .join(clusters, col("exact_keeper") === col("ck"))
      .select(col("media_id"), col("exact_keeper"), col("cluster_id"),
        when(col("media_id") =!= col("exact_keeper"), "exact_dup")
          .when(col("media_id") === col("cluster_id"), "representative")
          .otherwise("near_dup").as("verdict"))
      .orderBy("media_id")
  }

  /** M22 — AUDIO SIMILARITY SEARCH over the decoded-sample features:
    * m13's brute-force ANN contract in the audio modality, closing the
    * last asymmetry in the media matrix (image had ANN m13/m13b/m13c;
    * audio had features m6 but no search). Each clip's 4-dim exact-
    * integer PCM projection ([[Multimodal.featuresPcm]], the m6 gate's
    * vectors — real javax.sound decode on executors) becomes an
    * embedding; first 10 clips are queries, brute cosine top-3 with
    * (cos desc, nid) ties. The oracle reconstructs samples
    * algebraically from the WAV byte generator (m6's CTEs) and replays
    * the same integer dots. Magnitude audit: |v| ≤ 1.6e7 over this
    * fixture, so 4-dim dots ≤ ~1e15 ≪ 2^63 — pure long arithmetic up
    * to the one sqrt+divide both engines write identically. Scale
    * shape: one decode+project pass (localCheckpoint) feeds both
    * sides; the query side broadcasts; no shuffle before the
    * per-query top-k window. */
  val m22AudioAnn: QuerySpec = QuerySpec.sql(
    "m22_audio_ann",
    """WITH m AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k,
      |    800 + (CAST(c_custkey AS BIGINT) % 100) * 8 AS frames
      |  FROM customer WHERE c_custkey < 120
      |),
      |s0 AS (SELECT k, unnest(range(0, frames)) AS j FROM m),
      |s AS (
      |  SELECT k, j,
      |    ((2*j)*13 % 251)
      |      + 256 * (CASE WHEN ((2*j+1)*13 % 251) >= 128
      |               THEN ((2*j+1)*13 % 251) - 256
      |               ELSE ((2*j+1)*13 % 251) END) AS v
      |  FROM s0
      |),
      |f AS (
      |  SELECT k, d, CAST(SUM(v * ((d+1)*(j+7) % 101 - 50)) AS BIGINT) AS v
      |  FROM s, range(0, 4) u(d)
      |  GROUP BY 1, 2
      |),
      |ss AS (SELECT k, CAST(SUM(v * v) AS BIGINT) AS ss FROM f GROUP BY 1),
      |dots AS (
      |  SELECT a.k AS qid, b.k AS nid, CAST(SUM(a.v * b.v) AS BIGINT) AS dot
      |  FROM f a JOIN f b ON a.d = b.d AND a.k < 10 AND b.k <> a.k
      |  GROUP BY 1, 2
      |),
      |r AS (
      |  SELECT qid, nid, cos,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
      |  FROM (
      |    SELECT qid, nid,
      |      CAST(dot AS DOUBLE)
      |        / sqrt(CAST(sa.ss AS DOUBLE) * CAST(sb.ss AS DOUBLE)) AS cos
      |    FROM dots
      |    JOIN ss sa ON sa.k = dots.qid
      |    JOIN ss sb ON sb.k = dots.nid
      |  )
      |)
      |SELECT qid, nid, CAST(rn AS BIGINT) AS rank, cos
      |FROM r WHERE rn <= 3
      |ORDER BY qid, rank""".stripMargin) { (s, d) =>
    import s.implicits._
    val rows = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("k"))
      .filter(col("k") < 120).as[Long]
      .map { k =>
        Multimodal.MediaRow(k, "audio",
          Multimodal.wavFixture((800 + (k % 100) * 8).toInt),
          Multimodal.MediaMeta("wav", 0, 0, 8000, 0))
      }
    val vecs = Multimodal.featuresPcm(rows, dim = 4).toDF()
      .groupBy(col("mediaId").as("media_id"))
      .agg(transform(sort_array(collect_list(struct(col("d"), col("v")))),
        x => x.getField("v")).as("eL"))
      .withColumn("ss", call_function("long_dot", col("eL"), col("eL")))
      .localCheckpoint() // one decode+project pass feeds both sides
    val q = vecs.select(col("media_id").as("qid"), col("eL").as("qL"),
      col("ss").as("qss")).filter(col("qid") < 10)
    val cos = call_function("long_dot", col("qL"), col("eL")).cast("double") /
      sqrt(col("qss").cast("double") * col("ss").cast("double"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    vecs.join(broadcast(q), col("media_id") =!= col("qid"))
      .select(col("qid"), col("media_id").as("nid"), cos.as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("nid"), col("rank"), col("cos"))
      .orderBy("qid", "rank")
  }

  /** M23 — VIDEO CLIP SIMILARITY SEARCH: the ANN contract in the
    * third modality, completing the matrix (features + ANN now exist
    * for image m7/m13, audio m6/m22 AND video m15/here). A clip's
    * embedding is the per-dimension SUM of its sampled DIB frames'
    * exact-integer projections (m15's vectors — real uncompressed-AVI
    * decode on executors; frame sample = the i·n/k rule) — the
    * standard mean-pool clip representation with the 1/k factor
    * dropped to stay integer (cosine is scale-invariant, so top-k and
    * cos values are IDENTICAL to the mean-pooled form). First 10
    * clips are queries, brute cosine top-3, (cos desc, nid) ties.
    * Magnitude audit: per-frame |v| ≤ ~1.1e7, 3-frame sums ≤ 3.3e7,
    * 4-dim dots ≤ 4.4e15 ≪ 2^63 — long arithmetic to the one
    * sqrt+divide. Scale shape: ONE decode+project pass
    * (localCheckpoint) feeds query and corpus sides; queries
    * broadcast; qid-partitioned top-k. */
  val m23ClipAnn: QuerySpec = QuerySpec.sql(
    "m23_clip_ann",
    """WITH m AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k,
      |    4 + CAST(c_custkey AS BIGINT) % 3 AS n
      |  FROM customer WHERE c_custkey < 120
      |),
      |sf AS (SELECT k, i, i * n // 3 AS f FROM m, range(0, 3) t(i)),
      |px AS (SELECT k, i, f, unnest(range(0, 288)) AS p FROM sf),
      |pv AS (
      |  SELECT k, i, p,
      |    ((f*53 + k*101 + (p % 18)*3) % 256)
      |      + ((f*29 + k*59 + (p // 18)*5) % 256)
      |      + ((f*17 + k*23 + (p % 18) + (p // 18)) % 256) AS pv
      |  FROM px
      |),
      |f AS (
      |  SELECT k, d, CAST(SUM(pv * ((d+1)*(p+7) % 101 - 50)) AS BIGINT) AS v
      |  FROM pv, range(0, 4) u(d)
      |  GROUP BY 1, 2
      |),
      |ss AS (SELECT k, CAST(SUM(v * v) AS BIGINT) AS ss FROM f GROUP BY 1),
      |dots AS (
      |  SELECT a.k AS qid, b.k AS nid, CAST(SUM(a.v * b.v) AS BIGINT) AS dot
      |  FROM f a JOIN f b ON a.d = b.d AND a.k < 10 AND b.k <> a.k
      |  GROUP BY 1, 2
      |),
      |r AS (
      |  SELECT qid, nid, cos,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
      |  FROM (
      |    SELECT qid, nid,
      |      CAST(dot AS DOUBLE)
      |        / sqrt(CAST(sa.ss AS DOUBLE) * CAST(sb.ss AS DOUBLE)) AS cos
      |    FROM dots
      |    JOIN ss sa ON sa.k = dots.qid
      |    JOIN ss sb ON sb.k = dots.nid
      |  )
      |)
      |SELECT qid, nid, CAST(rn AS BIGINT) AS rank, cos
      |FROM r WHERE rn <= 3
      |ORDER BY qid, rank""".stripMargin) { (s, d) =>
    import s.implicits._
    val rows = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("k"))
      .filter(col("k") < 120).as[Long]
      .map { k =>
        Multimodal.MediaRow(k, "video",
          Multimodal.aviDibFixture(
            frames = (4 + k % 3).toInt, width = 18, height = 16,
            fps = 10, seed = k),
          Multimodal.MediaMeta("avi", 18, 16, 0, 0))
      }
    // per-clip vector: frame projections summed per dimension, then
    // the KMeans sort_array(collect_list) vector assembly
    val vecs = Multimodal.featuresFrames(rows, k = 3, dim = 4).toDF()
      .groupBy(col("mediaId").as("media_id"), col("d"))
      .agg(sum("v").as("v"))
      .groupBy("media_id")
      .agg(transform(sort_array(collect_list(struct(col("d"), col("v")))),
        x => x.getField("v")).as("eL"))
      .withColumn("ss", call_function("long_dot", col("eL"), col("eL")))
      .localCheckpoint() // one decode+project pass feeds both sides
    val q = vecs.select(col("media_id").as("qid"), col("eL").as("qL"),
      col("ss").as("qss")).filter(col("qid") < 10)
    val cos = call_function("long_dot", col("qL"), col("eL")).cast("double") /
      sqrt(col("qss").cast("double") * col("ss").cast("double"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    vecs.join(broadcast(q), col("media_id") =!= col("qid"))
      .select(col("qid"), col("media_id").as("nid"), cos.as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("nid"), col("rank"), col("cos"))
      .orderBy("qid", "rank")
  }

  /** M24 — CLIP PERCEPTUAL CLUSTERS: the m16 shape in the video
    * modality, closing the clusters row of the modality matrix (image
    * m16, audio m18, video here). m12's pairwise near-dup edges
    * (clips sharing ≥ 2 sampled decoded frames) feed
    * [[graft.ops.ConnectedComponents]] min-label, so transitive
    * frame-sharing chains collapse into one cluster per family even
    * where two lengths share too few frames to edge directly (the
    * 7↔8-frame pair shares only frame 0 — they join through the
    * 6-frame member, exactly the non-transitivity CC exists for).
    * Oracle: pure k-arithmetic — every clip of family f connects
    * through the n=6 member (k = f), so cluster_id = k % 10.
    * Scale shape: decode partition-local (one pass, checkpointed),
    * edges are the m12 frame-sig keyed join (fan-in = per-frame
    * duplication), CC state = edge-touched nodes. */
  val m24ClipClusters: QuerySpec = QuerySpec.sql(
    "m24_clip_clusters",
    """WITH m AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k FROM customer
      |  WHERE c_custkey < 100
      |)
      |SELECT k AS media_id, k % 10 AS cluster_id,
      |  (k = k % 10) AS is_rep
      |FROM m ORDER BY media_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val rows = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("k"))
      .filter(col("k") < 100).as[Long]
      .map { k =>
        Multimodal.MediaRow(k, "video",
          Multimodal.aviMjpegFixture(
            frames = (6 + (k / 10) % 3).toInt, width = 24, height = 16,
            fps = 10, seed = k % 10),
          Multimodal.MediaMeta("avi", 24, 16, 0, 0))
      }
    val frames = Multimodal.frameSampleAvi(rows, k = 4).toDF()
      .filter(col("width") > 0)
      .select(col("mediaId").as("media_id"), col("pixChecksum").as("fsig"))
      .distinct()
      .localCheckpoint() // one decode pass: edges + the node set
    val edges = frames.as("a")
      .join(frames.as("b"),
        col("a.fsig") === col("b.fsig") &&
          col("a.media_id") < col("b.media_id"))
      .groupBy(col("a.media_id").as("d1"), col("b.media_id").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
    graft.ops.ConnectedComponents.labels(edges, "d1", "d2",
        frames.select("media_id").distinct(), "media_id")
      .select(col("id").as("media_id"), col("label").as("cluster_id"),
        (col("id") === col("label")).as("is_rep"))
      .orderBy("media_id")
  }

  /** M25 — CLIP CURATION MANIFEST: the m20 composed pipeline in the
    * video modality, completing the manifest row (image m20, video
    * here): (1) exact clip tier — m19's ordered frame-digest,
    * lowest-id keeper per digest; (2) near-dup CLUSTERS over the
    * KEEPERS ONLY (the dedup-before-cluster order: why pair-join
    * clips the exact tier already collapsed) via m24's shared-frame
    * edges + CC; (3) per-clip verdict — `exact_dup` (a re-render of a
    * kept digest), `representative` (its cluster's lowest id), or
    * `near_dup` — each clip carrying its keeper's cluster. Oracle
    * from k-arithmetic: exact keeper = fam + 10·(n−6) (m19's
    * formula), keeper clusters connect through the n=6 keeper →
    * cluster_id = fam. One decode pass (checkpointed frame table)
    * feeds BOTH tiers; everything downstream is hash-keyed. */
  val m25ClipManifest: QuerySpec = QuerySpec.sql(
    "m25_clip_manifest",
    """WITH m AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k,
      |    CAST(c_custkey AS BIGINT) % 10 AS fam,
      |    6 + (CAST(c_custkey AS BIGINT) // 10) % 3 AS n
      |  FROM customer WHERE c_custkey < 100
      |)
      |SELECT k AS media_id,
      |  fam + 10 * (n - 6) AS exact_keeper,
      |  fam AS cluster_id,
      |  CASE WHEN k <> fam + 10 * (n - 6) THEN 'exact_dup'
      |       WHEN k = fam THEN 'representative'
      |       ELSE 'near_dup' END AS verdict
      |FROM m ORDER BY media_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val rows = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("k"))
      .filter(col("k") < 100).as[Long]
      .map { k =>
        Multimodal.MediaRow(k, "video",
          Multimodal.aviMjpegFixture(
            frames = (6 + (k / 10) % 3).toInt, width = 24, height = 16,
            fps = 10, seed = k % 10),
          Multimodal.MediaMeta("avi", 24, 16, 0, 0))
      }
    val fr = Multimodal.frameSampleAvi(rows, k = 4).toDF()
      .filter(col("width") > 0)
      .select(col("mediaId").as("media_id"), col("frameIdx"),
        col("pixChecksum"))
      .localCheckpoint() // ONE decode pass feeds both tiers
    // tier 1: exact digest, lowest-id keeper
    val sigs = fr.groupBy("media_id")
      .agg(md5(concat_ws(",",
        transform(sort_array(collect_list(
          struct(col("frameIdx"), col("pixChecksum")))),
          x => x.getField("pixChecksum")))).as("clip_sig"))
    val wSig = org.apache.spark.sql.expressions.Window
      .partitionBy("clip_sig")
    val exact = sigs
      .withColumn("exact_keeper", min("media_id").over(wSig))
      .select("media_id", "exact_keeper")
      .localCheckpoint() // keeper screen + final join
    // tier 2: shared-frame clusters over keepers only
    val keepers = exact.filter(col("media_id") === col("exact_keeper"))
      .select(col("media_id").as("kid"))
    val kframes = fr.join(keepers, col("media_id") === col("kid"))
      .select(col("media_id"), col("pixChecksum").as("fsig"))
      .distinct()
    val edges = kframes.as("a")
      .join(kframes.as("b"),
        col("a.fsig") === col("b.fsig") &&
          col("a.media_id") < col("b.media_id"))
      .groupBy(col("a.media_id").as("d1"), col("b.media_id").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
    val clusters = graft.ops.ConnectedComponents.labels(edges, "d1", "d2",
        keepers.select(col("kid").as("media_id")), "media_id")
      .select(col("id").as("ck"), col("label").as("cluster_id"))
    // tier 3: verdicts, every clip carrying its keeper's cluster
    exact.join(clusters, col("exact_keeper") === col("ck"))
      .select(col("media_id"), col("exact_keeper"), col("cluster_id"),
        when(col("media_id") =!= col("exact_keeper"), "exact_dup")
          .when(col("media_id") === col("cluster_id"), "representative")
          .otherwise("near_dup").as("verdict"))
      .orderBy("media_id")
  }

  /** M26 — AUDIO CURATION MANIFEST: the m20 composition in the audio
    * modality, completing the manifest row across all three (image
    * m20, video m25, audio here). Corpus: the 78-pattern chain
    * universe as WAVs, each ingested TWICE (k and k+78 byte-identical
    * — audio's dominant exact-dup reality is the same file re-crawled;
    * the image manifest's two-encoder raster twins are the
    * image-specific variant of the same tier). Tiers: (1) exact PCM
    * dedup via [[Multimodal.audioKeysOf]]'s PCM md5 (decode-level, so a
    * container-byte variant would also collapse), lowest-id keeper;
    * (2) m18's hamming clusters over the KEEPERS only; (3) per-clip
    * verdict with the keeper's cluster. Oracle: m20's k-arithmetic
    * verbatim (same chain geometry in the audio hash space — the
    * m16Bits/wavPatternFixture parity m18 already gates).
    *
    * The composition is [[Multimodal.audioManifest]] over the
    * one-decode [[Multimodal.audioManifestKeys]] projection — the SAME
    * two definitions the streaming door persists and finalizes
    * (VERDICT r16 item 6; StreamingAudioManifestSpec pins the
    * row-for-row parity), and one decode pass per clip for both
    * keys. */
  val m26AudioManifest: QuerySpec = QuerySpec.sql(
    "m26_audio_manifest",
    """WITH m AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k,
      |    CAST(c_custkey AS BIGINT) % 78 AS b,
      |    CAST(c_custkey AS BIGINT) % 78 % 13 AS f,
      |    CAST(c_custkey AS BIGINT) % 78 // 13 AS v
      |  FROM customer WHERE c_custkey < 156
      |)
      |SELECT k AS media_id,
      |  b AS exact_keeper,
      |  CASE WHEN v < 4 THEN f ELSE f + 52 END AS cluster_id,
      |  CASE WHEN k >= 78 THEN 'exact_dup'
      |       WHEN k = CASE WHEN v < 4 THEN f ELSE f + 52 END
      |       THEN 'representative'
      |       ELSE 'near_dup' END AS verdict
      |FROM m ORDER BY media_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val rows = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("k"))
      .filter(col("k") < 156).as[Long]
      .map { k =>
        Multimodal.MediaRow(k, "audio",
          Multimodal.wavPatternFixture(m16Bits(k % 78)),
          Multimodal.MediaMeta("wav", 0, 0, 8000, 0))
      }
      .localCheckpoint() // one fixture build under the one decode pass
    // keys materialized once: the keeper window, the cluster pass and
    // the verdict join all read the same decoded frame
    val keys = Multimodal.audioManifestKeys(rows).localCheckpoint()
    Multimodal.audioManifest(keys).orderBy("media_id")
  }

  val all: Seq[QuerySpec] =
    Seq(m1ResizePlan, m2FrameSample, m3Mp4Duration, m4WavDuration,
      m5AviFrames, m6AudioFeatures, m7ImageFeatures, m8RasterDedup,
      m9DhashNearDup, m10MediaManifest, m11AudioNearDup, m12ClipNearDup,
      m13ImageAnn, m13bImageAnnLsh, m13cImageAnnRecall, m14RawClipNearDup,
      m15RawFrameFeatures, m16PhashClusters, m17DeltaPhash,
      m18AudioPhashClusters, m19ClipDedup, m20PhashManifest,
      m21AudioDeltaPhash, m22AudioAnn, m23ClipAnn, m24ClipClusters,
      m25ClipManifest, m26AudioManifest)
}
