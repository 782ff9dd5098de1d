package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Multimodal

/** Oracle-checked plumbing for the multimodal table: binary payload
  * construction, typed metadata, byte-level stats. (Feature extraction
  * itself runs through the stub codec in mapPartitions — JVM-side, not
  * SQL-expressible — and is covered by MultimodalSpec instead.)
  */
object MultimodalQueries {

  def specs: Seq[QuerySpec] = Seq(

    // binary column + typed metadata: per-row byte stats and digest.
    QuerySpec("q25_media_meta", (s, d) =>
      Multimodal.syntheticMedia(Tables(s, d, "documents"))
        .select(
          col("media_id"), col("kind"),
          length(col("payload")).cast("bigint").as("n_bytes"),
          md5(col("payload")).as("payload_md5"),
          col("width"), col("height")),
      """SELECT doc_id AS media_id,
        | list_extract(['image', 'audio', 'video'], CAST(doc_id % 3 AS INT) + 1) AS kind,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | md5(text) AS payload_md5,
        | CAST(doc_id % 64 + 16 AS INT) AS width,
        | CAST(doc_id % 48 + 16 AS INT) AS height
        |FROM documents""".stripMargin),

    // per-kind rollup: the "scan the media lake" shape.
    QuerySpec("q26_media_by_kind", (s, d) =>
      Multimodal.syntheticMedia(Tables(s, d, "documents"))
        .groupBy(col("kind"))
        .agg(
          count(lit(1)).as("n_media"),
          sum(length(col("payload"))).cast("bigint").as("total_bytes"),
          max(col("width")).as("max_width")),
      """SELECT list_extract(['image', 'audio', 'video'], CAST(doc_id % 3 AS INT) + 1) AS kind,
        | COUNT(*) AS n_media,
        | CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        | CAST(MAX(doc_id % 64 + 16) AS INT) AS max_width
        |FROM documents
        |GROUP BY 1""".stripMargin),

    // REAL image decode (round-11 verdict #1): genuine PNGs are
    // synthesized per image row (seed = media_id mod 256, declared
    // dims), decoded back through JDK javax.imageio, and the DECODED
    // raster's exact integer statistics are emitted — px_sum = Σ v,
    // px_check = Σ i·v over the row-major index, so a wrong pixel
    // VALUE or POSITION (transpose, row swap, off-by-one stride)
    // breaks the hash. The oracle regenerates the same grid
    // arithmetically in DuckDB: if encode or decode lied anywhere,
    // the sums disagree. Shuffle-free: encode+decode are
    // partition-local; at a 100 TB image lake this plan is pure
    // decode CPU across file splits.
    QuerySpec("q155_image_decode", (s, d) =>
      Multimodal.decodeImageStats(
        Multimodal.pngMedia(Tables(s, d, "documents"))).toDF(),
      // the pixel grid regenerated arithmetically: v(i) = (seed + i) mod
      // 256 over the row-major flat index — what the PNG must round-trip
      """SELECT media_id, decoded_w, decoded_h, n_px,
        | CAST(px_sum AS BIGINT) AS px_sum,
        | CAST(px_check AS BIGINT) AS px_check
        |FROM (
        |  SELECT d.doc_id AS media_id,
        |    CAST(d.doc_id % 64 + 16 AS INT) AS decoded_w,
        |    CAST(d.doc_id % 48 + 16 AS INT) AS decoded_h,
        |    CAST((d.doc_id % 64 + 16) * (d.doc_id % 48 + 16) AS BIGINT) AS n_px,
        |    SUM((d.doc_id % 256 + g.i) % 256) AS px_sum,
        |    SUM(g.i * ((d.doc_id % 256 + g.i) % 256)) AS px_check
        |  FROM documents d,
        |    LATERAL (SELECT unnest(range(
        |      (d.doc_id % 64 + 16) * (d.doc_id % 48 + 16))) AS i) g
        |  WHERE d.doc_id % 3 = 0
        |  GROUP BY 1, 2, 3, 4
        |)""".stripMargin),

    // decoded-FEATURE oracle (round-12 verdict #3): q155 checks the
    // decode's raw pixel sums; this checks the column a curation
    // pipeline actually consumes — extractFeatures' per-band
    // mean/variance of the DECODED raster — grouped by declared width
    // (the q26 rollup shape over decoded values). Float features are
    // made hash-comparable by integer quantization: each float casts
    // exactly to double, scales by 2^20 (exponent shift — exact), and
    // floors to BIGINT; the oracle replays the identical IEEE op
    // sequence (double mean/var of the regenerated grid → REAL →
    // DOUBLE → ×2^20 → FLOOR), so both engines produce bit-identical
    // integers. A feature from a wrong pixel, band, or a skipped
    // decode breaks the sum. Same shuffle shape as q26: decode is
    // partition-local, ONE width-keyed aggregate exchange.
    QuerySpec("q157_image_features", (s, d) =>
      Multimodal.extractFeatures(
        Multimodal.pngMedia(Tables(s, d, "documents"))).toDF()
        .filter(col("kind") === "image")
        .withColumn("width", (pmod(col("media_id"), lit(64)) + 16).cast("int"))
        .groupBy(col("width"))
        .agg(
          count(lit(1)).as("n_images"),
          sum(floor(col("feature")(0).cast("double") * lit(1048576.0)))
            .cast("bigint").as("mean_q20_sum"),
          sum(floor(col("feature")(1).cast("double") * lit(1048576.0)))
            .cast("bigint").as("var_q20_sum")),
      // decoded per-band mean/variance replayed with the IDENTICAL IEEE
      // double op sequence as ImageCodec.feature (sum/n, sumSq/n − m·m,
      // → float32), then the exact integer quantization both sides share
      """SELECT width,
        | COUNT(*) AS n_images,
        | CAST(SUM(CAST(FLOOR(CAST(CAST(mean_d AS REAL) AS DOUBLE) * 1048576.0) AS BIGINT)) AS BIGINT) AS mean_q20_sum,
        | CAST(SUM(CAST(FLOOR(CAST(CAST(var_d AS REAL) AS DOUBLE) * 1048576.0) AS BIGINT)) AS BIGINT) AS var_q20_sum
        |FROM (
        |  SELECT width,
        |    CAST(px_sum AS DOUBLE) / CAST(n_px AS DOUBLE) AS mean_d,
        |    CAST(px_sq AS DOUBLE) / CAST(n_px AS DOUBLE)
        |      - (CAST(px_sum AS DOUBLE) / CAST(n_px AS DOUBLE))
        |      * (CAST(px_sum AS DOUBLE) / CAST(n_px AS DOUBLE)) AS var_d
        |  FROM (
        |    SELECT d.doc_id,
        |      CAST(d.doc_id % 64 + 16 AS INT) AS width,
        |      CAST((d.doc_id % 64 + 16) * (d.doc_id % 48 + 16) AS BIGINT) AS n_px,
        |      SUM((d.doc_id % 256 + g.i) % 256) AS px_sum,
        |      SUM(((d.doc_id % 256 + g.i) % 256) * ((d.doc_id % 256 + g.i) % 256)) AS px_sq
        |    FROM documents d,
        |      LATERAL (SELECT unnest(range(
        |        (d.doc_id % 64 + 16) * (d.doc_id % 48 + 16))) AS i) g
        |    WHERE d.doc_id % 3 = 0
        |    GROUP BY 1, 2, 3
        |  )
        |)
        |GROUP BY width""".stripMargin),

    // REAL audio decode (round 13 — the WAV twin of q155): genuine
    // 16-bit mono PCM WAVs are synthesized per audio row (seed =
    // media_id mod 65536, n_frames × 160 samples at the declared
    // rate), decoded back through JDK javax.sound.sampled, and the
    // DECODED stream's exact integer statistics are emitted — s_sum =
    // Σ v, s_check = Σ i·v over the sample index, so a wrong sample
    // VALUE or POSITION (byte swap, truncation, resample) breaks the
    // hash. The oracle regenerates the same sample sequence
    // arithmetically in DuckDB. Shuffle-free: encode+decode are
    // partition-local — pure decode CPU across file splits at scale.
    QuerySpec("q158_audio_decode", (s, d) =>
      Multimodal.decodeAudioStats(
        Multimodal.wavMedia(Tables(s, d, "documents"))).toDF(),
      // the sample sequence regenerated arithmetically: v(i) =
      // (seed + 37·i) mod 65536 − 32768 — what the PCM WAV must
      // round-trip through encode and decode
      """SELECT media_id, sample_rate, n_samples,
        | CAST(s_sum AS BIGINT) AS s_sum,
        | CAST(s_check AS BIGINT) AS s_check
        |FROM (
        |  SELECT d.doc_id AS media_id,
        |    CAST(16000 AS INT) AS sample_rate,
        |    CAST((CASE WHEN d.doc_id % 97 = 0 THEN 1875 ELSE d.doc_id % 30 + 1 END) * 160 AS BIGINT) AS n_samples,
        |    SUM((d.doc_id % 65536 + 37 * g.i) % 65536 - 32768) AS s_sum,
        |    SUM(g.i * ((d.doc_id % 65536 + 37 * g.i) % 65536 - 32768)) AS s_check
        |  FROM documents d,
        |    LATERAL (SELECT unnest(range((CASE WHEN d.doc_id % 97 = 0 THEN 1875 ELSE d.doc_id % 30 + 1 END) * 160)) AS i) g
        |  WHERE d.doc_id % 3 = 1
        |  GROUP BY 1, 2, 3
        |)""".stripMargin),

    // decoded-audio FEATURE face (the q157 analog): per-clip total
    // energy and hottest 10 ms frame — Σ v² sums of DECODED samples,
    // integer-exact, the inputs a VAD / audio quality gate consumes.
    // The oracle regenerates the squared-sample grid and replays the
    // frame max with a two-level aggregate.
    QuerySpec("q159_audio_energy", (s, d) =>
      Multimodal.decodeAudioEnergy(
        Multimodal.wavMedia(Tables(s, d, "documents"))).toDF(),
      // squared decoded samples, framed at 160: total + hottest frame
      """SELECT media_id,
        | CAST(COUNT(*) AS INT) AS n_frames,
        | CAST(SUM(fe) AS BIGINT) AS e_total,
        | CAST(MAX(fe) AS BIGINT) AS e_max_frame
        |FROM (
        |  SELECT d.doc_id AS media_id, g.i // 160 AS frame,
        |    SUM(((d.doc_id % 65536 + 37 * g.i) % 65536 - 32768)
        |      * ((d.doc_id % 65536 + 37 * g.i) % 65536 - 32768)) AS fe
        |  FROM documents d,
        |    LATERAL (SELECT unnest(range((CASE WHEN d.doc_id % 97 = 0 THEN 1875 ELSE d.doc_id % 30 + 1 END) * 160)) AS i) g
        |  WHERE d.doc_id % 3 = 1
        |  GROUP BY 1, 2
        |)
        |GROUP BY media_id""".stripMargin),

    // REAL video decode (round 14 — the last byte-statistic stand-in
    // with a JDK-reachable decoder retired): genuine MJPEG-in-AVI
    // containers are synthesized per video row (hand-written RIFF, one
    // baseline JPEG per frame — per-8x8-block-constant grayscale at
    // quality 1.0, which JPEG round-trips EXACTLY: all-ones quant
    // tables + a constant block's DCT collapsing to its integer DC),
    // decoded back through an own RIFF walk + the JDK's ImageIO JPEG
    // reader, and the DECODED stream's exact integer statistics are
    // emitted over the per-video global index i = f*w*h + y*w + x —
    // a wrong pixel VALUE, POSITION, or frame ORDER breaks the hash.
    // The oracle regenerates the block grid arithmetically in DuckDB
    // (one row per block, not per pixel — the closed form over a full
    // 8x8 block keeps the oracle 64x smaller than q155's). Shuffle-
    // free: encode+decode are partition-local — pure decode CPU
    // across file splits at a 100 TB video lake.
    QuerySpec("q160_video_decode", (s, d) =>
      Multimodal.decodeVideoStats(
        Multimodal.aviMedia(Tables(s, d, "documents"))).toDF(),
      // the block grid regenerated arithmetically, ONE row per 8x8 block:
      // v(f, b) = (seed + 31f + b) mod 256; a full block contributes 64·v
      // to px_sum and v·(64·f·w·h + 512·w·by + 512·bx + 224·w + 224) to
      // px_check (the closed-form sum of row-major indices over the
      // block) — what the MJPEG frames must round-trip through encode,
      // the RIFF walk, and the JPEG decode
      """SELECT media_id, decoded_w, decoded_h, n_frames,
        | CAST(px_sum AS BIGINT) AS px_sum,
        | CAST(px_check AS BIGINT) AS px_check
        |FROM (
        |  SELECT v.media_id,
        |    CAST(v.w8 AS INT) AS decoded_w, CAST(v.h8 AS INT) AS decoded_h,
        |    CAST(v.nf AS INT) AS n_frames,
        |    SUM(64 * ((v.seed + 31 * (g.i // v.bpf) + (g.i % v.bpf)) % 256)) AS px_sum,
        |    SUM(((v.seed + 31 * (g.i // v.bpf) + (g.i % v.bpf)) % 256)
        |        * (64 * (g.i // v.bpf) * v.w8 * v.h8
        |           + 512 * v.w8 * ((g.i % v.bpf) // v.cpr)
        |           + 512 * ((g.i % v.bpf) % v.cpr)
        |           + 224 * v.w8 + 224)) AS px_check
        |  FROM (
        |    SELECT d.doc_id AS media_id, d.doc_id % 256 AS seed,
        |      (d.doc_id % 64 + 16) // 8 * 8 AS w8,
        |      (d.doc_id % 48 + 16) // 8 * 8 AS h8,
        |      d.doc_id % 30 + 1 AS nf,
        |      (d.doc_id % 64 + 16) // 8 AS cpr,
        |      ((d.doc_id % 64 + 16) // 8) * ((d.doc_id % 48 + 16) // 8) AS bpf
        |    FROM documents d WHERE d.doc_id % 3 = 2
        |  ) v,
        |  LATERAL (SELECT unnest(range(v.nf * v.bpf)) AS i) g
        |  GROUP BY 1, 2, 3, 4
        |)""".stripMargin),

    // decoded-video FEATURE face (the q157/q159 analog): per-clip
    // first-frame sum, total L1 frame-delta, and hottest single delta
    // — the motion proxy a video curation gate consumes, exact
    // integer sums of DECODED samples. The oracle regenerates
    // per-frame sums from the block grid and replays the delta chain
    // with a window lag.
    QuerySpec("q161_video_motion", (s, d) =>
      Multimodal.decodeVideoMotion(
        Multimodal.aviMedia(Tables(s, d, "documents"))).toDF(),
      // per-frame sums from the same block grid (s_f = 64·Σ_b v), then
      // the motion chain replayed with a window lag
      """SELECT media_id, CAST(nf AS INT) AS n_frames,
        | CAST(MAX(CASE WHEN f = 0 THEN s END) AS BIGINT) AS first_frame_sum,
        | CAST(COALESCE(SUM(ABS(s - prev_s)), 0) AS BIGINT) AS motion_l1,
        | CAST(COALESCE(MAX(ABS(s - prev_s)), 0) AS BIGINT) AS peak_delta
        |FROM (
        |  SELECT media_id, nf, f, s,
        |    LAG(s) OVER (PARTITION BY media_id ORDER BY f) AS prev_s
        |  FROM (
        |    SELECT v.media_id, v.nf, g.i // v.bpf AS f,
        |      SUM(64 * ((v.seed + 31 * (g.i // v.bpf) + (g.i % v.bpf)) % 256)) AS s
        |    FROM (
        |      SELECT d.doc_id AS media_id, d.doc_id % 256 AS seed,
        |        d.doc_id % 30 + 1 AS nf,
        |        ((d.doc_id % 64 + 16) // 8) * ((d.doc_id % 48 + 16) // 8) AS bpf
        |      FROM documents d WHERE d.doc_id % 3 = 2
        |    ) v,
        |    LATERAL (SELECT unnest(range(v.nf * v.bpf)) AS i) g
        |    GROUP BY 1, 2, 3
        |  )
        |)
        |GROUP BY media_id, nf""".stripMargin),

    // the multimodal curation capstone (round 14): ONE modality-
    // dispatching pass decodes the whole media lake with its real
    // codecs (PNG via ImageIO, PCM WAV via javax.sound.sampled,
    // MJPEG-AVI via the RIFF walk + JPEG reader), cross-checks
    // declared metadata, and applies each modality's integer-exact
    // quality gate — blank/clipped-image drop (resolution floor +
    // decoded mean-brightness band), silence drop (duration floor +
    // mean sample energy), static-clip drop (frame count + L1
    // frame-delta). The oracle replays every DECODED value and every
    // verdict arithmetically in DuckDB; n_ok = n_media pins that no
    // fixture row failed decode. Shuffle shape: decode is partition-
    // local, ONE kind-keyed aggregate exchange (3 rows out).
    QuerySpec("q162_media_pipeline", (s, d) =>
      Multimodal.mediaVerdicts(
        Multimodal.realMedia(Tables(s, d, "documents"))).toDF()
        .groupBy(col("kind"))
        .agg(
          count(lit(1)).cast("bigint").as("n_media"),
          sum(when(col("ok"), 1L).otherwise(0L)).cast("bigint").as("n_ok"),
          sum(when(col("keep"), 1L).otherwise(0L)).cast("bigint").as("n_keep"),
          sum(when(col("keep"), col("media_id")).otherwise(0L))
            .cast("bigint").as("keep_id_sum")),
      // every verdict replayed arithmetically: the image brightness band
      // over the regenerated pixel grid, the audio energy floor over the
      // regenerated squared samples, the video motion floor over the
      // regenerated per-frame block sums
      """SELECT kind,
        | CAST(COUNT(*) AS BIGINT) AS n_media,
        | CAST(COUNT(*) AS BIGINT) AS n_ok,
        | CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        | CAST(SUM(CASE WHEN keep THEN media_id ELSE 0 END) AS BIGINT) AS keep_id_sum
        |FROM (
        |  SELECT 'image' AS kind, media_id,
        |    (n_px >= 2048 AND 120 * n_px <= px_sum AND px_sum <= 136 * n_px) AS keep
        |  FROM (
        |    SELECT d.doc_id AS media_id,
        |      CAST((d.doc_id % 64 + 16) * (d.doc_id % 48 + 16) AS BIGINT) AS n_px,
        |      SUM((d.doc_id % 256 + g.i) % 256) AS px_sum
        |    FROM documents d,
        |      LATERAL (SELECT unnest(range(
        |        (d.doc_id % 64 + 16) * (d.doc_id % 48 + 16))) AS i) g
        |    WHERE d.doc_id % 3 = 0
        |    GROUP BY 1, 2
        |  )
        |  UNION ALL
        |  SELECT 'audio' AS kind, media_id,
        |    (nf >= 3 AND e_total >= 268435456 * n_samples) AS keep
        |  FROM (
        |    SELECT d.doc_id AS media_id,
        |      (CASE WHEN d.doc_id % 97 = 0 THEN 1875 ELSE d.doc_id % 30 + 1 END) AS nf,
        |      (CASE WHEN d.doc_id % 97 = 0 THEN 1875 ELSE d.doc_id % 30 + 1 END) * 160 AS n_samples,
        |      SUM(((d.doc_id % 65536 + 37 * g.i) % 65536 - 32768)
        |        * ((d.doc_id % 65536 + 37 * g.i) % 65536 - 32768)) AS e_total
        |    FROM documents d,
        |      LATERAL (SELECT unnest(range(
        |        (CASE WHEN d.doc_id % 97 = 0 THEN 1875 ELSE d.doc_id % 30 + 1 END) * 160)) AS i) g
        |    WHERE d.doc_id % 3 = 1
        |    GROUP BY 1, 2, 3
        |  )
        |  UNION ALL
        |  SELECT 'video' AS kind, media_id,
        |    (nf >= 2 AND motion_l1 >= nf - 1) AS keep
        |  FROM (
        |    SELECT media_id, MAX(nf) AS nf,
        |      COALESCE(SUM(ABS(s - prev_s)), 0) AS motion_l1
        |    FROM (
        |      SELECT media_id, nf, f, s,
        |        LAG(s) OVER (PARTITION BY media_id ORDER BY f) AS prev_s
        |      FROM (
        |        SELECT v.media_id, v.nf, g.i // v.bpf AS f,
        |          SUM(64 * ((v.seed + 31 * (g.i // v.bpf) + (g.i % v.bpf)) % 256)) AS s
        |        FROM (
        |          SELECT d.doc_id AS media_id, d.doc_id % 256 AS seed,
        |            d.doc_id % 30 + 1 AS nf,
        |            ((d.doc_id % 64 + 16) // 8) * ((d.doc_id % 48 + 16) // 8) AS bpf
        |          FROM documents d WHERE d.doc_id % 3 = 2
        |        ) v,
        |        LATERAL (SELECT unnest(range(v.nf * v.bpf)) AS i) g
        |        GROUP BY 1, 2, 3
        |      )
        |    )
        |    GROUP BY media_id
        |  )
        |)
        |GROUP BY kind""".stripMargin)
  )
}
