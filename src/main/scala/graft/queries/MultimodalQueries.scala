package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Multimodal
import graft.queries.Tables.t

/** Multimodal plumbing battery: binary payload metadata (columnar, no
  * decode) with a DuckDB oracle; the stubbed decode path is covered by
  * MultimodalSpec. Text bytes stand in for media payloads. */
object MultimodalQueries {

  /** The m8/m9 frame set — every doc's sampled 64-byte frames PLUS a
    * planted one-byte-perturbed twin of frame 0 under doc_id + 1e6
    * (byte 0 → ((b+1−32) mod 95)+32 stays printable-ASCII so the
    * VARCHAR oracle replays byte-for-byte). ONE definition so the
    * per-run gate (m8) and the index-served gate (m9) can never
    * drift. The synthetic id spaces (twin offset 1e6, fid stride 1e5)
    * are injective only while doc_id < 1e6 and frame_idx < 1e5 — the
    * guard rides the frame_idx projection (the Decay raise_error
    * discipline) so an oversized corpus fails loudly instead of
    * silently colliding ids. */
  private def neardupFrames(s: SparkSession, dir: String): DataFrame = {
    val frames0 = Multimodal.sampleFrames(
      t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("bin")),
      "bin", frameBytes = 64, stride = 2)
      .select(col("doc_id"),
        when(col("doc_id") >= lit(1000000L) ||
            col("frame_idx") >= lit(100000L),
          raise_error(concat(
            lit("m8: synthetic id space overflow (doc_id "),
            col("doc_id").cast("string"), lit(", frame_idx "),
            col("frame_idx").cast("string"),
            lit(") — the planted-twin offset 1000000 and fid " +
              "stride 100000 require doc_id < 1000000 and " +
              "frame_idx < 100000"))))
          .otherwise(col("frame_idx")).as("frame_idx"),
        col("frame"))
    val b0 = conv(substring(hex(col("frame")), 1, 2), 16, 10)
      .cast("int")
    val nb = ((b0 - lit(31)) % lit(95)) + lit(32)
    val planted = frames0.where(col("frame_idx") === 0)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"),
        col("frame_idx"),
        concat(unhex(lpad(hex(nb), 2, "0")),
          substring(col("frame"), 2, 63)).as("frame"))
    frames0.unionByName(planted)
  }

  /** The m9 fingerprint index, built once per (JVM, sf dir) over the
    * m8 frame set by TWO incremental refreshes (a doc-parity slice,
    * then the full set) — the bm25IndexPath discipline: the gate
    * itself serves from a delta-built artifact, so delta ≡ scratch is
    * exercised on every battery run, not only in the spec. */
  private[graft] def m9Path(s: SparkSession, dir: String): String =
    IndexMemo.path(s"m9fp:$dir") { p =>
      val frames = neardupFrames(s, dir)
      graft.pipeline.SilverIndex.refreshFingerprints(
        frames.where(col("doc_id") % 2 === 0), "doc_id", "frame_idx",
        "frame", p)
      graft.pipeline.SilverIndex.refreshFingerprints(frames, "doc_id",
        "frame_idx", "frame", p)
      ()
    }

  /** m8/m9's frames keyed `fid = doc_id·100000 + frame_idx` (the pair
    * key space both queries band over): (fid, frame). */
  private def frameKeys(s: SparkSession, dir: String): DataFrame =
    neardupFrames(s, dir).select(
      (col("doc_id") * lit(100000L) + col("frame_idx")).as("fid"),
      col("frame"))

  /** m8/m9's pair diagnostics: each (doc_a, doc_b, hamming) frame pair
    * as (fid_a, fid_b, hamming, same_md5) — whether the two frames are
    * also byte-identical. */
  private def withMd5Diagnostics(pairs: DataFrame,
      keyed: DataFrame): DataFrame = {
    def side(s: String) = keyed.select(col("fid").as(s"doc_$s"),
      md5(col("frame")).as(s"md5_$s"))
    pairs.join(side("a"), Seq("doc_a")).join(side("b"), Seq("doc_b"))
      .select(col("doc_a").as("fid_a"), col("doc_b").as("fid_b"),
        col("hamming"),
        (col("md5_a") === col("md5_b")).cast("long").as("same_md5"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // m9 (r16): m8's near-dup pairs SERVED FROM THE PERSISTED
    // fingerprint index — frames are append-heavy in a real feed, and
    // m8 recomputes every fingerprint per run; the index pays only
    // arriving docs (refreshFingerprints' id-anti-join appends, the
    // d7 MinHash discipline) and the serving pass is banding + the
    // in-join Hamming bound over stored 64-bit longs. The index equals
    // the per-run build exactly (per-frame deterministic arithmetic),
    // so m8's oracle applies VERBATIM; the md5 diagnostics join is
    // recomputed in-gate (it is pair diagnostics, not index content).
    "m9_frame_index" -> ((s, dir) => {
      withMd5Diagnostics(graft.pipeline.SilverIndex.framePairs(
        s, m9Path(s, dir), frameStride = 100000L, maxDist = 2),
        frameKeys(s, dir))
    }),
    "m1_binary_meta" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("bin", encode(col("text"), "UTF-8"))
        .select(col("doc_id"),
          Multimodal.binaryMeta(col("bin")).as("m"))
        .select(col("doc_id"), col("m.n_bytes").as("n_bytes"),
          col("m.header_hex").as("header_hex"))),

    "m2_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(
        t(s, dir, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("bin")),
        "bin", frameBytes = 64, stride = 2)
        .select(col("doc_id"), col("frame_idx"),
          hex(col("frame")).as("frame_hex"))),

    // posexplode to scalar rows: the gate's pandas compare can't sort or
    // hash an array column, and scalar (doc, idx, feature) rows let the
    // stub histogram decoder be oracle-checked bit-exactly (REAL/REAL
    // division in DuckDB is float32, same as the Scala kernel's)
    "m3_decode_features" -> ((s, dir) =>
      Multimodal.decodeFeatures(
        t(s, dir, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("bin")),
        "doc_id", "bin")
        .select(col("doc_id"),
          posexplode(col("features")).as(Seq("feature_idx", "feature")))),

    // Cross-video FRAME dedup (r12): the d12 repeated-unit operator is
    // unit-agnostic — here the exploded unit is a sampled binary frame
    // (m2's machinery, md5'd for an engine-portable unit key), and every
    // frame whose corpus-wide document frequency exceeds 1 is dropped
    // from ALL carriers (intro/outro cards, test patterns, rebroadcast
    // segments — the multimodal boilerplate d12 removes for text).
    // Scale shape inherits d12's: frequencies count on xxhash64(unit),
    // the hot set broadcasts size-guarded, the frame bytes never
    // shuffle. Deterministic md5 keys -> full DuckDB oracle (the m2
    // slicing CTE + a distinct-count filter).
    // m5 (r13): CROSS-MODAL caption→frame alignment — the pairing step
    // a multimodal trainer runs to attach each caption window to the
    // frame on screen when it starts (byte offsets stand in for
    // presentation timestamps; the real pipeline aligns pts the same
    // way). Captions are 48-byte windows every 96 bytes, frames m2's
    // 64-byte samples; the alignment is the x1 backward as-of join
    // keyed on the doc — docs long enough for a caption but shorter
    // than one frame exercise the no-frame sentinel. Deterministic
    // integers -> exact oracle.
    "m5_caption_align" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("bin"))
      val frames = Multimodal.sampleFrames(docs, "bin",
          frameBytes = 64, stride = 2)
        .select(col("doc_id"), col("frame_idx"),
          (col("frame_idx") * 64).cast("long").as("frame_off"))
      val captions = Multimodal.sampleFrames(docs, "bin",
          frameBytes = 48, stride = 2)
        .select(col("doc_id"), col("frame_idx").as("caption_idx"),
          (col("frame_idx") * 48).cast("long").as("caption_off"))
      graft.operators.TemporalJoins.asofJoin(
          captions, frames, keys = Seq("doc_id"),
          leftTs = "caption_off", rightTs = "frame_off",
          rightCols = Seq("frame_idx"))
        .select(col("doc_id"), col("caption_idx"), col("caption_off"),
          coalesce(col("asof_frame_idx"), lit(-1)).as("frame_idx"),
          coalesce(col("asof_frame_off"), lit(-1L)).as("frame_off"))
    }),

    // m6 (r14): multimodal PAIR PACKING — the batch-assembly step after
    // m5's alignment: each (caption, frame) pair costs its byte bill
    // (48 caption bytes + 64 frame bytes when a frame is attached, 48
    // alone under the no-frame sentinel), pairs pack into 1024-byte
    // examples in (doc, caption) order via the c2 distributed prefix
    // sum — the multimodal sibling of token packing, denominated in
    // the bytes a multimodal trainer actually ships. Oracle = the m5
    // alignment CTEs + the byte CASE + the c2 window.
    "m6_pair_packing" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("bin"))
      val frames = Multimodal.sampleFrames(docs, "bin",
          frameBytes = 64, stride = 2)
        .select(col("doc_id"), col("frame_idx"),
          (col("frame_idx") * 64).cast("long").as("frame_off"))
      val captions = Multimodal.sampleFrames(docs, "bin",
          frameBytes = 48, stride = 2)
        .select(col("doc_id"), col("frame_idx").as("caption_idx"),
          (col("frame_idx") * 48).cast("long").as("caption_off"))
      val aligned = graft.operators.TemporalJoins.asofJoin(
          captions, frames, keys = Seq("doc_id"),
          leftTs = "caption_off", rightTs = "frame_off",
          rightCols = Seq("frame_idx"))
        .select(col("doc_id"), col("caption_idx"),
          (lit(48L) + when(col("asof_frame_idx").isNotNull, lit(64L))
            .otherwise(lit(0L))).as("pair_bytes"))
      graft.operators.Packing.packByTokenBudget(aligned,
          Seq("doc_id", "caption_idx"), "pair_bytes", budget = 1024L)
        .select(col("doc_id"), col("caption_idx"), col("pair_bytes"),
          col("cum_before"), col("pack_id"))
    }),

    // m8 (r15): perceptual frame NEAR-dup — the modality m4's exact
    // md5 keys can't cover: a re-encoded/resized frame (one byte
    // different) is a brand-new md5 but flips at most 2 bits of the
    // dHash-shape fingerprint (adjacent-byte comparisons), so
    // hamming-band blocking still pairs the variants. The query PLANTS
    // a one-byte-perturbed twin of every doc's frame 0 (byte 0 →
    // ((b+1−32) mod 95)+32, printable so the VARCHAR oracle replays
    // byte-for-byte over the ASCII corpus) under a synthetic doc id;
    // every planted pair then appears with same_md5 = 0 — the rows m4
    // provably misses. Pure byte arithmetic -> exact oracle (brute
    // hamming via bit_count(xor) in DuckDB vs the lossless pigeonhole
    // banding here).
    "m8_frame_neardup" -> ((s, dir) => {
      val keyed = frameKeys(s, dir)
      withMd5Diagnostics(graft.operators.Dedup.hammingPairs(
        keyed.select(col("fid").as("doc"),
          Multimodal.dhashFingerprint(col("frame")).as("simhash")),
        maxDist = 2), keyed)
    }),

    "m4_frame_dedup" -> ((s, dir) => {
      val frames = Multimodal.sampleFrames(
        t(s, dir, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("bin")),
        "bin", frameBytes = 64, stride = 2)
        .select(col("doc_id"), col("frame_idx"),
          md5(col("frame")).as("frame_md5"))
      graft.operators.Dedup.dropRepeatedUnits(
        frames, "doc_id", "frame_md5", maxDocFreq = 1)
    }),

    // m7 (r14): the multimodal CURATION COMPOSITE — m4's frame dedup
    // feeding m6's byte-budget packing: only frames unique to their
    // document survive, and the survivors pack into 1024-byte training
    // examples in (doc, frame) order (64 bytes each). The m-family's
    // c1-style end-to-end: sample → dedup → pack, every stage already
    // independently oracle-proven.
    "m7_mm_pipeline" -> ((s, dir) => {
      val frames = Multimodal.sampleFrames(
        t(s, dir, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("bin")),
        "bin", frameBytes = 64, stride = 2)
        .select(col("doc_id"), col("frame_idx"),
          md5(col("frame")).as("frame_md5"))
      val kept = graft.operators.Dedup.dropRepeatedUnits(
          frames, "doc_id", "frame_md5", maxDocFreq = 1)
        .select(col("doc_id"), col("frame_idx"),
          lit(64L).as("frame_bytes"))
      graft.operators.Packing.packByTokenBudget(kept,
          Seq("doc_id", "frame_idx"), "frame_bytes", budget = 1024L)
        .select(col("doc_id"), col("frame_idx"), col("frame_bytes"),
          col("cum_before"), col("pack_id"))
    })
  )

  private val oracles0: Map[String, String] = Map(
    "m1_binary_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |       hex(substring(text, 1, 8)) AS header_hex
        |FROM documents""".stripMargin,

    // DuckDB 1.0 has no BLOB substring; the corpus is pure ASCII
    // (octet_length(encode(text)) = length(text) for every doc), so
    // VARCHAR slicing is byte-exact here.
    "m2_frame_sample" ->
      """WITH f AS (SELECT doc_id, text,
        |        unnest(range(0, CAST(floor(octet_length(encode(text)) / 64) AS BIGINT), 2)) AS fi
        |      FROM documents)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |       hex(substring(text, CAST(fi * 64 + 1 AS INT), 64)) AS frame_hex
        |FROM f""".stripMargin,

    // both samplings replayed (the m2 slicing CTE at 64- and 48-byte
    // windows), as-of = the max frame offset at or before the caption
    // offset (a conditional-max left join; frame_idx back from the
    // offset since frames sit at idx·64)
    "m5_caption_align" ->
      """WITH fr AS (
        |  SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |         CAST(fi * 64 AS BIGINT) AS frame_off
        |  FROM (SELECT doc_id,
        |          unnest(range(0, CAST(floor(octet_length(encode(text)) / 64)
        |                               AS BIGINT), 2)) AS fi
        |        FROM documents)),
        |cp AS (
        |  SELECT doc_id, CAST(ci AS INT) AS caption_idx,
        |         CAST(ci * 48 AS BIGINT) AS caption_off
        |  FROM (SELECT doc_id,
        |          unnest(range(0, CAST(floor(octet_length(encode(text)) / 48)
        |                               AS BIGINT), 2)) AS ci
        |        FROM documents)),
        |al AS (
        |  SELECT c.doc_id, c.caption_idx, c.caption_off,
        |         max(f.frame_off) AS mo
        |  FROM cp c LEFT JOIN fr f
        |    ON f.doc_id = c.doc_id AND f.frame_off <= c.caption_off
        |  GROUP BY c.doc_id, c.caption_idx, c.caption_off)
        |SELECT doc_id, caption_idx, caption_off,
        |  CAST(coalesce(mo / 64, -1) AS INT) AS frame_idx,
        |  coalesce(mo, -1) AS frame_off
        |FROM al""".stripMargin,

    // m6: the m5 alignment CTEs, the byte-bill CASE, then the c2
    // running-sum window ordered by (doc, caption)
    "m6_pair_packing" ->
      """WITH fr AS (
        |  SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |         CAST(fi * 64 AS BIGINT) AS frame_off
        |  FROM (SELECT doc_id,
        |          unnest(range(0, CAST(floor(octet_length(encode(text)) / 64)
        |                               AS BIGINT), 2)) AS fi
        |        FROM documents)),
        |cp AS (
        |  SELECT doc_id, CAST(ci AS INT) AS caption_idx,
        |         CAST(ci * 48 AS BIGINT) AS caption_off
        |  FROM (SELECT doc_id,
        |          unnest(range(0, CAST(floor(octet_length(encode(text)) / 48)
        |                               AS BIGINT), 2)) AS ci
        |        FROM documents)),
        |al AS (
        |  SELECT c.doc_id, c.caption_idx,
        |         max(f.frame_off) AS mo
        |  FROM cp c LEFT JOIN fr f
        |    ON f.doc_id = c.doc_id AND f.frame_off <= c.caption_off
        |  GROUP BY c.doc_id, c.caption_idx),
        |pb AS (
        |  SELECT doc_id, caption_idx,
        |    CAST(48 + CASE WHEN mo IS NOT NULL THEN 64 ELSE 0 END
        |      AS BIGINT) AS pair_bytes
        |  FROM al)
        |SELECT doc_id, caption_idx, pair_bytes,
        |  CAST(coalesce(sum(pair_bytes) OVER (ORDER BY doc_id, caption_idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS cum_before,
        |  CAST(floor(CAST(coalesce(sum(pair_bytes) OVER (ORDER BY doc_id, caption_idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
        |    / 1024) AS BIGINT) AS pack_id
        |FROM pb""".stripMargin,

    // m8: the m2 slicing CTE in VARCHAR (ASCII corpus — char ==
    // byte), the planted perturbed twins, the dHash rebuilt as a
    // 63-term CASE sum, then BRUTE-force hamming (bit_count ∘ xor)
    // against which the pigeonhole banding must be lossless
    "m8_frame_neardup" ->
      """WITH f0 AS (
        |  SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |         substring(text, CAST(fi * 64 + 1 AS INT), 64) AS fr
        |  FROM (SELECT doc_id, text,
        |          unnest(range(0,
        |            CAST(floor(octet_length(encode(text)) / 64) AS BIGINT),
        |            2)) AS fi
        |        FROM documents)),
        |pl AS (
        |  SELECT doc_id + 1000000 AS doc_id, frame_idx,
        |         chr(((ascii(substring(fr, 1, 1)) - 31) % 95) + 32) ||
        |           substring(fr, 2, 63) AS fr
        |  FROM f0 WHERE frame_idx = 0),
        |fr AS (SELECT * FROM f0 UNION ALL SELECT * FROM pl),
        |sg AS (
        |  SELECT doc_id * 100000 + frame_idx AS fid,
        |    CAST(list_sum(list_transform(range(1, 64), j ->
        |      CASE WHEN ascii(substring(fr, CAST(j AS INT), 1)) <
        |                ascii(substring(fr, CAST(j + 1 AS INT), 1))
        |           THEN CAST(1 AS BIGINT) << CAST(j - 1 AS INT)
        |           ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sig,
        |    md5(fr) AS m
        |  FROM fr)
        |SELECT a.fid AS fid_a, b.fid AS fid_b,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming,
        |  CAST(a.m = b.m AS BIGINT) AS same_md5
        |FROM sg a, sg b
        |WHERE a.fid < b.fid AND bit_count(xor(a.sig, b.sig)) <= 2""".stripMargin,

    // the m2 slicing CTE, md5 frame keys, then the d12 semantics: keep
    // a frame occurrence iff its corpus-wide DISTINCT-doc frequency is
    // within the ceiling (spark counts on xxhash64(frame_md5) — same
    // key discipline d12's oracle already proved equivalent)
    "m4_frame_dedup" ->
      """WITH f AS (SELECT doc_id, text,
        |        unnest(range(0, CAST(floor(octet_length(encode(text)) / 64) AS BIGINT), 2)) AS fi
        |      FROM documents),
        |fr AS (SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |         md5(substring(text, CAST(fi * 64 + 1 AS INT), 64)) AS frame_md5
        |       FROM f),
        |df AS (SELECT frame_md5, count(DISTINCT doc_id) AS d
        |       FROM fr GROUP BY frame_md5)
        |SELECT fr.doc_id, fr.frame_idx, fr.frame_md5
        |FROM fr JOIN df USING (frame_md5) WHERE d <= 1""".stripMargin,

    // m7: the m4 CTEs, a flat 64-byte bill, then the c2 running-sum
    // window in (doc, frame) order
    "m7_mm_pipeline" ->
      """WITH f AS (SELECT doc_id, text,
        |        unnest(range(0, CAST(floor(octet_length(encode(text)) / 64) AS BIGINT), 2)) AS fi
        |      FROM documents),
        |fr AS (SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |         md5(substring(text, CAST(fi * 64 + 1 AS INT), 64)) AS frame_md5
        |       FROM f),
        |df AS (SELECT frame_md5, count(DISTINCT doc_id) AS d
        |       FROM fr GROUP BY frame_md5),
        |kept AS (SELECT fr.doc_id, fr.frame_idx,
        |           CAST(64 AS BIGINT) AS frame_bytes
        |         FROM fr JOIN df USING (frame_md5) WHERE d <= 1)
        |SELECT doc_id, frame_idx, frame_bytes,
        |  CAST(coalesce(sum(frame_bytes) OVER (ORDER BY doc_id, frame_idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS cum_before,
        |  CAST(floor(CAST(coalesce(sum(frame_bytes) OVER (ORDER BY doc_id, frame_idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
        |    / 1024) AS BIGINT) AS pack_id
        |FROM kept""".stripMargin,

    // stub decoder = normalized byte histogram over 8 buckets; corpus is
    // pure ASCII so per-char code points equal per-byte values
    "m3_decode_features" ->
      """WITH f AS (SELECT doc_id, text, octet_length(encode(text)) AS len,
        |                  unnest(range(0, 8)) AS fi
        |           FROM documents)
        |SELECT doc_id, CAST(fi AS INT) AS feature_idx,
        |       CASE WHEN len = 0 THEN CAST(0 AS REAL)
        |            ELSE CAST(len(list_filter(split(text, ''), c -> ascii(c) // 32 = fi)) AS REAL)
        |                 / CAST(len AS REAL) END AS feature
        |FROM f""".stripMargin
  )

  // m9: the index-served pairs equal the per-run build exactly
  // (per-frame deterministic fingerprints) -> m8's oracle VERBATIM
  val oracles: Map[String, String] =
    oracles0 + ("m9_frame_index" -> oracles0("m8_frame_neardup"))
}
