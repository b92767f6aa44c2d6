"""Composite-path queries: correctness-gate the engine's own machinery
(Pipeline/Hub fan-out, multimodal mapInPandas plumbing, the streaming
runtime) — not just raw DataFrame expressions.

Each query routes real testdata through the library code path and pairs
it with a DuckDB oracle, so the driver's hash-compare certifies the
machinery itself:

- p01: Step -> Hub fan-out -> unionByName merge (the reference's
  branch-and-merge lifecycle, `stepist/flow/steps/hub.py:5-14`).
- m01/m02: binary media columns (payload synthesized from
  documents.text) through the Arrow-batched feature extractor and the
  frame-sampling grid — exact integer outputs so the stubbed decoder's
  plumbing is oracle-checkable.
- s01: a genuinely STREAMING execution (file source -> watermarked
  tumbling window -> memory sink, availableNow drain) whose final
  result must equal the batch oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stepist_spark.queries import QuerySpec
from stepist_spark.session import load_table


# --------------------------------------------------------------------------
# p01 — Hub fan-out + union merge through the Pipeline API
def p01_hub_branch_union(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.pipeline import Hub, Step

    li = load_table(spark, sf, "lineitem")
    qty = Step(
        lambda df: df.groupBy("l_returnflag")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .withColumn("branch", F.lit("qty")),
        name="qty",
    )
    cnt = Step(
        lambda df: df.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("branch", F.lit("cnt")),
        name="cnt",
    )
    head = Step(
        lambda df: df.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz")),
        name="head",
    )
    return Hub(qty, cnt).union(head.transform(li))


P01_SQL = """
SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty, 'qty' AS branch,
       CAST(NULL AS BIGINT) AS n_rows
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' GROUP BY 1
UNION ALL
SELECT l_returnflag, CAST(NULL AS DOUBLE), 'cnt', count(*)
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' GROUP BY 1
"""


# --------------------------------------------------------------------------
# p02 — the flow-introspection machinery in one gate: StepMonitor's
# observe()-based per-step row counters (the reference's step monitor,
# `stepist/flow/workers/adapters/simple_queue.py:69-88`, restated as
# zero-extra-job Observations), Step(save_result=True) FlowResult
# capture (`stepist/flow/steps/step.py:100-105`), and the raised
# StopFlowFlag -> declarative filter translation
# (`stepist/flow/utils.py:8-12`). The counters come back as literal
# rows (harvested after an internal action, like the streaming gates);
# the captured intermediate stays a lazy plan unioned in.
def p02_flow_metrics(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.monitoring import StepMonitor
    from stepist_spark.pipeline import Engine, Pipeline, StopFlowFlag

    li = load_table(spark, sf, "lineitem").select(
        "l_quantity", "l_returnflag", "l_linestatus"
    )

    # observe-counter pipeline: source rows, post-filter rows, group count
    mon = StepMonitor()
    pipe = (
        Pipeline()
        .add(lambda df: df.filter(F.col("l_quantity") > 30), name="keep_heavy")
        .add(
            lambda df: df.groupBy("l_linestatus").agg(F.count(F.lit(1)).alias("n")),
            name="by_status",
        )
    )
    out = mon.instrument(pipe).run(mon.observe_source(li))
    final_rows = [("final", r["l_linestatus"], int(r["n"])) for r in out.collect()]
    metric_rows = [
        ("metrics", name, int(m["rows_out"])) for name, m in mon.stats().items()
    ]
    literal = spark.createDataFrame(
        metric_rows + final_rows, "part string, k string, n bigint"
    )

    # save_result capture through the decorator chain: the terminal agg
    # sees the StopFlowFlag-filtered frame; the captured intermediate is
    # grafted into the FlowResult and aggregated here independently
    eng = Engine(spark)

    @eng.step(None, name="by_flag")
    def by_flag(df):
        return df.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))

    @eng.step(by_flag, save_result=True, name="kept")
    def kept(df):
        raise StopFlowFlag(F.col("l_quantity") <= 30)

    res = kept(li)
    saved = res.kept.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("saved").alias("part"), F.col("l_returnflag").alias("k"), "n"
    )
    routed = res.by_flag.select(
        F.lit("routed").alias("part"), F.col("l_returnflag").alias("k"), "n"
    )
    return literal.unionByName(saved).unionByName(routed)


P02_SQL = """
SELECT 'metrics' AS part, 'source' AS k, count(*) AS n FROM lineitem
UNION ALL
SELECT 'metrics', 'keep_heavy', count(*) FROM lineitem WHERE l_quantity > 30
UNION ALL
SELECT 'metrics', 'by_status', count(DISTINCT l_linestatus)
FROM lineitem WHERE l_quantity > 30
UNION ALL
SELECT 'final', l_linestatus, count(*)
FROM lineitem WHERE l_quantity > 30 GROUP BY l_linestatus
UNION ALL
SELECT 'saved', l_returnflag, count(*)
FROM lineitem WHERE l_quantity > 30 GROUP BY l_returnflag
UNION ALL
SELECT 'routed', l_returnflag, count(*)
FROM lineitem WHERE l_quantity > 30 GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------
# m01 — the Arrow mapInPandas media surface in one gate (merged former
# m01 feature extraction + m04 resize plumbing): binary payloads
# through the FUSED profile operator — features + resize accounting in
# one Arrow pass (round-2 VERDICT: the two-pass + join version shipped
# every payload to Python twice).
def m01_media_features(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.operators.multimodal import (
        bmp_feature_decoder,
        extract_features,
        profile_media,
        synthetic_bmp_media,
    )

    docs = load_table(spark, sf, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("image/png").alias("mime"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    prof = profile_media(media, width=16, height=8).select(
        F.lit("profile").alias("part"),
        "media_id", "kind", "n_bytes", "width", "height", "n_bytes_out",
        F.lit(None).cast("string").alias("s1"),
    )
    # 'bmp' (round 8) — the REAL-decode certification: distributed
    # generation of genuine uncompressed 24-bit BMP payloads from a
    # closed-form pixel formula, decoded back through the DECODER seam
    # by the in-repo struct+numpy codec (bottom-up rows, BGR, 4-byte
    # padding — w=13 keeps the padding non-trivial). The oracle
    # recomputes every decoded statistic straight from the formula —
    # no decoder on the oracle side — and the position-weighted wsum_r
    # certifies GEOMETRY (channel sums alone are layout-invariant).
    ids = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("media_id")
    )
    feats = extract_features(
        synthetic_bmp_media(ids, width=13, height=7), decoder=bmp_feature_decoder
    )
    bmp = feats.select(
        F.lit("bmp").alias("part"),
        "media_id",
        "kind",
        "n_bytes",
        F.element_at("feature", 1).cast("int").alias("width"),
        F.element_at("feature", 2).cast("int").alias("height"),
        F.lit(None).cast("long").alias("n_bytes_out"),
        F.concat_ws(
            ":",
            F.element_at("feature", 3).cast("bigint").cast("string"),
            F.element_at("feature", 4).cast("bigint").cast("string"),
            F.element_at("feature", 5).cast("bigint").cast("string"),
            F.element_at("feature", 6).cast("bigint").cast("string"),
        ).alias("s1"),
    )
    # 'wav' (round 8) — the audio twin: REAL 16-bit PCM WAV payloads
    # (with a spliced LIST chunk so the decode exercises chunk
    # WALKING, not just the canonical 44-byte layout) decoded by the
    # in-repo struct+numpy codec; oracle recomputes sample sums +
    # the position-weighted order checksum from the closed form.
    from stepist_spark.operators.multimodal import (
        synthetic_wav_media,
        wav_feature_decoder,
    )

    wav_ids = docs.filter(F.col("doc_id") % 10 == 5).select(
        F.col("doc_id").alias("media_id")
    )
    wfeats = extract_features(
        synthetic_wav_media(wav_ids, n_samples=240, sample_rate=8000),
        decoder=wav_feature_decoder,
    )
    wav = wfeats.select(
        F.lit("wav").alias("part"),
        "media_id",
        "kind",
        "n_bytes",
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.element_at("feature", 2).cast("long").alias("n_bytes_out"),
        F.concat_ws(
            ":",
            F.element_at("feature", 1).cast("bigint").cast("string"),
            F.element_at("feature", 3).cast("bigint").cast("string"),
            F.element_at("feature", 4).cast("bigint").cast("string"),
            F.element_at("feature", 5).cast("bigint").cast("string"),
        ).alias("s1"),
    )
    # 'png' (round 9) — the COMPRESSED-format certification: real
    # DEFLATE-compressed PNGs from the same closed-form pixel
    # discipline, with the scanline filter type CYCLING per row
    # (h=6 ⇒ every image exercises None/Sub/Up/Average/Paeth), decoded
    # by the stdlib-zlib in-repo codec (chunk CRC walk, multi-IDAT
    # inflate, unfilter). n_bytes is NULL here — the compressed length
    # is real but not closed-form, so the oracle certifies the DECODED
    # statistics instead: dims + channel sums + the position-weighted
    # wsum_r that only a correct inflate+unfilter reproduces.
    from stepist_spark.operators.multimodal import (
        png_feature_decoder,
        synthetic_png_media,
    )

    png_ids = docs.filter(F.col("doc_id") % 10 == 7).select(
        F.col("doc_id").alias("media_id")
    )
    pfeats = extract_features(
        synthetic_png_media(png_ids, width=11, height=6), decoder=png_feature_decoder
    )
    png = pfeats.select(
        F.lit("png").alias("part"),
        "media_id",
        "kind",
        F.lit(None).cast("long").alias("n_bytes"),
        F.element_at("feature", 1).cast("int").alias("width"),
        F.element_at("feature", 2).cast("int").alias("height"),
        F.lit(None).cast("long").alias("n_bytes_out"),
        F.concat_ws(
            ":",
            F.element_at("feature", 3).cast("bigint").cast("string"),
            F.element_at("feature", 4).cast("bigint").cast("string"),
            F.element_at("feature", 5).cast("bigint").cast("string"),
            F.element_at("feature", 6).cast("bigint").cast("string"),
        ).alias("s1"),
    )
    # 'jpg' (round 10) — the LOSSY-format certification: real baseline
    # sequential JPEGs (huffman + DCT + 4:2:0/4:4:4 chroma) from
    # wrap-free closed-form gradients, with quality (80/87/94),
    # chroma mode and restart interval all CYCLING by media_id.
    # JPEG is lossy, so the gate is a per-pixel QUANTIZATION-TOLERANCE
    # check against the closed form (ok=1 iff max |Δ| ≤ 32 — measured
    # roundtrip error is 2-6 while a row flip scores 118), plus the
    # exact decoded dims; the oracle predicts every column from the
    # parameters alone.
    from stepist_spark.operators.multimodal import jpeg_roundtrip_features

    # modulus 25, residue 3: successive ids (3, 28, 53, 78, …)
    # ALTERNATE parity and cycle mod 3 and mod 4, so every
    # quality × chroma × restart combination appears every 12 ids —
    # an even modulus would fix the parity and silence the 4:2:0 path
    jpg_ids = docs.filter(F.col("doc_id") % 25 == 3).select(
        F.col("doc_id").alias("media_id")
    )
    jpg = jpeg_roundtrip_features(jpg_ids, width=20, height=14).select(
        F.lit("jpg").alias("part"),
        "media_id",
        F.lit("image").alias("kind"),
        F.lit(None).cast("long").alias("n_bytes"),
        "width",
        "height",
        F.lit(None).cast("long").alias("n_bytes_out"),
        F.concat_ws(
            ":",
            F.col("mode"),
            F.col("quality").cast("string"),
            F.col("n_px").cast("string"),
            F.col("ok").cast("string"),
        ).alias("s1"),
    )
    # 'avi' (round 11) — the VIDEO certification: real MJPEG-in-AVI
    # payloads (RIFF hdrl/movi/idx1 walk + one baseline JPEG per
    # frame) from per-frame closed-form gradients, quality/chroma/DRI/
    # fps all cycling by media_id under modulus 49 (coprime to 2,3,4
    # AND 5, so every parameter actually cycles — the jpg gate's
    # odd-modulus lesson generalized). ok=1 certifies per-pixel
    # tolerance of EVERY frame against its OWN index's form (the
    # 40/frame base step makes any frame reorder score ≥ 40-8 > TOL)
    # plus the exact fps header roundtrip.
    from stepist_spark.operators.multimodal import avi_roundtrip_features

    avi_ids = docs.filter(F.col("doc_id") % 49 == 7).select(
        F.col("doc_id").alias("media_id")
    )
    avi = avi_roundtrip_features(avi_ids, width=20, height=14, n_frames=3).select(
        F.lit("avi").alias("part"),
        "media_id",
        F.lit("video").alias("kind"),
        F.lit(None).cast("long").alias("n_bytes"),
        "width",
        "height",
        F.lit(None).cast("long").alias("n_bytes_out"),
        F.concat_ws(
            ":",
            F.col("mode"),
            F.col("quality").cast("string"),
            F.col("fps").cast("string"),
            F.col("n_frames").cast("string"),
            F.col("ok").cast("string"),
        ).alias("s1"),
    )
    # 'gif' (round 11) — the PALETTE-INDEXED certification: real GIF89a
    # payloads with a real variable-width LZW coder, EXACT on the index
    # raster (the BMP/PNG discipline — no tolerance needed), with bit
    # depth (4 by id%3==0 else 8 — two LZW min-code-size regimes),
    # 4-pass INTERLACE (odd ids), frame count (3 by id%5==0 else 1 —
    # animated vs static block sequences) and the GCE delay header all
    # cycling under modulus 49 residue 11 (coprime to 2, 3 AND 5).
    # sum_idx certifies the LZW round-trip, the position+frame-weighted
    # wsum_idx certifies de-interlace geometry AND frame order, sum_r
    # certifies the global-color-table read; the oracle recomputes all
    # three from the closed forms.
    from stepist_spark.operators.multimodal import gif_roundtrip_features

    gif_ids = docs.filter(F.col("doc_id") % 49 == 11).select(
        F.col("doc_id").alias("media_id")
    )
    gif = gif_roundtrip_features(gif_ids, width=17, height=9).select(
        F.lit("gif").alias("part"),
        "media_id",
        F.lit("image").alias("kind"),
        F.lit(None).cast("long").alias("n_bytes"),
        "width",
        "height",
        F.lit(None).cast("long").alias("n_bytes_out"),
        F.concat_ws(
            ":",
            F.col("depth").cast("string"),
            F.col("interlaced").cast("string"),
            F.col("n_frames").cast("string"),
            F.col("delay_cs").cast("string"),
            F.col("sum_idx").cast("string"),
            F.col("wsum_idx").cast("string"),
            F.col("sum_r").cast("string"),
            F.col("ok").cast("string"),
        ).alias("s1"),
    )
    # 'ima' (round 11) — the COMPRESSED-AUDIO certification: real IMA
    # ADPCM-in-WAV payloads (4-bit adaptive quantizer, per-block
    # predictor/step headers, fact-chunk-bounded partial final block)
    # from a closed-form int16 triangle whose slope the quantizer
    # tracks; slope/period/block-align/sample-rate cycle under moduli
    # 2, 3, 5, 6 — all coprime to 49. ok=1 certifies every decoded
    # sample within _IMA_TOL of its own index's closed form (measured
    # roundtrip 280, TOL 384) plus exact length + rate roundtrip; the
    # oracle predicts every hashed column from the parameters.
    from stepist_spark.operators.multimodal import ima_roundtrip_features

    ima_ids = docs.filter(F.col("doc_id") % 49 == 17).select(
        F.col("doc_id").alias("media_id")
    )
    ima = ima_roundtrip_features(ima_ids, n_samples=600).select(
        F.lit("ima").alias("part"),
        "media_id",
        F.lit("audio").alias("kind"),
        F.lit(None).cast("long").alias("n_bytes"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.col("n_samples").alias("n_bytes_out"),
        F.concat_ws(
            ":",
            F.col("sample_rate").cast("string"),
            F.col("block_align").cast("string"),
            F.col("n_blocks").cast("string"),
            F.col("ok").cast("string"),
        ).alias("s1"),
    )
    return (
        prof.unionByName(bmp)
        .unionByName(wav)
        .unionByName(png)
        .unionByName(jpg)
        .unionByName(avi)
        .unionByName(gif)
        .unionByName(ima)
    )


M01_SQL = """
SELECT 'profile' AS part, doc_id AS media_id, 'image' AS kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       16 AS width, 8 AS height, CAST(128 AS BIGINT) AS n_bytes_out,
       CAST(NULL AS VARCHAR) AS s1
FROM documents
UNION ALL
SELECT 'bmp', doc_id, 'image',
       CAST(54 + ((13 * 3 + 3) // 4) * 4 * 7 AS BIGINT),
       13, 7, CAST(NULL AS BIGINT),
       CAST(sum((doc_id * 7 + 3 * x + 5 * y) % 256) AS BIGINT) || ':'
           || CAST(sum((doc_id * 11 + x + 2 * y) % 256) AS BIGINT) || ':'
           || CAST(sum((doc_id * 13 + 5 * x + y) % 256) AS BIGINT) || ':'
           || CAST(sum((y * 13 + x + 1) * ((doc_id * 7 + 3 * x + 5 * y) % 256))
                   AS BIGINT)
FROM documents,
     (SELECT unnest(generate_series(0, 12)) AS x),
     (SELECT unnest(generate_series(0, 6)) AS y)
WHERE doc_id % 10 = 0
GROUP BY doc_id
UNION ALL
SELECT 'wav', doc_id, 'audio',
       CAST(44 + 14 + 2 * 240 AS BIGINT),
       CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), CAST(240 AS BIGINT),
       '8000:'
           || CAST(sum((doc_id * 31 + i * 7) % 65536 - 32768) AS BIGINT) || ':'
           || CAST(sum(abs((doc_id * 31 + i * 7) % 65536 - 32768)) AS BIGINT) || ':'
           || CAST(sum((i + 1) * ((doc_id * 31 + i * 7) % 65536 - 32768)) AS BIGINT)
FROM documents, (SELECT unnest(generate_series(0, 239)) AS i)
WHERE doc_id % 10 = 5
GROUP BY doc_id
UNION ALL
SELECT 'png', doc_id, 'image',
       CAST(NULL AS BIGINT),
       11, 6, CAST(NULL AS BIGINT),
       CAST(sum((doc_id * 5 + 2 * x + 7 * y) % 256) AS BIGINT) || ':'
           || CAST(sum((doc_id * 9 + 4 * x + 3 * y) % 256) AS BIGINT) || ':'
           || CAST(sum((doc_id * 17 + x + 6 * y) % 256) AS BIGINT) || ':'
           || CAST(sum((y * 11 + x + 1) * ((doc_id * 5 + 2 * x + 7 * y) % 256))
                   AS BIGINT)
FROM documents,
     (SELECT unnest(generate_series(0, 10)) AS x),
     (SELECT unnest(generate_series(0, 5)) AS y)
WHERE doc_id % 10 = 7
GROUP BY doc_id
UNION ALL
SELECT 'jpg', doc_id, 'image',
       CAST(NULL AS BIGINT),
       20, 14, CAST(NULL AS BIGINT),
       (CASE WHEN doc_id % 2 = 0 THEN '420' ELSE '444' END) || ':'
           || CAST(80 + (doc_id % 3) * 7 AS VARCHAR) || ':280:1'
FROM documents
WHERE doc_id % 25 = 3
UNION ALL
SELECT 'avi', doc_id, 'video',
       CAST(NULL AS BIGINT),
       20, 14, CAST(NULL AS BIGINT),
       (CASE WHEN doc_id % 2 = 0 THEN '420' ELSE '444' END) || ':'
           || CAST(80 + (doc_id % 3) * 7 AS VARCHAR) || ':'
           || CAST(5 + doc_id % 5 AS VARCHAR) || ':3:1'
FROM documents
WHERE doc_id % 49 = 7
UNION ALL
SELECT 'gif', doc_id, 'image',
       CAST(NULL AS BIGINT), 17, 9, CAST(NULL AS BIGINT),
       CAST(CASE WHEN doc_id % 3 = 0 THEN 4 ELSE 8 END AS VARCHAR) || ':'
           || CAST(doc_id % 2 AS VARCHAR) || ':'
           || CAST(CASE WHEN doc_id % 5 = 0 THEN 3 ELSE 1 END AS VARCHAR) || ':'
           || CAST(4 + doc_id % 6 AS VARCHAR) || ':'
           || CAST(sum(idx) AS BIGINT) || ':'
           || CAST(sum((f * 153 + y * 17 + x + 1) * idx) AS BIGINT) || ':'
           || CAST(sum((3 * idx + doc_id) % 256) AS BIGINT) || ':1'
FROM (
    SELECT doc_id, x, y, f,
           (doc_id * 7 + 3 * x + 5 * y + 37 * f)
               % (CASE WHEN doc_id % 3 = 0 THEN 16 ELSE 256 END) AS idx
    FROM documents,
         (SELECT unnest(generate_series(0, 16)) AS x),
         (SELECT unnest(generate_series(0, 8)) AS y),
         (SELECT unnest(generate_series(0, 2)) AS f)
    WHERE doc_id % 49 = 11
      AND f < CASE WHEN doc_id % 5 = 0 THEN 3 ELSE 1 END
)
GROUP BY doc_id
UNION ALL
SELECT 'ima', doc_id, 'audio',
       CAST(NULL AS BIGINT), CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
       CAST(600 AS BIGINT),
       CAST(8000 + 100 * (doc_id % 6) AS VARCHAR) || ':'
           || CAST(CASE WHEN doc_id % 2 = 0 THEN 132 ELSE 260 END AS VARCHAR) || ':'
           || CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 2 END AS VARCHAR) || ':1'
FROM documents
WHERE doc_id % 49 = 17
"""


# --------------------------------------------------------------------------
# m02 — the JVM-side media sampling grids in one tag-unioned gate
# (merged former m02 video frame grid + m03 audio hop/window grid):
# both explode a deterministic time grid from typed metadata, no
# Python in the path. t0_ms/t1_ms harmonize the schemas (a video frame
# is an instant: t1 == t0).
def m02_sampling_grids(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.operators.multimodal import sample_audio_windows, sample_frames

    docs = load_table(spark, sf, "documents")
    video = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.lit("video/mp4").alias("mime"),
        F.lit(None).cast("binary").alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.col("n_chars").cast("long").alias("duration_ms"),
            F.lit(None).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )
    audio = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        F.lit("audio/wav").alias("mime"),
        F.lit(None).cast("binary").alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
            F.lit(16000).alias("sample_rate"),
        ).alias("meta"),
    )
    frames = sample_frames(video, every_ms=500).select(
        "media_id",
        F.lit("video").alias("kind"),
        F.col("frame_ts_ms").alias("t0_ms"),
        F.col("frame_ts_ms").alias("t1_ms"),
    )
    windows = sample_audio_windows(audio, window_ms=1000, hop_ms=400).select(
        "media_id",
        F.lit("audio").alias("kind"),
        F.col("window_start_ms").alias("t0_ms"),
        F.col("window_end_ms").alias("t1_ms"),
    )
    return frames.unionByName(windows)


M02_SQL = """
SELECT doc_id AS media_id, 'video' AS kind, t0_ms, t0_ms AS t1_ms
FROM (SELECT doc_id, unnest(generate_series(0, n_chars, 500)) AS t0_ms FROM documents)
UNION ALL
SELECT media_id, 'audio' AS kind, window_start_ms AS t0_ms,
       least(window_start_ms + 1000, dur) AS t1_ms
FROM (
    SELECT doc_id AS media_id, n_chars * 10 AS dur,
           unnest(generate_series(0, greatest(n_chars * 10 - 1000, 0), 400)) AS window_start_ms
    FROM documents
)
"""


# --------------------------------------------------------------------------
# q36 — skew-mitigation certification: the two-phase salted aggregation
# must be row-identical to the plain GROUP BY it replaces (sums are
# whole numbers, so the split across salt shards is FP-exact).
def q36_salted_agg(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.operators.skew import salted_agg, salted_join

    li = load_table(spark, sf, "lineitem")
    agg = salted_agg(
        li.select("l_returnflag", "l_quantity", "l_extendedprice"),
        "l_returnflag",
        {
            "sum_qty": ("l_quantity", "sum"),
            "n_rows": ("l_quantity", "count"),
            "max_price": ("l_extendedprice", "max"),
            "avg_qty": ("l_quantity", "avg"),
        },
        salt=8,
    ).select(
        F.lit("agg").alias("part"),
        F.col("l_returnflag").alias("k"),
        "sum_qty",
        "n_rows",
        F.round("max_price", 2).alias("max_price"),
        "avg_qty",
    )
    # salted JOIN == plain join, aggregated to stay slot-friendly: the
    # skewed fact joins orders (hot keys spread over salt shards, right
    # side replicated salt× — the mitigation when the right side can't
    # broadcast and AQE's skew split isn't available). The salt constant
    # is arbitrary for certification (results are salt-invariant); the
    # gate uses a small one because replication cost scales with it.
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(
        li.select(F.col("l_orderkey").alias("o_orderkey"), "l_quantity"),
        orders,
        on="o_orderkey",
        salt=4,
    )
    j = joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(None).cast("double").alias("max_price"),
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
    ).select(
        F.lit("join").alias("part"),
        F.col("o_orderpriority").alias("k"),
        "sum_qty",
        "n_rows",
        "max_price",
        "avg_qty",
    )
    # 'report' — the skew DIAGNOSIS that motivates the two mitigations
    # above: the 10 hottest o_custkey values with exact counts and
    # their row share (operators/skew.skew_report)
    from stepist_spark.operators.skew import skew_report

    rep = skew_report(
        load_table(spark, sf, "orders").select("o_custkey"), "o_custkey", top_n=10
    ).select(
        F.lit("report").alias("part"),
        F.col("o_custkey").cast("string").alias("k"),
        F.col("share").alias("sum_qty"),
        "n_rows",
        F.lit(None).cast("double").alias("max_price"),
        F.lit(None).cast("double").alias("avg_qty"),
    )
    # 'joinsize' — the planner-style CMS join-cardinality estimate for
    # the SAME lineitem⋈orders join the salted mitigation runs, with
    # the exact size as witness (operators/sketches.cms_join_size:
    # kilobyte sketches, min-of-dot-products, integer-exact)
    from stepist_spark.operators import sketches as sk_ops

    sa = sk_ops.cms_build(
        li.select("l_orderkey"), "l_orderkey", depth=4, width=8192
    )
    sb = sk_ops.cms_build(
        orders.select("o_orderkey"), "o_orderkey", depth=4, width=8192
    )
    js = sk_ops.cms_join_size(sa, sb).select(
        F.lit("joinsize").alias("part"),
        F.lit("cms").alias("k"),
        F.lit(None).cast("double").alias("sum_qty"),
        F.col("est_join_size").cast("bigint").alias("n_rows"),
        F.lit(None).cast("double").alias("max_price"),
        F.lit(None).cast("double").alias("avg_qty"),
    )
    je = (
        li.select(F.col("l_orderkey").alias("o_orderkey"))
        .join(orders.select("o_orderkey"), "o_orderkey")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.lit("joinsize").alias("part"),
            F.lit("exact").alias("k"),
            F.lit(None).cast("double").alias("sum_qty"),
            "n_rows",
            F.lit(None).cast("double").alias("max_price"),
            F.lit(None).cast("double").alias("avg_qty"),
        )
    )
    return agg.unionByName(j).unionByName(rep).unionByName(js).unionByName(je)


def _q36_sql() -> str:
    from stepist_spark.operators.skew import skew_report_sql
    from stepist_spark.operators.sketches import cms_join_size_sql

    rep = skew_report_sql("SELECT o_custkey FROM orders", "o_custkey", top_n=10)
    cjs = cms_join_size_sql(
        "lineitem", "l_orderkey", "orders", "o_orderkey", depth=4, width=8192
    )
    return f"""
SELECT 'agg' AS part, l_returnflag AS k, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
       count(l_quantity) AS n_rows, round(max(l_extendedprice), 2) AS max_price,
       CAST(sum(l_quantity) AS DOUBLE) / count(l_quantity) AS avg_qty
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT 'join', o_orderpriority, CAST(count(*) AS DOUBLE), count(*),
       CAST(NULL AS DOUBLE),
       CAST(sum(l_quantity) AS DOUBLE) / count(*)
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
UNION ALL
SELECT 'report', CAST(o_custkey AS VARCHAR), share, n_rows,
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
FROM ({rep})
UNION ALL
SELECT 'joinsize', 'cms', CAST(NULL AS DOUBLE),
       CAST(est_join_size AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
FROM ({cjs})
UNION ALL
SELECT 'joinsize', 'exact', CAST(NULL AS DOUBLE), count(*),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""


Q36_SQL = _q36_sql()


# --------------------------------------------------------------------------
# s01 — two event-time certifications in one tag-union gate:
# - 'hourly': the hourly rollup computed BY THE STREAMING RUNTIME (file
#   source, micro-batches, complete-mode window agg, availableNow
#   drain) must equal the batch SQL oracle.
# - 'late':   the WATERMARK LATE-DATA POLICY, driver-certified (round-3
#   VERDICT #2): the user_id%4==1 event subset is staged as THREE files
#   — everything from 24h after the first event except the max-ts rows,
#   then the max-ts rows, then the first-day stragglers. Three files
#   because Spark keeps TWO watermarks per batch: late-event FILTERING
#   uses the previous batch's value while state EVICTION uses the
#   current one (watermarkForLateEvents vs watermarkForEviction) — a
#   straggler arriving only one batch after the head is merged-then-
#   emitted, not dropped. By batch 2 the filter watermark is max(ts
#   before stragglers)-1h, far above the first-day rows, so they are
#   DROPPED, and append mode must have emitted exactly the windows
#   whose end ≤ the final watermark. The oracle recomputes both bounds
#   from the same subset — without the drop (or with re-emission) the
#   row set visibly differs.
def s01_streaming_hourly(spark: SparkSession, sf: str) -> DataFrame:
    import datetime

    from stepist_spark.queries import record_part_wall
    from stepist_spark.queries.streaming_gates import (
        _SINK_IDS,
        fresh_scratch,
        stage_part,
        _MTIME0,
    )
    from stepist_spark.session import stream_events
    from stepist_spark.streaming import StreamFlow
    from stepist_spark.streaming.runtime import drain, stream_shuffle_partitions
    from stepist_spark.streaming.windows import tumbling_agg

    # The three certifications are INDEPENDENT pipelines — round-11
    # optimization applies the s05 discipline: batch staging first,
    # then all three availableNow drains start together and drain
    # CONCURRENTLY (each drain is mostly fixed per-trigger cost;
    # sequentially they summed, overlapped the wall is their max —
    # guide §2.6 overlap-independent-jobs).

    # ---- 'late' staging ---------------------------------------------------
    ev = load_table(spark, sf, "events").filter(F.col("user_id") % 4 == 1).select(
        "event_id",
        # withWatermark wants TIMESTAMP (ltz); UTC session tz keeps the
        # wall clock identical to the ntz batch view (as in s03)
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        "value",
    )
    # bounded driver reads (two scalars): the head/straggler split
    # point and the head's max event time (the batch-1 file)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    cut = lo + datetime.timedelta(hours=24)
    d = fresh_scratch(spark, "s01_late")
    sdir = os.path.join(d, "stream")
    os.makedirs(sdir, exist_ok=True)
    # ONE partitioned write stages all three micro-batch files (the
    # 3x coalesce(1)-write version scanned events three times)
    tier = (
        F.when(F.col("ts") < F.lit(cut), 2)      # stragglers: last
        .when(F.col("ts") >= F.lit(hi), 1)       # the max-ts row(s)
        .otherwise(0)                            # the head
    )
    import glob as _glob
    import shutil as _shutil

    tmp = os.path.join(d, "_staged")
    # repartition(1), NOT coalesce(1): coalesce folds into the scan and
    # serializes the upstream compute on one task (streaming_gates
    # staging pattern)
    ev.withColumn("_tier", tier).repartition(1).write.partitionBy("_tier").parquet(tmp)
    for t in (0, 1, 2):
        parts = _glob.glob(os.path.join(tmp, f"_tier={t}", "part-*.parquet"))
        if not parts:  # empty tier (degenerate subset): fewer batches, same data
            continue
        stage_part(parts[0], os.path.join(sdir, f"t{t}.parquet"), _MTIME0 + 60 * t)
    _shutil.rmtree(tmp)

    # ---- the three streaming queries --------------------------------------
    # 'hourly': footer-aware ts handling (NANOS-as-long vs native µs)
    agg = tumbling_agg(
        stream_events(spark, sf),
        "ts",
        "1 hour",
        [F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value")],
        group_by=["event_type"],
    )
    # 'late': watermark late-data drop over the three staged batches
    lsrc = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sdir)
    )
    lagg = tumbling_agg(
        lsrc,
        "ts",
        "1 hour",
        [F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value")],
        group_by=["event_type"],
        watermark="1 hour",
    )
    # 'enrich': stream-static BROADCAST join (round 6) — each micro-
    # batch joins the small static dimension with no state store and no
    # stream shuffle. Value-discriminating: the grouping key (market
    # segment) is only reachable THROUGH the join.
    dim = F.broadcast(
        load_table(spark, sf, "customer").select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )
    )
    eagg = (
        stream_events(spark, sf)
        .join(dim, "user_id")
        .groupBy(
            F.concat_ws("|", F.col("event_type"), F.col("c_mktsegment")).alias(
                "type_seg"
            )
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )

    sink = f"s01_sink_{next(_SINK_IDS)}"
    lsink = f"s01_late_{next(_SINK_IDS)}"
    esink = f"s01_enrich_{next(_SINK_IDS)}"
    with stream_shuffle_partitions(spark, 8):
        part_wall = drain({
            "hourly": lambda: StreamFlow(agg).to_memory(sink, "complete"),
            "late": lambda: StreamFlow(lagg).to_memory(lsink),
            "enrich": lambda: StreamFlow(eagg).to_memory(esink, "complete"),
        })
    record_part_wall("s01_streaming_hourly", part_wall)

    ntz = spark.table(sink).schema["window_start"].dataType.simpleString()
    hourly = spark.table(sink).select(
        F.lit("hourly").alias("part"),
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        "sum_value",
        "window_start",
        "window_end",
    )
    late = spark.table(lsink).select(
        F.lit("late").alias("part"),
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        "sum_value",
        F.col("window_start").cast(ntz).alias("window_start"),
        F.col("window_end").cast(ntz).alias("window_end"),
    )
    enrich = spark.table(esink).select(
        F.lit("enrich").alias("part"),
        F.col("type_seg").alias("event_type"),
        F.col("n").cast("bigint").alias("n"),
        "sum_value",
        F.lit(None).cast(ntz).alias("window_start"),
        F.lit(None).cast(ntz).alias("window_end"),
    )
    return hourly.unionByName(late).unionByName(enrich)


S01_SQL = """
SELECT 'hourly' AS part, event_type, count(*) AS n, round(sum(value), 2) AS sum_value,
       date_trunc('hour', ts::TIMESTAMP) AS window_start,
       date_trunc('hour', ts::TIMESTAMP) + INTERVAL 1 HOUR AS window_end
FROM events GROUP BY event_type, window_start
UNION ALL
SELECT 'late', event_type, count(*), round(sum(value), 2), ws, ws + INTERVAL 1 HOUR
FROM (
    SELECT event_type, value, date_trunc('hour', ts::TIMESTAMP) AS ws
    FROM events
    WHERE user_id % 4 = 1 AND ts::TIMESTAMP >= (
        SELECT min(ts)::TIMESTAMP + INTERVAL 24 HOUR
        FROM events WHERE user_id % 4 = 1)
)
GROUP BY event_type, ws
HAVING ws + INTERVAL 1 HOUR <= (
    SELECT max(ts)::TIMESTAMP - INTERVAL 1 HOUR
    FROM events
    WHERE user_id % 4 = 1 AND ts::TIMESTAMP >= (
        SELECT min(ts)::TIMESTAMP + INTERVAL 24 HOUR
        FROM events WHERE user_id % 4 = 1))
UNION ALL
SELECT 'enrich', e.event_type || '|' || c.c_mktsegment, count(*),
       round(sum(e.value), 2), CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP)
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY e.event_type || '|' || c.c_mktsegment
"""


# --------------------------------------------------------------------------
# r01 — the ReducerStep barrier itself: collect_list per group, then a
# user reduce applied via Arrow-batched mapInPandas (the reference's handler,
# `stepist/flow/workers/reducer_engine.py:69-78`, fired once per
# complete group). Payload values are whole numbers, so the unordered
# collect is FP-safe and the result is exactly SQL GROUP BY.
def r01_reducer_barrier(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    from stepist_spark.pipeline import ReducerStep

    li = load_table(spark, sf, "lineitem").filter(F.col("l_orderkey") % 32 == 0).select(
        "l_orderkey", "l_quantity"
    )

    def _reduce(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # one input row per complete group; vectorized over the batch
        return pd.DataFrame(
            {
                "l_orderkey": pdf["l_orderkey"],
                "total_qty": [
                    float(sum(d["l_quantity"] for d in jl)) for jl in pdf["job_list"]
                ],
                "n_items": [len(jl) for jl in pdf["job_list"]],
            }
        )

    red = ReducerStep(
        group_key="l_orderkey",
        payload_cols=["l_quantity"],
        reduce_fn=_reduce,
        reduce_schema="l_orderkey bigint, total_qty double, n_items bigint",
    )
    return red.transform(li)


R01_SQL = """
SELECT l_orderkey, CAST(sum(l_quantity) AS DOUBLE) AS total_qty, count(*) AS n_items
FROM lineitem WHERE l_orderkey % 32 = 0 GROUP BY l_orderkey
"""


# --------------------------------------------------------------------------
# c01 — end-to-end curation pipeline: exact dedup -> quality gate ->
# embedding join -> LSH bucket assignment. One oracle-gated query
# composing the text, hashing, and vector libraries the way a real
# training-data pipeline chains them.
def c01_curation_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.functions import vectors as V
    from stepist_spark.functions.text import quality_score_scaled_vec
    from stepist_spark.operators import dedup
    from stepist_spark.queries.llm_text import _docs_with_exact_dups
    from stepist_spark.session import spread

    QUALITY_MIN = 650_000
    kept = dedup.dedup_exact(_docs_with_exact_dups(spark, sf), "doc_id", "text")
    # spread BEFORE scoring: AQE coalesces the tiny post-dedup shuffle to
    # 1-2 partitions, which would serialize the scoring pass. The score
    # itself is ONE Arrow-batched pandas_udf (vectorized pandas str ops,
    # identical integer-scaled semantics — functions.text.
    # quality_score_scaled_vec): the udf output is a materialized
    # attribute, so the quality filter reuses it instead of re-deriving
    # an inlined expression tree — no persist() pushdown barrier needed
    # (the former HOF form re-evaluated its token array per reference
    # and required one).
    scored = (
        spread(kept)
        .select("doc_id", quality_score_scaled_vec(F.col("text")).alias("quality_scaled"))
        .filter(F.col("quality_scaled") >= QUALITY_MIN)
    )
    # bucket = the integer-exact 8-plane signature (band 0), computed in
    # one vectorized Arrow pass (functions.vectors.band_signatures)
    # instead of 8 interpreted fold-dots per row
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id",
        V.band_signatures(V.to_double(F.col("embedding")), 1, 8)[0].alias("bucket"),
        "label",
    )
    return scored.join(emb, scored["doc_id"] == emb["vec_id"]).select(
        "doc_id", "quality_scaled", "bucket", "label"
    )


def _c01_sql() -> str:
    from stepist_spark.functions import vectors as V
    from stepist_spark.functions.text import quality_score_scaled_sql
    from stepist_spark.queries.llm_text import EXACT_DUP_CORPUS_SQL

    q = quality_score_scaled_sql("text")
    return f"""
WITH corpus AS ({EXACT_DUP_CORPUS_SQL}),
ranked AS (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM corpus
),
kept AS (SELECT doc_id, text FROM ranked WHERE rn = 1),
scored AS (
    SELECT doc_id, {q} AS quality_scaled FROM kept WHERE {q} >= 650000
)
SELECT s.doc_id, s.quality_scaled,
       {V.band_sig_int_sql('e.embedding::DOUBLE[]', 0, 8)} AS bucket, e.label
FROM scored s JOIN embeddings e ON e.vec_id = s.doc_id
"""


C01_SQL = _c01_sql()


# --------------------------------------------------------------------------
# c02 — kNN label vote: predict each query vector's label by majority
# among its 5 exact nearest neighbors (deterministic tiebreak: highest
# vote count, then smallest label) — the end-use shape of the ANN path.
def c02_knn_label_vote(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.operators import similarity
    from stepist_spark.operators.topk import grouped_topk

    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    topk = similarity.brute_force_topk(emb, queries, "vec_id", "embedding", k=5)
    labeled = topk.join(
        emb.select(F.col("vec_id").alias("neighbor_id"), "label"), "neighbor_id"
    )
    votes = labeled.groupBy("query_id", "label").agg(F.count(F.lit(1)).alias("votes"))
    order = [F.col("votes").desc(), F.col("label").asc()]
    return grouped_topk(votes, ["query_id"], order, 1, rank_col="_rn").select(
        "query_id", F.col("label").alias("predicted_label"), "votes"
    )


def _c02_sql() -> str:
    from stepist_spark.functions import vectors as V

    cos = V.cosine_sql("q.v", "c.v")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
q AS (SELECT vec_id, v FROM e WHERE vec_id < 8),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
           round({cos}, 6) AS cos_sim
    FROM q, e c WHERE q.vec_id <> c.vec_id
),
topk AS (
    SELECT query_id, neighbor_id, label FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= 5
),
votes AS (
    SELECT query_id, label, count(*) AS votes FROM topk GROUP BY query_id, label
)
SELECT query_id, label AS predicted_label, votes FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS rn
    FROM votes
) WHERE rn = 1
"""


C02_SQL = _c02_sql()


# c03 — graph operator family, two tag-union parts:
#   'cluster'  — MinHash-LSH candidate pairs -> connected components
#                (min-label propagation + pointer jumping, O(log n)
#                shuffle rounds) -> per-cluster membership with sizes;
#                the oracle recomputes via a recursive CTE (min
#                reachable id).
#   'pagerank' — fixed-point integer PageRank (operators/graphs.py)
#                over the symmetrized customer<->supplier order graph;
#                the oracle replays the same 5 damped iterations in a
#                recursive CTE with identical integer arithmetic, so
#                ranks hash-match bit-for-bit.
_PR_SCALE = 10**9
_PR_ITERS = 5
_SUPP_OFFSET = 1_000_000  # suppliers share custkey's id range; disjoin them


def _weighted_order_graph(spark: SparkSession, sf: str) -> DataFrame:
    """The :func:`_order_graph` trade graph with the exact per-pair
    trade count as the edge weight (src, dst, w) — symmetrized."""
    o = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_orderkey") % 16 == 0)
        .select("o_orderkey", "o_custkey")
    )
    l = load_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("c"),
            (F.col("l_suppkey") + _SUPP_OFFSET).alias("s"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    return pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst"), "w"
    ).unionByName(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"), "w"))


def _order_graph(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetrized customer<->supplier edges from a deterministic order
    slice: one undirected edge per (customer, supplier) pair that ever
    traded. Disjoint node id spaces via the supplier offset."""
    o = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_orderkey") % 16 == 0)
        .select("o_orderkey", "o_custkey")
    )
    l = load_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .select(
            F.col("o_custkey").alias("c"),
            (F.col("l_suppkey") + _SUPP_OFFSET).alias("s"),
        )
        .distinct()
    )
    return pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )


def c03_dup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.operators import clusters, dedup, graphs
    from stepist_spark.queries.llm_text import BANDS, N_HASHES, _docs_with_near_dups
    from stepist_spark.session import build_concurrently

    corpus = _docs_with_near_dups(spark, sf)
    # The two shared bases build concurrently and eagerly, BEFORE any
    # family starts, so no two families race to compute the same
    # checkpoint. One materialization of the candidates feeds
    # clustering AND triangle counting. ONE orders⋈lineitem pass
    # builds the whole trade graph (round-11 optimization, guide §2.4
    # remove-shuffles): the weighted graph's (src, dst, w) aggregate
    # has exactly one row per distinct pair, so the unweighted edge
    # list is a projection of the SAME checkpointed frame — formerly
    # _order_graph ran a second join+distinct over the fact tables for
    # identical pairs. pagerank re-checkpoints from it,
    # in_degrees/bfs/kcore scan it, sssp consumes the weights.
    cands, wedges = build_concurrently(
        spark,
        [
            lambda: dedup.minhash_lsh_candidates(
                corpus, "doc_id", "text", N_HASHES, BANDS
            ).localCheckpoint(),
            lambda: _weighted_order_graph(spark, sf).localCheckpoint(),
        ],
    )
    edges = wedges.select("src", "dst")
    seeds = (
        load_table(spark, sf, "customer")
        .filter(F.col("c_custkey") < 5)
        .select(F.col("c_custkey").cast("bigint").alias("node"))
    )

    # The seven graph families are INDEPENDENT given the two shared
    # checkpointed bases, but their iterative rounds execute as
    # blocking checkpoint jobs while each operator is being BUILT —
    # serial in gate-function order (measured solo at sf0.1: cluster
    # 3.1s, pagerank 3.5s, triangle 1.3s, overlap 0.9s, bfs 1.4s, sssp
    # 1.0s, kcore 1.3s ≈ the whole 10.5s gate wall). Build them from a
    # thread pool instead so the per-round jobs of different families
    # back-fill each other's stage tails (guide §2.6, the w01/s05
    # pattern). Per-family round order is unchanged (single-threaded
    # within a family), so results are identical.

    def _cluster() -> DataFrame:
        return clusters.dup_clusters(cands).select(
            F.lit("cluster").alias("part"),
            F.col("doc_id").cast("bigint").alias("node"),
            F.col("cluster_id").cast("bigint").alias("v1"),
            F.col("n_members").cast("bigint").alias("v2"),
        )

    def _pagerank() -> DataFrame:
        pr = graphs.pagerank(edges, iterations=_PR_ITERS, scale=_PR_SCALE)
        return pr.join(graphs.in_degrees(edges), "node").select(
            F.lit("pagerank").alias("part"),
            F.col("node").cast("bigint").alias("node"),
            F.col("rank").cast("bigint").alias("v1"),
            F.col("in_deg").cast("bigint").alias("v2"),
        )

    # triangle participation over the SAME near-dup candidate graph:
    # dup groups are near-cliques, so the counts discriminate structure
    def _triangle() -> DataFrame:
        return graphs.triangle_counts(cands).select(
            F.lit("triangle").alias("part"),
            F.col("node").cast("bigint").alias("node"),
            F.col("n_triangles").cast("bigint").alias("v1"),
            F.lit(None).cast("bigint").alias("v2"),
        )

    # neighborhood-overlap link scores over the SAME candidate graph
    # (operators/graphs.py): common-neighbor counts + degrees packed
    # into one exact bigint (20 bits each — jaccard is a pure function
    # of the three certified integers)
    def _overlap() -> DataFrame:
        return graphs.neighborhood_overlap(cands, "id_a", "id_b").select(
            F.lit("overlap").alias("part"),
            F.col("a").cast("bigint").alias("node"),
            F.col("b").cast("bigint").alias("v1"),
            (
                F.col("common") * F.lit(1 << 40)
                + F.col("deg_a") * F.lit(1 << 20)
                + F.col("deg_b")
            ).cast("bigint").alias("v2"),
        )

    # bounded-depth BFS from a seed customer set over the SAME trade
    # graph (operators/graphs.py): min hop distance within 3 hops
    def _bfs() -> DataFrame:
        return graphs.bfs_depths(edges, seeds, max_depth=3).select(
            F.lit("bfs").alias("part"),
            F.col("node").cast("bigint").alias("node"),
            F.col("depth").cast("bigint").alias("v1"),
            F.lit(None).cast("bigint").alias("v2"),
        )

    # bounded Bellman-Ford over the SAME trade graph, weighted by the
    # exact per-pair trade count (operators/graphs.py): min landed
    # cost within 3 weighted hops from the same seed customers
    def _sssp() -> DataFrame:
        return graphs.cheapest_paths_bounded(wedges, seeds, max_hops=3).select(
            F.lit("sssp").alias("part"),
            F.col("node").cast("bigint").alias("node"),
            F.col("cost").cast("bigint").alias("v1"),
            F.lit(None).cast("bigint").alias("v2"),
        )

    # k-core peel over the SAME trade graph (round 9, operators/
    # graphs.py): the dense-backbone extraction — k=8 cascades for 3
    # peel rounds on this graph at both test scales, so 4 fixed rounds
    # include one drained round certifying the fixpoint
    def _kcore() -> DataFrame:
        return graphs.kcore_membership(edges, k=8, rounds=4).select(
            F.lit("kcore").alias("part"),
            F.col("node").cast("bigint").alias("node"),
            F.col("deg_core").cast("bigint").alias("v1"),
            F.lit(None).cast("bigint").alias("v2"),
        )

    cl, prp, tri, no, bfs, sssp, kc = build_concurrently(
        spark, [_cluster, _pagerank, _triangle, _overlap, _bfs, _sssp, _kcore]
    )
    return (
        cl.unionByName(prp)
        .unionByName(tri)
        .unionByName(no)
        .unionByName(bfs)
        .unionByName(sssp)
        .unionByName(kc)
    )


def _c03_sql() -> str:
    from stepist_spark.queries.llm_text import (
        _CAND_JOIN_SQL,
        NEAR_DUP_CORPUS_SQL,
        _bands_sql,
        _minhash_sig_sql,
    )

    base = (100 - 85) * _PR_SCALE // 100
    # the k-core mirror is its own WITH chain; it nests as a FROM
    # subquery (own CTE scope — the outer RECURSIVE modifier does not
    # leak in) reading the outer g_edges CTE
    from stepist_spark.operators.graphs import kcore_membership_sql

    _kcore_inner = kcore_membership_sql("SELECT src, dst FROM g_edges", k=8, rounds=4)
    return f"""
WITH RECURSIVE {_minhash_sig_sql(NEAR_DUP_CORPUS_SQL, shingle_k=3)},
bands AS ({_bands_sql()}),
cands AS (SELECT DISTINCT a._id AS id_a, b._id AS id_b FROM {_CAND_JOIN_SQL}),
edges AS (
    SELECT DISTINCT src, dst FROM (
        SELECT id_a AS src, id_b AS dst FROM cands
        UNION ALL
        SELECT id_b, id_a FROM cands
    ) t
),
reach AS (
    SELECT src AS node, src AS r FROM edges
    UNION
    SELECT e.src AS node, w.r AS r FROM edges e JOIN reach w ON w.node = e.dst
),
comp AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
-- pagerank part: symmetrized customer<->supplier trade graph, 5 damped
-- iterations replayed with the SAME integer fixed-point update as
-- operators/graphs.py (rank DIV outdeg contributions; base + 85%//100)
g_pairs AS (
    SELECT DISTINCT o.o_custkey AS c, l.l_suppkey + {_SUPP_OFFSET} AS s
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey % 16 = 0
),
-- NOTE: inside WITH RECURSIVE, DuckDB parses any CTE whose body is a
-- top-level set operation as base-UNION-step recursion syntax (no
-- dedup, both terms appended) — wrap every union in a subquery
g_edges AS (
    SELECT src, dst FROM (
        SELECT c AS src, s AS dst FROM g_pairs
        UNION ALL
        SELECT s, c FROM g_pairs
    ) t
),
g_nodes AS (
    SELECT DISTINCT node FROM (
        SELECT src AS node FROM g_edges UNION ALL SELECT dst FROM g_edges
    ) t
),
g_deg AS (SELECT src AS node, count(*) AS outdeg FROM g_edges GROUP BY src),
g_aug AS (
    SELECT src, dst, is_real FROM (
        SELECT src, dst, TRUE AS is_real FROM g_edges
        UNION ALL
        SELECT node, node, FALSE FROM g_nodes
    ) t
),
g_pr(iter, node, rank) AS (
    SELECT 0, node, CAST({_PR_SCALE} AS BIGINT) FROM g_nodes
    UNION ALL
    SELECT g.iter0 + 1, g.node, CAST({base} + (85 * g.contrib) // 100 AS BIGINT)
    FROM (
        SELECT a.dst AS node, p.iter AS iter0,
               sum(CASE WHEN a.is_real THEN p.rank // d.outdeg ELSE 0 END) AS contrib
        FROM g_pr p
        JOIN g_aug a ON a.src = p.node
        LEFT JOIN g_deg d ON d.node = p.node
        WHERE p.iter < {_PR_ITERS}
        GROUP BY a.dst, p.iter
    ) g
),
g_ind AS (SELECT dst AS node, count(*) AS in_deg FROM g_edges GROUP BY dst),
-- triangle part over the SAME cands edge set (id_a < id_b canonical)
tri_ed AS (SELECT DISTINCT id_a AS a, id_b AS b FROM cands WHERE id_a <> id_b),
tri_t AS (
    SELECT e1.a AS x, e1.b AS y, e2.b AS z
    FROM tri_ed e1
    JOIN tri_ed e2 ON e2.a = e1.a AND e2.b > e1.b
    JOIN tri_ed e3 ON e3.a = e1.b AND e3.b = e2.b
),
tri_n AS (
    SELECT node, count(*) AS n FROM (
        SELECT x AS node FROM tri_t
        UNION ALL SELECT y FROM tri_t
        UNION ALL SELECT z FROM tri_t
    ) t GROUP BY node
),
-- neighborhood-overlap part over the same cands graph (wedge join on
-- the shared neighbor; unions wrapped per the WITH RECURSIVE gotcha)
no_e AS (
    SELECT DISTINCT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v
    FROM cands WHERE id_a <> id_b
),
no_adj AS (
    SELECT node, nbr FROM (
        SELECT u AS node, v AS nbr FROM no_e
        UNION ALL
        SELECT v, u FROM no_e
    ) t
),
no_deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM no_adj GROUP BY 1),
no_pairs AS (
    SELECT l.node AS a, r.node AS b, CAST(count(*) AS BIGINT) AS common
    FROM no_adj l JOIN no_adj r ON l.nbr = r.nbr AND l.node < r.node
    GROUP BY 1, 2
),
-- bounded-depth BFS over the same trade graph: UNION (not ALL) dedups
-- (node, depth) states so the cyclic graph cannot multiply paths
bfs_walk(node, depth) AS (
    SELECT c_custkey, 0 FROM customer WHERE c_custkey < 5
    UNION
    SELECT e.dst, w.depth + 1
    FROM bfs_walk w JOIN g_edges e ON e.src = w.node
    WHERE w.depth < 3
),
-- weighted twin: per-pair trade counts as edge weights; bounded
-- min-plus walk, min cost per node (UNION dedups repeated states)
gw_pairs AS (
    SELECT o.o_custkey AS c, l.l_suppkey + {_SUPP_OFFSET} AS s,
           CAST(count(*) AS BIGINT) AS w
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey % 16 = 0
    GROUP BY 1, 2
),
gw_edges AS (
    SELECT src, dst, w FROM (
        SELECT c AS src, s AS dst, w FROM gw_pairs
        UNION ALL
        SELECT s, c, w FROM gw_pairs
    ) t
),
sssp_walk(node, cost, hops) AS (
    SELECT c_custkey, CAST(0 AS BIGINT), 0 FROM customer WHERE c_custkey < 5
    UNION
    SELECT e.dst, wk.cost + e.w, wk.hops + 1
    FROM sssp_walk wk JOIN gw_edges e ON e.src = wk.node
    WHERE wk.hops < 3
)
SELECT 'cluster' AS part, node, cluster_id AS v1,
       count(*) OVER (PARTITION BY cluster_id) AS v2
FROM comp
UNION ALL
SELECT 'pagerank' AS part, p.node, p.rank AS v1,
       COALESCE(i.in_deg, 0) AS v2
FROM g_pr p LEFT JOIN g_ind i ON i.node = p.node
WHERE p.iter = {_PR_ITERS}
UNION ALL
SELECT 'triangle', node, n, CAST(NULL AS BIGINT) FROM tri_n
UNION ALL
SELECT 'overlap', p.a, p.b,
       p.common * {1 << 40} + da.deg * {1 << 20} + db.deg
FROM no_pairs p
JOIN no_deg da ON p.a = da.node
JOIN no_deg db ON p.b = db.node
UNION ALL
SELECT 'bfs', node, CAST(min(depth) AS BIGINT), CAST(NULL AS BIGINT)
FROM bfs_walk GROUP BY node
UNION ALL
SELECT 'sssp', node, CAST(min(cost) AS BIGINT), CAST(NULL AS BIGINT)
FROM sssp_walk GROUP BY node
UNION ALL
SELECT 'kcore', node, deg_core, CAST(NULL AS BIGINT)
FROM ({_kcore_inner}) kc
"""


C03_SQL = _c03_sql()


# Registry discipline (round-2, see queries/relational.py): m04 folded
# into m01 (both Arrow batch paths, joined), m03 into m02 (both JVM
# grid explodes, tag-unioned).
# --------------------------------------------------------------------------
# w01 — sink round-trip: run an oracle-gated aggregate, WRITE it through
# the batch writer (hive-partitioned parquet — the layout lever that
# buys partition pruning at 100 TB), read the files back, and gate THAT.
# A hash match certifies the write path end-to-end: schema preservation
# (bigints through parquet), partition-column round-trip, and the
# reader's directory-partition discovery — the reference's enqueue/
# dequeue pair (`stepist/flow/steps/step.py:125-145`,
# `stepist/flow/libs/simple_queue.py:49-60`) restated as files.
def _cdc_fixture(spark: SparkSession, sf: str):
    """Deterministic CDC fixture carved from orders: a target snapshot
    (every 10th key) plus a three-wave change stream (every 5th key at
    seq 1 with mixed I/U/D ops; every 15th key again at seq 2 as an
    update, TWICE with different payloads) — so the merge exercises
    upsert-of-existing, insert-of-new, delete, latest-wins override of
    a wave-1 delete, AND a same-seq/same-op tie that only the
    ``tie_cols`` contract resolves deterministically (round-4 ADVICE:
    the contract used to be promised but unimplemented)."""
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", F.ascii("o_orderstatus").alias("_st")
    )
    target = o.filter(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").cast("bigint").alias("ck"),
        F.col("_st").cast("bigint").alias("st"),
    )
    chg1 = o.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_custkey") + 7).cast("bigint").alias("ck"),
        (F.col("_st") + 1).cast("bigint").alias("st"),
        F.lit(1).alias("seq"),
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("D"))
        .when(F.col("o_orderkey") % 3 == 1, F.lit("U"))
        .otherwise(F.lit("I"))
        .alias("op"),
    )
    chg2 = o.filter(F.col("o_orderkey") % 15 == 0).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_custkey") + 13).cast("bigint").alias("ck"),
        (F.col("_st") + 2).cast("bigint").alias("st"),
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
    )
    # same keys, same seq, same op, different payload: a true tie that
    # tie_cols=["ck"] must resolve to the smaller ck (here the +11 row)
    chg3 = o.filter(F.col("o_orderkey") % 15 == 0).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_custkey") + 11).cast("bigint").alias("ck"),
        (F.col("_st") + 3).cast("bigint").alias("st"),
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
    )
    return target, chg1.unionByName(chg2).unionByName(chg3)


# w01 — sink/merge family, two tag-union parts:
#   'sink' — run an oracle-gated aggregate, WRITE it through the batch
#            writer (hive-partitioned parquet — the layout lever that
#            buys partition pruning at 100 TB), read the files back,
#            and gate THAT. A hash match certifies the write path
#            end-to-end: schema preservation (bigints through parquet),
#            partition-column round-trip, and directory-partition
#            discovery — the reference's enqueue/dequeue pair
#            (`stepist/flow/steps/step.py:125-145`,
#            `stepist/flow/libs/simple_queue.py:49-60`) restated as
#            files.
#   'cdc'  — apply_changes (operators/cdc.py): latest-wins MERGE of a
#            change stream into the snapshot; oracle mirrors with
#            row_number + anti-join + union.
#   'mv'   — incremental_agg: the per-status count/sum aggregate of the
#            target maintained by DELTA (pre-images out, post-images
#            in) — the oracle RE-AGGREGATES the merged snapshot from
#            scratch, so a hash match proves incremental == recompute.
#   'zorder' — Morton z-values (operators/layout.py) over
#            (customer, order-day) — the multi-dimensional clustering
#            key behind z-ordered file layout; pure integer bit
#            interleave, mirrored bit-for-bit by the oracle's
#            shift/mask fold.
def w01_sink_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    import os

    from stepist_spark.operators import cdc, layout
    from stepist_spark.queries.llm_text import t04_quality_by_source
    from stepist_spark.session import build_concurrently, scratch_dir
    from stepist_spark.sources import readers, writers

    # Round-11 optimization (guide §2.6 overlap-independent-jobs): the
    # gate's three filesystem side-effect stages — the partitioned
    # 'sink' write, the two 'evolve' generation writes, and the
    # 'compact' fragment write + rewrite — target DISJOINT directories
    # and share no lineage, so they run from a small thread pool and
    # back-fill executors freed by each other's write tails instead of
    # running back-to-back. (Job submission is thread-safe; results
    # are identical because each stage's reads happen after its own
    # writes, exactly as before.)
    out = t04_quality_by_source(spark, sf)
    path = os.path.join(scratch_dir(spark, "w01"), "sink")
    target, changes = _cdc_fixture(spark, sf)
    ev_dir = os.path.join(scratch_dir(spark, "w01"), "evolve")
    g1 = target.filter(F.col("k") % 20 == 0).select("k", "ck")
    g2 = target.filter(F.col("k") % 20 == 10).select("k", "ck", "st")
    frag_dir = os.path.join(scratch_dir(spark, "w01"), "compact")

    def _stage_sink() -> None:
        writers.write(out, path, fmt="parquet", mode="overwrite", partition_by="source")

    def _stage_evolve() -> None:
        # generation 2 appends to generation 1's directory — ordered
        # WITHIN the stage; overwrite-then-append stays idempotent
        # across bench reruns (overwrite clears the directory)
        g1.write.mode("overwrite").parquet(ev_dir)
        g2.write.mode("append").parquet(ev_dir)

    def _stage_compact() -> tuple[int, int]:
        load_table(spark, sf, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        ).repartition(16).write.mode("overwrite").parquet(frag_dir)
        return layout.compact_files(spark, frag_dir, target_mb=128)

    _, _, (n_before, n_after) = build_concurrently(
        spark, [_stage_sink, _stage_evolve, _stage_compact]
    )

    back = readers.read(spark, path, fmt="parquet")
    # partition columns come back LAST and (configurably) type-inferred;
    # re-select in canonical order with canonical types
    sink = back.select(
        F.lit("sink").alias("part"),
        F.col("source").cast("string").alias("k"),
        F.col("n_docs").cast("bigint").alias("v1"),
        F.col("sum_quality_scaled").cast("bigint").alias("v2"),
        F.col("min_quality_scaled").cast("bigint").alias("v3"),
    )
    merged = cdc.apply_changes(target, changes, ["k"], "seq", "op", tie_cols=["ck"])
    cdc_part = merged.select(
        F.lit("cdc").alias("part"),
        F.col("k").cast("string").alias("k"),
        F.col("ck").alias("v1"),
        F.col("st").alias("v2"),
        F.lit(None).cast("bigint").alias("v3"),
    )
    base_agg = target.groupBy("st").agg(
        F.count(F.lit(1)).alias("n"), F.sum("ck").alias("ck")
    )
    latest = cdc.latest_changes(changes, ["k"], "seq", "op", tie_cols=["ck"])
    removed = target.join(latest.select("k"), "k", "semi")
    added = latest.filter(F.col("op") != cdc.OP_DELETE).select("k", "ck", "st")
    mv_part = cdc.incremental_agg(
        base_agg, removed, added, ["st"], ["ck"], count_col="n"
    ).select(
        F.lit("mv").alias("part"),
        F.col("st").cast("string").alias("k"),
        F.col("n").alias("v1"),
        F.col("ck").alias("v2"),
        F.lit(None).cast("bigint").alias("v3"),
    )
    zsrc = load_table(spark, sf, "orders").filter(F.col("o_orderkey") % 101 == 0)
    zdate = F.month("o_orderdate") * 32 + F.dayofmonth("o_orderdate")
    z_part = zsrc.select(
        F.lit("zorder").alias("part"),
        F.col("o_orderkey").cast("string").alias("k"),
        layout.z_value([F.col("o_custkey"), zdate], bits=16).alias("v1"),
        F.lit(None).cast("bigint").alias("v2"),
        F.lit(None).cast("bigint").alias("v3"),
    )
    # 'scd2' — the SAME change stream as Type 2 version history
    # (cdc.scd2_history): validity intervals with delete-closed gaps
    # and the same-seq tie collapsed by tie_cols
    scd = cdc.scd2_history(changes, ["k"], "seq", "op", tie_cols=["ck"]).select(
        F.lit("scd2").alias("part"),
        F.col("k").cast("string").alias("k"),
        F.col("ck").alias("v1"),
        F.col("valid_from_seq").alias("v2"),
        F.col("valid_to_seq").alias("v3"),
    )
    # 'evolve' — SCHEMA EVOLUTION through the file sink: generation 1
    # writes (k, ck), generation 2 appends (k, ck, st) to the same
    # directory (written by _stage_evolve above); the mergeSchema read
    # reconciles both footers and g1 rows surface NULL for the
    # late-added column. Disjoint key slices keep the result
    # deterministic.
    evolved = spark.read.option("mergeSchema", "true").parquet(ev_dir)
    ev_part = evolved.select(
        F.lit("evolve").alias("part"),
        F.col("k").cast("string").alias("k"),
        F.col("ck").alias("v1"),
        F.col("st").alias("v2"),
        F.lit(None).cast("bigint").alias("v3"),
    )
    # 'compact'/'compactmeta' — small-file compaction certified through
    # the sink round-trip (round-6 verdict #7: the one tested-but-
    # ungated op): nation written as 16 deliberately-tiny files,
    # compact_files rewrites them into 1 and swaps it in, and BOTH the
    # row content after the swap (vs the oracle's direct table read)
    # and the before/after file counts are hash-gated.
    comp_part = readers.read(spark, frag_dir, fmt="parquet").select(
        F.lit("compact").alias("part"),
        F.col("n_name").cast("string").alias("k"),
        F.col("n_nationkey").cast("bigint").alias("v1"),
        F.col("n_regionkey").cast("bigint").alias("v2"),
        F.lit(None).cast("bigint").alias("v3"),
    )
    comp_meta = spark.createDataFrame(
        [("compactmeta", "files", n_before, n_after, None)],
        "part string, k string, v1 bigint, v2 bigint, v3 bigint",
    )
    return (
        sink.unionByName(cdc_part)
        .unionByName(mv_part)
        .unionByName(z_part)
        .unionByName(scd)
        .unionByName(ev_part)
        .unionByName(comp_part)
        .unionByName(comp_meta)
    )


def _w01_sql() -> str:
    from stepist_spark.operators.cdc import scd2_history_sql
    from stepist_spark.operators.layout import z_value_sql
    from stepist_spark.queries.llm_text import T04_SQL

    zv = z_value_sql(
        ["o_custkey", "(month(o_orderdate) * 32 + day(o_orderdate))"], 16
    )
    scd = scd2_history_sql("SELECT * FROM cdc_changes", ["k"], "seq", "op", ["ck"])
    return f"""
WITH sink AS ({T04_SQL}),
cdc_target AS (
    SELECT o_orderkey AS k, CAST(o_custkey AS BIGINT) AS ck,
           CAST(ascii(o_orderstatus) AS BIGINT) AS st
    FROM orders WHERE o_orderkey % 10 = 0
),
cdc_changes AS (
    SELECT o_orderkey AS k, CAST(o_custkey + 7 AS BIGINT) AS ck,
           CAST(ascii(o_orderstatus) + 1 AS BIGINT) AS st, 1 AS seq,
           CASE WHEN o_orderkey % 3 = 0 THEN 'D'
                WHEN o_orderkey % 3 = 1 THEN 'U' ELSE 'I' END AS op
    FROM orders WHERE o_orderkey % 5 = 0
    UNION ALL
    SELECT o_orderkey, CAST(o_custkey + 13 AS BIGINT),
           CAST(ascii(o_orderstatus) + 2 AS BIGINT), 2, 'U'
    FROM orders WHERE o_orderkey % 15 = 0
    UNION ALL
    -- same key/seq/op, different payload: the tie_cols=['ck'] witness
    SELECT o_orderkey, CAST(o_custkey + 11 AS BIGINT),
           CAST(ascii(o_orderstatus) + 3 AS BIGINT), 2, 'U'
    FROM orders WHERE o_orderkey % 15 = 0
),
cdc_latest AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY k
            ORDER BY seq DESC,
                     CASE op WHEN 'D' THEN 2 WHEN 'U' THEN 1 ELSE 0 END DESC,
                     ck ASC
        ) AS rn
        FROM cdc_changes
    ) WHERE rn = 1
),
cdc_merged AS (
    SELECT t.k, t.ck, t.st FROM cdc_target t
    LEFT JOIN cdc_latest ch ON ch.k = t.k WHERE ch.k IS NULL
    UNION ALL
    SELECT k, ck, st FROM cdc_latest WHERE op <> 'D'
)
SELECT 'sink' AS part, source AS k, n_docs AS v1,
       sum_quality_scaled AS v2, min_quality_scaled AS v3
FROM sink
UNION ALL
SELECT 'cdc' AS part, CAST(k AS VARCHAR) AS k, ck AS v1, st AS v2,
       CAST(NULL AS BIGINT) AS v3
FROM cdc_merged
UNION ALL
-- the 'mv' witness is the FULL RECOMPUTE over the merged snapshot:
-- matching it certifies the Spark side's delta maintenance exactly
SELECT 'mv' AS part, CAST(st AS VARCHAR) AS k, count(*) AS v1,
       CAST(sum(ck) AS BIGINT) AS v2, CAST(NULL AS BIGINT) AS v3
FROM cdc_merged GROUP BY st
UNION ALL
SELECT 'zorder' AS part, CAST(o_orderkey AS VARCHAR) AS k,
       CAST({zv} AS BIGINT) AS v1,
       CAST(NULL AS BIGINT) AS v2, CAST(NULL AS BIGINT) AS v3
FROM orders WHERE o_orderkey % 101 = 0
UNION ALL
SELECT 'scd2', CAST(k AS VARCHAR), ck, valid_from_seq, valid_to_seq
FROM ({scd})
UNION ALL
-- evolve part: g1 rows carry NULL for the late-added st column
SELECT 'evolve', CAST(k AS VARCHAR), ck, CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT)
FROM cdc_target WHERE k % 20 = 0
UNION ALL
SELECT 'evolve', CAST(k AS VARCHAR), ck, st, CAST(NULL AS BIGINT)
FROM cdc_target WHERE k % 20 = 10
UNION ALL
-- compaction preserves rows exactly; 16 tiny files become 1
SELECT 'compact', n_name, CAST(n_nationkey AS BIGINT),
       CAST(n_regionkey AS BIGINT), CAST(NULL AS BIGINT)
FROM nation
UNION ALL
SELECT 'compactmeta', 'files', 16, 1, CAST(NULL AS BIGINT)
"""


W01_SQL = _w01_sql()


# --------------------------------------------------------------------------
# w02 — wire-envelope round-trip: serialize orders rows into the
# reference's queue envelope ({'data': {'flow_data':..., 'meta_data':
# ...}}, `stepist/flow/steps/step.py:18-22`) as kafka-shaped (key,
# value) JSON columns, parse them back, and recover the _meta session
# struct. The oracle is the plain projection — a hash match proves the
# envelope codec is lossless, including bigint/double/timestamp
# fidelity through JSON and meta propagation.
def w02_envelope_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.pipeline import meta_value, with_meta
    from stepist_spark.sources import from_envelope, to_envelope

    orders = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_orderkey") % 50 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.col("o_orderdate").cast("string").alias("o_date"),
        )
    )
    tagged = with_meta(orders, hub_job_id="w02", attempt=1)
    wire = to_envelope(tagged, key_col="o_orderkey")
    back = from_envelope(
        wire,
        "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, o_date STRING",
        meta_schema="hub_job_id STRING, attempt INT",
    )
    env = back.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        "o_date",
        meta_value(back, "hub_job_id").alias("job_id"),
    )
    # TEXT-SOURCE round-trips (round 5): the same slice through the
    # jsonl and csv writer/reader paths, read back under an EXPLICIT
    # schema (inference would come back long/decimal-ish); a hash match
    # certifies numeric fidelity through both text codecs (Spark writes
    # round-trippable shortest-repr doubles). job_id doubles as the
    # part discriminator
    import os as _os

    from stepist_spark.session import scratch_dir
    from stepist_spark.sources import readers, writers

    base = orders
    schema = "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, o_date STRING"
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_date"]
    jdir = _os.path.join(scratch_dir(spark, "w02"), "jsonl")
    cdir = _os.path.join(scratch_dir(spark, "w02"), "csv")
    writers.write(base, jdir, fmt="json", mode="overwrite")
    writers.write(base, cdir, fmt="csv", mode="overwrite", header="true")
    jback = readers.read(spark, jdir, fmt="json", schema=schema).select(
        *cols, F.lit("jsonl").alias("job_id")
    )
    cback = readers.read(spark, cdir, fmt="csv", schema=schema, header="true").select(
        *cols, F.lit("csv").alias("job_id")
    )
    # ORC round-trip (round 6): the same slice through the columnar
    # ORC writer/reader (Spark-native). The oracle has no ORC reader —
    # the hash gate works because the values must survive the ORC
    # codec and STILL equal DuckDB's direct parquet view of the same
    # slice: a real cross-format fidelity certification
    odir = _os.path.join(scratch_dir(spark, "w02"), "orc")
    writers.write(base, odir, fmt="orc", mode="overwrite")
    oback = readers.read(spark, odir, fmt="orc", schema=schema).select(
        *cols, F.lit("orc").alias("job_id")
    )
    # fixed-width round-trip (round 6): the mainframe/COBOL-feed text
    # layout — money carried as exact integer cents (doubles don't
    # belong in a fixed-width lane); the read-back re-derives the
    # double via one division, mirrored in the oracle
    from stepist_spark.sources import read_fixed_width, write_fixed_width

    fdir = _os.path.join(scratch_dir(spark, "w02"), "fw")
    fw_src = base.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("o_cents"),
        "o_date",
    )
    write_fixed_width(
        fw_src, fdir, [("o_orderkey", 12), ("o_custkey", 12), ("o_cents", 14), ("o_date", 19)]
    )
    fback = read_fixed_width(
        spark,
        fdir,
        [
            ("o_orderkey", 12, "bigint"),
            ("o_custkey", 12, "bigint"),
            ("o_cents", 14, "bigint"),
            ("o_date", 19, "string"),
        ],
    ).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_cents").cast("double") / F.lit(100.0)).alias("o_totalprice"),
        "o_date",
        F.lit("fw").alias("job_id"),
    )
    return (
        env.unionByName(jback)
        .unionByName(cback)
        .unionByName(oback)
        .unionByName(fback)
    )


W02_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice,
       CAST(o_orderdate AS VARCHAR) AS o_date, 'w02' AS job_id
FROM orders WHERE o_orderkey % 50 = 0
UNION ALL
SELECT o_orderkey, o_custkey, o_totalprice,
       CAST(o_orderdate AS VARCHAR), 'jsonl'
FROM orders WHERE o_orderkey % 50 = 0
UNION ALL
SELECT o_orderkey, o_custkey, o_totalprice,
       CAST(o_orderdate AS VARCHAR), 'csv'
FROM orders WHERE o_orderkey % 50 = 0
UNION ALL
SELECT o_orderkey, o_custkey, o_totalprice,
       CAST(o_orderdate AS VARCHAR), 'orc'
FROM orders WHERE o_orderkey % 50 = 0
UNION ALL
SELECT o_orderkey, o_custkey,
       CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DOUBLE) / 100.0,
       CAST(o_orderdate AS VARCHAR), 'fw'
FROM orders WHERE o_orderkey % 50 = 0
"""


QUERIES = [
    QuerySpec("p01_hub_branch_union", p01_hub_branch_union, P01_SQL, "Pipeline Step -> Hub fan-out -> unionByName merge"),
    QuerySpec("p02_flow_metrics", p02_flow_metrics, P02_SQL, "observe() step counters + save_result capture + StopFlowFlag"),
    QuerySpec("w01_sink_roundtrip", w01_sink_roundtrip, W01_SQL, "partitioned parquet sink write -> read-back round-trip + small-file compaction (row preservation and file counts gated)"),
    QuerySpec("w02_envelope_roundtrip", w02_envelope_roundtrip, W02_SQL, "wire-envelope JSON codec + jsonl/csv/orc/fixed-width round-trips"),
    QuerySpec("m01_media_features", m01_media_features, M01_SQL, "Arrow mapInPandas media features + resize plumbing"),
    QuerySpec("m02_sampling_grids", m02_sampling_grids, M02_SQL, "video frame + audio hop/window grids (JVM explode)"),
    QuerySpec("s01_streaming_hourly", s01_streaming_hourly, S01_SQL, "streaming runtime end-to-end + watermark late-data drop + stream-static broadcast enrichment"),
    QuerySpec("r01_reducer_barrier", r01_reducer_barrier, R01_SQL, "ReducerStep barrier + Arrow-batched reduce"),
    QuerySpec("c01_curation_pipeline", c01_curation_pipeline, C01_SQL, "dedup -> quality gate -> embedding join -> LSH bucket"),
    QuerySpec("c02_knn_label_vote", c02_knn_label_vote, C02_SQL, "kNN majority label vote over exact top-5"),
    QuerySpec("c03_dup_clusters", c03_dup_clusters, C03_SQL, "LSH pairs -> connected-component dup clusters"),
    QuerySpec("q36_salted_agg", q36_salted_agg, Q36_SQL, "salted two-phase agg == plain GROUP BY"),
]
