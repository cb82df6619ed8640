"""Multimodal feature extraction over binary payloads derived from the
``documents`` table: byte statistics, image decode, audio, frame
sampling, resize and perceptual-hash near-dup.

Each query's DuckDB oracle is the ``ORACLES`` entry right after it.
The payloads are deterministic functions of the ASCII corpus, so the
oracles recompute the decoded statistics exactly from the text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.catalog import load_table
from ecommerce_realtime_pipeline_spark.operators import multimodal as MM

#: query name -> DuckDB oracle SQL, one entry per query of this module
ORACLES: dict[str, str] = {}


def mm_feature_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction (Arrow mapInPandas) rolled up
    per source. Oracle-checked: the payload is the UTF-8 encoding of an
    all-ASCII corpus, so DuckDB reproduces the byte statistics exactly
    from per-char codepoints (byte == codepoint for ASCII); the oracle
    therefore value-gates the whole Pandas pass, not just its shape."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.feature_summary(docs)


# The multimodal payload is encode(text,'UTF-8') over an all-ASCII
# corpus (asserted in tests), so byte value == unicode codepoint and
# the Arrow mapInPandas byte statistics are exactly reproducible in
# SQL. avg_mean_byte mirrors Spark's DECIMAL(20,10) accumulation of
# per-doc double means, rounding identically.
ORACLES["mm_feature_summary"] = """
    WITH ch AS (
        SELECT doc_id, unicode(unnest(string_split(text, ''))) AS cp
        FROM documents
    ),
    feats AS (
        SELECT doc_id, count(*) AS n_bytes, SUM(cp) AS bsum,
               MAX(cp) AS max_cp
        FROM ch GROUP BY 1
    ),
    meta AS (
        SELECT doc_id, source, octet_length(encode(text)) AS meta_bytes
        FROM documents
    )
    SELECT m.source,
           count(*) AS n_items,
           CAST(SUM(f.n_bytes) AS BIGINT) AS total_bytes,
           ROUND(CAST(SUM(CAST(CAST(f.bsum AS DOUBLE) / f.n_bytes
                                AS DECIMAL(20,10))) AS DOUBLE)
                 / count(*), 4) AS avg_mean_byte,
           MAX(f.max_cp) AS max_byte,
           CAST(SUM(CASE WHEN f.n_bytes <> m.meta_bytes THEN 1 ELSE 0 END)
                AS BIGINT) AS n_meta_mismatch
    FROM meta m JOIN feats f USING (doc_id)
    GROUP BY 1
    ORDER BY 1
"""


def mm_decode_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode round-trip: synthesize a PPM (even ids) or BMP
    (odd ids) payload per doc with md5-derived pixels, decode it with
    the pure-Python codecs (header parse, BMP bottom-up row order +
    4-byte padding), and roll up decoded shape + pixel stats per
    format. Oracle-checked: pixels are ASCII md5 hex bytes, so DuckDB
    recomputes the exact stream (string_agg of md5 blocks → unicode()
    per char) without ever seeing the binary — the decode path is
    value-gated end to end, not shape-checked.

    Scale: two 1:1 Arrow passes + one tiny groupBy(format); at 100 TB
    the encode pass disappears (payloads come from parquet binary) and
    decode remains a single mapInPandas over pruned columns."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.synthesize_media(docs)
    feats = MM.decode_features(media)
    per_doc_mean = (F.col("px_sum").cast("double") / (F.col("n_px") * 3)).cast(
        "decimal(20,10)"
    )
    return (
        feats.groupBy("format")
        .agg(
            F.count("*").alias("n_images"),
            F.sum("n_px").cast("long").alias("total_pixels"),
            (F.sum("n_px") * 3).cast("long").alias("total_bytes"),
            F.round(
                F.sum(per_doc_mean).cast("double") / F.count("*"), 4
            ).alias("avg_mean_px"),
            F.max("max_px").alias("max_px"),
            F.min("min_px").alias("min_px"),
        )
        .orderBy("format")
    )


# mm_decode_image_stats: the synthetic pixel stream is the ASCII bytes
# of md5("{doc_id}:{block}") hex blocks (32 chars each) truncated to
# w*h*3; dims/format are pure functions of doc_id (synth_dims). The
# oracle rebuilds the identical stream in SQL and aggregates the same
# integer pixel stats the Spark decode pass extracts from the decoded
# raster — so a codec bug (row order, padding, BGR swap dropping/
# duplicating bytes, header off-by-one) breaks the hash match.
ORACLES["mm_decode_image_stats"] = """
    WITH need AS (
        SELECT doc_id,
               4 + doc_id % 5 AS w,
               4 + doc_id % 3 AS h,
               CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS fmt,
               (4 + doc_id % 5) * (4 + doc_id % 3) * 3 AS n
        FROM documents
    ),
    blk AS (
        SELECT doc_id, unnest(range(CAST(CEIL(n / 32.0) AS BIGINT))) AS b
        FROM need
    ),
    stream AS (
        SELECT n.doc_id,
               any_value(n.w) AS w, any_value(n.h) AS h,
               any_value(n.fmt) AS fmt,
               substr(string_agg(md5(n.doc_id || ':' || blk.b), ''
                                 ORDER BY blk.b),
                      1, any_value(n.n)) AS s
        FROM need n JOIN blk USING (doc_id)
        GROUP BY n.doc_id
    ),
    px AS (
        SELECT doc_id, unicode(unnest(string_split(s, ''))) AS px
        FROM stream
    ),
    perdoc AS (
        SELECT p.doc_id,
               any_value(s.fmt) AS fmt,
               any_value(s.w * s.h) AS n_px,
               count(*) AS nb,
               SUM(p.px) AS psum,
               MAX(p.px) AS pmax,
               MIN(p.px) AS pmin
        FROM px p JOIN stream s USING (doc_id)
        GROUP BY p.doc_id
    )
    SELECT fmt AS format,
           count(*) AS n_images,
           CAST(SUM(n_px) AS BIGINT) AS total_pixels,
           CAST(SUM(nb) AS BIGINT) AS total_bytes,
           ROUND(CAST(SUM(CAST(CAST(psum AS DOUBLE) / nb
                                AS DECIMAL(20,10))) AS DOUBLE)
                 / count(*), 4) AS avg_mean_px,
           MAX(pmax) AS max_px,
           MIN(pmin) AS min_px
    FROM perdoc
    GROUP BY 1
    ORDER BY 1
"""


def mm_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling pass value-gated: treat each payload as 16-byte
    frames, sample ≤4 evenly-strided frames per doc (the video-demux
    fan-out shape), and aggregate count/bytes/content checksum per
    source frame index. Oracle-checked: payloads are the ASCII corpus
    bytes, so DuckDB recomputes the stride arithmetic AND the exact
    frame byte sums from substr/unicode — a wrong stride, boundary, or
    byte slice breaks the hash, not just the row count."""
    docs = load_table(spark, sf_dir, "documents")
    frames = MM.sample_frames(MM.attach_binary(docs))
    return (
        frames.groupBy("frame_idx")
        .agg(
            F.count("*").alias("n_frames"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            F.sum("byte_sum").cast("long").alias("sum_content"),
        )
        .orderBy("frame_idx")
    )


# mm_frame_stats: the frame sampler's stride math (total = L//16,
# take = min(4, total), fi = int(j * total/take)) and the exact frame
# byte content are both recomputed in SQL from the ASCII corpus —
# unicode(substr(...)) per in-frame position reproduces the Pandas
# byte slice bit-for-bit.
ORACLES["mm_frame_stats"] = """
    WITH d AS (
        SELECT doc_id, text, octet_length(encode(text)) AS L,
               greatest(1, octet_length(encode(text)) // 16) AS total
        FROM documents WHERE octet_length(encode(text)) > 0
    ),
    par AS (
        SELECT doc_id, text, L, total, least(4, total) AS take FROM d
    ),
    j AS (
        SELECT doc_id, text, L, total, take,
               unnest(range(take)) AS jj
        FROM par
    ),
    fr AS (
        SELECT doc_id, text, L,
               CAST(floor(jj * (CAST(total AS DOUBLE) / take)) AS INT) AS fi
        FROM j
    ),
    nb AS (
        SELECT doc_id, text, fi, least(16, L - fi * 16) AS nbytes FROM fr
    ),
    pos AS (
        SELECT doc_id, fi, nbytes, text,
               fi * 16 + unnest(range(nbytes)) AS o
        FROM nb
    ),
    bs AS (
        SELECT doc_id, fi, any_value(nbytes) AS nbytes,
               SUM(unicode(substr(text, CAST(o AS INT) + 1, 1))) AS bsum
        FROM pos GROUP BY doc_id, fi
    )
    SELECT fi AS frame_idx,
           count(*) AS n_frames,
           CAST(SUM(nbytes) AS BIGINT) AS total_bytes,
           CAST(SUM(bsum) AS BIGINT) AS sum_content
    FROM bs GROUP BY 1 ORDER BY 1
"""


def mm_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode round-trip: synthesize a PCM WAV per doc
    (mono/stereo + sample rate by id parity, signed-int16 samples from
    md5 DIGEST bytes — high bytes ≥ 0x80 exercise the sign path),
    decode with the RIFF chunk-walking parser, and roll up exact
    sample statistics per channel layout. The oracle rebuilds each
    digest byte from its two hex chars (strpos arithmetic) and the
    int16 little-endian reassembly in SQL — value-gating the audio
    codec end to end."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.synthesize_audio(docs)
    feats = MM.decode_audio_features(media)
    per_doc_mean = (
        F.col("sample_sum").cast("double")
        / (F.col("n_frames") * F.col("channels"))
    ).cast("decimal(20,10)")
    return (
        feats.groupBy("channels")
        .agg(
            F.first("sample_rate").alias("sample_rate"),
            F.count("*").alias("n_clips"),
            F.sum("n_frames").cast("long").alias("total_frames"),
            F.round(
                F.sum(per_doc_mean).cast("double") / F.count("*"), 4
            ).alias("avg_mean_sample"),
            F.max("max_sample").alias("max_sample"),
            F.min("min_sample").alias("min_sample"),
        )
        .orderBy("channels")
    )


# mm_audio_stats: sample bytes are md5 DIGESTS (raw 0..255), so the
# oracle parses each byte from its two hex chars (strpos arithmetic),
# reassembles little-endian int16 (lo + 256·hi, two's complement via
# raw≥32768 → raw−65536), and aggregates the same exact integer stats
# the WAV decoder extracts.
ORACLES["mm_audio_stats"] = """
    WITH dims AS (
        SELECT doc_id,
               1 + doc_id % 2 AS ch,
               8000 * (1 + doc_id % 2) AS rate,
               20 + doc_id % 13 AS frames,
               (1 + doc_id % 2) * (20 + doc_id % 13) * 2 AS nbytes
        FROM documents
    ),
    blk AS (
        SELECT doc_id,
               unnest(range(CAST(CEIL(nbytes / 16.0) AS BIGINT))) AS b
        FROM dims
    ),
    hexs AS (
        SELECT doc_id, b, md5(doc_id || ':' || b) AS hx FROM blk
    ),
    bytes AS (
        SELECT h.doc_id, 16 * h.b + j.j AS idx,
               (strpos('0123456789abcdef',
                       substr(h.hx, CAST(2 * j.j + 1 AS INT), 1)) - 1) * 16
               + (strpos('0123456789abcdef',
                         substr(h.hx, CAST(2 * j.j + 2 AS INT), 1)) - 1)
                   AS bv
        FROM hexs h, (SELECT unnest(range(16)) AS j) j
    ),
    samp AS (
        SELECT lo.doc_id, lo.bv + 256 * hi.bv AS raw
        FROM bytes lo
        JOIN bytes hi ON lo.doc_id = hi.doc_id AND hi.idx = lo.idx + 1
        JOIN dims d ON d.doc_id = lo.doc_id
        WHERE lo.idx % 2 = 0 AND lo.idx < d.nbytes
    ),
    sval AS (
        SELECT doc_id,
               CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
        FROM samp
    ),
    perdoc AS (
        SELECT s.doc_id,
               any_value(d.ch) AS ch, any_value(d.rate) AS rate,
               any_value(d.frames) AS frames,
               count(*) AS ns, SUM(v) AS sv, MAX(v) AS mx, MIN(v) AS mn
        FROM sval s JOIN dims d USING (doc_id)
        GROUP BY 1
    )
    SELECT CAST(ch AS INT) AS channels,
           CAST(any_value(rate) AS INT) AS sample_rate,
           count(*) AS n_clips,
           CAST(SUM(frames) AS BIGINT) AS total_frames,
           ROUND(CAST(SUM(CAST(CAST(sv AS DOUBLE) / ns
                                AS DECIMAL(20,10))) AS DOUBLE)
                 / count(*), 4) AS avg_mean_sample,
           MAX(mx) AS max_sample,
           MIN(mn) AS min_sample
    FROM perdoc
    GROUP BY ch
    ORDER BY channels
"""


def mm_audio_decimate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio transform round-trip — the audio twin of
    `mm_resize_stats`: synthesize WAVs, decimate by 2 (keep even
    frames, halve the rate), decode AGAIN, roll up exact sample stats
    per channel layout. The oracle selects exactly the even-frame
    int16 samples out of the md5 digest stream — a wrong frame
    stride, channel interleave, or re-encode header breaks the hash.
    Exercises decode→transform→encode→decode for the audio codec."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.decimate_audio(MM.synthesize_audio(docs), 2)
    feats = MM.decode_audio_features(media)
    per_doc_mean = (
        F.col("sample_sum").cast("double")
        / (F.col("n_frames") * F.col("channels"))
    ).cast("decimal(20,10)")
    return (
        feats.groupBy("channels")
        .agg(
            F.first("sample_rate").alias("sample_rate"),
            F.count("*").alias("n_clips"),
            F.sum("n_frames").cast("long").alias("total_frames"),
            F.round(
                F.sum(per_doc_mean).cast("double") / F.count("*"), 4
            ).alias("avg_mean_sample"),
            F.max("max_sample").alias("max_sample"),
            F.min("min_sample").alias("min_sample"),
        )
        .orderBy("channels")
    )


# mm_audio_decimate_stats: the mm_audio_stats stream selection with
# the even-frame filter (frame = byte_idx//2//ch), kept-frame counts,
# and the halved rate — value-gating the decimate→encode→decode chain.
ORACLES["mm_audio_decimate_stats"] = """
    WITH dims AS (
        SELECT doc_id,
               1 + doc_id % 2 AS ch,
               8000 * (1 + doc_id % 2) AS rate,
               20 + doc_id % 13 AS frames,
               (20 + doc_id % 13 + 1) // 2 AS kept,
               (1 + doc_id % 2) * (20 + doc_id % 13) * 2 AS nbytes
        FROM documents
    ),
    blk AS (
        SELECT doc_id,
               unnest(range(CAST(CEIL(nbytes / 16.0) AS BIGINT))) AS b
        FROM dims
    ),
    hexs AS (
        SELECT doc_id, b, md5(doc_id || ':' || b) AS hx FROM blk
    ),
    bytes AS (
        SELECT h.doc_id, 16 * h.b + j.j AS idx,
               (strpos('0123456789abcdef',
                       substr(h.hx, CAST(2 * j.j + 1 AS INT), 1)) - 1) * 16
               + (strpos('0123456789abcdef',
                         substr(h.hx, CAST(2 * j.j + 2 AS INT), 1)) - 1)
                   AS bv
        FROM hexs h, (SELECT unnest(range(16)) AS j) j
    ),
    samp AS (
        SELECT lo.doc_id, lo.bv + 256 * hi.bv AS raw
        FROM bytes lo
        JOIN bytes hi ON lo.doc_id = hi.doc_id AND hi.idx = lo.idx + 1
        JOIN dims d ON d.doc_id = lo.doc_id
        WHERE lo.idx % 2 = 0 AND lo.idx < d.nbytes
          AND ((lo.idx // 2) // d.ch) % 2 = 0
    ),
    sval AS (
        SELECT doc_id,
               CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
        FROM samp
    ),
    perdoc AS (
        SELECT s.doc_id,
               any_value(d.ch) AS ch, any_value(d.rate) AS rate,
               any_value(d.kept) AS kept,
               count(*) AS ns, SUM(v) AS sv, MAX(v) AS mx, MIN(v) AS mn
        FROM sval s JOIN dims d USING (doc_id)
        GROUP BY 1
    )
    SELECT CAST(ch AS INT) AS channels,
           CAST(any_value(rate) // 2 AS INT) AS sample_rate,
           count(*) AS n_clips,
           CAST(SUM(kept) AS BIGINT) AS total_frames,
           ROUND(CAST(SUM(CAST(CAST(sv AS DOUBLE) / ns
                                AS DECIMAL(20,10))) AS DOUBLE)
                 / count(*), 4) AS avg_mean_sample,
           MAX(mx) AS max_sample,
           MIN(mn) AS min_sample
    FROM perdoc
    GROUP BY ch
    ORDER BY channels
"""


def mm_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize round-trip: synthesize PPM/BMP payloads, decode,
    nearest-neighbor resample to 4×4 (integer sample grid:
    src = (r·h//4, c·w//4)), re-encode as PPM, decode AGAIN, and roll
    up the resampled pixel stats per source format. The oracle picks
    the identical sample positions out of the md5 pixel stream in SQL
    — a wrong resample grid, row order, or re-encode breaks the hash.
    Exercises decode→transform→encode→decode, i.e. every codec path
    twice."""
    docs = load_table(spark, sf_dir, "documents")
    resized = MM.resize_image(MM.synthesize_media(docs), 4, 4)
    feats = MM.decode_features(resized)
    src_fmt = F.when(F.col("doc_id") % 2 == 0, F.lit("ppm")).otherwise(F.lit("bmp"))
    per_doc_mean = (F.col("px_sum").cast("double") / (F.col("n_px") * 3)).cast(
        "decimal(20,10)"
    )
    return (
        feats.withColumn("src_format", src_fmt)
        .groupBy("src_format")
        .agg(
            F.count("*").alias("n_images"),
            F.round(
                F.sum(per_doc_mean).cast("double") / F.count("*"), 4
            ).alias("avg_mean_px"),
            F.max("max_px").alias("max_px"),
            F.min("min_px").alias("min_px"),
        )
        .orderBy("src_format")
    )


# mm_resize_stats: the 4×4 nearest-neighbor grid is integer-exact —
# output pixel (r,c,ch) samples stream char ((r·h//4)·w + c·w//4)·3
# + ch + 1 — so the oracle reads the same md5-hex bytes the resized
# raster carries after the decode→resize→encode→decode round-trip.
ORACLES["mm_resize_stats"] = """
    WITH need AS (
        SELECT doc_id,
               4 + doc_id % 5 AS w,
               4 + doc_id % 3 AS h,
               CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS fmt,
               (4 + doc_id % 5) * (4 + doc_id % 3) * 3 AS n
        FROM documents
    ),
    blk AS (
        SELECT doc_id, unnest(range(CAST(CEIL(n / 32.0) AS BIGINT))) AS b
        FROM need
    ),
    stream AS (
        SELECT n.doc_id,
               any_value(n.w) AS w, any_value(n.h) AS h,
               any_value(n.fmt) AS fmt,
               substr(string_agg(md5(n.doc_id || ':' || blk.b), ''
                                 ORDER BY blk.b),
                      1, any_value(n.n)) AS s
        FROM need n JOIN blk USING (doc_id)
        GROUP BY n.doc_id
    ),
    rc AS (SELECT *, unnest(range(4)) AS r FROM stream),
    rcc AS (SELECT *, unnest(range(4)) AS c FROM rc),
    pix AS (SELECT *, unnest(range(3)) AS ch FROM rcc),
    val AS (
        SELECT doc_id, fmt,
               unicode(substr(s,
                   CAST(((r * h // 4) * w + (c * w // 4)) * 3 + ch + 1
                        AS INT), 1)) AS px
        FROM pix
    ),
    perdoc AS (
        SELECT doc_id, any_value(fmt) AS fmt, count(*) AS nb,
               SUM(px) AS psum, MAX(px) AS pmax, MIN(px) AS pmin
        FROM val GROUP BY 1
    )
    SELECT fmt AS src_format,
           count(*) AS n_images,
           ROUND(CAST(SUM(CAST(CAST(psum AS DOUBLE) / nb
                                AS DECIMAL(20,10))) AS DOUBLE)
                 / count(*), 4) AS avg_mean_px,
           MAX(pmax) AS max_px,
           MIN(pmin) AS min_px
    FROM perdoc
    GROUP BY 1
    ORDER BY 1
"""


def mm_image_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-duplicate detection: perceptual average-hash (decode
    → integer 8×8 resample → gray → threshold-at-mean, 64 bits) over a
    corpus with planted slightly-brightened replicas
    (`multimodal.synthesize_media_with_replicas`), candidates from an
    8-byte-band LSH equi-join (lossless for Hamming ≤ 7 by
    pigeonhole), exact Hamming verify ≤ 7. Pair members usually cross
    the PPM/BMP codec boundary, so a match proves CONTENT equality
    through two different real decoders — the multimodal analogue of
    SimHash text dedup.

    Scale: ONE Arrow decode+hash pass, checkpointed (hash table is
    |corpus| × 20 bytes); candidates are a band equi-join (≈
    |corpus|²/256 per band worst-case on random images, linear on
    real ones); verify is integer xor+popcount on the bounded
    candidate set. The oracle replays stream→resample→hash in SQL and
    brute-forces all pairs (sf0.01 corpus is 500 images)."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.synthesize_media_with_replicas(docs)
    hashes = MM.image_ahash64(media).localCheckpoint(eager=True)
    bands = hashes.select(
        "doc_id", F.posexplode("bands").alias("band", "val")
    )
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "val")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "val")
    cand = (
        a.join(b, ["band", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    ha = hashes.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hash_hi").alias("_hi_a"),
        F.col("hash_lo").alias("_lo_a"),
    )
    hb = hashes.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hash_hi").alias("_hi_b"),
        F.col("hash_lo").alias("_lo_b"),
    )
    ham = (
        F.bit_count(F.col("_hi_a").bitwiseXOR(F.col("_hi_b")))
        + F.bit_count(F.col("_lo_a").bitwiseXOR(F.col("_lo_b")))
    ).cast("int")
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= 7)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


ORACLES["mm_image_ahash_neardup"] = """
    WITH need AS (
        SELECT doc_id,
               CASE WHEN doc_id % 10 = 1 THEN doc_id - 1 ELSE doc_id END AS ck,
               doc_id % 10 = 1 AS is_rep
        FROM documents
    ),
    dims AS (
        SELECT doc_id, ck, is_rep,
               4 + ck % 5 AS w, 4 + ck % 3 AS h,
               (4 + ck % 5) * (4 + ck % 3) * 3 AS n
        FROM need
    ),
    blk AS (
        SELECT doc_id, unnest(range(CAST(CEIL(n / 32.0) AS BIGINT))) AS b
        FROM dims
    ),
    stream AS (
        SELECT d.doc_id,
               any_value(d.w) AS w, any_value(d.h) AS h,
               any_value(d.is_rep) AS is_rep,
               substr(string_agg(md5(d.ck || ':' || blk.b), ''
                                 ORDER BY blk.b),
                      1, any_value(d.n)) AS s
        FROM dims d JOIN blk USING (doc_id)
        GROUP BY d.doc_id
    ),
    -- 8x8 nearest-neighbor sample grid: output pixel i reads source
    -- pixel (sy, sx) = ((i//8)*h//8, (i%8)*w//8); 0-based byte
    -- position si = (sy*w+sx)*3; replica bytes at p % 5 = 0 get +9
    px AS (
        SELECT doc_id, i,
               (((i // 8) * h // 8) * w + (i % 8) * w // 8) * 3 AS si
        FROM stream, unnest(range(64)) AS t(i)
    ),
    gray AS (
        SELECT p.doc_id, p.i,
               ((unicode(substr(s.s, p.si + 1, 1))
                 + CASE WHEN s.is_rep AND p.si % 5 = 0 THEN 9 ELSE 0 END)
              + (unicode(substr(s.s, p.si + 2, 1))
                 + CASE WHEN s.is_rep AND (p.si + 1) % 5 = 0 THEN 9 ELSE 0 END)
              + (unicode(substr(s.s, p.si + 3, 1))
                 + CASE WHEN s.is_rep AND (p.si + 2) % 5 = 0 THEN 9 ELSE 0 END)
               ) // 3 AS g
        FROM px p JOIN stream s USING (doc_id)
    ),
    bits AS (
        SELECT doc_id, i,
               CASE WHEN g > SUM(g) OVER (PARTITION BY doc_id) // 64
                    THEN 1 ELSE 0 END AS bit
        FROM gray
    ),
    hashes AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN i < 32 THEN CAST(bit AS BIGINT) << i
                             ELSE 0 END) AS BIGINT) AS lo,
               CAST(SUM(CASE WHEN i >= 32 THEN CAST(bit AS BIGINT) << (i - 32)
                             ELSE 0 END) AS BIGINT) AS hi
        FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
                AS INTEGER) AS hamming
    FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 7
    ORDER BY 1, 2
"""
