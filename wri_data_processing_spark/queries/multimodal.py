"""Multimodal column queries (L5) over the synthesized media table.

media_from_documents derives a deterministic binary table from documents
(text bytes as payload), so the binary plumbing is oracle-checkable where
the logic is length-arithmetic, and rows-only where it crosses the decoder
stub.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wri_data_processing_spark.catalog import table
from wri_data_processing_spark.operators.multimodal import (
    extract_features,
    frame_sample,
    media_from_documents,
)
from wri_data_processing_spark.operators.row_map import map_rows
from wri_data_processing_spark.registry import query

_TYPE_SQL = """
  CASE CAST(doc_id % 3 AS INTEGER)
    WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav' ELSE 'video/mp4'
  END
"""


@query(
    "multimodal_meta",
    oracle=f"""
    SELECT doc_id AS media_id, {_TYPE_SQL} AS media_type,
           CAST(length(text) AS BIGINT) AS n_bytes,
           CAST(doc_id % 640 + 1 AS INTEGER) AS width,
           CAST(doc_id % 480 + 1 AS INTEGER) AS height,
           n_chars / 100.0 AS duration_s
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata beside the opaque payload (documents are ASCII, so
    byte length == char length and the oracle is pure SQL)."""
    m = media_from_documents(table(spark, sf_dir, "documents"))
    return m.select(
        "media_id",
        "media_type",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.duration_s").alias("duration_s"),
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id AS media_id,
           least((length(text) - 1) // 64 + 1, 16) AS n_frames,
           CAST(least(length(text), 64) AS BIGINT) AS first_frame_bytes
    FROM documents
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1->N frame explosion: frames per payload + size of frame 0."""
    m = media_from_documents(table(spark, sf_dir, "documents"))
    frames = frame_sample(m, every_n_bytes=64, max_frames=16)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.max(F.when(F.col("frame_idx") == 0, F.length("frame"))).cast("long").alias(
            "first_frame_bytes"
        ),
    )


def _hex_byte_sql(i: int) -> str:
    """DuckDB: i-th byte of the sha256 hex digest as a double in [0,1]."""
    return (
        f"CAST(CAST('0x' || substr(sha256(text), {2 * i + 1}, 2) AS INTEGER) AS DOUBLE)"
        " / 255.0"
    )


@query(
    "multimodal_features",
    oracle=f"""
    SELECT doc_id AS media_id, {_TYPE_SQL} AS media_type,
           sha256(text) AS digest,
           CAST(8 AS INTEGER) AS feature_dim,
           {", ".join(f"{_hex_byte_sql(i)} AS feature_{i}" for i in range(8))}
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction through the real Arrow decode boundary,
    flattened to driver-safe scalar columns (no top-level arrays — the
    driver's canonicalizer can't sort list cells).

    The stub decoder is sha256-derived (operators/multimodal.py:70-78), so
    the oracle is EXACT: DuckDB's sha256 matches hashlib byte-for-byte and
    feature_i == hexbyte_i / 255.0 is the same IEEE double division on both
    sides. The array-returning operator stays available internally via
    extract_features(); only the registered query flattens.
    """
    m = media_from_documents(table(spark, sf_dir, "documents"))
    feats = extract_features(m)
    return feats.select(
        "media_id",
        "media_type",
        "digest",
        F.size("feature").alias("feature_dim"),
        *[F.element_at("feature", i + 1).alias(f"feature_{i}") for i in range(8)],
    )


@query(
    "multimodal_dedup",
    oracle="""
    SELECT sha256(text) AS payload_digest,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           MIN(doc_id) AS keeper_media_id,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes
    FROM documents GROUP BY text
    """,
)
def multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binary-payload dedup over the media table — byte-identical
    images/audio/video collapse on sha256(payload) with keep-lowest-id, the
    L1 dedup semantics applied to the opaque binary column (the first pass
    every multimodal corpus runs before any perceptual hashing).

    The shuffle carries 32-byte digests plus counters, never payloads —
    identical plan shape to dedup_exact, proving the dedup machinery is
    payload-type-agnostic: the binary column needs no decode to dedup.
    Perceptual near-dup (pHash over the decode boundary) layers on top the
    same way dedup_ngram layers on dedup_exact for text.
    """
    m = media_from_documents(table(spark, sf_dir, "documents"))
    return m.groupBy(F.sha2("payload", 256).alias("payload_digest")).agg(
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.min("media_id").alias("keeper_media_id"),
        F.sum(F.col("meta.n_bytes")).cast("long").alias("total_bytes"),
    )


@query(
    "multimodal_chunk_dedup",
    oracle=f"""
    WITH m AS (SELECT doc_id, {_TYPE_SQL} AS media_type, text
               FROM documents WHERE length(text) > 0),
    c AS (
      SELECT doc_id, media_type,
             sha256(substring(text, (u.i - 1) * 64 + 1, 64)) AS h
      FROM m, unnest(generate_series(1,
             CAST(ceil(length(text) / 64.0) AS BIGINT))) u(i))
    SELECT media_type, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_blobs,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique_chunks,
           ROUND(CAST(COUNT(DISTINCT h) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS unique_ratio
    FROM c GROUP BY 1 ORDER BY 1
    """,
)
def multimodal_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup statistics over opaque binary payloads — the
    content-addressable-store pattern (fixed 64-byte chunks stand in for
    content-defined chunking): how much of each modality's byte volume is
    redundant at sub-file granularity, which whole-payload digests
    (multimodal_dedup) cannot see. A media lakehouse uses exactly this to
    size a chunk store and to dedup re-encoded uploads sharing runs.

    The payload is never decoded and never shuffled: chunk slicing and
    sha256 run JVM-side inside the scan stage, and every exchange after
    that carries 64-hex digests + ids only. Distinct counts are the
    standard two-phase exact distinct aggregate. The documents-derived
    media table is ASCII, so DuckDB's character substring mirrors the
    engine's byte substring exactly (the multimodal_meta assumption).
    """
    m = media_from_documents(table(spark, sf_dir, "documents"))
    n = F.length("payload")
    k = F.ceil(n / F.lit(64.0)).cast("long")
    c = (
        m.filter(n > 0)
        .select(
            "media_id",
            "media_type",
            "payload",
            F.explode(F.sequence(F.lit(1).cast("long"), k)).alias("i"),
        )
        .select(
            "media_id",
            "media_type",
            F.sha2(
                F.col("payload").substr(
                    (F.col("i") - 1) * 64 + 1, F.lit(64)
                ),
                256,
            ).alias("h"),
        )
    )
    return (
        c.groupBy("media_type")
        .agg(
            F.count_distinct("media_id").cast("long").alias("n_blobs"),
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.count_distinct("h").cast("long").alias("n_unique_chunks"),
        )
        .select(
            "media_type",
            "n_blobs",
            "n_chunks",
            "n_unique_chunks",
            F.round(
                F.col("n_unique_chunks").cast("double") / F.col("n_chunks").cast("double"),
                6,
            ).alias("unique_ratio"),
        )
        .orderBy("media_type")
    )


# Deterministic BMP fixtures for the REAL decode path: index -> dimensions
# and a per-index pixel pattern. Widths sweep all four stride-padding
# residues (w*3 mod 4) and the pattern varies in both axes and per image,
# so a decoder that mishandles row padding, BGR order, or bottom-up row
# storage produces different statistics from the stated expectation.
_BMP_FIXTURES = [(i, f"img_{i:02d}.bmp", 5 + i, 4 + (i % 5)) for i in range(12)]


def _bmp_pixel(i: int):
    def px(x: int, y: int) -> tuple[int, int, int]:
        return ((x * 11 + y * 7 + i) % 256,
                (x * 3 + y * 5 + 2 * i) % 256,
                (x * 13 + y + 3 * i) % 256)

    return px


def _bmp_expected_values() -> str:
    """Expected rows from INDEPENDENT arithmetic: direct sums over the
    pattern + the spec's size formula — never through the codec, so the
    oracle catches encode AND decode bugs alike."""
    rows = []
    for i, name, w, h in _BMP_FIXTURES:
        px = _bmp_pixel(i)
        pxs = [px(x, y) for y in range(h) for x in range(w)]
        n = len(pxs)
        mean = tuple(float(sum(p[c] for p in pxs)) / n for c in range(3))
        stride = (w * 3 + 3) & ~3
        n_bytes = 54 + stride * h
        rows.append(
            f"(CAST({i} AS BIGINT), '{name}', CAST({n_bytes} AS BIGINT), "
            f"CAST({w} AS INTEGER), CAST({h} AS INTEGER), "
            f"CAST({mean[0]!r} AS DOUBLE), CAST({mean[1]!r} AS DOUBLE), "
            f"CAST({mean[2]!r} AS DOUBLE), CAST({px(0, 0)[0]} AS INTEGER), "
            f"CAST({px(w - 1, h - 1)[2]} AS INTEGER), TRUE)"
        )
    rows.append(
        "(CAST(12 AS BIGINT), 'corrupt.bmp', CAST(40 AS BIGINT), "
        "CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE), "
        "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS INTEGER), "
        "CAST(NULL AS INTEGER), FALSE)"
    )
    return ", ".join(rows)


def _media(spark: SparkSession, rows) -> DataFrame:
    """The (media_id, filename, payload) frame of fixture payloads."""
    return spark.createDataFrame(
        [(mid, name, bytearray(payload)) for mid, name, payload in rows],
        "media_id long, filename string, payload binary",
    )


def _bmp_media(spark: SparkSession) -> DataFrame:
    """Every _BMP_FIXTURES image through the pure-Python BMP writer, plus
    fixture 12: a 40-byte truncation the decoder rejects."""
    from wri_data_processing_spark.sources.bmp_codec import write_bmp

    rows = [(i, name, write_bmp(w, h, _bmp_pixel(i))) for i, name, w, h in _BMP_FIXTURES]
    rows.append((12, "corrupt.bmp", write_bmp(16, 8, _bmp_pixel(0))[:40]))
    return _media(spark, rows)


def _decoded(decode, features, n_feat: int):
    """The media quarantine contract as one ``map_rows`` row function.

    A row ``(*key, payload)`` emits ``(*key, *f, TRUE)`` for each tuple ``f``
    of ``features(*decode(payload))``. When the decode or the features raise
    ValueError it emits one ``(*key, NULL x n_feat, FALSE)`` row instead: a
    bad payload quarantines, it never kills the job.
    """

    def row(*key_payload):
        *key, payload = key_payload
        try:
            return [(*key, *f, True) for f in features(*decode(payload))]
        except ValueError:
            return [(*key, *[None] * n_feat, False)]

    return row


@query(
    "multimodal_features_real",
    oracle=f"""
    SELECT media_id, filename, n_bytes, width, height,
           mean_r, mean_g, mean_b, first_px_r, last_px_b, success
    FROM (VALUES {_bmp_expected_values()})
      AS t(media_id, filename, n_bytes, width, height,
           mean_r, mean_g, mean_b, first_px_r, last_px_b, success)
    """,
)
def multimodal_features_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 feature extraction with NO stub: real 24-bit BMP payloads encoded
    and DECODED by the pure-Python codec (sources/bmp_codec.py), pixels
    recovered inside the Arrow row-map boundary, statistics
    checked against a VALUES oracle stated from independent arithmetic —
    the multimodal twin of scan_raster_header_real's executed-TIFF path.
    The reference behavior is utils.R:175-214's read-real-raster-bytes
    ingest, re-expressed for the opaque-binary media column family.

    One payload (fixture 12) is a 40-byte truncation: the decoder raises,
    the op emits success=FALSE with NULL features — the tolerate-and-log
    contract (bad media must quarantine, not kill the 100 TB job).

    Plan shape at scale: payloads never shuffle — decode runs in the scan
    stage's row map and only fixed-width statistics leave it; the
    output is a separate features table so downstream analytics never
    rescan media bytes (the operators/multimodal.py scale note).
    """
    from wri_data_processing_spark.sources.bmp_codec import decode_bmp

    def stats(w: int, h: int, px: list) -> list[tuple]:
        flat = [p for row in px for p in row]
        means = [float(sum(p[c] for p in flat)) / (w * h) for c in range(3)]
        return [(w, h, *means, px[0][0][0], px[h - 1][w - 1][2])]

    quarantined = _decoded(decode_bmp, stats, 7)
    return map_rows(
        _bmp_media(spark),
        lambda mid, name, payload: quarantined(mid, name, len(payload), payload),
        "media_id long, filename string, n_bytes long, width int, height int, "
        "mean_r double, mean_g double, mean_b double, "
        "first_px_r int, last_px_b int, success boolean",
    )


# ---- Perceptual near-dup over the EXECUTED decode path (dHash) ----------
# Fixture geometry: 8 structurally distinct base patterns (gradient
# coefficients + nonlinear terms vary per image) and, for the first 4, a
# "near" sibling with a strong localized brightness change in the first
# cell column — measured dHash Hamming <= 5 for siblings vs >= 22 for
# unrelated pairs, so the threshold (10) has wide margin on both sides.
_DHASH_COEF = [
    (11, 7, 3, 5, 13, 1), (5, 17, 9, 2, 7, 11), (3, 23, 15, 8, 1, 9),
    (19, 2, 4, 13, 6, 17), (7, 13, 11, 3, 21, 5), (15, 4, 2, 19, 9, 13),
    (9, 21, 6, 11, 17, 2), (13, 5, 19, 7, 3, 15),
]
_DHASH_THRESHOLD = 10
_DHASH_BANDS = 4  # 4 x 16-bit bands over the 64-bit hash


def _dhash_base_px(i: int):
    a, b, c, d, e, f = _DHASH_COEF[i]

    def px(x: int, y: int) -> tuple[int, int, int]:
        return ((x * a + y * b + (x * y) % 7 * 31) % 256,
                (x * c + y * d + (x + y) * (x + y) % 11 * 19) % 256,
                (x * e + y * f + (x * 3 + y * 2) % 5 * 43) % 256)

    return px


def _dhash_perturb(pxf, w: int):
    def px(x: int, y: int) -> tuple[int, int, int]:
        r, g, b = pxf(x, y)
        if x < max(w // 9, 1):
            return (min(r + 60, 255), min(g + 60, 255), min(b + 60, 255))
        return (r, g, b)

    return px


def _dhash_fixtures():
    out = []
    mid = 0
    for i in range(8):
        w, h = 18 + 2 * i, 16 + (i % 4) * 2
        out.append((mid, f"base_{i}.bmp", w, h, _dhash_base_px(i)))
        mid += 1
        if i < 4:
            out.append((mid, f"near_{i}.bmp", w, h,
                        _dhash_perturb(_dhash_base_px(i), w)))
            mid += 1
    return out


def _dhash64(px_rows: list) -> int:
    """9x8-cell difference hash over decoded pixel rows, ALL-INTEGER:
    grayscale is the (299r+587g+114b)//1000 integer luma, cells are the
    floor-partitioned 9x8 grid, and each of the 64 bits compares adjacent
    cell means by integer cross-multiplication (sum_l*cnt_r > sum_r*cnt_l)
    — no float division anywhere, so engine and oracle agree bit-for-bit.
    Returns the SIGNED int64 (two's complement) both engines store."""
    h, w = len(px_rows), len(px_rows[0])
    sums = [[0] * 9 for _ in range(8)]
    cnts = [[0] * 9 for _ in range(8)]
    for cy in range(8):
        y0, y1 = cy * h // 8, (cy + 1) * h // 8
        for cx in range(9):
            x0, x1 = cx * w // 9, (cx + 1) * w // 9
            s = c = 0
            for y in range(y0, y1):
                for x in range(x0, x1):
                    r, g, b = px_rows[y][x]
                    s += (299 * r + 587 * g + 114 * b) // 1000
                    c += 1
            sums[cy][cx], cnts[cy][cx] = s, c
    bits = 0
    k = 0
    for cy in range(8):
        for cx in range(8):
            if sums[cy][cx] * cnts[cy][cx + 1] > sums[cy][cx + 1] * cnts[cy][cx]:
                bits |= 1 << k
            k += 1
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def _dhash_expected():
    """(media_id, filename, w, h, signed dhash) from INDEPENDENT pattern
    arithmetic — never through the BMP codec."""
    rows = []
    for mid, name, w, h, pxf in _dhash_fixtures():
        px_rows = [[pxf(x, y) for x in range(w)] for y in range(h)]
        rows.append((mid, name, w, h, _dhash64(px_rows)))
    return rows


_DHASH_VALUES = ", ".join(
    f"(CAST({mid} AS BIGINT), '{name}', CAST({dh} AS BIGINT))"
    for mid, name, _w, _h, dh in _dhash_expected()
)


def _dhash_media(spark: SparkSession) -> DataFrame:
    """Every _dhash_fixtures image through the pure-Python BMP writer."""
    from wri_data_processing_spark.sources.bmp_codec import write_bmp

    return _media(
        spark,
        [(mid, name, write_bmp(w, h, pxf)) for mid, name, w, h, pxf in _dhash_fixtures()],
    )


def _hashed_fixtures(spark: SparkSession, col: str, hash_rows) -> DataFrame:
    """(media_id, filename, ``col``) for every _dhash_fixtures image: inside
    the Arrow row map each payload is decoded and hashed by ``hash_rows``
    (decoded pixel rows -> signed int64)."""
    from wri_data_processing_spark.sources.bmp_codec import decode_bmp

    return map_rows(
        _dhash_media(spark),
        lambda mid, name, payload: [(mid, name, hash_rows(decode_bmp(payload)[2]))],
        f"media_id long, filename string, {col} long",
    )


def _banded_hamming_pairs(
    h: DataFrame, col: str, width: int, n_bands: int, threshold: int
) -> DataFrame:
    """(media_a, media_b, hamming) of every media pair whose 64-bit hashes
    ``col`` share one of ``n_bands`` ``width``-bit bands exactly (the
    banded equi-join) and differ in at most ``threshold`` bits."""
    bands = h.select(
        "media_id",
        col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"),
                    F.shiftrightunsigned(F.col(col), width * j)
                    .bitwiseAND(F.lit((1 << width) - 1).cast("long")).alias("band"),
                )
                for j in range(n_bands)
            ])
        ).alias("bv"),
    ).select("media_id", col, F.col("bv.j").alias("j"), F.col("bv.band").alias("band"))
    a = bands.select(F.col("media_id").alias("media_a"), F.col(col).alias("ha"), "j", "band")
    b = bands.select(F.col("media_id").alias("media_b"), F.col(col).alias("hb"), "j", "band")
    cand = (
        a.join(b, ["j", "band"])
        .filter(F.col("media_a") < F.col("media_b"))
        .select("media_a", "media_b", "ha", "hb")
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cand.filter(hamming <= threshold).select(
        "media_a", "media_b", hamming.cast("int").alias("hamming")
    )


def _banded_hamming_oracle(
    values: str, col: str, width: int, n_bands: int, threshold: int
) -> str:
    """The DuckDB twin of _banded_hamming_pairs over a VALUES hash table."""
    return f"""
    WITH hashes AS (
      SELECT media_id, {col}
      FROM (VALUES {values}) AS t(media_id, filename, {col})),
    bands AS (
      SELECT media_id, {col}, j,
             CAST(({col} >> ({width} * j)) & {(1 << width) - 1} AS BIGINT) AS band
      FROM hashes, unnest(generate_series(0, {n_bands - 1})) AS u(j)),
    cand AS (
      SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
             a.{col} AS ha, b.{col} AS hb
      FROM bands a JOIN bands b ON a.j = b.j AND a.band = b.band
      WHERE a.media_id < b.media_id)
    SELECT media_a, media_b,
           CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= {threshold}
    """


@query(
    "multimodal_dhash",
    oracle=f"""
    SELECT media_id, filename, dhash
    FROM (VALUES {_DHASH_VALUES}) AS t(media_id, filename, dhash)
    """,
)
def multimodal_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image 64-bit difference hash (dHash) computed from REAL decoded
    pixels: fixtures are encoded with the pure-Python BMP writer, decoded
    inside the Arrow row map (sources/bmp_codec.py), area-pooled onto a 9x8
    integer grid, and hashed by adjacent-cell mean comparisons — the
    standard perceptual fingerprint, here with exact integer arithmetic so
    the VALUES oracle (stated from the pattern, not the codec) pins the
    whole decode->pool->compare chain bit-for-bit.

    Plan shape at 100 TB: decode + hash fuse into the scan stage's Arrow
    boundary; only (id, 8-byte hash) ever leaves it — the fingerprint
    table is ~16 B/image regardless of media size.
    """
    return _hashed_fixtures(spark, "dhash", _dhash64)


@query(
    "multimodal_dhash_dedup",
    oracle=_banded_hamming_oracle(
        _DHASH_VALUES, "dhash", 16, _DHASH_BANDS, _DHASH_THRESHOLD
    ),
)
def multimodal_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate pairs over the decoded-image fingerprints
    — the layering multimodal_dedup's docstring promises: exact payload
    dedup first, then pHash-family near-dup for re-encoded/brightness-
    shifted copies that byte digests cannot see. Candidate generation is
    the SAME banded topology as dedup_minhash_lsh: 4x16-bit bands of the
    dHash, equi-join on (band_idx, band_value), then verify
    bit_count(xor) <= {_DHASH_THRESHOLD} on candidates only — never an
    O(N^2) comparison. Measured fixture margins: sibling pairs Hamming
    <= 5 (and every sibling shares >= 1 exact band), unrelated >= 22.

    DuckDB's >> on BIGINT is arithmetic, but every dhash fixture with bit
    63 set still bands identically: the oracle masks with & 65535 after
    the shift, which discards the smeared sign bits — oracle banding is
    therefore logical-shift-equivalent, matching Spark's
    shiftrightunsigned. bit_count/xor operate on the two's-complement
    pattern identically in both engines.

    Oracle boundary: the VALUES hash table is generated by the same
    _dhash64 the engine calls, so this row pins the banding/Hamming
    candidate logic (recomputed in SQL) plus codec-decode identity — not
    the hash function; _dhash64 itself is proven against a separately-
    written numpy reference (tests/test_media_codec_properties.py::
    test_dhash_independent_reference).
    """
    return _banded_hamming_pairs(
        multimodal_dhash(spark, sf_dir), "dhash", 16, _DHASH_BANDS, _DHASH_THRESHOLD
    )


_RESIZE_TARGET = 8  # 8x8 nearest-neighbor thumbnail


def _resize_expected():
    """Expected 8x8-thumbnail statistics from INDEPENDENT arithmetic:
    nearest-neighbor source index src = dst * src_dim // dst_dim applied
    to the pattern function directly — never through the codec."""
    rows = []
    t = _RESIZE_TARGET
    for mid, name, w, h, pxf in _dhash_fixtures():
        px = [[pxf(x * w // t, y * h // t) for x in range(t)] for y in range(t)]
        flat = [p for row in px for p in row]
        rows.append((
            mid, name,
            sum(p[0] for p in flat), sum(p[1] for p in flat),
            sum(p[2] for p in flat),
            px[0][0][0], px[t - 1][t - 1][2],
        ))
    return rows


_RESIZE_VALUES = ", ".join(
    f"(CAST({mid} AS BIGINT), '{name}', CAST({sr} AS BIGINT), "
    f"CAST({sg} AS BIGINT), CAST({sb} AS BIGINT), CAST({c0} AS INTEGER), "
    f"CAST({c7} AS INTEGER))"
    for mid, name, sr, sg, sb, c0, c7 in _resize_expected()
)


@query(
    "multimodal_resize_real",
    oracle=f"""
    SELECT media_id, filename, sum_r, sum_g, sum_b, tl_r, br_b
    FROM (VALUES {_RESIZE_VALUES})
      AS t(media_id, filename, sum_r, sum_g, sum_b, tl_r, br_b)
    """,
)
def multimodal_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE through the executed decode boundary — the third of
    the four L5 media operations (decode / feature-extract / RESIZE /
    frame-sample) made real: payloads decode with the pure-Python BMP
    codec inside the Arrow row map, downsample to an 8x8 nearest-neighbor
    thumbnail with the integer index map src = dst * src_dim // dst_dim
    (the standard NN resize, all-integer so there is nothing to round),
    and emit integer channel sums + the two corner pixels. The VALUES
    oracle applies the same index map to the fixture pattern DIRECTLY, so
    a resize bug (transposed axes, off-by-one index scaling, channel
    order) diverges even when the decode is correct.

    Plan shape at scale: decode + resize fuse into the scan stage's Arrow
    boundary; the thumbnail statistics (5 scalars) are all that leave it.
    A production variant emitting thumbnail BYTES writes them to a
    separate table in the same pass — media bytes still never shuffle.
    """
    from wri_data_processing_spark.sources.bmp_codec import decode_bmp

    t = _RESIZE_TARGET

    def thumbnail(mid: int, name: str, payload: bytes) -> list[tuple]:
        w, h, px = decode_bmp(payload)
        thumb = [[px[y * h // t][x * w // t] for x in range(t)] for y in range(t)]
        flat = [p for row in thumb for p in row]
        sums = [sum(p[c] for p in flat) for c in range(3)]
        return [(mid, name, *sums, thumb[0][0][0], thumb[t - 1][t - 1][2])]

    return map_rows(
        _dhash_media(spark),
        thumbnail,
        "media_id long, filename string, sum_r long, sum_g long, sum_b long, "
        "tl_r int, br_b int",
    )


# ---- Audio features over the EXECUTED WAV decode (r8) -------------------
# Deterministic integer "waveforms": sample_k = ((k*a_i + 37*i) % 4001) -
# 2000 — full-range i16 values with per-fixture frequency structure; one
# fixture carries a LIST chunk before data (real files do), one is
# truncated mid-chunk (quarantine path).
_WAV_FIXTURES = [
    (i, f"clip_{i:02d}.wav", 8000 * (1 + i % 3), 160 + 16 * i,
     (7 + 2 * i))
    for i in range(8)
]


def _wav_samples(n: int, a: int) -> list:
    return [((k * a + 37 * a) % 4001) - 2000 for k in range(n)]


def _wav_expected():
    rows = []
    for i, name, rate, n, a in _WAV_FIXTURES:
        s = _wav_samples(n, a)
        zc = sum(
            1 for k in range(1, n)
            if (s[k - 1] < 0) != (s[k] < 0)
        )
        rows.append((i, name, rate, n, min(s), max(s), sum(s), zc))
    return rows


_WAV_VALUES = ", ".join(
    f"(CAST({mid} AS BIGINT), '{name}', CAST({rate} AS INTEGER), "
    f"CAST({n} AS BIGINT), CAST({lo} AS INTEGER), CAST({hi} AS INTEGER), "
    f"CAST({ssum} AS BIGINT), CAST({zc} AS BIGINT), TRUE)"
    for mid, name, rate, n, lo, hi, ssum, zc in _wav_expected()
) + (
    ", (CAST(8 AS BIGINT), 'corrupt.wav', CAST(NULL AS INTEGER), "
    "CAST(NULL AS BIGINT), CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), "
    "CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), FALSE)"
)


@query(
    "multimodal_audio_features_real",
    oracle=f"""
    SELECT media_id, filename, sample_rate, n_samples, amp_min, amp_max,
           amp_sum, zero_crossings, success
    FROM (VALUES {_WAV_VALUES})
      AS t(media_id, filename, sample_rate, n_samples, amp_min, amp_max,
           amp_sum, zero_crossings, success)
    """,
)
def multimodal_audio_features_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction with NO stub — the WAV sibling of
    multimodal_features_real: real RIFF/PCM16 payloads (one with an extra
    LIST chunk, the chunk-walking trap real files carry) decode with the
    pure-Python codec (sources/wav_codec.py) inside the Arrow row map;
    recovered sample statistics — amplitude min/max/sum, sign
    zero-crossing count (the classic cheap voiced/unvoiced signal) — are
    ALL-INTEGER and checked against a VALUES oracle stated from the
    waveform arithmetic directly, never through the codec. A truncated
    payload proves the quarantine contract (success=FALSE, NULL features).

    Plan shape at scale: identical to the image path — decode fuses into
    the scan stage's Arrow boundary, fixed-width statistics are all that
    leave it, audio bytes never shuffle.
    """
    from wri_data_processing_spark.sources.wav_codec import decode_wav, write_wav

    rows = []
    for i, name, rate, n, a in _WAV_FIXTURES:
        payload = write_wav(_wav_samples(n, a), sample_rate=rate)
        if i == 0:
            # splice a LIST chunk between fmt and data: parsers must walk
            # declared chunk sizes, not assume data at a fixed offset
            import struct as _st

            data_at = payload.find(b"data")
            extra = b"LIST" + _st.pack("<I", 10) + b"INFOhello "
            payload = payload[:data_at] + extra + payload[data_at:]
            payload = payload[:4] + _st.pack("<I", len(payload) - 8) + payload[8:]
        rows.append((i, name, payload))
    good = write_wav(_wav_samples(64, 7))
    rows.append((8, "corrupt.wav", good[: len(good) // 2]))

    def stats(rate: int, _ch: int, s: list) -> list[tuple]:
        zc = sum(1 for k in range(1, len(s)) if (s[k - 1] < 0) != (s[k] < 0))
        return [(rate, len(s), min(s), max(s), sum(s), zc)]

    return map_rows(
        _media(spark, rows),
        _decoded(decode_wav, stats, 6),
        "media_id long, filename string, sample_rate int, n_samples long, "
        "amp_min int, amp_max int, amp_sum long, zero_crossings long, "
        "success boolean",
    )


# ---- Frame-energy VAD over the EXECUTED WAV decode (r8) ------------------
# Fixtures alternate loud / 16x-attenuated blocks (2 frames per block) so
# the detector has real structure to find; samples stay full-range i16.
_VAD_FR = 64  # frame length in samples; trailing partial frame dropped


def _vad_samples(n: int, a: int) -> list:
    out = []
    for k in range(n):
        v = ((k * a + 37 * a) % 4001) - 2000
        if (k // (2 * _VAD_FR)) % 2 == 1:
            v //= 16  # Python floor division, mirrored in the oracle arithmetic
        out.append(v)
    return out


_VAD_FIXTURES = [
    (i, f"vad_{i:02d}.wav", 8000 * (1 + i % 3), 512 + 32 * i, (7 + 2 * i))
    for i in range(8)
]


def _vad_expected():
    """Expected VAD rows restated sample by sample, in a different form from
    the engine's row function so an error in either diverges: energy adds
    into frame ``k // _VAD_FR``, speech runs come from ``groupby``."""
    from itertools import groupby

    rows = []
    for i, name, rate, n, a in _VAD_FIXTURES:
        nf = n // _VAD_FR
        en = [0] * nf
        for k, v in enumerate(_vad_samples(n, a)[: nf * _VAD_FR]):
            en[k // _VAD_FR] += v * v
        sp = [2 * nf * e > sum(en) for e in en]
        runs = [len(list(g)) for speech, g in groupby(sp) if speech]
        first = sp.index(True) if True in sp else -1
        rows.append((i, name, nf, sp.count(True), max(runs, default=0), first))
    return rows


_VAD_VALUES = ", ".join(
    f"(CAST({mid} AS BIGINT), '{name}', CAST({nf} AS BIGINT), "
    f"CAST({nsp} AS BIGINT), CAST({run} AS BIGINT), CAST({first} AS BIGINT))"
    for mid, name, nf, nsp, run, first in _vad_expected()
)


@query(
    "multimodal_audio_vad",
    oracle=f"""
    SELECT media_id, filename, n_frames, speech_frames, longest_run,
           first_speech
    FROM (VALUES {_VAD_VALUES})
      AS t(media_id, filename, n_frames, speech_frames, longest_run,
           first_speech)
    """,
)
def multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity detection through the executed WAV decode path: real
    PCM16 payloads decode inside the Arrow row map, split into 64-sample frames
    (trailing partial frame dropped), and a frame is "speech" iff its
    energy exceeds HALF the mean frame energy — the comparison is kept
    ALL-INTEGER as E_f · n_frames · 2 > Σ E (no division, nothing to
    round). Emits frames / speech frames / longest speech run / first
    speech frame per clip. Fixtures alternate loud and 16x-attenuated
    two-frame blocks, so the detector must find real structure; the
    VALUES oracle states the answer from the waveform arithmetic
    directly, never through the codec — a framing off-by-one, an energy
    overflow, or a threshold-side error diverges loudly.

    This is the audio curation primitive for training pipelines: silence
    trimming and speech-ratio quality gates both reduce to these frame
    statistics. Plan shape at scale: decode + framing + the energy fold
    fuse into the scan stage's Arrow boundary; four integers per clip
    are all that leave it, audio bytes never shuffle; the per-clip state
    is one frame-energy list bounded by clip length, never the corpus.
    """
    from wri_data_processing_spark.sources.wav_codec import decode_wav, write_wav

    def vad(mid: int, name: str, payload: bytes) -> list[tuple]:
        _rate, _ch, s = decode_wav(payload)
        nf = len(s) // _VAD_FR
        en = [sum(x * x for x in s[f * _VAD_FR:(f + 1) * _VAD_FR]) for f in range(nf)]
        tot = sum(en)
        sp = [e * nf * 2 > tot for e in en]
        best = cur = 0
        for b in sp:
            cur = cur + 1 if b else 0
            best = max(best, cur)
        first = next((f for f, b in enumerate(sp) if b), -1)
        return [(mid, name, nf, sum(sp), best, first)]

    return map_rows(
        _media(spark, [
            (i, name, write_wav(_vad_samples(n, a), sample_rate=rate))
            for i, name, rate, n, a in _VAD_FIXTURES
        ]),
        vad,
        "media_id long, filename string, n_frames long, speech_frames long, "
        "longest_run long, first_speech long",
    )


def _hist_expected_values() -> str:
    """Expected 8-bin luminance histograms from INDEPENDENT arithmetic —
    the pattern summed directly, never through the codec."""
    rows = []
    for i, name, w, h in _BMP_FIXTURES:
        px = _bmp_pixel(i)
        bins = [0] * 8
        for y in range(h):
            for x in range(w):
                r, g, b = px(x, y)
                bins[((r * 299 + g * 587 + b * 114) // 1000) // 32] += 1
        cells = ", ".join(f"CAST({c} AS BIGINT)" for c in bins)
        rows.append(f"(CAST({i} AS BIGINT), '{name}', {cells}, TRUE)")
    rows.append(
        "(CAST(12 AS BIGINT), 'corrupt.bmp', "
        + ", ".join(["CAST(NULL AS BIGINT)"] * 8)
        + ", FALSE)"
    )
    return ", ".join(rows)


@query(
    "multimodal_image_histogram",
    oracle=f"""
    SELECT media_id, filename, b0, b1, b2, b3, b4, b5, b6, b7, success
    FROM (VALUES {_hist_expected_values()})
      AS t(media_id, filename, b0, b1, b2, b3, b4, b5, b6, b7, success)
    """,
)
def multimodal_image_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image 8-bin LUMINANCE histogram through the EXECUTED decode
    path — the feature a vision-data curator actually computes first
    (exposure/contrast screening, black-frame and blown-white detection
    before spending GPU time). Luminance is the integer Rec.601 weighting
    (r*299 + g*587 + b*114) // 1000, binned by // 32 into 8 bins — pure
    integer arithmetic, so the histogram is bit-exact and the VALUES
    oracle is stated from independent arithmetic over the pattern, never
    through the codec (the multimodal_features_real contract; encode and
    decode bugs both get caught).

    The truncated payload (fixture 12) quarantines as success=FALSE with
    NULL bins — tolerate-and-log, bad media must not kill the job.

    Plan: payloads never shuffle — decode and the whole histogram fold
    run inside the scan stage's Arrow row map, and only 8
    fixed-width longs per image leave the boundary. At 100 TB histogram
    width, not image size, is the shuffle budget.
    """
    from wri_data_processing_spark.sources.bmp_codec import decode_bmp

    def histogram(_w: int, _h: int, px: list) -> list[tuple]:
        bins = [0] * 8
        for row in px:
            for r, g, b in row:
                bins[((r * 299 + g * 587 + b * 114) // 1000) // 32] += 1
        return [tuple(bins)]

    return map_rows(
        _bmp_media(spark),
        _decoded(decode_bmp, histogram, 8),
        "media_id long, filename string, "
        + ", ".join(f"b{k} long" for k in range(8))
        + ", success boolean",
    )


def _patchify_expected_values() -> str:
    """Expected per-patch luminance sums from INDEPENDENT arithmetic —
    the pattern summed directly over the 2x2 patch grid, never through
    the codec."""
    rows = []
    for i, name, w, h in _BMP_FIXTURES:
        px = _bmp_pixel(i)
        acc = {}
        for y in range(h):
            for x in range(w):
                r, g, b = px(x, y)
                key = (y * 2 // h, x * 2 // w)
                n, s = acc.get(key, (0, 0))
                acc[key] = (n + 1, s + (r * 299 + g * 587 + b * 114))
        for (pr, pc), (n, s) in sorted(acc.items()):
            mean6 = round(s / (n * 1000.0), 6)
            rows.append(
                f"(CAST({i} AS BIGINT), '{name}', CAST({pr} AS INTEGER), "
                f"CAST({pc} AS INTEGER), CAST({n} AS BIGINT), "
                f"CAST({s} AS BIGINT), CAST({mean6!r} AS DOUBLE), TRUE)"
            )
    rows.append(
        "(CAST(12 AS BIGINT), 'corrupt.bmp', CAST(NULL AS INTEGER), "
        "CAST(NULL AS INTEGER), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), "
        "CAST(NULL AS DOUBLE), FALSE)"
    )
    return ", ".join(rows)


@query(
    "multimodal_patchify",
    oracle=f"""
    SELECT media_id, filename, patch_row, patch_col, n_px, lum_sum_milli,
           mean_lum, success
    FROM (VALUES {_patchify_expected_values()})
      AS t(media_id, filename, patch_row, patch_col, n_px, lum_sum_milli,
           mean_lum, success)
    """,
)
def multimodal_patchify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patchification through the EXECUTED decode path: split
    each decoded image into a 2x2 patch grid (patch index = y*P//h,
    x*P//w — the integer grid that never drops or double-counts a pixel
    at any aspect ratio) and emit per-patch pixel count and Rec.601
    luminance statistics — the patch-embedding precursor every vision
    tokenizer computes before projection, here with real bytes through
    sources/bmp_codec.py (the multimodal_features_real contract: codec
    executed, VALUES oracle from independent arithmetic, truncated
    payload quarantines as success=FALSE instead of killing the job).

    Determinism: per-pixel luminance stays the exact integer milli-scale
    (r*299 + g*587 + b*114); patch sums are exact BIGINTs; the mean is
    ONE division de-scaled by the exact 1000, ROUND-6.

    Plan shape at scale: payloads never shuffle — decode + patch
    accumulation run inside the scan's Arrow row map and only the
    fixed-width (patch, n, sum) rows leave the boundary; a real ViT
    pipeline swaps the statistics for the flattened patch tensor with
    the SAME partitioning and batch shape.
    """
    from wri_data_processing_spark.sources.bmp_codec import decode_bmp

    def patches(w: int, h: int, px: list) -> list[tuple]:
        acc = {}
        for y, row in enumerate(px):
            for x, (r, g, b) in enumerate(row):
                key = (y * 2 // h, x * 2 // w)
                n, s = acc.get(key, (0, 0))
                acc[key] = (n + 1, s + (r * 299 + g * 587 + b * 114))
        return [
            (pr, pc, n, s, round(s / (n * 1000.0), 6))
            for (pr, pc), (n, s) in sorted(acc.items())
        ]

    return map_rows(
        _bmp_media(spark),
        _decoded(decode_bmp, patches, 5),
        "media_id long, filename string, patch_row int, patch_col int, "
        "n_px long, lum_sum_milli long, mean_lum double, success boolean",
    )


_PHASH_N = 32  # DCT input grid (NN-resized luma)
_PHASH_K = 8  # low-frequency block kept -> 64-bit hash
_PHASH_BANDS = 16  # 4-bit bands: any pair with < 16 differing bits shares one
_PHASH_THRESHOLD = 12  # sibling pairs measure 6-12; unrelated >= 16 (probed)
_PHASH_C = [
    [
        int(__import__("math").floor(
            __import__("math").cos(
                __import__("math").pi * (2 * n + 1) * u / (2 * _PHASH_N)
            ) * 16384
        ))
        for n in range(_PHASH_N)
    ]
    for u in range(_PHASH_N)
]


def _phash64(pxf, w: int, h: int) -> int:
    """64-bit DCT perceptual hash, ALL-INTEGER: NN-resize the Rec.601
    integer luma to 32x32 (src = dst*src_dim//dst_dim), two 1D passes of
    an INTEGER DCT-II (cosine table pinned as floor(cos*2^14) literals at
    module import — the pinned-quantile discipline applied to a
    transform), keep the 8x8 low-frequency block, threshold each
    coefficient against the block's upper-median. Signed int64 storage,
    matching _dhash64."""
    n, k = _PHASH_N, _PHASH_K
    lum = [
        [
            (
                299 * pxf(x * w // n, y * h // n)[0]
                + 587 * pxf(x * w // n, y * h // n)[1]
                + 114 * pxf(x * w // n, y * h // n)[2]
            )
            // 1000
            for x in range(n)
        ]
        for y in range(n)
    ]
    tmp = [
        [sum(lum[y][x] * _PHASH_C[v][x] for x in range(n)) for v in range(n)]
        for y in range(n)
    ]
    fuv = [
        [sum(tmp[y][v] * _PHASH_C[u][y] for y in range(n)) for v in range(k)]
        for u in range(k)
    ]
    vals = [fuv[u][v] for u in range(k) for v in range(k)]
    med = sorted(vals)[k * k // 2]
    bits = 0
    for i, val in enumerate(vals):
        if val > med:
            bits |= 1 << i
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def _phash_rows(pxf_rows):
    """_phash64 over decoded pixel ROWS (the engine-side form)."""
    h, w = len(pxf_rows), len(pxf_rows[0])
    return _phash64(lambda x, y: pxf_rows[y][x], w, h)


_PHASH_VALUES = ", ".join(
    f"(CAST({mid} AS BIGINT), '{name}', CAST({_phash64(pxf, w, h)} AS BIGINT))"
    for mid, name, w, h, pxf in _dhash_fixtures()
)


@query(
    "multimodal_phash",
    oracle=f"""
    SELECT media_id, filename, phash
    FROM (VALUES {_PHASH_VALUES}) AS t(media_id, filename, phash)
    """,
)
def multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT perceptual hash (pHash) of every decoded image — the
    frequency-domain sibling of multimodal_dhash: dHash fingerprints
    local gradients (fast, crop-sensitive); pHash fingerprints the
    global low-frequency structure, surviving blur/resize/re-encode
    perturbations gradients don't. Real bytes through the executed BMP
    codec; the hash itself is ALL-INTEGER (NN-resize to 32x32 integer
    luma, integer DCT-II with the cosine table PINNED as floor(cos*2^14)
    module literals — transcendentals never evaluate in plans, the
    stats_power_sample_size discipline — 8x8 low block, upper-median
    threshold), so engine and oracle agree bit-for-bit. Honesty note:
    the VALUES oracle is generated by the SAME ``_phash64`` function the
    engine calls, so by itself it proves only the write_bmp/decode_bmp
    round-trip; the DCT/median/threshold arithmetic is verified against
    a separately-written numpy float-DCT reference in
    tests/test_media_codec_properties.py::test_phash_independent_reference
    (multimodal_patchify's oracle, by contrast, sums pixels
    independently).

    Plan shape at scale: the multimodal_features_real contract —
    payloads decode inside the scan's Arrow row map, only the 8-byte hash
    leaves the boundary.
    """
    return _hashed_fixtures(spark, "phash", _phash_rows)


@query(
    "multimodal_phash_dedup",
    oracle=_banded_hamming_oracle(
        _PHASH_VALUES, "phash", 4, _PHASH_BANDS, _PHASH_THRESHOLD
    ),
)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-domain near-duplicate pairs over the pHash fingerprints
    — _banded_hamming_pairs, as in multimodal_dhash_dedup, with a
    threshold matched to the transform: 16 x 4-bit bands guarantee every
    pair with fewer than 16 differing bits shares a clean band, and the
    verified cut at
    Hamming <= {_PHASH_THRESHOLD} sits inside the probed margin
    (siblings 6-12, unrelated >= 16 on this fixture set — so band recall
    is provably 1.0 for every true pair). Banding false positives
    verify identically in both engines because the oracle mirrors the
    same equi-join before the same bit_count filter.

    DuckDB's BIGINT >> is arithmetic; masking with & 15 after the shift
    discards the smeared sign bits, matching Spark's shiftrightunsigned
    — the multimodal_dhash_dedup note, at 4-bit width.

    Oracle boundary: the VALUES hash table shares _phash64 with the
    engine, so this row pins banding/Hamming logic + decode identity, not
    the hash; _phash64 is proven against the separately-written numpy
    float-DCT reference (tests/test_media_codec_properties.py::
    test_phash_independent_reference).
    """
    return _banded_hamming_pairs(
        multimodal_phash(spark, sf_dir), "phash", 4, _PHASH_BANDS, _PHASH_THRESHOLD
    )


@query(
    "multimodal_image_entropy",
    oracle=f"""
    WITH h AS (
      SELECT media_id, filename, b0, b1, b2, b3, b4, b5, b6, b7, success
      FROM (VALUES {{hist_vals}})
        AS t(media_id, filename, b0, b1, b2, b3, b4, b5, b6, b7, success)),
    n_ AS (
      SELECT *, b0 + b1 + b2 + b3 + b4 + b5 + b6 + b7 AS n FROM h
      WHERE success),
    e AS (
      SELECT media_id, filename, n,
             ln(CAST(n AS DOUBLE))
             - (CASE WHEN b0 > 0 THEN CAST(b0 AS DOUBLE) * ln(CAST(b0 AS DOUBLE)) ELSE 0.0 END
                + CASE WHEN b1 > 0 THEN CAST(b1 AS DOUBLE) * ln(CAST(b1 AS DOUBLE)) ELSE 0.0 END
                + CASE WHEN b2 > 0 THEN CAST(b2 AS DOUBLE) * ln(CAST(b2 AS DOUBLE)) ELSE 0.0 END
                + CASE WHEN b3 > 0 THEN CAST(b3 AS DOUBLE) * ln(CAST(b3 AS DOUBLE)) ELSE 0.0 END
                + CASE WHEN b4 > 0 THEN CAST(b4 AS DOUBLE) * ln(CAST(b4 AS DOUBLE)) ELSE 0.0 END
                + CASE WHEN b5 > 0 THEN CAST(b5 AS DOUBLE) * ln(CAST(b5 AS DOUBLE)) ELSE 0.0 END
                + CASE WHEN b6 > 0 THEN CAST(b6 AS DOUBLE) * ln(CAST(b6 AS DOUBLE)) ELSE 0.0 END
                + CASE WHEN b7 > 0 THEN CAST(b7 AS DOUBLE) * ln(CAST(b7 AS DOUBLE)) ELSE 0.0 END)
               / CAST(n AS DOUBLE) AS ent
      FROM n_)
    SELECT h.media_id, h.filename,
           CASE WHEN h.success THEN e.n END AS n_px,
           ROUND(CASE WHEN h.success THEN e.ent END, 6) AS entropy,
           ROUND(CASE WHEN h.success THEN e.ent / ln(8.0) END, 6)
             AS entropy_norm,
           h.success
    FROM h LEFT JOIN e ON h.media_id = e.media_id
    ORDER BY h.media_id
    """.format(hist_vals=_hist_expected_values()),
)
def multimodal_image_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the 8-bin luminance histogram through the
    EXECUTED decode path — the one-number exposure/contrast screen on
    top of multimodal_image_histogram: near-0 entropy means black frames
    / blown whites / synthetic flats (drop before GPU time), near-ln(8)
    means full tonal range. H = ln n - (1/n) SUM c ln c, plus the
    normalized H/ln 8 in [0, 1].

    Oracle independence: the VALUES block is the histogram from
    INDEPENDENT pattern arithmetic (never through the codec — the
    multimodal_image_histogram contract); the entropy expression itself
    is evaluated by EACH ENGINE over those integers (Spark ln vs DuckDB
    ln, probed bit-identical in r7) — no Python libm in the comparison
    loop. The 8 c ln c terms sum in FIXED b0..b7 expression order on
    both sides (no unordered fold), ROUND-6.

    Plan: decode + histogram inside the scan's Arrow row map (only 8
    longs leave the boundary); the entropy algebra
    is a JVM-side column expression over the 8-column frame.
    """
    hist = multimodal_image_histogram(spark, sf_dir)
    n = sum((F.col(f"b{k}") for k in range(1, 8)), F.col("b0")).cast("long")
    terms = F.lit(0.0)
    for k in range(8):
        c = F.col(f"b{k}")
        terms = terms + F.when(
            c > 0, c.cast("double") * F.log(c.cast("double"))
        ).otherwise(F.lit(0.0))
    nd = F.when(F.col("success"), n).otherwise(F.lit(1)).cast("double")
    ent = F.log(nd) - terms / nd
    return hist.select(
        "media_id",
        "filename",
        F.when(F.col("success"), n).alias("n_px"),
        F.when(F.col("success"), F.round(ent, 6)).alias("entropy"),
        F.when(F.col("success"), F.round(ent / F.log(F.lit(8.0)), 6)).alias(
            "entropy_norm"
        ),
        "success",
    ).orderBy("media_id")
