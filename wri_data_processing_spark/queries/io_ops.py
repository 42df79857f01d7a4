"""Scan / sink / probe engine ops as declared queries (SURVEY.md §2.1, P6, T1).

These drive the sources/ and steps/ library code through the oracle harness.
Sinks are round-trips: write to a scratch dir, read back, compare the result
to an oracle computed straight from the source table — which checks the sink
preserved every row/value, not merely that it ran. Scratch lives under /tmp
and is wiped per invocation so reruns are idempotent.

Reference parity: S1 scan 00b_extract_metadata_all.R:68; S2 header scan
utils.R:175-214; S3 CSV read 01b:54/02b:109; S4 append utils.R:276-286;
S5 overwrite 00b:167-177; S6 COG sink 01b:92-104; S7 JSON docs 02b:266,324;
S8 HEAD probe 02b:86-103; P6 contract check 02b:112-123.
"""

from __future__ import annotations

import atexit
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from wri_data_processing_spark.catalog import TABLES, table
from wri_data_processing_spark.registry import query
from wri_data_processing_spark.sources import snapshots
from wri_data_processing_spark.sources.listing import scan_file_listing, strip_scheme
from wri_data_processing_spark.sources.raster import scan_raster_header
from wri_data_processing_spark.sources.tables import scan_csv, sink_append_table, sink_overwrite_table
from wri_data_processing_spark.operators.probe import with_hosted_flag
from wri_data_processing_spark.operators.row_map import map_rows
from wri_data_processing_spark.steps.step01_cog import status_counts, step01_cog

# Per-PID root: two concurrent harness processes (e.g. the test suite run
# as parallel chunks) must not rmtree each other's staged layouts mid-read —
# a shared root made maintenance_compaction flaky under concurrent pytest.
# Callers may point _SCRATCH elsewhere; only this default root is removed at
# exit, and only by the process that named it (forked children inherit the
# exit hook).
_PID = os.getpid()
_DEFAULT_SCRATCH = f"/tmp/wri_engine_scratch_{_PID}"
_SCRATCH = _DEFAULT_SCRATCH


@atexit.register
def _remove_default_scratch() -> None:
    if os.getpid() == _PID:
        shutil.rmtree(_DEFAULT_SCRATCH, ignore_errors=True)


def _scratch_dir(name: str, sf_dir: str) -> str:
    """Fresh per-(query, sf) scratch dir — wiped so reruns are deterministic."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = os.path.join(_SCRATCH, name, tag)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


_PARQUET_NAMES = sorted(f"{t}.parquet" for t in TABLES)
_NAMES_VALUES = ", ".join(f"('{n}')" for n in _PARQUET_NAMES)


@query(
    "scan_file_listing",
    oracle=f"SELECT filename FROM (VALUES {_NAMES_VALUES}) AS t(filename)",
)
def scan_file_listing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: distributed binaryFile listing (metadata-only, content never read).

    The sf dir always holds exactly the ten star-schema parquet files, so the
    oracle is the literal name set — checking the glob+recursion plumbing.

    Oracle independence: the VALUES list is hand-stated ground truth about
    the fixture directory, never produced by a listing call.
    """
    listing = scan_file_listing(spark, sf_dir, glob="*.parquet")
    return listing.select(
        F.substring_index(strip_scheme(F.col("path")), "/", -1).alias("filename")
    )


@query(
    "scan_raster_header",
    oracle=f"""
    SELECT filename,
           CAST(length(filename) * 100 AS INTEGER) AS nrows,
           CAST(length(filename) * 50 AS INTEGER) AS ncols,
           90.0 AS resolution_x,
           TRUE AS success
    FROM (VALUES {_NAMES_VALUES}) AS t(filename)
    """,
)
def scan_raster_header_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: header-only scan through the Arrow row map with an injected reader.

    GDAL is absent here, so the reader derives a deterministic header from
    the filename — the oracle recomputes the same arithmetic over the known
    file set, verifying the batch plumbing and error-tolerant row contract.

    Oracle boundary: both sides restate the STUB's formula by the op's
    stub nature, so this row proves plumbing only; header-parsing
    correctness is proven by scan_raster_header_real, whose oracle states
    the fixture generator's input parameters.
    """

    def fake_reader(path: str) -> dict:
        name = os.path.basename(path)
        return {
            "filepath": path,
            "filename": name,
            "nrows": len(name) * 100,
            "ncols": len(name) * 50,
            "resolution_x": 90.0,
            "resolution_y": 90.0,
            "crs_epsg": 5070,
            "datatype": "float32",
            "success": True,
            "error": None,
        }

    listing = scan_file_listing(spark, sf_dir, glob="*.parquet").select(
        strip_scheme(F.col("path")).alias("path")
    )
    hdr = scan_raster_header(listing, reader=fake_reader)
    return hdr.select("filename", "nrows", "ncols", "resolution_x", "success")


# Deterministic synthetic GeoTIFFs for the REAL header-read path: index ->
# (filename, container, byte order, width, height). Both the query and its
# oracle state the expected headers from the same arithmetic.
_RASTER_FIXTURES = [
    (
        f"layer_{i:02d}.tif",
        "bigtiff" if i % 2 else "classic",
        ">" if i % 3 == 0 else "<",
        6 + i,
        4 + i,
    )
    for i in range(10)
]
_RASTER_VALUES = ", ".join(
    f"('{name}', {w}, {h}, 5070, 90.0, 'float32', TRUE)"
    for name, _, _, w, h in _RASTER_FIXTURES
)


@query(
    "scan_raster_header_real",
    oracle=f"""
    SELECT filename, ncols, nrows, crs_epsg, resolution_x, datatype, success
    FROM (VALUES {_RASTER_VALUES})
      AS t(filename, ncols, nrows, crs_epsg, resolution_x, datatype, success)
    """,
)
def scan_raster_header_real_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 with NO injected reader: real GeoTIFF headers parsed by the
    pure-Python TIFF reader (sources/tiff_header.py) over fixtures the
    query generates from the public spec (sources/tiff_fixture.py) —
    classic + BigTIFF, both byte orders. The reference behavior this
    executes is utils.R:175-214's header-only read: dims, resolution, EPSG,
    dtype, with zero pixel I/O.

    Oracle independence: the VALUES rows are the fixture GENERATOR'S input
    parameters (the dims/EPSG/dtype handed to tiff_fixture.py), which the
    parser must recover from raw bytes — writer and reader share no header
    logic, so a parse bug cannot self-verify."""
    from wri_data_processing_spark.sources.tiff_fixture import (
        write_bigtiff_geotiff,
        write_classic_geotiff,
    )

    src_dir = _scratch_dir("raster_real", sf_dir)
    paths = []
    for name, container, en, w, h in _RASTER_FIXTURES:
        p = os.path.join(src_dir, name)
        writer = write_bigtiff_geotiff if container == "bigtiff" else write_classic_geotiff
        writer(p, en=en, width=w, height=h)
        paths.append((p,))
    hdr = scan_raster_header(spark.createDataFrame(paths, "path string"))
    return hdr.select(
        "filename", "ncols", "nrows", "crs_epsg", "resolution_x", "datatype", "success"
    )


_CSV_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", IntegerType()),
    ]
)


@query(
    "scan_csv",
    oracle="SELECT doc_id, lang, source, CAST(n_chars AS INTEGER) AS n_chars"
    " FROM documents WHERE doc_id < 100",
)
def scan_csv_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+S5 round trip: documents subset -> CSV (overwrite) -> typed scan.

    Oracle reads the same subset from parquet, so a match proves the CSV
    sink+source are lossless for these types (header, NA-null convention).
    """
    path = _scratch_dir("scan_csv", sf_dir)
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    d.select("doc_id", "lang", "source", F.col("n_chars").cast("int")).write.mode(
        "overwrite"
    ).option("header", "true").option("nullValue", "NA").csv(path)
    return scan_csv(spark, path, schema=_CSV_SCHEMA)


@query(
    "sink_append_table",
    oracle="""
    SELECT doc_id, n_chars FROM documents WHERE doc_id < 50
    UNION ALL
    SELECT doc_id, n_chars FROM documents WHERE doc_id < 50
    """,
)
def sink_append_table_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: two appends to an empty table == the source twice (micro-batch
    flush semantics, utils.R:276-286)."""
    path = _scratch_dir("sink_append", sf_dir)
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).select(
        "doc_id", "n_chars"
    )
    sink_append_table(d, path)
    sink_append_table(d, path)
    return spark.read.parquet(path)


@query(
    "sink_overwrite_table",
    oracle="SELECT doc_id, n_chars FROM documents WHERE doc_id < 50",
)
def sink_overwrite_table_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: overwrite twice == exactly one copy (idempotent rerun semantics)."""
    path = _scratch_dir("sink_overwrite", sf_dir)
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).select(
        "doc_id", "n_chars"
    )
    sink_overwrite_table(d, path)
    sink_overwrite_table(d, path)
    return spark.read.parquet(path)


@query(
    "scan_schema_evolution",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(o_flag) AS BIGINT) AS n_flagged
    FROM (
      SELECT o_orderstatus, CAST(NULL AS BOOLEAN) AS o_flag
      FROM orders WHERE o_orderkey < 1000
      UNION ALL
      SELECT o_orderstatus, (o_totalprice > 100000) AS o_flag
      FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 2000
    ) GROUP BY o_orderstatus
    """,
)
def scan_schema_evolution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift on scan: a column added mid-stream must read cleanly.

    At 100 TB a table is written by months of jobs and the schema WILL gain
    columns; the engine's contract is parquet schema merge — old files
    surface the new column as NULL, new files carry it, one scan sees both.
    Round-trip: write a v1 batch (no flag column) and a v2 batch (adds
    o_flag), read the directory with mergeSchema=true, aggregate per
    status. The oracle recomputes the same union from the source table
    with an explicit NULL column for the v1 half.
    """
    path = _scratch_dir("schema_evolution", sf_dir)
    o = table(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") < 1000).select("o_orderkey", "o_orderstatus")
    v2 = o.filter((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000)).select(
        "o_orderkey", "o_orderstatus", (F.col("o_totalprice") > 100000).alias("o_flag")
    )
    v1.write.mode("append").parquet(path)
    v2.write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count("o_flag").alias("n_flagged"),
    )


_JSON_READ_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("properties", StructType([
            StructField("name", StringType()),
            StructField("region", LongType()),
        ])),
    ]
)


@query(
    "sink_json_docs",
    oracle="SELECT n_nationkey AS id, n_name AS name, n_regionkey AS region FROM nation",
)
def sink_json_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 round trip: nested struct -> one JSON document per row -> parse back.

    The STAC item sink pattern (02b:227-266): build the nested doc with
    to_json(struct(...)), write as text, re-read with an explicit schema.
    """
    path = _scratch_dir("sink_json", sf_dir)
    n = table(spark, sf_dir, "nation")
    docs = n.select(
        F.to_json(
            F.struct(
                F.col("n_nationkey").alias("id"),
                F.struct(
                    F.col("n_name").alias("name"),
                    F.col("n_regionkey").alias("region"),
                ).alias("properties"),
            )
        ).alias("value")
    )
    docs.write.mode("overwrite").text(path)
    back = spark.read.schema(_JSON_READ_SCHEMA).json(path)
    return back.select(
        "id",
        F.col("properties.name").alias("name"),
        F.col("properties.region").alias("region"),
    )


@query(
    "sink_cog",
    oracle="""
    SELECT CASE WHEN p_partkey % 3 = 0 THEN 'written' ELSE 'missing' END AS status,
           COUNT(*) AS n
    FROM part WHERE p_partkey < 300 GROUP BY 1
    """,
)
def sink_cog_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: COG conversion fan-out through the Arrow row map with an injected
    converter.

    Synthetic metadata points every third row at a real file (nation.parquet)
    and the rest at a missing path; the stub converter copies a byte marker.
    Statuses are then fully determined: written / missing — checking the
    per-row guard + tolerate-and-log contract (01b:78-104) distributably.
    """
    out_dir = _scratch_dir("sink_cog", sf_dir)
    real = os.path.join(sf_dir, "nation.parquet")
    p = table(spark, sf_dir, "part").filter(F.col("p_partkey") < 300)
    meta = p.select(
        F.when(F.col("p_partkey") % 3 == 0, F.lit(real))
        .otherwise(F.concat(F.lit("/nonexistent/"), F.col("p_partkey"), F.lit(".tif")))
        .alias("filepath"),
        F.concat(F.lit("cog_"), F.col("p_partkey"), F.lit(".tif")).alias("cog_filename"),
    )

    def stub_converter(src: str, dst: str) -> None:
        with open(dst, "wb") as fh:
            fh.write(b"COG")

    statuses = step01_cog(meta, out_dir, converter=stub_converter)
    return status_counts(statuses)


_COG_VALUES = ", ".join(
    [f"('layer_{i}_cog.tif', 'written', {4 + i}, 5070, 'float32')" for i in range(4)]
    + [
        "('corrupt_cog.tif', 'failed', CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),"
        " CAST(NULL AS VARCHAR))",
        "('ghost_cog.tif', 'missing', CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),"
        " CAST(NULL AS VARCHAR))",
    ]
)


@query(
    "sink_cog_real",
    oracle=f"""
    SELECT cog_filename, status, nrows, crs_epsg, datatype
    FROM (VALUES {_COG_VALUES}) AS t(cog_filename, status, nrows, crs_epsg, datatype)
    """,
)
def sink_cog_real_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 with NO injected converter: real COG conversion via the pure-
    Python writer (geo/cog_writer.py — tiled, Deflate, AVERAGE overviews),
    the executed analog of gdal_translate -of COG (01b:92-104). Sources are
    spec-generated GeoTIFFs plus a corrupt file and a missing path, so the
    guard statuses are fully determined; written outputs are then re-parsed
    DISTRIBUTED by the independent header reader, and the output carries
    each artifact's parsed dims/CRS/dtype — proving the sink produced valid
    georeferenced rasters, not just that it ran."""
    from wri_data_processing_spark.sources.tiff_fixture import (
        write_bigtiff_geotiff,
        write_classic_geotiff,
    )

    src_dir = _scratch_dir("sink_cog_real_src", sf_dir)
    out_dir = _scratch_dir("sink_cog_real_out", sf_dir)
    specs = []
    for i in range(4):
        p = os.path.join(src_dir, f"layer_{i}.tif")
        writer = write_classic_geotiff if i % 2 == 0 else write_bigtiff_geotiff
        writer(p, width=6 + i, height=4 + i)
        specs.append((p, f"layer_{i}_cog.tif"))
    bad = os.path.join(src_dir, "corrupt.tif")
    with open(bad, "wb") as fh:
        fh.write(b"not a tiff")
    specs.append((bad, "corrupt_cog.tif"))
    specs.append((os.path.join(src_dir, "ghost.tif"), "ghost_cog.tif"))

    meta = spark.createDataFrame(specs, "filepath string, cog_filename string")
    # Effectful sink feeding TWO plan branches: materialize exactly once
    # (localCheckpoint) or the second execution would see the files already
    # on disk and report 'skipped' — same compute-once rule as the probe.
    statuses = step01_cog(meta, out_dir).localCheckpoint()

    written = statuses.filter(F.col("status") == "written").select(
        F.concat(F.lit(out_dir + "/"), F.col("cog_filename")).alias("path")
    )
    parsed = scan_raster_header(written).select(
        F.col("filename").alias("cog_filename"), "nrows", "crs_epsg", "datatype"
    )
    return statuses.select("cog_filename", "status").join(
        parsed, "cog_filename", "left"
    )


# LZW + BigTIFF dialect round-trip: deterministic layers, expected pixel
# checksums computed at registration time from the SAME generator the
# executors use — so the oracle proves decode(lzw(predictor(x))) == x
# end-to-end, not merely that files appeared.
_LZW_COG_SPECS = [(f"lzw_layer_{i}", 30 + 7 * i, 20 + 5 * i, 100 + i) for i in range(4)]


def _lzw_arr(w: int, h: int, seed: int):
    import numpy as np

    return np.random.default_rng(seed).normal(size=(h, w)).astype("f4")


def _px_checksum(arr) -> int:
    import numpy as np

    u = np.frombuffer(np.ascontiguousarray(arr.astype("<f4")).tobytes(), dtype="<u4")
    return int(u.astype("u8").sum() % 1_000_000_007)


_LZW_COG_VALUES = ", ".join(
    f"('{name}_cog.tif', {h}, {w}, 5070, 'float32', {_px_checksum(_lzw_arr(w, h, seed))})"
    for name, w, h, seed in _LZW_COG_SPECS
)


@query(
    "sink_cog_lzw_bigtiff",
    oracle=f"""
    SELECT cog_filename, nrows, ncols, crs_epsg, datatype,
           CAST(px_checksum AS BIGINT) AS px_checksum
    FROM (VALUES {_LZW_COG_VALUES})
      AS t(cog_filename, nrows, ncols, crs_epsg, datatype, px_checksum)
    """,
)
def sink_cog_lzw_bigtiff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 in the reference's ACTUAL output dialect: the production run left
    GDAL's COG defaults in force (options commented out, 01b:41-46), which
    produce LZW compression (meta.json:32) — and the 3-4 GB layers need
    BigTIFF offsets. Per layer, one executor task: generate the
    deterministic grid, write an LZW/predictor-3 tiled source GeoTIFF,
    decode it back (LZW + float-predictor path), convert to an LZW BigTIFF
    COG via write_cog, re-parse header AND pixels from the artifact, and
    emit a bit-level checksum the VALUES oracle pins to the registration-
    time expectation.

    Oracle independence: the expected checksums are computed from the
    generator's INPUT array directly (never through the codec), so the
    pin proves decode(encode(x)) == x end-to-end; the LZW/predictor
    decoder is additionally proven against spec-constructed streams in
    tests/test_tiff_lzw.py."""
    out_dir = _scratch_dir("sink_cog_lzw", sf_dir)
    src = spark.createDataFrame(_LZW_COG_SPECS, "name string, w int, h int, seed int")
    schema = StructType(
        [
            StructField("cog_filename", StringType()),
            StructField("nrows", IntegerType()),
            StructField("ncols", IntegerType()),
            StructField("crs_epsg", IntegerType()),
            StructField("datatype", StringType()),
            StructField("px_checksum", LongType()),
        ]
    )

    def convert(name: str, w: int, h: int, seed: int) -> list[tuple]:
        from wri_data_processing_spark.geo.cog_writer import write_cog
        from wri_data_processing_spark.sources.tiff_fixture import write_geotiff_grid
        from wri_data_processing_spark.sources.tiff_header import (
            read_geotiff_header,
            read_geotiff_pixels,
        )

        arr = _lzw_arr(w, h, seed)
        src_path = os.path.join(out_dir, f"{name}.tif")
        write_geotiff_grid(src_path, arr, tiled=True, predictor=3, compression="lzw")
        decoded = read_geotiff_pixels(src_path)
        cog_path = os.path.join(out_dir, f"{name}_cog.tif")
        write_cog(
            cog_path,
            decoded,
            xmin=0.0,
            ymax=float(h),
            res_x=1.0,
            res_y=1.0,
            epsg=5070,
            tile=16,
            predictor=3,
            compression="lzw",
            bigtiff=True,
        )
        hdr = read_geotiff_header(cog_path)
        return [(
            f"{name}_cog.tif",
            hdr["nrows"],
            hdr["ncols"],
            hdr["crs_epsg"],
            hdr["datatype"],
            _px_checksum(read_geotiff_pixels(cog_path)),
        )]

    return map_rows(src.repartition(len(_LZW_COG_SPECS)), convert, schema)


@query(
    "probe_url_exists",
    oracle="SELECT p_partkey, (length(p_name) % 2 = 0) AS is_hosted"
    " FROM part WHERE p_partkey < 500",
)
def probe_url_exists_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: existence probe through the pooled pandas-UDF path, computed once.

    The prober is a deterministic stand-in for HTTP HEAD (2xx parity by name
    length), so the effectful-source plumbing — vectorized UDF, cache-once
    contract — is exercised with an exact oracle.
    """
    p = table(spark, sf_dir, "part").filter(F.col("p_partkey") < 500)
    flagged = with_hosted_flag(
        p.select("p_partkey", "p_name"), probe=lambda name: len(name) % 2 == 0,
        filename_col="p_name",
    )
    return flagged.select("p_partkey", "is_hosted")


_REQUIRED_COLS = ["l_orderkey", "l_quantity", "l_shipdate", "nonexistent_col"]
_REQ_VALUES = ", ".join(
    f"('{c}', {str(c != 'nonexistent_col').upper()})" for c in _REQUIRED_COLS
)


@query(
    "assert_schema",
    oracle=f"SELECT required_col, present FROM (VALUES {_REQ_VALUES})"
    " AS t(required_col, present)",
)
def assert_schema_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: required-column contract check (02b:112-123) as a presence table.

    The library assert_schema raises on the first missing column (exact
    reference semantics, covered in tests); the query form reports presence
    per column so the result is a checkable relation.

    Oracle independence: the VALUES rows are the hand-stated column
    CONTRACT (spec, not engine output); the engine derives presence from
    the live parquet schema, so the two sides share nothing.
    """
    l = table(spark, sf_dir, "lineitem")
    cols = set(l.columns)
    rows = [(c, c in cols) for c in _REQUIRED_COLS]
    return spark.createDataFrame(rows, ["required_col", "present"])


@query(
    "stream_watermark",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM events
    WHERE ts >= (SELECT MAX(ts) FROM events) - INTERVAL '10 minutes'
    GROUP BY 1
    """,
)
def stream_watermark_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 batch analog: late-data drop at watermark = max(event time) - 10 min.

    In streaming this is df.withWatermark("ts", "10 minutes") state eviction
    (streaming/pipelines.py wires the real readStream twin); batch mode
    computes the same cut deterministically over the full table.
    """
    e = table(spark, sf_dir, "events")
    wm = e.agg((F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("wm"))
    return (
        e.join(F.broadcast(wm))
        .filter(F.col("ts") >= F.col("wm"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "scan_orc",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
    FROM lineitem WHERE l_orderkey < 3000
    GROUP BY l_returnflag
    """,
)
def scan_orc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round trip: lineitem subset -> ORC (overwrite) -> scan + agg.

    Exercises Spark's second native columnar format end-to-end. The
    read-side plan gets the same pushdown machinery as parquet (predicate
    pushdown + column pruning into the ORC reader); the oracle aggregates
    the parquet original, so a match proves the format conversion is
    lossless for long/double/string columns.
    """
    path = _scratch_dir("scan_orc", sf_dir)
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 3000)
    l.select("l_orderkey", "l_returnflag", "l_quantity").write.mode("overwrite").orc(path)
    return (
        spark.read.orc(path)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double").alias("sum_qty"),
        )
    )


@query(
    "scan_jsonl",
    oracle="""
    SELECT lang, source, COUNT(*) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def scan_jsonl_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines round trip: documents -> JSONL (overwrite) -> schema'd
    scan + agg, completing the format matrix (parquet/CSV/ORC/JSON).

    The read supplies an EXPLICIT schema — at 100 TB letting Spark infer
    JSON schemas means a full extra pass over the data before the real
    one; with the schema given, the reader is single-pass and column
    pruning still applies (unread fields are never parsed). The oracle
    aggregates the parquet original, so a match proves the text round
    trip is lossless for long/string columns.
    """
    path = _scratch_dir("scan_jsonl", sf_dir)
    d = table(spark, sf_dir, "documents")
    d.select("doc_id", "lang", "source", "n_chars").write.mode("overwrite").json(path)
    schema = "doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT"
    return (
        spark.read.schema(schema).json(path)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@query("maintenance_compaction")  # rows-only: file-system side effects, no SQL twin
def maintenance_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: the table-maintenance pass every warehouse runs.

    Streaming ingest and over-parallel writes leave thousands of tiny
    files; scans then pay per-file open cost and lose footer-statistics
    value. This op materializes the pathological layout (64 shards of one
    small table), sizes the compacted layout from ACTUAL on-disk bytes
    (target 32 MB per file, the small-table end of the usual 128 MB-1 GB
    band), rewrites with a single round-robin repartition, and reports
    before/after file counts plus a row-preservation flag. At 100 TB this
    exact plan runs per-partition (compact yesterday's partition, swap it
    in atomically) — the full-table rewrite here is the unit shape.
    """
    src = _scratch_dir("compaction_src", sf_dir)
    dst = _scratch_dir("compaction_dst", sf_dir)
    e = table(spark, sf_dir, "events")
    files = snapshots.write_batch(e.repartition(64), src)
    total_bytes = sum(os.path.getsize(f) for f in files)
    target = max(1, -(-total_bytes // (32 * 1024 * 1024)))  # ceil-div

    small = spark.read.parquet(src)
    out_files = snapshots.write_batch(small.repartition(target), dst)
    n_before, n_after = len(files), len(out_files)
    rows_src = spark.read.parquet(src).count()
    rows_dst = spark.read.parquet(dst).count()
    return spark.createDataFrame(
        [(n_before, n_after, rows_dst, rows_src == rows_dst)],
        "n_files_before int, n_files_after int, n_rows long, rows_preserved boolean",
    )


@query(
    "sink_dynamic_partition_overwrite",
    oracle="""
    WITH first_write AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY 1),
    second_write AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents WHERE source = 'src0' AND doc_id % 40 = 0 GROUP BY 1)
    SELECT f.source,
           CASE WHEN s.n IS NOT NULL THEN s.n ELSE f.n END AS n_rows,
           s.n IS NOT NULL AS was_overwritten
    FROM first_write f LEFT JOIN second_write s USING (source)
    """,
)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (Spark's partitionOverwriteMode=dynamic;
    Delta's replaceWhere): a partitioned table is written, then a second
    overwrite carrying only HALF of src0 (doc_id % 40 == 0 — src0 ids are
    the multiples of 20, so % 2 would keep them all) replaces ONLY the
    src0 partition —
    untouched partitions must survive byte-for-byte. This is the daily
    idempotent-backfill primitive: re-running one day's job must never
    truncate the other 364 partitions the way static overwrite mode does.

    The mode is set per-write via the DataFrameWriter option (not on the
    session), so the engine session posture is untouched. The readback
    proves both halves of the contract: src0 carries the second write's
    filtered rows, every other source carries the first write's counts.

    100 TB notes: dynamic overwrite commits by swapping partition
    directories — the data moved is the NEW partitions only, and the
    read-side partition pruning this layout enables is tested separately
    (test_partition_pruning). Partition count, not data size, bounds the
    commit's metadata work.
    """
    import os

    d = table(spark, sf_dir, "documents")
    root = _scratch_dir("dyn_overwrite", sf_dir)
    path = os.path.join(root, "docs")
    d.select("doc_id", "source").write.partitionBy("source").parquet(path)
    (
        d.filter((F.col("source") == "src0") & (F.col("doc_id") % 40 == 0))
        .select("doc_id", "source")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("source")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    first = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_first"))
    return (
        back.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .join(first, "source")
        .select(
            "source",
            "n_rows",
            (F.col("n_rows") != F.col("n_first")).alias("was_overwritten"),
        )
    )


@query(
    "scan_jsonl_quarantine",
    oracle="""
    WITH d AS (SELECT COUNT(*) AS n FROM documents)
    SELECT CAST(d.n + 3 AS BIGINT) AS n_lines,
           CAST(d.n AS BIGINT) AS n_good,
           CAST(3 AS BIGINT) AS n_quarantined,
           CAST((SELECT SUM(n_chars) FROM documents) AS BIGINT)
             AS total_chars_good
    FROM d
    """,
)
def scan_jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record quarantine on JSONL ingest — the production
    posture for reading feeds you don't control: PERMISSIVE mode routes
    every unparseable line into the _corrupt_record column instead of
    killing the job (FAILFAST) or silently dropping it (DROPMALFORMED —
    the dangerous default people reach for). The fixture appends three
    classic poison lines to a clean export — truncated JSON, a bare
    string, and a schema-violating type — and the op reports the ingest
    triage: total lines, parsed rows, quarantined rows, and a checksum
    aggregate over the good rows proving the poison didn't corrupt
    neighbors.

    The oracle states the expected triage from the CLEAN table plus the
    three known-bad lines — so a parser that drops good rows, parses bad
    ones, or miscounts fails the compare.

    Plan: one single-pass schema'd read (no inference pass); the corrupt
    column is only materialized for the counting aggregate. At 100 TB
    quarantined lines land in a dead-letter table for replay — here the
    count stands in for that sink.
    """
    import os

    path = _scratch_dir("scan_jsonl_quarantine", sf_dir)
    d = table(spark, sf_dir, "documents")
    d.select("doc_id", "lang", "n_chars").write.mode("overwrite").json(path)
    poison = [
        '{"doc_id": 999999, "lang": "en", "n_chars":',  # truncated
        '"not an object"',  # bare string
        '{"doc_id": "NaN-ish", "lang": 7, "n_chars": {"nested": true}}',
    ]
    with open(os.path.join(path, "poison.json"), "w") as fh:
        fh.write("\n".join(poison) + "\n")
    schema = (
        "doc_id BIGINT, lang STRING, n_chars BIGINT, _corrupt_record STRING"
    )
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    bad = F.col("_corrupt_record").isNotNull()
    return raw.agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum((~bad).cast("long")).cast("long").alias("n_good"),
        F.sum(bad.cast("long")).cast("long").alias("n_quarantined"),
        F.sum(F.when(~bad, F.col("n_chars"))).cast("long").alias("total_chars_good"),
    )


@query(
    "scan_parquet_footer_stats",
    oracle="""
    WITH w AS (SELECT MAX(o_orderkey) // 4 + 1 AS w FROM orders)
    SELECT CAST(o_orderkey // w.w AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders, w GROUP BY 1 ORDER BY 1
    """,
)
def scan_parquet_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-then-audit of parquet FOOTER statistics — the metadata that
    makes partition pruning and row-group skipping work: range-bucket
    orders by key into one file per bucket, then read every written
    file's footer DISTRIBUTIVELY (pyarrow inside the Arrow row map — each task
    opens only its own footers, the pattern a 100 TB manifest builder
    uses: a million footers are a million tiny reads you fan out, never
    a driver loop) and verify the recorded min/max/num_rows against the
    data's own truth, which is exactly what the oracle recomputes from
    the source table. A scan whose footer stats lie prunes wrong — this
    op is the audit that catches it (the fixture parquets themselves are
    single-row-group, probed, hence the write-then-audit shape).

    Determinism: the bucket width is max_key // 4 + 1 from an exact
    1-row collect (bounded), so bucket boundaries are data-derived and
    identical in the oracle; footer min/max of an integer column are
    exact; the per-bucket fold (sum of num_rows, min of mins, max of
    maxs) is partitioning-proof.

    Plan: one repartition-by-bucket write (4 writer tasks, one file
    each), a 4-row file-list frame through the Arrow boundary
    (whitelisted), one tiny aggregate. The data-sized work is the single
    write pass.
    """
    import glob as _glob

    o = table(spark, sf_dir, "orders").select("o_orderkey")
    hi = o.agg(F.max("o_orderkey").cast("long").alias("hi")).collect()[0]["hi"]
    w = hi // 4 + 1
    root = os.path.join(_scratch_dir("footer_stats", sf_dir), "data")
    (
        o.withColumn("bucket", F.expr(f"o_orderkey div {w}"))
        .repartition("bucket")
        .write.partitionBy("bucket")
        .parquet(root)
    )
    files = sorted(_glob.glob(os.path.join(root, "bucket=*", "*.parquet")))
    fdf = spark.createDataFrame([(p,) for p in files], "path string")

    def read_footers(path: str) -> list[tuple]:
        import pyarrow.parquet as pq

        bucket = int(path.split("bucket=")[1].split("/")[0])
        meta = pq.ParquetFile(path).metadata
        rows = []
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            for ci in range(rg.num_columns):
                col = rg.column(ci)
                if col.path_in_schema == "o_orderkey":
                    st = col.statistics
                    rows.append((bucket, rg.num_rows, int(st.min), int(st.max)))
        return rows

    footer = map_rows(fdf, read_footers, "bucket long, n long, mn long, mx long")
    return (
        footer.groupBy("bucket")
        .agg(
            F.sum("n").cast("long").alias("n_rows"),
            F.min("mn").cast("long").alias("min_key"),
            F.max("mx").cast("long").alias("max_key"),
        )
        .orderBy("bucket")
    )
