"""Seeded benchmark inputs: the star-schema tables and the raster corpus.

The tables mirror the engine's catalog (region nation customer supplier part
orders lineitem events documents embeddings) with the column types and value
ranges of the engine's test data. They are generated once from ``BASE_SEED``;
any other seed writes a seeded row permutation of the same rows, so the work
and the correct answers stay fixed while the physical layout changes.

The raster corpus is drawn from the seed itself: pixel values, NaN holes, and
a few broken or off-grid files that exercise the pipeline's failure branches.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

# Row counts: the engine's sf0.01 shape (lineitem 60k rows).
SIZES = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "users": 150,
    "documents": 500,
    "embeddings": 500,
}

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "es", "fr", "de", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts, exact in cents."""
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100.0


def _days(start: str, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 11 and i > 20:
            # Near duplicate: an earlier document plus a marker word.
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i % 97 == 50:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        else:
            words = rng.choice(_VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def base_tables() -> dict[str, pa.Table]:
    """The benchmark's tables in their base order (deterministic)."""
    rng = np.random.default_rng(BASE_SEED)
    s = SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n = s["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n
            ).tolist(),
        }
    )
    n = s["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = s["part"]
    colors = ["red", "blue", "green", "small", "large", "steel", "brass"]
    nouns = ["ring", "widget", "bolt", "gear", "panel", "valve"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": [
                f"{c} {w}" for c, w in zip(rng.choice(colors, n), rng.choice(nouns, n))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n
            ).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": (90_000 + np.arange(n) % 1000 * 10) / 100.0,
        }
    )
    n = s["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, s["customer"], n), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, n)),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
            ).tolist(),
        }
    )
    n = s["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, s["orders"], n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, s["part"], n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s["supplier"], n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n).tolist(),
            "l_shipdate": _days("1995-01-02", rng.integers(0, 2498, n)),
        }
    )
    n = s["events"]
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + offsets, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, s["users"], n), pa.int64()),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n).tolist(),
            "value": np.round(rng.exponential(50.0, n), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    t["documents"] = _documents(rng, s["documents"])
    n = s["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 0.08, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (n, 64))).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(out_dir: str, seed: int) -> None:
    """Write every table to ``out_dir/<name>.parquet``; rows permuted unless
    ``seed == BASE_SEED``. Written to a temporary name first, so an
    interrupted write never leaves a partial table behind."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, tbl in base_tables().items():
        if seed != BASE_SEED:
            tbl = tbl.take(pa.array(rng.permutation(tbl.num_rows)))
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


# --- raster corpus ----------------------------------------------------------

RASTER_DOMAINS = ["water", "species", "fire", "carbon"]
RASTER_DIMENSIONS = ["resistance", "recovery", "status"]


@dataclass(frozen=True)
class RasterCorpus:
    """Where the corpus was written and what the pipeline must make of it."""

    root: str
    shape: tuple[int, int]
    good: dict[str, str]  # cog_filename -> source path of every consistent layer
    broken: list[str]  # unreadable files: step00 records success = false
    off_grid: list[str]  # readable but fail the grid checks
    excluded: list[str]  # pruned before any raster read


def write_raster_corpus(root: str, seed: int, n_layers: int, size: int) -> RasterCorpus:
    """Seeded GeoTIFFs on the reference's fixed grid (EPSG:5070, 90 m).

    Layers alternate strip/tile layouts and predictors so the reader's
    decode paths all run; each has NaN holes. One truncated file, two
    off-grid files and two excluded archive copies ride along.
    """
    from wri_data_processing_spark.sources.tiff_fixture import write_geotiff_grid

    rng = np.random.default_rng(seed)
    good: dict[str, str] = {}
    for i in range(n_layers):
        domain = RASTER_DOMAINS[i % len(RASTER_DOMAINS)]
        dim = RASTER_DIMENSIONS[i % len(RASTER_DIMENSIONS)]
        path = os.path.join(root, "data", domain, "indicators", f"{domain}_{dim}_l{i:03d}.tif")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        arr = rng.normal(50.0, 15.0, (size, size)).astype(np.float32)
        for y, x in rng.integers(0, size - 8, (4, 2)):
            arr[y : y + 8, x : x + 8] = np.nan
        write_geotiff_grid(path, arr, tiled=bool(i % 2), tile=64, predictor=1 + 2 * (i % 2))
        good[os.path.basename(path)] = path
    broken = os.path.join(root, "data", "water", "indicators", "broken_layer_status.tif")
    with open(broken, "wb") as f:
        f.write(b"II*\x00" + rng.bytes(16))
    off_grid = []
    for j, shape in enumerate([(size // 2, size), (size, size + 16)]):
        p = os.path.join(root, "data", "fire", "indicators", f"offgrid{j}_status.tif")
        write_geotiff_grid(p, rng.normal(0, 1, shape).astype(np.float32))
        off_grid.append(p)
    excluded = []
    for k in range(2):
        p = os.path.join(root, "data", "archive", f"old{k}.tif")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        write_geotiff_grid(p, np.zeros((16, 16), np.float32))
        excluded.append(p)
    return RasterCorpus(root, (size, size), good, [broken], off_grid, excluded)
