"""The DuckDB spellings of the 2^20 fixed-point vector helpers, which the
embedding oracles are rendered from, against the Spark helpers the ops run:
``_qv_sql`` vs ``_qvec`` and ``_idot_sql`` vs ``_idot``, element for element,
on float32 vectors that sit on, and one ulp either side of, 2^-20 grid
points."""

from __future__ import annotations

import duckdb
import numpy as np
from pyspark.sql import functions as F

from wri_data_processing_spark.queries.llm_similarity import _idot, _idot_sql, _qv_sql, _qvec

_GRID = np.array([k / 2**20 for k in (1, -1, 3, -7, 2**20, 1 - 2**21, 12345, -99999)], np.float32)
_VECTORS = [
    _GRID,
    np.nextafter(_GRID, np.float32(-np.inf)),
    np.nextafter(_GRID, np.float32(np.inf)),
    np.array([0.0, -0.0, -0.5, 0.75, -1e-7, 1e-7, 0.999999, -3.25], np.float32),
]


def test_quantized_vector_sql_matches_spark(spark):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(_VECTORS)]
    e = spark.createDataFrame(rows, "id int, embedding array<float>")
    q = e.select("id", _qvec("embedding").alias("qv"))
    spark_qv = {r["id"]: r["qv"] for r in q.collect()}
    spark_dot = {
        (r["a"], r["b"]): r["d"]
        for r in q.select(F.col("id").alias("a"), F.col("qv").alias("x"))
        .crossJoin(q.select(F.col("id").alias("b"), F.col("qv").alias("y")))
        .select("a", "b", _idot(F.col("x"), F.col("y")).alias("d"))
        .collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (id INTEGER, embedding FLOAT[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
    duck_qv = dict(con.execute(f"SELECT id, {_qv_sql('embedding')} FROM embeddings").fetchall())
    duck_dot = {
        (a, b): d
        for a, b, d in con.execute(
            f"WITH q AS (SELECT id, {_qv_sql('embedding')} AS qv FROM embeddings) "
            f"SELECT a.id, b.id, {_idot_sql('a.qv', 'b.qv')} FROM q a, q b"
        ).fetchall()
    }

    assert duck_qv == spark_qv
    assert duck_dot == spark_dot
    # The grid points floor to their own index, the floats just below them
    # to the index before: the vectors test the floor's edge.
    grid = [round(float(x) * 2**20) for x in _GRID]
    assert spark_qv[0] == grid and spark_qv[1] == [k - 1 for k in grid] and spark_qv[2] == grid
