"""One Arrow boundary for per-row Python work.

Every per-file or per-payload stage of the engine (raster header reads, COG
conversion, media decoders) is a Python function of one input row that
emits zero, one or several output rows. ``map_rows`` owns the batch format
for all of them: it runs inside ``DataFrame.mapInArrow``, reads each
batch's columns as plain Python values, and builds typed
``pyarrow.RecordBatch``es from the returned tuples — no pandas on either
side of the boundary.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def map_rows(
    df: DataFrame,
    fn: Callable[..., Iterable[tuple[Any, ...]]],
    schema: StructType | str,
) -> DataFrame:
    """``fn(*row)`` over every row of ``df`` (its columns in order), each call
    returning an iterable of output tuples in ``schema`` field order.

    ``schema`` is a ``StructType`` or a DDL string. Output batches follow the
    input batches one for one, so a task holds one batch of results at a time.
    """
    struct = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    arrow = to_arrow_schema(struct)

    def run(batches: Iterator[Any]) -> Iterator[Any]:
        import pyarrow as pa

        for batch in batches:
            cols = [batch.column(c).to_pylist() for c in range(batch.num_columns)]
            rows = [out for row in zip(*cols) for out in fn(*row)]
            yield pa.RecordBatch.from_arrays(
                [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
                schema=arrow,
            )

    return df.mapInArrow(run, struct)
