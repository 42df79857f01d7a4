#!/usr/bin/env python
"""Capture .explain("formatted") output into <out_dir>/<query>_<tag>.txt.

The evidence trail of a plan change: before touching a query, run

    python experiments/capture_plans.py plans/<topic> before <query> [<query> ...]

and after the change

    python experiments/capture_plans.py plans/<topic> after <query> [<query> ...]

Plans are captured at sf0.1 (the bench SF) unless SPARK_GRAFT_SF_DIR says
otherwise. Builders that localCheckpoint run their materialization jobs as a
side effect, and the returned frame then reads those checkpoints as scans of
an RDD; so the file also holds, in the order the builder made them, the plan
of every frame it checkpointed. That is where an iterative op's edge
derivation and per-round joins show.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame

from full_sweep import DEFAULT_SFS
from wri_data_processing_spark import registry
from wri_data_processing_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SFS[-1])


def _explain(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def main() -> None:
    out_dir, tag, *names = sys.argv[1:]
    assert tag in ("before", "after"), "tag must be before|after"
    registry.load_all()
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"plans-{tag}")
    checkpointed: list[str] = []
    frame_cls = type(spark.range(1))  # the session's concrete DataFrame class
    local_checkpoint = frame_cls.localCheckpoint

    def recording_checkpoint(self, *args, **kwargs):
        checkpointed.append(_explain(self))
        return local_checkpoint(self, *args, **kwargs)

    frame_cls.localCheckpoint = recording_checkpoint
    for name in names:
        checkpointed.clear()
        plan = _explain(registry.REGISTRY[name](spark, SF_DIR))
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"== {name} ({tag}, sf_dir={SF_DIR}) ==\n")
            f.write(plan)
            for i, cp in enumerate(checkpointed, 1):
                f.write(f"\n== localCheckpoint {i} of {len(checkpointed)} ==\n")
                f.write(cp)
        print(f"wrote {path} ({len(plan.splitlines())} lines, {len(checkpointed)} checkpoints)")


if __name__ == "__main__":
    main()
