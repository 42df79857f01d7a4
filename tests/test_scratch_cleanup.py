"""io_ops' per-process scratch root is removed when the process exits."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import os, sys
from wri_data_processing_spark.queries import io_ops

kept = sys.argv[1]
os.makedirs(os.path.join(io_ops._scratch_dir("op", "/data/sf0.001"), "part"))
pid = os.fork()
if pid == 0:
    sys.exit(0)  # a forked child runs the inherited exit hook
os.waitpid(pid, 0)
assert os.path.isdir(io_ops._SCRATCH), "a forked child removed its parent's scratch"
print(io_ops._SCRATCH)
io_ops._SCRATCH = kept
io_ops._scratch_dir("op", "/data/sf0.001")
"""


def test_default_scratch_root_removed_at_exit(tmp_path):
    kept = str(tmp_path / "reassigned")
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, kept],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    default_root = out.stdout.strip().splitlines()[-1]
    assert default_root.startswith("/tmp/wri_engine_scratch_")
    assert not os.path.exists(default_root)
    # A root the caller reassigned is the caller's to keep.
    assert os.path.isdir(os.path.join(kept, "op", "sf0.001"))
