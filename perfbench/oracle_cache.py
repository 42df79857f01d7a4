"""DuckDB oracle answers, cached on disk per input seed.

``tests.oracle_harness.compare(spark_df, con, sql)`` only calls
``con.execute(sql).df()``, so this cache stands in for the connection: a
miss runs the SQL on DuckDB over the seed's tables and stores the answer; a
hit returns the stored answer without opening DuckDB. The key is the seed
plus a hash of the SQL, so an edited oracle is recomputed.
"""

from __future__ import annotations

import hashlib
import os
import pickle


class _Result:
    def __init__(self, frame) -> None:
        self._frame = frame

    def df(self):
        return self._frame


class OracleCache:
    def __init__(self, cache_root: str, sf_dir: str, seed: int, connect=None) -> None:
        self.dir = os.path.join(cache_root, f"seed-{seed}")
        self.sf_dir = sf_dir
        self.misses = 0
        self._connect = connect
        self._con = None

    def path(self, sql: str) -> str:
        return os.path.join(self.dir, hashlib.sha256(sql.encode()).hexdigest()[:24] + ".pkl")

    def execute(self, sql: str) -> _Result:
        path = self.path(sql)
        if os.path.exists(path):
            # The files are written only by this class, below.
            with open(path, "rb") as f:
                return _Result(pickle.load(f))
        self.misses += 1
        frame = self._duck().execute(sql).df()
        os.makedirs(self.dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            pickle.dump(frame, f)
        os.replace(tmp, path)
        return _Result(frame)

    def _duck(self):
        if self._con is None:
            if self._connect is None:
                from tests.oracle_harness import duck_con

                self._con = duck_con(self.sf_dir)
                spill = os.path.join(os.path.dirname(self.dir), "duckdb_spill")
                self._con.execute(f"SET temp_directory='{spill}'")
                self._con.execute("SET memory_limit='2GB'")
            else:
                self._con = self._connect(self.sf_dir)
        return self._con

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
