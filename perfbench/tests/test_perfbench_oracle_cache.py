"""The oracle cache answers from disk per seed and SQL, and only misses once."""

from __future__ import annotations

import pandas as pd
import pytest

from oracle_cache import OracleCache


class FakeDuck:
    """Counts queries; the answer names the data directory it was asked on."""

    def __init__(self, sf_dir: str, calls: list) -> None:
        self.sf_dir = sf_dir
        self.calls = calls

    def execute(self, sql: str):
        self.calls.append((self.sf_dir, sql))
        frame = pd.DataFrame({"sf_dir": [self.sf_dir], "sql": [sql]})
        return type("R", (), {"df": lambda self: frame})()

    def close(self) -> None:
        pass


@pytest.fixture
def calls():
    return []


def cache(root, seed, calls):
    return OracleCache(str(root), f"/data/seed-{seed}", seed, connect=lambda d: FakeDuck(d, calls))


def test_second_lookup_is_a_hit_across_instances(tmp_path, calls):
    first = cache(tmp_path, 7, calls).execute("SELECT 1").df()
    again = cache(tmp_path, 7, calls)
    second = again.execute("SELECT 1").df()
    pd.testing.assert_frame_equal(first, second)
    assert calls == [("/data/seed-7", "SELECT 1")]
    assert again.misses == 0


def test_seeds_do_not_share_answers(tmp_path, calls):
    a = cache(tmp_path, 7, calls).execute("SELECT 1").df()
    b = cache(tmp_path, 8, calls).execute("SELECT 1").df()
    assert a["sf_dir"][0] == "/data/seed-7"
    assert b["sf_dir"][0] == "/data/seed-8"
    assert len(calls) == 2


def test_edited_sql_is_a_miss(tmp_path, calls):
    c = cache(tmp_path, 7, calls)
    c.execute("SELECT 1")
    c.execute("SELECT 2")
    c.execute("SELECT 1")
    assert c.misses == 2
    assert c.path("SELECT 1") != c.path("SELECT 2")
