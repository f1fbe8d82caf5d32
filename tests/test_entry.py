"""Driver-contract regression net: __spark_entry__ must keep its shape."""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry_mod
from blazingsql_spark import width
from blazingsql_spark.queries import registry
from blazingsql_spark.sources.io import read_parquet_file

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SENTINELS = ("expr_math", "text_stats", "tpch_q1")


def test_contract_shapes():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert len(qs) >= 90
    assert set(oracles) <= set(qs)
    # rows-only set is small and intentional
    rows_only = set(qs) - set(oracles)
    assert rows_only <= {
        "agg_approx_distinct",
        "dedup_simhash",
        "expr_rand",
        "multimodal_decode",
        "multimodal_resize",
        "sim_ann_ivf",
    }
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and s.strip() for s in oracles.values())


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns[0] == "l_returnflag"


def test_every_oracle_parses_in_duckdb(oracle):
    """Cheap guard: every oracle SQL at least *parses* against the views
    (EXPLAIN, no execution) — catches dialect typos before the driver does."""
    import __spark_entry__ as e

    for name, sql in e.oracle_sql().items():
        oracle.execute(f"EXPLAIN {sql}")


def _registration_order() -> list[str]:
    """REGISTRY order as a fresh process builds it. In this process a test
    module may have imported a query module early, which reorders it."""
    code = (
        "from blazingsql_spark.queries.registry import REGISTRY, all_queries\n"
        "all_queries()\n"
        "print('\\n'.join(REGISTRY))"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, check=True)
    return out.stdout.split()


def test_driver_order():
    """DRIVER_ORDER is the 3 sentinels, then the 47 rows whose latest
    appearance in a committed CORRECTNESS_r*.json is oldest (ties by
    registration order), and it leads queries()."""
    last_round: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            for name in json.load(f):
                last_round[name] = max(last_round.get(name, 0), rnd)
    rest = [n for n in _registration_order() if n not in SENTINELS]
    rest.sort(key=lambda n: last_round.get(n, 0))  # stable: ties keep registration order
    expected = SENTINELS + tuple(rest[:47])
    body = "".join(f'    "{n}",\n' for n in expected)
    assert expected == registry.DRIVER_ORDER, f"regenerate registry.py's tuple:\nDRIVER_ORDER = (\n{body})"

    registered = registry.all_queries()
    assert len(set(registry.DRIVER_ORDER)) == len(registry.DRIVER_ORDER) == 50
    assert set(registry.DRIVER_ORDER) <= set(registered)
    qs = entry_mod.queries()
    assert list(qs)[:50] == list(registry.DRIVER_ORDER)
    assert len(qs) == 281


def test_scan_layout_unknown_layout_falls_back(tmp_path, monkeypatch):
    """A directory or a truncated file has no readable footer:
    width._scan_layout assumes the scan is parallel enough (no Spark
    needed to get there). Any other error is a bug and propagates."""
    good = tmp_path / "good.parquet"
    pq.write_table(pa.table({"a": list(range(100))}), good)
    truncated = tmp_path / "truncated.parquet"
    truncated.write_bytes(good.read_bytes()[:-10])
    directory = tmp_path / "dir.parquet"
    directory.mkdir()
    for path in (directory, truncated):
        assert width._scan_layout([str(path)], 128 << 20) == (1 << 30, 1 << 62)
        assert width._scan_layout([str(good), str(path)], 128 << 20) == (
            1 << 30,
            1 << 62,
        )
    assert width._scan_layout([str(good)], 128 << 20) == (1, 100)

    def broken(_path):
        raise RuntimeError("not a footer error")

    fresh = tmp_path / "fresh.parquet"  # not in the footer cache
    pq.write_table(pa.table({"a": [1]}), fresh)
    monkeypatch.setattr(pq, "ParquetFile", broken)
    with pytest.raises(RuntimeError):
        width._scan_layout([str(fresh)], 128 << 20)


def test_load_table_infers_schema_once(spark):
    """load_table infers a file's schema once per process: a later load
    of the unchanged file runs no job and reads the same schema. Loading
    the MICROS-timestamp events leaves the session's nanosAsLong flag as
    it was."""
    from tests.conftest import SF_DIR

    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    first = registry.load_table(spark, SF_DIR, "events")
    sc = spark.sparkContext
    sc.setJobGroup("read_schema", "load_table")
    try:
        again = registry.load_table(spark, SF_DIR, "events")
        assert sc.statusTracker().getJobIdsForGroup("read_schema") == []
    finally:
        sc.setJobGroup("", "")
    assert again.schema == first.schema
    assert dict(again.dtypes)["ts"] == "timestamp_ntz"
    assert spark.conf.get(key) == before


def test_read_parquet_nanos_and_rewrite(spark, tmp_path):
    """A TIMESTAMP(NANOS) footer sets nanosAsLong, the only way Spark
    reads the column (as bigint); rewriting a file with another layout
    invalidates its cached schema."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    path = str(tmp_path / "t.parquet")
    try:
        pq.write_table(
            pa.table({"ts": pa.array([1_000_000_123, None], pa.timestamp("ns"))}),
            path,
        )
        df = read_parquet_file(spark, path)
        assert df.schema.simpleString() == "struct<ts:bigint>"
        assert [r.ts for r in df.collect()] == [1_000_000_123, None]
        pq.write_table(pa.table({"u": pa.array([1, 2], pa.int32())}), path)
        os.utime(path, ns=(1, 1))  # a new mtime even on a coarse clock
        assert read_parquet_file(spark, path).schema.simpleString() == (
            "struct<u:int>"
        )
    finally:
        spark.conf.set(key, before)
