"""Fast streaming-replay gate: four replays hash-compared against their
DuckDB oracles at sf0.001, one per shape of the replay driver, plus the
memory-sink view check.

- streaming_append_late_data: a late wave, then a sentinel wave;
- streaming_interval_join_left_outer: two directories per wave, 4
  shuffle partitions, sentinel-only waves;
- streaming_dedup_watermark: a byte-identical redelivery wave;
- streaming_checkpoint_restart_replay: two replays sharing one
  checkpoint.

The comparison is tools/check_oracles.py's, imported unchanged.
"""

import importlib.util
import os

import duckdb
import pytest

from gotsdb_spark.operators import ORACLES, QUERIES
from gotsdb_spark.sources.registry import TABLES

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def tools():
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(_ROOT, "tools", "check_oracles.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture()
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize(
    "name",
    [
        "streaming_append_late_data",
        "streaming_interval_join_left_outer",
        "streaming_dedup_watermark",
        "streaming_checkpoint_restart_replay",
    ],
)
def test_replay_matches_oracle(spark, sf_dir, tools, duck, name):
    got = QUERIES[name](spark, sf_dir).toPandas()
    want = duck.execute(ORACLES[name]).fetchdf()
    assert len(got) == len(want) > 0
    assert sorted(got.columns) == sorted(want.columns)
    assert tools.value_hash(tools.canon(got)) == tools.value_hash(
        tools.canon(want)
    )


def test_memory_replay_leaves_no_view(spark, sf_dir):
    """A memory-sink replay drops its sink's temp view: the emitted rows
    do not stay registered in the session."""
    QUERIES["streaming_dedup_watermark"](spark, sf_dir).count()
    names = [t.name for t in spark.catalog.listTables()]
    assert not [n for n in names if n.startswith("itg_")], names
