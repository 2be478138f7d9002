"""The driver contract must hold under a VANILLA SparkSession — no
engine confs pre-set (round-1 regression class: read_table relied on
get_spark()'s nanosAsLong/timezone confs and every events query died
under the driver's own session).  Runs in a subprocess so the vanilla
JVM/session cannot inherit the test session's SQLConf."""

from __future__ import annotations

import subprocess
import sys

_SCRIPT = r"""
import sys
from pyspark.sql import SparkSession

# deliberately bare: only master/memory — NO timezone, NO nanosAsLong,
# NO Arrow/AQE tweaks.  This is what the correctness driver does.
spark = (SparkSession.builder.appName("vanilla")
         .master("local[4]")
         .config("spark.driver.memory", "4g")
         .getOrCreate())

sys.path.insert(0, "/root/repo")
import __spark_entry__ as E
from tests.conftest import compare_with_duckdb

q, o = E.queries(), E.oracle_sql()
# one representative per conf-sensitive family: nanos-parquet reads
# (events_*), timezone-dependent date math, streaming replay, plain
# synth, and a documents operator
for name in ["events_daily", "events_sessionize", "events_ohlc",
             "streaming_events_daily", "synth_basic", "text_langid"]:
    df = q[name](spark, "/root/testdata/sf0.001")
    compare_with_duckdb(df, o[name], sf_dir="/root/testdata/sf0.001")
    print("VANILLA-OK", name, flush=True)
print("ALL-VANILLA-OK")
"""


def test_driver_contract_under_vanilla_session():
    r = subprocess.run([sys.executable, "-c", _SCRIPT], cwd="/root/repo",
                       capture_output=True, text=True, timeout=600)
    assert "ALL-VANILLA-OK" in r.stdout, (
        f"stdout tail: {r.stdout[-2000:]}\nstderr tail: {r.stderr[-2000:]}")


def test_default_driver_memory_fits_the_machine():
    """A local master gets half of physical memory, capped at 24g, so a
    test JVM on a small machine is not OOM-killed; a cluster driver
    keeps 8g.  Pure sizing: starts no JVM."""
    from nifi_datasynthesizer_spark.session import _default_driver_memory
    gib = 2 ** 30
    assert _default_driver_memory("local[4]", 15 * gib) == "7680m"
    assert _default_driver_memory("local[*]", 256 * gib) == "24576m"
    assert _default_driver_memory("local", 48 * gib) == "24576m"
    assert _default_driver_memory("yarn", 15 * gib) == "8g"
