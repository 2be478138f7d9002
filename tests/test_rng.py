"""Statistical sanity + determinism of the counter-based RNG."""

from __future__ import annotations

def test_table_lookup_threshold_equals_flat():
    """The run-length threshold encoding must select exactly the same
    value as the flat table for every slot (both engines)."""
    import duckdb
    from nifi_datasynthesizer_spark.rng import table_lookup
    from nifi_datasynthesizer_spark.dual import D
    table = ["a"] * 5 + ["b"] * 1 + ["c"] * 10  # uneven runs
    slot = D("i", "i")
    d = table_lookup(slot, table)
    got = [r[0] for r in duckdb.sql(
        f"SELECT {d.s} FROM range(0, {len(table)}) t(i)").fetchall()]
    assert got == table
    # single-run degenerate table collapses to a constant
    dc = table_lookup(slot, ["x"] * 8)
    assert duckdb.sql(f"SELECT DISTINCT {dc.s} FROM range(0, 8) t(i)"
                      ).fetchall() == [("x",)]

import duckdb
import pytest

from nifi_datasynthesizer_spark import compile_schema


def _sample_u01(n=20000, seed=0):
    sql = compile_schema([{"name": "u", "class": "double",
                           "min": 0, "max": 1}], seed=seed).duckdb_sql(n)
    return [r[0] for r in duckdb.sql(sql).fetchall()]


def test_uniform_moments():
    xs = _sample_u01()
    n = len(xs)
    mean = sum(xs) / n
    var = sum((x - mean) ** 2 for x in xs) / n
    assert abs(mean - 0.5) < 0.01, mean
    assert abs(var - 1 / 12) < 0.005, var


def test_uniform_chi_square():
    xs = _sample_u01()
    bins = [0] * 20
    for x in xs:
        bins[min(19, int(x * 20))] += 1
    expect = len(xs) / 20
    chi2 = sum((b - expect) ** 2 / expect for b in bins)
    # df=19; p=0.001 critical value ≈ 43.8
    assert chi2 < 43.8, (chi2, bins)


def test_no_serial_correlation():
    xs = _sample_u01()
    n = len(xs) - 1
    mean = sum(xs) / len(xs)
    cov = sum((xs[k] - mean) * (xs[k + 1] - mean) for k in range(n)) / n
    var = sum((x - mean) ** 2 for x in xs) / len(xs)
    assert abs(cov / var) < 0.02, cov / var


def test_seed_independence():
    a = _sample_u01(2000, seed=1)
    b = _sample_u01(2000, seed=2)
    assert a != b
    # same seed reproduces exactly
    assert a == _sample_u01(2000, seed=1)


def test_partitioning_invariance(spark):
    """The same schema must produce identical rows regardless of the
    partition count — the property that makes generation safe under
    AQE re-planning and task retries on a real cluster."""
    cs = compile_schema([{"name": "rec_id", "class": "id"},
                         {"name": "v", "class": "int", "min": 0, "max": 1000}],
                        seed=3)
    one = sorted(map(tuple, cs.dataframe(spark, 5000, partitions=1).collect()))
    many = sorted(map(tuple, cs.dataframe(spark, 5000, partitions=17).collect()))
    assert one == many


def test_table_round_trips_bit_exact(spark):
    """dual.table's one literal node folds to exactly the python
    values: the largest quantile tables, the zip coordinates, int64
    extremes and a string table with every quoting hazard of the text
    inside a Spark string literal, plus a control character (the
    separator must avoid it)."""
    from nifi_datasynthesizer_spark import vocab as V
    from nifi_datasynthesizer_spark.dual import table
    from nifi_datasynthesizer_spark.samplers import _EXP_QUANTILES, _n01_table
    floats = [_n01_table(), _EXP_QUANTILES, V.ZIP_LATS, V.ZIP_LONS,
              [1, -0.0, 2.5]]
    ints = [0, -1, 2 ** 63 - 1, -2 ** 63]
    strs = ["it's", "back\\slash", 'a "quote"', "line\nbreak",
            "naïve 東京 😀", "", "\x01\\u0001", ""]
    row = spark.sql("SELECT " + ", ".join(
        f"{table(t)} AS t{k}"
        for k, t in enumerate(floats + [ints, strs]))).first()
    for k, t in enumerate(floats):
        assert [x.hex() for x in row[k]] == [float(v).hex() for v in t], k
    assert list(row[len(floats)]) == ints
    assert list(row[len(floats) + 1]) == strs


def test_table_types_and_rejects():
    from nifi_datasynthesizer_spark.dual import table
    assert table(["a", "b"]).startswith("split(")
    assert table([1, 2]).endswith("AS array<bigint>)")
    assert "'1.0,2.5', ',') AS array<double>)" in table([1, 2.5])
    for bad in ([], [True, 1], [1.0, float("nan")], [float("inf")],
                ["a", 1], ["".join(map(chr, range(1, 32)))]):
        with pytest.raises((TypeError, ValueError)):
            table(bad)


def test_table_constant_folded(spark):
    """Every lookup table of a basic-style schema (normal/gamma
    quantiles, names, words, a foreign key) reaches the analyser as
    split and leaves the optimiser as a folded literal with non-null
    elements: a split left in the optimised plan would re-parse the
    table for every row, and nullable elements would make the columns
    nullable and the generated code slower."""
    cs = compile_schema([
        {"name": "score", "class": "normal", "mean": 100, "sd": 15},
        {"name": "wait", "class": "gamma", "alpha": 3, "beta": 2},
        {"name": "who", "class": "name"},
        {"name": "fav", "class": "word"},
        {"name": "fk", "class": "foreign-key", "size": 500, "skew": 1},
    ], seed=3)
    df = cs.dataframe(spark, 10, partitions=1)
    qe = df._jdf.queryExecution()
    assert "split(" in qe.analyzed().toString()
    assert "split(" not in qe.optimizedPlan().toString()
    assert [f.name for f in df.schema if f.nullable] == []


def test_table_malformed_raises(spark):
    """A malformed number fails the query (ANSI cast, Spark's default)
    instead of folding to a null element."""
    from nifi_datasynthesizer_spark.dual import table
    bad = table([1, 2]).replace("'1,2'", "'1,x'")
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        spark.sql(f"SELECT element_at({bad}, 1) AS v").collect()
