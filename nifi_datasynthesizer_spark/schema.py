"""Schema compiler: log-synth JSON schema → Spark DataFrame + SQL mirror.

Equivalent of ``SchemaSampler.java`` (reference generators module) and
the ``DataSynthesizer`` processor: a schema is a JSON array of field
specs, each with a ``class`` naming a sampler.  We compile the whole
schema once into flat column expressions over ``spark.range(n)`` —
generation is then a single narrow stage: no shuffle, no Python, full
whole-stage codegen, linearly scalable to any row count / executor
count.  ``duckdb_sql(n)`` returns the exact replay query used for the
correctness oracle.  The canned processors in ``synthesizers`` return
the same :class:`CompiledSchema`.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import dual as X
from .dual import D
from .samplers import Ctx, compile_field

# at 100 TB keep ~128MB-worth of rows per task; callers can override
DEFAULT_ROWS_PER_PARTITION = 2_000_000


class CompiledSchema:
    """A generated table: named dual columns over the row index ``i``,
    plus its DuckDB replay SQL (oracle mirror).

    ``n`` is the default row count.  ``where`` is a row predicate
    evaluated after the helper stage (it may reference helper names):
    variable-length generators emit a fixed grid and mask the tail,
    keeping generation a narrow map with no per-row explode.
    """

    def __init__(self, columns: list[tuple[str, D]],
                 helpers: dict[str, D] | None = None,
                 n: int | None = None, where: D | None = None):
        self.columns = columns
        # column-level CSE stage (Ctx.bind_col, or a processor's named
        # intermediates): helper columns are projected in a preceding
        # select so a many-referenced value expression is ANALYZED once;
        # Catalyst keeps the two projections apart when merging would
        # duplicate non-cheap expressions, so it evaluates once per row
        self.helpers = helpers or {}
        self.n = n
        self.where = where

    def _select(self, base: DataFrame, extra=()) -> DataFrame:
        if self.helpers:
            base = base.select(
                "*", *[d.c.alias(n) for n, d in self.helpers.items()])
        if self.where is not None:
            base = base.filter(self.where.c)
        return base.select(
            *extra, *[d.c.alias(name) for name, d in self.columns])

    def dataframe(self, spark: SparkSession, n: int | None = None,
                  partitions: int | None = None) -> DataFrame:
        if n is None:
            n = self.n
        if partitions is None:
            # use every core as soon as n is non-trivial; above
            # ROWS_PER_PARTITION per core, grow the task count so a
            # task never exceeds ~one in-memory chunk (100 TB-safe)
            par = spark.sparkContext.defaultParallelism
            partitions = max(1, min(n, max(par, n // DEFAULT_ROWS_PER_PARTITION)))
        base = spark.range(0, n, 1, partitions).withColumnRenamed("id", "i")
        return self._select(base)

    def duckdb_sql(self, n: int | None = None) -> str:
        if n is None:
            n = self.n
        cols = ", ".join(f'{d.s} AS "{name}"' for name, d in self.columns)
        src = f"range(0, {n}) AS t(i)"
        if self.helpers:
            hcols = ", ".join(f'{d.s} AS "{n_}"'
                           for n_, d in self.helpers.items())
            src = f"(SELECT i, {hcols} FROM range(0, {n}) AS r(i)) AS t"
        q = f"SELECT {cols} FROM {src}"
        if self.where is not None:
            q += f" WHERE {self.where.s}"
        return q

    # processors are called as ``g.df(spark)`` / ``g.sql()``, schemas as
    # ``cs.dataframe(spark, n)`` / ``cs.duckdb_sql(n)``; both spellings stay
    df = dataframe
    sql = duckdb_sql

    def project(self, df: DataFrame, index_col: str = "i",
                keep: list[str] | None = None) -> DataFrame:
        """Apply the compiled columns to ANY DataFrame that carries a
        row-index column (batch or streaming) — e.g. a rate source's
        ``value``.  ``keep`` passes through extra input columns."""
        base = df.withColumn("i", F.col(index_col).cast("long"))
        return self._select(
            base, [F.col(c) for c in (keep or []) if c != "i"])


def compile_schema(schema, seed: int = 0) -> CompiledSchema:
    """schema: JSON string or list of field specs (log-synth format)."""
    if isinstance(schema, str):
        schema = json.loads(schema)
    if not isinstance(schema, list):
        raise ValueError("schema must be a JSON array of field specs")
    i = D("i", "i")
    out: list[tuple[str, D]] = []
    helpers: dict[str, D] = {}
    for spec in schema:
        spec = dict(spec)
        name = spec.get("name", spec.get("class"))
        ctx = Ctx(i, seed, f"$.{name}", helpers)
        r = compile_field(spec, ctx)
        if isinstance(r, dict):
            if spec.get("class") == "flatten" or "name" not in spec:
                out.extend(r.items())           # lift to top level
            else:
                out.append((name, X.struct_(r)))  # named struct field
        else:
            out.append((name, r))
    return CompiledSchema(out, helpers)


def synthesize(spark: SparkSession, schema, n: int, seed: int = 0,
               partitions: int | None = None) -> DataFrame:
    """The DataSynthesizer processor: schema + record count → DataFrame."""
    return compile_schema(schema, seed).dataframe(spark, n, partitions)


class SchemaRegistry:
    """DataGenerator controller service (reference
    nifi-datasynthesizer-service/.../DataGenerator.java): named schema
    registry shared by many synthesizer invocations."""

    def __init__(self):
        self._schemas: dict[str, CompiledSchema] = {}

    def define(self, name: str, schema, seed: int = 0) -> CompiledSchema:
        cs = compile_schema(schema, seed)
        self._schemas[name] = cs
        return cs

    def get(self, name: str) -> CompiledSchema:
        return self._schemas[name]

    def generate(self, spark: SparkSession, name: str, n: int,
                 partitions: int | None = None) -> DataFrame:
        return self._schemas[name].dataframe(spark, n, partitions)
