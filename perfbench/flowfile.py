"""flowfile_small: processor triggers the size of one NiFi flowfile.

Two clients in a closed loop, each waiting for its reply.  A request is
one trigger of a DataSynthesizer-family processor with 1k-10k records,
collected to the driver as pandas (via Arrow) — the flowfile body.
Requests come in blocks of twelve with a fixed mix (``BLOCK``):

- six go through pre-defined ``SchemaRegistry`` entries (two on the
  basic-style schema, four on the identifier-style schema), as the
  DataGenerator controller service does;
- six compile a fresh seed: the two schemas once each, and one each of
  TextMessage, IotData, Transactions and PhoneNumber.

So the registry share is exactly 6 of 12.  The order inside a block is
fixed; the seed picks the registry entries' and every fresh seed.
"""

from __future__ import annotations

import random

from nifi_datasynthesizer_spark import SchemaRegistry, compile_schema
from nifi_datasynthesizer_spark import synthesizers as SZ
from pyspark.sql import functions as F

from . import oracle
from .harness import Op, closed_loop
from .schemas import BASIC_SCHEMA, IDENT_SCHEMA

# (kind, records): every block sends each of these once, in an order
# fixed per block.  Mix, sizes and order are the same in every run, so
# every run measures the same work and the same pairs of concurrent
# requests; the seed picks the generator seeds.  On four cores the
# phone and transactions requests answer in under 0.5 s, the identifier
# and small IotData requests in 0.6-1.2 s and the basic-schema and
# TextMessage requests in 2-3 s, so the median lies inside the middle
# group rather than in a gap between groups, where it would jump from
# run to run
BLOCK = [("reg_basic", 5000), ("reg_basic", 9000),
         ("reg_ident", 2000), ("reg_ident", 4000), ("reg_ident", 6000),
         ("reg_ident", 10000),
         ("fresh_basic", 3000), ("fresh_ident", 7000),
         ("text_message", 8000), ("iot", 1000), ("transactions", 5000),
         ("phone", 10000)]
SCHEMAS = {"basic": BASIC_SCHEMA, "ident": IDENT_SCHEMA}
# a replay of the basic-style schema or TextMessage costs DuckDB about a
# second to parse, so each run samples a few responses (the seed picks
# which) and checks every other response's row count
SAMPLED = 3


class FlowfileSmall:
    name = "flowfile_small"
    clients = 2
    block = len(BLOCK)
    block_seconds = 7.0          # one block, two clients, four cores

    def __init__(self, spark, seed: int, tiny: bool):
        self.spark = spark
        self.seed = seed
        self.scale = 0.1 if tiny else 1.0
        self.registry = SchemaRegistry()
        self.reg_seed = {n: seed * 31 + k for k, n in enumerate(SCHEMAS)}
        self.perturb = False
        # responses of the first block replayed in DuckDB cell for cell
        self.sampled = set(random.Random(seed).sample(range(self.block),
                                                      SAMPLED))

    # -------------------------------------------------------- schedule

    def spec(self, i: int) -> tuple[str, int, int]:
        """(kind, records, generator seed) of request ``i``."""
        order = BLOCK[:]
        random.Random(i // self.block).shuffle(order)
        kind, n = order[i % self.block]
        return kind, max(100, int(n * self.scale)), (self.seed * 7919 + i) % (1 << 31)

    def setup(self, tracer) -> None:
        for name, schema in SCHEMAS.items():
            with tracer.span("schema.define"):
                self.registry.define(name, schema, seed=self.reg_seed[name])
        # warm-up: one small request of every kind, from as many clients;
        # a registry request parses the same expressions a fresh compile
        # does, so the fresh kinds need no warm-up of their own
        warm = [k for k in dict.fromkeys(k for k, _ in BLOCK)
                if not k.startswith("fresh_")]
        ops, _ = closed_loop(lambda j: self._request(tracer, -1 - j, warm[j],
                                                     1000, 12345 + j),
                             self.clients, len(warm))
        if not all(o.ok for o in ops):
            raise RuntimeError("a warm-up request failed")

    # ---------------------------------------------------------- request

    def _build(self, tr, kind: str, n: int, s: int):
        """The processor's DataFrame plus the DuckDB SQL that replays it."""
        if kind.startswith("reg_"):
            name = kind[4:]
            tr.count("registry_hits")
            with tr.span("schema.plan"):
                df = self.registry.generate(self.spark, name, n)
                df.schema                # the analysed plan, as a writer needs it
            return df, lambda: self.registry.get(name).duckdb_sql(n)
        if kind.startswith("fresh_"):
            with tr.span("schema.compile"):
                cs = compile_schema(SCHEMAS[kind[6:]], seed=s)
            tr.count("schema.sql_chars", sum(
                len(d.ss if d.ss is not None else d.s)
                for d in [d for _, d in cs.columns] + list(cs.helpers.values())))
            with tr.span("schema.plan"):
                df = cs.dataframe(self.spark, n)
                df.schema                # the analysed plan, as a writer needs it
            return df, lambda: cs.duckdb_sql(n)
        with tr.span("synthesizers.build"):
            if kind == "text_message":
                g = SZ.text_messages(n, seed=s)
            elif kind == "iot":
                g = SZ.iot_data_flat(n // 100, 100, seed=s)
            elif kind == "transactions":
                g = SZ.transactions(n // 5, 5, seed=s)
            else:
                g = SZ.phone_numbers(n, seed=s)
        with tr.span("synthesizers.plan"):
            df = g.df(self.spark)
            if kind == "transactions":
                # the Transactions processor (synthesizers.transactions_df)
                df = df.filter(F.col("__keep")).drop("__keep")
            df.schema                    # the analysed plan, as a writer needs it
        if kind == "transactions":
            return df, lambda: SZ.transactions_sql(n_people=n // 5, max_tx=5, seed=s)
        return df, g.sql

    def _request(self, tr, i: int, kind: str, n: int, s: int) -> Op:
        with tr.span("request", req=i):
            tr.count("requests")
            df, sql = self._build(tr, kind, n, s)
            with tr.action(self.spark):
                pdf = df.toPandas()
        op = Op(i, kind, rows=len(pdf))
        op.detail = {"n": n, "sql": sql}
        if kind != "transactions":
            op.ok = len(pdf) == n
        if i in self.sampled:              # checked cell for cell
            op.detail["pdf"] = pdf
        return op

    def run_op(self, i: int, tracer) -> Op:
        kind, n, s = self.spec(i)
        return self._request(tracer, i, kind, n, s)

    # ---------------------------------------------------------- checks

    def verify(self, ops: list[Op], con) -> list[str]:
        errors = []
        for op in ops:
            if op.kind == "error":
                continue
            d = op.detail
            if "pdf" in d:
                actual = d["pdf"]
                if self.perturb and op.index == min(self.sampled):
                    actual = oracle.perturb(actual)
                msg = oracle.compare_frames(actual, con.sql(d["sql"]()).df())
            elif op.kind == "transactions":
                want = con.sql(f"SELECT COUNT(*) FROM ({d['sql']()})").fetchone()[0]
                msg = None if op.rows == want else f"{op.rows} rows != {want}"
            else:
                msg = None if op.ok else f"{op.rows} rows != {d['n']} requested"
            if msg:
                op.ok = False
                errors.append(f"request {op.index} ({op.kind}): {msg}")
            d.pop("pdf", None)
        return errors
