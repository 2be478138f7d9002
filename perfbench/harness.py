"""Closed-loop clients, statistics and result assembly shared by the
workloads."""

from __future__ import annotations

import math
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field


@dataclass
class Op:
    """One client operation: a processor trigger or a job."""
    index: int
    kind: str
    latency_s: float = 0.0
    rows: int = 0
    ok: bool = True
    traced: bool = False
    detail: dict = field(default_factory=dict)


def closed_loop(run_op, clients: int, n_ops: int,
                prepare=None) -> tuple[list[Op], float]:
    """Run operations 0 .. n_ops-1 from ``clients`` threads, each waiting
    for its reply before taking the next index.  ``prepare(i)``, when
    given, runs before operation ``i`` outside its latency.  Returns the
    operations in index order and the elapsed wall time."""
    lock = threading.Lock()
    state = {"next": 0}
    ops: list[Op] = []
    t0 = time.perf_counter()

    def client() -> None:
        while True:
            with lock:
                i = state["next"]
                if i >= n_ops:
                    return
                state["next"] = i + 1
            if prepare is not None:
                prepare(i)
            start = time.perf_counter()
            try:
                op = run_op(i)
            except Exception:  # an operation failure is a result, not a crash
                traceback.print_exc(file=sys.stderr)
                op = Op(i, "error", ok=False)
            op.latency_s = time.perf_counter() - start
            with lock:
                ops.append(op)

    threads = [threading.Thread(target=client, name=f"client-{c}")
               for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    elapsed = time.perf_counter() - t0
    return sorted(ops, key=lambda o: o.index), elapsed


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (modified
    Lentz), as in Numerical Recipes' ``betacf``."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        m2 = 2 * m
        for num in (m * (b - m) * x / ((a + m2 - 1.0) * (a + m2)),
                    -(a + m) * (a + b + m) * x / ((a + m2) * (a + m2 + 1.0))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-12:
            break
    return h


def _betai(a: float, b: float, x: float) -> float:
    """Regularised incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile: a weighted mean of
    every order statistic, with Beta weights centred on ``q``.  Latency
    samples here mix request kinds, so neighbouring order statistics can
    differ by a fifth; the two-point interpolation of
    ``statistics.quantiles`` jumps with them from run to run, while this
    estimate moves smoothly."""
    xs = sorted(values)
    n = len(xs)
    a, b = q * (n + 1), (1.0 - q) * (n + 1)
    cdf = [_betai(a, b, k / n) for k in range(n + 1)]
    return sum(x * (cdf[k + 1] - cdf[k]) for k, x in enumerate(xs))


def mean_latency(ops: list[Op]) -> float:
    return sum(o.latency_s for o in ops) / len(ops)


def end_to_end(ops: list[Op], elapsed: float, setup_s: float,
               rss_mb: float) -> dict:
    lat_ms = [o.latency_s * 1000.0 for o in ops]
    return {
        "setup_s": (setup_s, "s"),
        "req_p50_ms": (quantile(lat_ms, 0.5), "ms"),
        "req_p90_ms": (quantile(lat_ms, 0.9), "ms"),
        "req_per_s": (len(ops) / elapsed, "1/s"),
        "rows_per_s": (sum(o.rows for o in ops) / elapsed, "rows/s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


# per-layer metrics and their units; every traced run prints all of them
PER_LAYER = {
    "session.start_s": "s",
    "schema.compile_ms": "ms",
    "schema.sql_chars": "count",
    "schema.plan_ms": "ms",
    "schema.registry_hit_ratio": "ratio",
    "synthesizers.build_ms": "ms",
    "synthesizers.plan_ms": "ms",
    "exec.action_ms": "ms",
    "exec.tasks": "count",
    "exec.executor_run_ms": "ms",
    "exec.executor_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "io.write_ms": "ms",
    "io.bytes_written": "bytes",
    "io.bytes_per_row": "bytes",
    "io.files_written": "count",
    "io.read_ms": "ms",
    "dedup.minhash_ms": "ms",
    "dedup.groups_ms": "ms",
    "dedup.pairs_out": "count",
    "dedup.groups_out": "count",
    "text.annotate_ms": "ms",
    "pipeline.clean_ms": "ms",
    "pipeline.kept_ratio": "ratio",
    "trace.overhead_pct": "%",
}

# spans whose body is a Spark action (its wall time is exec.action_ms)
ACTION_SPANS = ("exec.action", "io.write")

# per-layer time metric → span name, and whether the metric is the
# span's self time (plan construction, no children) or its inclusive
# time (an operator span holding the action that forces it)
_SELF = {"schema.compile_ms": "schema.compile",
         "schema.plan_ms": "schema.plan",
         "synthesizers.build_ms": "synthesizers.build",
         "synthesizers.plan_ms": "synthesizers.plan"}
_INCLUSIVE = {"io.write_ms": "io.write",
              "io.read_ms": "io.read",
              "dedup.minhash_ms": "dedup.minhash",
              "dedup.groups_ms": "dedup.groups",
              "text.annotate_ms": "text.annotate",
              "pipeline.clean_ms": "pipeline.clean"}


def per_layer(tracer, exec_totals: dict, n_ops: int, session_s: float,
              overhead_pct: float) -> dict:
    """Per-layer metrics of one traced window, each normalised per client
    operation so that layer times add up to an operation's latency."""
    selft = tracer.self_times()
    incl = tracer.inclusive_times()
    calls = tracer.calls()
    c = tracer.counters
    per_op = 1.0 / max(n_ops, 1)
    out = {name: 0.0 for name in PER_LAYER}
    out["session.start_s"] = session_s
    for metric, span in _SELF.items():
        out[metric] = selft.get(span, 0.0) * 1000.0 * per_op
    for metric, span in _INCLUSIVE.items():
        out[metric] = incl.get(span, 0.0) * 1000.0 * per_op
    out["exec.action_ms"] = sum(incl.get(s, 0.0) for s in ACTION_SPANS) \
        * 1000.0 * per_op
    for key, value in exec_totals.items():
        if key in out:
            out[key] = value * per_op
    if calls.get("schema.compile"):
        out["schema.sql_chars"] = c["schema.sql_chars"] / calls["schema.compile"]
    if c.get("requests"):
        out["schema.registry_hit_ratio"] = c["registry_hits"] / c["requests"]
    out["io.bytes_written"] = c.get("io.bytes_written", 0.0) * per_op
    out["io.files_written"] = c.get("io.files_written", 0.0) * per_op
    if c.get("io.rows_written"):
        out["io.bytes_per_row"] = c["io.bytes_written"] / c["io.rows_written"]
    out["dedup.pairs_out"] = c.get("dedup.pairs_out", 0.0) * per_op
    out["dedup.groups_out"] = c.get("dedup.groups_out", 0.0) * per_op
    if c.get("pipeline.docs_in"):
        out["pipeline.kept_ratio"] = c["pipeline.docs_out"] / c["pipeline.docs_in"]
    out["trace.overhead_pct"] = overhead_pct
    return {k: (v, PER_LAYER[k]) for k, v in out.items()}


def self_time_table(tracer, n_ops: int) -> str:
    """Human-readable per-span self time, for standard error."""
    selft, calls = tracer.self_times(), tracer.calls()
    lines = [f"{'span':<22}{'calls':>8}{'self ms/op':>14}"]
    for name in sorted(selft, key=lambda k: -selft[k]):
        lines.append(f"{name:<22}{calls[name]:>8}"
                     f"{selft[name] * 1000.0 / max(n_ops, 1):>14.2f}")
    return "\n".join(lines)
