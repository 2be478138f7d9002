"""Counter-based deterministic RNG over the dual-expression algebra.

log-synth (the engine behind the reference's samplers, e.g.
``nifi-datasynthesizer-generators/src/main/java/com/mapr/synth/samplers/
IntegerSampler.java``) draws from a stateful ``java.util.Random``.  A
stateful RNG is the wrong primitive for a distributed engine: it forces
sequential generation, breaks task retry idempotence, and ties output
to partitioning.  We instead derive every value as a pure function of
``(row_index, field_salt, seed)`` — a counter-based generator in the
spirit of Salmon et al., "Parallel Random Numbers: As Easy as 1, 2, 3"
(SC'11, the Philox/Threefry paper).  Consequences:

- generation is embarrassingly parallel with zero shuffle,
- the same schema + seed + n produces identical data on 1 core or
  1000 executors, under AQE re-planning and speculative re-execution,
- a DuckDB oracle can replay generation exactly (the mix uses only
  31-bit-bounded integer arithmetic that never overflows BIGINT).

The mix is a 31-bit multiply-add-xorshift chain (constants from
classic LCGs: glibc's 1103515245, Lehmer's 48271/69621).  It is not
cryptographic; it is statistically fine for data synthesis (validated
in tests/test_rng.py: mean/variance/chi-square of the uniform output).
"""

from __future__ import annotations

import zlib

from . import dual as X
from .dual import D

M31 = 2 ** 31  # modulus; all state fits in 31 bits → products < 2**61


def salt_of(*parts) -> int:
    """Stable 31-bit salt from field path / seed components."""
    h = 0
    for p in parts:
        h = zlib.crc32(str(p).encode("utf-8"), h)
    return h & 0x7FFFFFFF


def mix(i: D, salt: int) -> D:
    """Uniform integer in [0, 2**31) as a pure function of (i, salt).

    ``x % 2**31`` ≡ ``x & (2**31-1)`` and ``x // 2**k`` ≡ ``x >> k``
    for the non-negative intermediates here, so the whole chain is
    division-free (bitwise ops + mul/add) — same values, ~2× faster
    through both Catalyst codegen and the DuckDB oracle."""
    m = M31 - 1
    x = X.band(X.band(i, m) + (salt or 1), m)
    x = X.band(x * 1103515245 + 12345, m)
    x = x.xor(X.shiftr(x, 16))
    x = X.band(x * 48271 + ((salt * 69069 + 1) % M31), m)
    x = x.xor(X.shiftr(x, 10))
    x = X.band(x * 69621 + 7, m)
    return x


def u01(i: D, salt: int) -> D:
    """Uniform double in [0, 1): exact in both engines (x < 2**31 < 2**53)."""
    return mix(i, salt) / 2147483648.0


def uint(i: D, salt: int, lo: int, hi: int) -> D:
    """Uniform integer in [lo, hi).  Modulo bias is < (hi-lo)/2**31."""
    span = hi - lo
    if span <= 0:
        raise ValueError(f"empty range [{lo}, {hi})")
    return mix(i, salt) % span + lo


def pick(i: D, salt: int, values: list) -> D:
    """Uniform pick from a python list."""
    return X.element(uint(i, salt, 0, len(values)), values)


def quantize_weights(values: list, weights: list[float], table_size: int = 2048) -> list:
    """Precompute a lookup table approximating a weighted categorical.

    O(1) per row in both engines (vs an O(n) CASE chain); weight
    resolution is 1/table_size, plenty for synthesis.  This replaces
    log-synth's ``Multinomial`` sampler (reference
    generators/.../com/mapr/synth/distributions).
    """
    total = float(sum(weights))
    table, acc, vi = [], 0.0, 0
    cum = []
    running = 0.0
    for w in weights:
        running += w / total
        cum.append(running)
    for k in range(table_size):
        q = (k + 0.5) / table_size
        while vi < len(values) - 1 and q > cum[vi]:
            vi += 1
        table.append(values[vi])
    return table


def pick_weighted(i: D, salt: int, values: list, weights: list[float],
                  table_size: int = 2048) -> D:
    table = quantize_weights(values, weights, table_size)
    return table_lookup(uint(i, salt, 0, len(table)), table)


def table_lookup(slot: D, table: list) -> D:
    """``table[slot]`` with a text-size-aware encoding.

    A quantized weight table is ``table_size`` entries but only a few
    DISTINCT values in contiguous runs (quantize_weights fills values
    sequentially), so inlining it as a list literal costs
    ``table_size × len(value)`` characters of SQL.  When the run count
    is small, the exact same selection renders as a threshold sum:
    ``distinct[Σ (slot >= run_start)]`` — a few hundred characters.
    Falls back to the flat table when there are many runs
    (foreign-key/zipf tables), where thresholds would be O(runs)
    comparisons per row.  Spark plans either form as one folded
    :func:`dual.table` literal, so the run encoding now only keeps the
    DuckDB replay text short.
    """
    runs: list[tuple[int, object]] = []       # (first slot, value)
    for k, v in enumerate(table):
        if not runs or runs[-1][1] != v:
            runs.append((k, v))
    if 1 < len(runs) <= 32:
        total = None
        for start, _ in runs[1:]:
            ind = X.when_chain([(slot >= start, X.lit(1))], X.lit(0))
            total = ind if total is None else total + ind
        return X.element(X.cast_long(total), [v for _, v in runs])
    if len(runs) == 1:
        return X.element(X.lit(0), [runs[0][1]])
    return X.element(slot, table)
