"""Shared physical-plan helpers for operator modules."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Small-scan guard for hash/explode-heavy fan-out stages: a
    sub-split-size parquet (one row group) scans as ONE partition, which
    serializes the whole explode+hash+partial-agg phase on one core
    (measured: the sf0.1 documents table is a single 600 KB row group, so
    every signature/postings build ran single-threaded — MinHash 6.8 s →
    2.8 s once spread). Repartitions up to ``defaultParallelism`` ONLY
    when the input has fewer partitions — at real scale the corpus is
    thousands of splits and this is a no-op (no shuffle inserted), unlike
    an unconditional ``repartition`` which would force a full extra
    shuffle of the corpus.

    Cost note: inspecting the partition count plans the query once at
    operator-CONSTRUCTION time (``df.rdd``) — acceptable for these
    operators, whose callers execute the result immediately; environments
    where ``.rdd`` is unavailable (Spark Connect) skip the guard rather
    than fail, since it is purely a local-performance adaptation."""
    try:
        par = df.sparkSession.sparkContext.defaultParallelism
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    if n < par:
        return df.repartition(par)
    return df


def pin_layout(df: DataFrame, *cols: str) -> DataFrame:
    """Pin ``df``'s layout hashed on ``cols`` into ``defaultParallelism``
    partitions — the repartition AQE RESPECTS (explicit partition counts
    are never coalesced), where AQE's size-based post-shuffle coalescing
    would collapse a small-but-CPU-hot relation to one partition and
    serialize every downstream join/verify stage on one core (round-7
    measurements: FastSS verification 7.5 s → 1.5 s, MinHash verify 5.8 →
    2.4, co-review pair expansion 2.5 → 0.4). At real scale the relation
    exceeds the advisory size and the exchange is the same one the
    downstream equi-join needs anyway.

    The except guard exists ONLY for Spark Connect, where ``sparkContext``
    is unavailable — column-name errors must still surface, so the
    repartition call itself sits outside the try."""
    try:
        par = df.sparkSession.sparkContext.defaultParallelism
    except Exception:
        return df  # Spark Connect: no sparkContext — keep planner layout
    return df.repartition(par, *cols)


def md5_half_hashes(key):
    """THE cross-engine double-hash base (one definition — bloom and the
    count-min sketch both derive their Kirsch-Mitzenmacher positions
    ``(h1 + i*h2) mod m`` from it, and their DuckDB oracles embed the same
    construction): h1/h2 = first/second 8-hex-char halves of md5(key) as
    integers, h2 forced odd so the stride never degenerates on
    power-of-two m. Returns (h1, h2) Columns; project them BEFORE any
    explode (no CSE inside Generate arrays — PERFORMANCE.md round 4c)."""
    from pyspark.sql import functions as F

    md5 = F.md5(key)
    h1 = F.conv(F.substring(md5, 1, 8), 16, 10).cast("long")
    h2 = (
        F.conv(F.substring(md5, 9, 8), 16, 10)
        .cast("long")
        .bitwiseOR(F.lit(1).cast("long"))
    )
    return h1, h2


# --- valid event-time domain (round 15, adversarial-sweep finding) ----------
# Dense-spine (gap-fill) analytics materialize one row per time bucket
# between min(ts) and max(ts). At 100 TB a SINGLE record with a skewed
# clock (epoch-0 device, a 2199-12-31 test row) inflates that spine from
# thousands of rows to millions — the "tiny series" plan premise silently
# becomes the query's dominant cost, and the adversarial sweep measured
# exactly that (a 1905..2199 events table produced a 2.6M-hour spine; the
# DuckDB oracle's spine join never finished). Every dense-spine query
# therefore restricts event time to this EXPLICIT domain first — a
# pushed-down parquet predicate in both engines, and the operational norm
# for event pipelines (clock-skewed records are quarantined, not
# gap-filled against). The window is deliberately generous (70 years);
# widening it is a one-line change that scales the spine linearly.
VALID_TS_MIN = "1992-01-01"
VALID_TS_MAX = "2062-01-01"
# events.ts is epoch-NANOSECOND LongType on the Spark side (the
# sources.tables load contract), so the Spark predicate compares exact
# integer ns; the oracle sees the raw parquet TIMESTAMP and compares
# timestamps — same instants (UTC both sides).
VALID_TS_NS_MIN = 694_224_000_000_000_000     # 1992-01-01T00:00:00Z
VALID_TS_NS_MAX = 2_903_299_200_000_000_000   # 2062-01-01T00:00:00Z
VALID_TS_SQL = (
    f"ts >= TIMESTAMP '{VALID_TS_MIN}' AND ts < TIMESTAMP '{VALID_TS_MAX}'"
)


def valid_ts(col: str = "ts"):
    """Boolean Column: event time inside the valid analytic domain (NULL
    timestamps excluded by the comparison semantics, same as SQL).
    ``col`` is the epoch-ns LongType the events loader produces."""
    from pyspark.sql import functions as F

    c = F.col(col)
    return (c >= F.lit(VALID_TS_NS_MIN)) & (c < F.lit(VALID_TS_NS_MAX))


# --- finite-measure domain guard (round 15, adversarial-sweep finding) ------
# Exact-integer-cents arithmetic (round(x*100) CAST BIGINT) and BIGINT sum
# trees assume the raw measure is a sane, finite number. Dirty data breaks
# that in ways that differ BETWEEN engines: Spark under ANSI crashes
# casting NaN/Inf/1e20 to BIGINT and overflows summing ±1e18 longs, while
# DuckDB errors on the Inf cast but promotes sums to HUGEINT — so the two
# engines fail differently on the same rows. Every money/measure query
# therefore makes the domain explicit with ONE predicate:
#
#     abs(x) < bound
#
# which excludes NaN (compares greater than everything in both engines),
# ±Inf, extreme magnitudes, and NULL (three-valued logic) — identical
# semantics in Spark and DuckDB, pushed down to the parquet scan in both.
# The default bound keeps cents-scaled values and their 100TB-scale sum
# trees safely inside BIGINT.
MEASURE_BOUND = 1e12


def finite_measure(col, bound: float = MEASURE_BOUND):
    """Boolean Column: ``abs(col) < bound`` — the engine-identical
    finite-measure guard (excludes NaN/±Inf/NULL/extremes)."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return F.abs(c) < F.lit(float(bound))


def finite_measure_sql(col: str, bound: float = MEASURE_BOUND) -> str:
    """The oracle-side twin of :func:`finite_measure`."""
    return f"abs({col}) < {float(bound)!r}"


VALID_TS_SEC_MIN = VALID_TS_NS_MIN // 1_000_000_000
VALID_TS_SEC_MAX = VALID_TS_NS_MAX // 1_000_000_000


def valid_ts_sec(col: str = "ts"):
    """valid_ts for relations that carry epoch-SECONDS (e.g. the reviews
    derivation's ts column)."""
    from pyspark.sql import functions as F

    c = F.col(col)
    return (c >= F.lit(VALID_TS_SEC_MIN)) & (c < F.lit(VALID_TS_SEC_MAX))
