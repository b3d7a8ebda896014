"""Shared plan-shaping helpers for the operator suite."""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

# Estimated input bytes per task of a url-hash extraction stage. Every
# Python task pays a fixed cost: on a 4-core VM with PySpark 4.1.2 a
# one-row MapInArrow task took a median 0.23-0.31 s to initialize and
# 0.24-0.27 s to run, and the worker's per-task
# ``importlib.invalidate_caches()`` (Python re-reads the zip directories
# on its path) alone took 0.11-0.26 s. So a small input split into
# 4 x cores tasks spent more time on task start-up than in the kernel.
TASK_INPUT_BYTES = 64 << 20


def estimated_bytes(df: DataFrame) -> int | None:
    """The optimizer's STATIC size estimate of ``df`` (no execution), or
    None when there is none: a streaming input, or a plan with a leaf that
    has no size statistics (an RDD or a local list turned into a
    DataFrame reports ``spark.sql.defaultSizeInBytes``, and the operators
    above it scale that figure by row widths into a huge but finite
    number)."""
    if df.isStreaming:
        return None
    try:
        jdf = df._jdf
        plan = jdf.queryExecution().optimizedPlan()
        unknown = jdf.sparkSession().sessionState().conf().defaultSizeInBytes()
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            if int(leaves.apply(i).stats().sizeInBytes()) >= unknown:
                return None
        return int(plan.stats().sizeInBytes())
    except (AttributeError, Py4JError):  # internal API unavailable
        return None


def task_count(est_bytes: int | None, cores: int,
               parallelism: int | None = None) -> int:
    """Partition count of a url-hash extraction stage: an explicit
    ``parallelism`` wins; otherwise one task per ``TASK_INPUT_BYTES`` of
    estimated input, never fewer than ``cores`` (and ``cores`` when there
    is no estimate)."""
    if parallelism:
        return parallelism
    if est_bytes is None:
        return cores
    return max(cores, -(-est_bytes // TASK_INPUT_BYTES))


def url_hash_repartition(df: DataFrame,
                         parallelism: int | None = None) -> DataFrame:
    """Repartition ``df`` on ``xxhash64(url)`` into :func:`task_count`
    partitions, sized by the input's estimated bytes.

    The hash exchange defuses host-level clustering in crawl order. The
    count is always explicit: ``repartition(col)`` without one is
    AQE-coalescible, and a small stage coalesced to one partition would
    serialize the Python kernel."""
    from pyspark.sql import functions as F

    n = task_count(estimated_bytes(df),
                   df.sparkSession.sparkContext.defaultParallelism,
                   parallelism)
    return df.repartition(n, F.xxhash64("url"))


def spread_small(df: DataFrame, per_core_bytes: int = 32 << 20) -> DataFrame:
    """Round-robin repartition a SMALL input to the session's default
    parallelism so per-row-heavy downstream work uses every core.

    Why: a small parquet table is one file with one row group — the scan
    yields ONE non-empty split no matter what ``maxPartitionBytes`` /
    ``minPartitionNum`` say (row-group granularity), so every map-side
    operator downstream runs on one or two cores. Measured at sf1.0 on
    local[32]: the documents table (5.7 MB, 1 row group) ran every
    text-analysis query on 2 tasks — 10×+ slack (guide §2: partitioning
    must be scale-adaptive, not tuned to either local mode or the
    cluster).

    Scale-adaptive by the same rule as the MinHash kernel guard: the
    STATIC optimizer size estimate (no execution) gates the exchange, so
    it fires only below ``cores × per_core_bytes`` — where the shuffle it
    adds is trivially cheap by construction — and never at crawl scale,
    where scan splits already provide the parallelism. Row-local values
    are partitioning-invariant, so results are unchanged. Streaming
    inputs and inputs without an estimate pass through untouched."""
    est = estimated_bytes(df)
    if est is None:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    # idempotence: an input that is ALREADY a round-robin repartition to
    # >= target needs no second exchange (operator-level guards compose
    # with query-level ones)
    plan = df._jdf.queryExecution().optimizedPlan()
    if (plan.getClass().getSimpleName() == "Repartition"
            and plan.numPartitions() >= target):
        return df
    if est < target * per_core_bytes:
        return df.repartition(target)
    return df


def no_pushdown(col):
    """Value-preserving pushdown barrier for an EXPENSIVE derived column
    that a later ``.filter`` references (guide §4.4 applied to a pure-JVM
    tree): appending a nondeterministic zero (``rand(seed) * 0.0``) stops
    the optimizer from pushing the filter down by SUBSTITUTING the whole
    expression tree — which would both evaluate the tree twice (once in
    the pushed filter, once in the output projection) and move the
    evaluation below the parallelism-spreading exchange onto the scan's
    1-2 tasks (measured: quality_filter 2.5 s → 0.6 s at sf1.0).

    Exactness: ``x + rand()*0.0`` is bit-identical to ``x`` for every
    double (0·r == +0.0 for r ∈ [0,1); x + 0.0 == x, incl. NULL and NaN
    propagation; derived scores here are never -0.0)."""
    from pyspark.sql import functions as F

    return col + F.rand(7) * 0.0
