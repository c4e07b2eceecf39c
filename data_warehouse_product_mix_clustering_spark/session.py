"""SparkSession factory with scale-appropriate defaults.

The reference runs a single-threaded pandas pipeline (see
reference src/pipelines/etl.py:44-123); here every query is a distributed
Spark plan. The session defaults below are the ones that matter at both
local[] test scale and 1000-executor cluster scale:

- AQE on (runtime re-plan: coalesce post-shuffle partitions, skew-join split).
- Arrow on for every Python<->JVM boundary (pandas UDFs, toPandas).
- Session timezone pinned to UTC so results are oracle-comparable (DuckDB
  timestamps are UTC-naive).
- Shuffle partitions default to local core count; at cluster scale this is
  expected to be overridden (AQE coalescing makes the exact number less
  critical than it used to be).
"""

from __future__ import annotations

import os
from collections import OrderedDict
from typing import Any, Callable

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = max(os.cpu_count() or 8, 8)

# The session memo: every artefact derived from one sf_dir's data and
# reused across a session's queries (table scans, star-builder plans, the
# KMeans fit, persisted shingle relations, the postings index, BPE merge
# tables, broadcast-advisor choices) — the engine-side ``@st.cache_data``
# of reference Clustering_Analysis.py:24. Keyed (applicationId, sf_dir,
# kind, *args), grouped by sf_dir: sf_dir → {(applicationId, kind, *args):
# (value, release)}. Entries from other sessions are dropped on insert (a
# stopped session's plans, persists and index dirs would otherwise be
# pinned forever); the sf_dirs are LRU-bounded. ``release`` reclaims what
# an entry owns (an unpersist, an index directory) whenever it is dropped.
_MEMO: "OrderedDict[str, dict[tuple, tuple[Any, Callable[[Any], None] | None]]]" = (
    OrderedDict()
)
# Measured: the tier-1 suite peaks at 4 sf_dirs in one session and the
# benchmark workloads at 1, so no reuse is lost to this bound.
MEMO_MAX_SF_DIRS = 8


def _release(entries) -> None:
    for value, release in entries:
        if release is not None:
            release(value)


def session_memo(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    build: Callable[[], Any],
    *args,
    release: Callable[[Any], None] | None = None,
) -> Any:
    """``build()``'s result, built once per (session, sf_dir, kind, *args).

    Only deterministic builds over ``sf_dir``'s data belong here: a hit
    serves the first result until ``invalidate`` drops it."""
    app_id = spark.sparkContext.applicationId
    key = (app_id, kind, *args)
    entries = _MEMO.get(sf_dir)
    if entries is not None and key in entries:
        _MEMO.move_to_end(sf_dir)
        return entries[key][0]
    value = build()
    stale = []
    for sf, ents in list(_MEMO.items()):
        for k in [k for k in ents if k[0] != app_id]:
            stale.append(ents.pop(k))
        if not ents:
            del _MEMO[sf]
    _MEMO.setdefault(sf_dir, {})[key] = (value, release)
    _MEMO.move_to_end(sf_dir)
    while len(_MEMO) > MEMO_MAX_SF_DIRS:
        stale.extend(_MEMO.popitem(last=False)[1].values())
    _release(stale)
    return value


def invalidate(sf_dir: str | None = None, kind: str | None = None) -> None:
    """Drop memoized entries for ``sf_dir`` (every sf_dir when None), only
    those of ``kind`` when given, running each entry's ``release``.

    The rewrite protocol: a caller that rewrites data under ``sf_dir``
    mid-session calls ``invalidate(sf_dir)`` once, and every scan, plan,
    fit, relation, index and decision derived from it is rebuilt on next
    use. ``invalidate()`` is a cold start."""
    dropped = []
    for sf in [sf_dir] if sf_dir is not None else list(_MEMO):
        ents = _MEMO.get(sf, {})
        for k in [k for k in ents if kind is None or k[1] == kind]:
            dropped.append(ents.pop(k))
        if not ents:
            _MEMO.pop(sf, None)
    _release(dropped)


class no_adaptive_execution:
    """Scope that disables AQE for a driver-side iteration loop
    (restored on exit — exception-safe).

    For ITERATIVE trainers whose per-iteration queries are model-sized
    (bounded aggregates over a cached/checkpointed slice, broadcasts
    made EXPLICIT by the caller), AQE's one-job-per-query-stage
    execution and runtime re-planning are pure overhead: measured r19,
    the multinomial logreg audit ran 561 driver jobs and 72 s with AQE
    on vs 51 s off at sf0.001, identical results. Scope it only around
    loops that (a) run many small actions and (b) do not rely on AQE's
    runtime join-strategy conversion — a loop that joins
    checkpoint-backed relations WITHOUT an explicit broadcast hint must
    keep AQE (the static planner sees unknown sizes and would pick a
    sort-merge join)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.adaptive.enabled", "true")
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.adaptive.enabled", self.prev)


def get_spark(
    app_name: str = "data_warehouse_product_mix_clustering_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[N]`` from ``SPARK_GRAFT_CPUS`` (driver
    contract) or all cores; on a real cluster, pass ``master=None`` and
    launch through spark-submit, which wins over any builder setting.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet scans: bigger batches, vectorized reader.
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Broadcast joins for dimension tables (reference dims are tiny;
        # testdata dims are < 1 MB). 64 MB threshold is a production-ish pick.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.createHiveTableByDefault", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
