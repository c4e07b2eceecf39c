"""``warehouse_refresh``: incremental refreshes of a versioned warehouse table.

Set-up bulk-loads a 300,000-row landing feed through
``etl.refresh_pipeline.refresh_warehouse`` (quarantined streaming ingest,
versioned publish, full rollup) and runs warm-up refreshes. The timed loop
runs three cycles; each lands one seeded batch (upserts, new keys,
tombstones and malformed lines), refreshes, then serves four read requests,
each reading the published rollup and looking up a seeded sample of keys in
the published table.
"""

from __future__ import annotations

import os
import statistics

from pyspark.sql import functions as F
from pyspark.sql import types as T

from checks import dir_bytes
from corpus import RefreshFeed
from ledger import retained_heap_mb
from data_warehouse_product_mix_clustering_spark.etl.refresh_pipeline import refresh_warehouse
from data_warehouse_product_mix_clustering_spark.sources.versioned import read_table, versions
from data_warehouse_product_mix_clustering_spark.streaming.quarantine import (
    QUARANTINE_SCHEMA,
    read_sink,
)

SCHEMA = T.StructType(
    [
        T.StructField("row_id", T.LongType()),
        T.StructField("supplier", T.StringType()),
        T.StructField("qty", T.LongType()),
        T.StructField("price_cents", T.LongType()),
        T.StructField("deleted", T.BooleanType()),
    ]
)
MEASURES = {"qty": "qty", "revenue_cents": "price_cents"}
# Refresh time falls over the first cycles while the JVM compiles the
# refresh's code paths; these run in set-up.
WARMUP_REFRESHES = 2
# A fixed count: the store keeps every version, so each refresh adds a table
# copy, and the stored bytes must not depend on how fast refreshes run.
TIMED_REFRESHES = 3
# read requests after each refresh; the read metrics are medians over all
READS_PER_REFRESH = 4


def store_dir(ctx) -> str:
    return os.path.join(ctx.work_dir, "store")


def prepare(ctx) -> None:
    """Bulk load and warm-up refreshes (set-up)."""
    feed = ctx.feed
    for i in range(1 + WARMUP_REFRESHES):
        batch = feed.batches[0] if i == 0 else feed.land_increment()
        res, span = _refresh(ctx, "etl.refresh.setup")
        ctx.setup_spans.append(span)
        _check(ctx, feed, batch, res, [_read(ctx, feed, "setup", 0)])


def measure(ctx) -> None:
    spark, feed, led, store = ctx.spark, ctx.feed, ctx.ledger, store_dir(ctx)
    refreshes, reads, read_parts, written, landed, changes = [], [], [], [], [], []
    for _ in range(TIMED_REFRESHES):
        batch = feed.land_increment()
        before = dir_bytes(store)
        res, span = _refresh(ctx, "etl.refresh")
        refreshes.append(span)
        written.append(dir_bytes(store) - before)
        landed.append(batch.csv_bytes)
        changes.append(res["changes"])
        got = [_read(ctx, feed, "timed", i) for i in range(READS_PER_REFRESH)]
        for g in got:
            reads.append(g["span"])
            read_parts.extend(g["parts"])
        _check(ctx, feed, batch, res, got)
    ctx.ops(len(refreshes) + len(reads))
    ctx.e2e["retained_heap_mb"] = retained_heap_mb(spark)
    quarantined = read_sink(spark, os.path.join(store, "quarantine"), schema=QUARANTINE_SCHEMA).count()

    led.collect()
    landed_total = sum(b.csv_bytes for b in feed.batches)
    read_s = [s.seconds for s in reads]
    ctx.e2e.update(
        pipeline_wall_s=statistics.median(s.seconds for s in refreshes),
        query_p50_ms=statistics.median(read_s) * 1000,
        queries_per_s=len(read_s) / sum(read_s),
        bytes_stored_per_input_byte=dir_bytes(store) / landed_total,
    )
    ctx.samples.update(refreshes=len(refreshes), reads=len(read_s))
    ctx.receipt.update(
        landed_rows={
            "bulk": feed.batches[0].new_keys,
            "per_batch": {
                "upserts": feed.batches[-1].upserts,
                "new_keys": feed.batches[-1].new_keys,
                "tombstones": feed.batches[-1].tombstones,
                "malformed_lines": feed.batches[-1].malformed,
            },
            "batches": len(feed.batches) - 1,
        },
        refresh_s=[round(s.seconds, 4) for s in refreshes],
        read_ms=[round(x * 1000, 3) for x in read_s],
    )
    if not ctx.traced:
        return
    ctx.layer.update(
        {
            "etl.refresh_jobs": led.total(refreshes, "jobs"),
            "etl.refresh_changes": sum(changes),
            "streaming.quarantined_rows": quarantined,
            "sources.bytes_written_per_refresh": statistics.mean(written),
            "sources.bytes_written_per_landed_byte": sum(written) / sum(landed),
            "sources.versions_kept": len(versions(os.path.join(store, "table"))),
        }
    )
    ctx.layer_catalyst_executor(read_parts, refreshes + reads)


def _refresh(ctx, span_name: str):
    with ctx.ledger.span(span_name, ctx.workload) as s:
        res = refresh_warehouse(
            ctx.spark,
            ctx.feed.landing_dir,
            store_dir(ctx),
            SCHEMA,
            key=["row_id"],
            group_keys=["supplier"],
            measures=MEASURES,
            tombstone_col="deleted",
        )
    return res, s


def _read(ctx, feed: RefreshFeed, phase: str, request: int) -> dict:
    """A read request after a refresh: the whole published rollup, then a
    lookup of a seeded sample of keys in the published table."""
    spark, led, work = ctx.spark, ctx.ledger, store_dir(ctx)
    keys = feed.lookup_keys(request)
    with led.span(f"read.{phase}", ctx.workload) as req:
        with led.span("read.rollup", ctx.workload) as a:
            df = read_table(spark, os.path.join(work, "agg"))
            rollup = df.collect()
            led.forced(a, df)
        with led.span("read.lookup", ctx.workload) as b:
            df = read_table(spark, os.path.join(work, "table")).filter(F.col("row_id").isin(list(keys)))
            rows = df.collect()
            led.forced(b, df)
    return {"rollup": rollup, "rows": rows, "keys": keys, "span": req, "parts": [a, b]}


def _check(ctx, feed: RefreshFeed, batch, res: dict[str, int], reads: list[dict]) -> None:
    spark, work = ctx.spark, store_dir(ctx)
    v = res["version"]
    bulk = batch is feed.batches[0]
    want_changes = -1 if bulk else batch.changes
    ctx.check(f"refresh.v{v}.changes", res["changes"] == want_changes, f"{res['changes']} vs {want_changes}")
    full = (
        read_table(spark, os.path.join(work, "table"))
        .groupBy("supplier")
        .agg(
            *[F.sum(src).cast("double").alias(out) for out, src in MEASURES.items()],
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    as_map = lambda rows: {r["supplier"]: (r["qty"], r["revenue_cents"], r["n"]) for r in rows}  # noqa: E731
    ctx.check(
        f"refresh.v{v}.rows",
        sum(r["n"] for r in full) == len(feed.state["row_id"]),
        f"{sum(r['n'] for r in full)} live rows vs {len(feed.state['row_id'])}",
    )
    for i, got in enumerate(reads):
        ctx.check(
            f"refresh.v{v}.read{i}.rollup_equals_recompute",
            as_map(got["rollup"]) == as_map(full),
            f"{len(got['rollup'])} groups",
        )
        seen = {
            r["row_id"]: (int(r["supplier"][1:]), r["qty"], r["price_cents"])
            for r in got["rows"]
            if not r["deleted"]
        }
        ctx.check(
            f"refresh.v{v}.read{i}.fresh_lookup",
            seen == got["keys"],
            f"{len(seen)}/{len(got['keys'])} keys",
        )
    quarantined = read_sink(spark, os.path.join(work, "quarantine"), schema=QUARANTINE_SCHEMA).count()
    ctx.check(
        f"refresh.v{v}.quarantined",
        quarantined == feed.malformed_total,
        f"{quarantined} vs {feed.malformed_total}",
    )
