"""Paper-path benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload paper_pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. The inputs are generated from ``--seed``
under ``.perfbench/`` in the current directory; Spark runs on
``local[N]`` with N = min(4, cores) and N shuffle partitions, driven by one
client thread. Every output is checked outside the timed regions.

The last stdout line is the result: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``). The line before
it is a receipt with the host, the inputs, sample counts and every check.
Exit status 1 means a check failed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(1, os.path.dirname(HERE))  # the repository root: the program under test

from corpus import RefreshFeed, write_corpus  # noqa: E402
from ledger import CATALYST_PHASES, EXECUTOR_FIELDS, Ledger, peak_rss_mb  # noqa: E402

WORKLOADS = ("paper_pipeline", "warehouse_refresh")
# counters that must repeat exactly between two traced runs of one seed
DETERMINISTIC = (
    "executor.jobs",
    "executor.stages",
    "executor.tasks",
    "etl.build_jobs",
    "etl.rows_written",
    "ml.fit_eager_jobs",
    "plans.eager_jobs",
    "etl.refresh_jobs",
    "etl.refresh_changes",
    "streaming.quarantined_rows",
)
# A fixed JVM heap (-Xms = -Xmx): a heap that grows when the collector
# decides made run times and peak RSS depend on that decision, and 1 GB left
# the refresh collector-bound. Memory is measured as the heap the program
# keeps alive (``retained_heap_mb``), which the heap size does not set.
JVM_HEAP = "2g"
# end-to-end metrics whose traced-minus-untraced difference is the tracing overhead
OVERHEAD_OF = ("setup_s", "pipeline_wall_s", "query_p50_ms", "retained_heap_mb")


@dataclass
class Context:
    workload: str
    seed: int
    traced: bool
    cores: int
    work_dir: str
    results_dir: str
    code_key: str
    ledger: Ledger
    sf_dir: str = ""
    spark: object = None
    feed: RefreshFeed | None = None
    input_bytes: dict = field(default_factory=dict)
    setup_spans: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    samples: dict = field(default_factory=dict)
    receipt: dict = field(default_factory=dict)
    checks: list = field(default_factory=list)
    attempted: int = 0

    def ops(self, n: int) -> None:
        self.attempted += n

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        self.checks.append({"name": name, "ok": bool(ok), "detail": detail})

    def saved_state(self, name: str) -> str:
        """Path of state kept between runs of this workload, seed and code."""
        return os.path.join(self.results_dir, f"{self.workload}-seed{self.seed}-{self.code_key}-{name}")

    @property
    def failed(self) -> int:
        return sum(not c["ok"] for c in self.checks)

    def layer_catalyst_executor(self, forced_spans, covering_spans) -> None:
        """catalyst.* from the DataFrames forced in ``forced_spans``;
        executor.* from every job launched inside ``covering_spans``."""
        for p in CATALYST_PHASES:
            self.layer[f"catalyst.{p}_ms"] = sum(s.catalyst_ms.get(p, 0.0) for s in forced_spans)
        for f in EXECUTOR_FIELDS:
            self.layer[f"executor.{f}"] = self.ledger.total(covering_spans, f)


def _code_key() -> str:
    """A hash of the program's and the benchmark's sources. State saved by one
    run is compared only with later runs of the same code."""
    root = os.path.dirname(HERE)
    h = hashlib.sha256()
    for top in (os.path.join(root, "data_warehouse_product_mix_clustering_spark"), HERE):
        for dirpath, dirs, files in os.walk(top):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for f in sorted(f for f in files if f.endswith(".py")):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, root).encode() + b"\0")
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def _start_spark(ctx: Context):
    from data_warehouse_product_mix_clustering_spark.session import get_spark

    local = os.path.join(ctx.work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    return get_spark(
        app_name=f"perfbench-{ctx.workload}",
        master=f"local[{ctx.cores}]",
        shuffle_partitions=ctx.cores,
        extra_conf={
            "spark.driver.memory": JVM_HEAP,
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(ctx.work_dir, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{JVM_HEAP} -Djava.io.tmpdir={local}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def _trace_extras(ctx: Context) -> None:
    """Tracing overhead against the last untraced run, and whether the
    deterministic counters repeat the last traced run, of this seed and code."""
    base_path = ctx.saved_state("untraced.json")
    base = None
    if os.path.exists(base_path):
        with open(base_path) as fh:
            base = json.load(fh)
    ctx.layer["trace.baseline_found"] = int(base is not None)
    for m in OVERHEAD_OF:
        ctx.layer[f"trace.overhead.{m}"] = ctx.e2e[m] - base[m] if base else 0.0
    ctx.layer["trace.instrument_ms"] = ctx.ledger.instrument_s * 1000
    ctx.layer["trace.spans"] = len(ctx.ledger.spans)
    counters = {k: v for k, v in ctx.layer.items() if k in DETERMINISTIC or k.endswith(".jobs")}
    path = ctx.saved_state("counters.json")
    repeat = -1
    if os.path.exists(path):
        with open(path) as fh:
            prev = json.load(fh)
        repeat = int(prev == counters)
        ctx.receipt["counter_diff"] = {
            k: [prev.get(k), v] for k, v in counters.items() if prev.get(k) != v
        }
    ctx.layer["trace.counters_repeat"] = repeat
    with open(path, "w") as fh:
        json.dump(counters, fh, indent=1, sort_keys=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # each workload runs a fixed amount of work, sized to run_seconds in
    # BENCHMARK.json, so that no metric depends on how fast the program is
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = _spec()

    out = os.path.abspath(".perfbench")
    work_dir = os.path.join(out, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    results_dir = os.path.join(out, "results")
    os.makedirs(os.path.join(work_dir, "tmp"), exist_ok=True)
    os.makedirs(results_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    ctx = Context(
        workload=args.workload,
        seed=args.seed,
        traced=bool(args.trace),
        cores=min(4, os.cpu_count() or 1),
        work_dir=work_dir,
        results_dir=results_dir,
        code_key=_code_key(),
        ledger=Ledger(traced=bool(args.trace)),
    )
    try:
        return _run(ctx, spec)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def _run(ctx: Context, spec: dict) -> int:
    # inputs first: they are the benchmark's, not part of the program's set-up
    if ctx.workload == "paper_pipeline":
        ctx.sf_dir = os.path.join(ctx.work_dir, "sf")
        ctx.input_bytes = write_corpus(ctx.seed, ctx.sf_dir)
        inputs = "sf0.1-shaped corpus: part, orders, lineitem parquet"
    else:
        ctx.feed = RefreshFeed(ctx.seed, os.path.join(ctx.work_dir, "landing"))
        ctx.input_bytes = {"bulk_csv": ctx.feed.land_bulk().csv_bytes}
        inputs = "landing feed: bulk CSV, then one 1% batch per refresh"

    led = ctx.ledger
    with led.span("session.start", ctx.workload) as start:
        if ctx.workload == "paper_pipeline":
            import paper_pipeline as workload
        else:
            import warehouse_refresh as workload
        ctx.spark = _start_spark(ctx)
    ctx.spark.sparkContext.setLogLevel("ERROR")
    led.attach(ctx.spark)
    try:
        workload.prepare(ctx)
        workload.measure(ctx)
        ctx.e2e["setup_s"] = start.seconds + sum(s.seconds for s in ctx.setup_spans)
        py_mb, jvm_mb = peak_rss_mb(ctx.spark)
        ctx.receipt["peak_rss_mb"] = {"python": py_mb, "jvm": jvm_mb}
        spark_version = ctx.spark.version
    finally:
        _stop_spark(ctx.spark)

    resolve = led.named("sources.resolve")
    ctx.layer["session.start_s"] = start.seconds
    ctx.layer["sources.resolve_ms"] = resolve[0].seconds * 1000 if resolve else 0.0
    if ctx.traced:
        _trace_extras(ctx)
        led.write(os.path.join(ctx.results_dir, f"{ctx.workload}-seed{ctx.seed}-spans.jsonl"))
    else:
        with open(ctx.saved_state("untraced.json"), "w") as fh:
            json.dump(ctx.e2e, fh)

    wanted = spec["per_layer"] if ctx.traced else spec["end_to_end"]
    values = ctx.layer if ctx.traced else ctx.e2e
    metrics = {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]} for m in wanted}
    missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in ctx.e2e]
    if missing:
        raise RuntimeError(f"workload produced no value for {missing}")
    error_rate = ctx.failed / ctx.attempted
    receipt = {
        "workload": ctx.workload,
        "seed": ctx.seed,
        "code_key": ctx.code_key,
        "traced": ctx.traced,
        "host": {"cores_used": ctx.cores, "nproc": os.cpu_count(), "spark": spark_version},
        "inputs": {"kind": inputs, "seed": ctx.seed, "bytes": ctx.input_bytes},
        "samples": ctx.samples,
        "e2e": ctx.e2e,
        "error_rate": error_rate,
        "checks": ctx.checks,
        **ctx.receipt,
    }
    name = f"{ctx.workload}-seed{ctx.seed}-trace{int(ctx.traced)}.json"
    with open(os.path.join(ctx.results_dir, name), "w") as fh:
        json.dump(receipt, fh, indent=1, default=str)
    print("receipt " + json.dumps(receipt, default=str))
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0 if ctx.failed == 0 else 1


if __name__ == "__main__":
    t0 = time.perf_counter()
    code = main()
    sys.stderr.write(f"perfbench: {time.perf_counter() - t0:.1f} s\n")
    sys.exit(code)
