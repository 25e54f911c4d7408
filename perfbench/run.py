"""Benchmark entry point: one workload in one fresh process with one
Spark session on ``local[<cores>]``, driven by a single closed-loop
client (no think time, no extra threads).

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Workloads: ``serve`` (MCP tools/call), ``index`` (IVF probes and
upserts), ``curate`` (dedup, quality gate and redaction of document
shards); see perfbench/README.md.  A human summary goes to stderr; the
last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.  With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, taken from a run whose even ops are untraced (for the
tracing overhead) and whose odd ops are traced.  The exit code is 1
when an output check failed.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, as near as Python sees it

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402
from types import SimpleNamespace  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import spans  # noqa: E402
from perfbench.stats import finite, percentile  # noqa: E402
from perfbench.workloads import LAYER_UNITS, SIZES, WORKLOADS, Context, median  # noqa: E402

SETUP_REPS = 3  # set-ups per run; setup_s reports their median
WORK_DIR = ROOT / ".perfbench"  # per-run inputs, Spark working files, traces


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("serve", "index", "curate"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input sizes; 'tiny' only smoke-tests the code paths")
    return p.parse_args(argv)


def boot(run_dir: Path, cores: int):
    """The once-per-process part of set-up: import the layer modules and
    start the session.  Returns (spark, modules, import_ms, session_ms)."""
    pythonpath = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    dirs = {d: run_dir / d for d in ("tmp", "spark-local", "jvm-tmp", "warehouse")}
    for d in dirs.values():
        d.mkdir(parents=True, exist_ok=True)
    # Python workers import the package to unpickle the embedding UDF
    os.environ["PYTHONPATH"] = pythonpath
    os.environ["TMPDIR"] = str(dirs["tmp"])
    os.environ["SPARK_LOCAL_DIRS"] = str(dirs["spark-local"])
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")

    t0 = time.perf_counter()
    from mcp_server_vector_search_spark.functions import train

    # Operator modules fold oracle SQL from a fixed testdata path at
    # import time; pointing it at an empty path keeps imports from
    # reading anything outside this checkout, whatever the host holds.
    train.ORACLE_SF_DIR = str(run_dir / "no-oracle-data")
    from pyspark.sql import functions as F

    from mcp_server_vector_search_spark import cache, engine, serving, session
    from mcp_server_vector_search_spark.functions import embedder
    from mcp_server_vector_search_spark.operators import ann, curation, dedup, topk
    from mcp_server_vector_search_spark.sources import tables

    t1 = time.perf_counter()
    spark = session.get_spark(
        app_name="perfbench",
        cpus=cores,
        extra_conf={
            "spark.local.dir": str(dirs["spark-local"]),
            "spark.sql.warehouse.dir": str(dirs["warehouse"]),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={dirs['jvm-tmp']} -XX:-UsePerfData",
            "spark.executorEnv.PYTHONPATH": pythonpath,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    t2 = time.perf_counter()
    mods = SimpleNamespace(F=F, cache=cache, engine=engine, serving=serving,
                           session=session, embedder=embedder, ann=ann,
                           curation=curation, dedup=dedup, topk=topk, tables=tables)
    return spark, mods, (t1 - t0) * 1e3, (t2 - t1) * 1e3


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def measure(op, wl, seconds: float, min_secondary: int) -> None:
    """Closed loop: ``op(0)``, ``op(1)``, ... until ``seconds`` have
    passed and the secondary op kind has ``min_secondary`` samples."""
    i, end = 0, time.perf_counter() + seconds
    while time.perf_counter() < end or len(wl.secondary_samples()) < min_secondary:
        op(i)
        i += 1


def measure_traced(wl, ctx, tracer, seconds: float) -> tuple[list, list]:
    """Closed loop with odd ops traced and even ops not, so both sides
    see the same warm-up drift and their difference is the tracing
    overhead.  Returns the primary op's (untraced, traced) samples."""
    untraced, traced = [], []
    prim = wl.outcomes(wl.primary).samples_ms

    def alternate(i: int) -> None:
        on, before = i % 2 == 1, len(prim)
        if on:
            ctx.tracer = tracer
            wl.wrap(tracer)
        try:
            wl.op(i)
        finally:
            if on:
                tracer.unwrap_all()
                ctx.tracer = spans.NullTracer()
        (traced if on else untraced).extend(prim[before:])

    # at least two secondary ops, so one of them is traced
    measure(alternate, wl, seconds, 2)
    return untraced, traced


def end_to_end(wl, setup_s: float) -> dict:
    prim = wl.outcomes(wl.primary)
    n_ok = sum(o.attempted - o.failed for o in wl.ops())
    busy_s = sum(o.ok_time_ms() for o in wl.ops()) / 1e3
    return {
        "setup_s": (setup_s, "s"),
        "p50_ms": (finite(prim.pct(50).value), "ms"),
        "ops_per_s": (n_ok / busy_s if busy_s else 0.0, "1/s"),
        "recall": (wl.recall(), "ratio"),
    }


def per_layer(wl, tracer, untraced_ms, traced_ms, import_ms, session_ms) -> dict:
    prim = [r for r in tracer.ops if r.kind == wl.primary]
    tot = [tracer.spark_totals(r) for r in prim]
    out = {
        "trace.ops": (len(prim), "count"),
        "trace.overhead_ms": (median(traced_ms) - median(untraced_ms), "ms"),
        "imports.ms": (import_ms, "ms"),
        "session.start_ms": (session_ms, "ms"),
    }
    units = {"jobs": "count", "stages": "count", "tasks": "count",
             "input_bytes": "bytes", "shuffle_write_bytes": "bytes",
             "spill_bytes": "bytes"}
    for key in ("jobs", "stages", "tasks", "job_busy_ms", "driver_gap_ms",
                "executor_run_ms", "executor_cpu_ms", "input_bytes",
                "shuffle_write_bytes", "spill_bytes"):
        out[f"spark.{key}"] = (median([t[key] for t in tot]), units.get(key, "ms"))
    # every workload reports every layer's metrics; a layer the workload
    # never calls reads 0
    for name, unit in LAYER_UNITS.items():
        out[name] = (0.0, unit)
    for name, value in wl.layer_metrics(tracer).items():
        out[name] = (value, LAYER_UNITS[name])
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "mcp_server_vector_search_spark" / "__init__.py").is_file():
        print(f"perfbench: the package under test is not in {ROOT}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    run_dir = WORK_DIR / f"{args.workload}-s{args.seed}-p{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    spark = None
    try:
        spark, mods, import_ms, session_ms = boot(run_dir, cores)
        boot_s = time.perf_counter() - T0

        ctx = Context(spark, mods, run_dir, args.seed, args.size, spans.NullTracer())
        wl = WORKLOADS[args.workload](ctx)
        wl.generate()
        tracer = spans.Tracer(spark, args.workload) if args.trace else None
        if tracer:
            ctx.tracer = tracer
            wl.wrap(tracer)
        reps = []
        for r in range(SETUP_REPS):
            with ctx.tracer.op(f"setup{r}", "setup"):
                t0 = time.perf_counter()
                wl.setup(r)
                reps.append(time.perf_counter() - t0)
            if r:
                wl.drop_setup(r - 1)
        setup_s = boot_s + statistics.median(reps)
        wl.hits = wl.expected = 0  # recall counts timed ops only
        min_sec = SIZES[args.workload][args.size].get("min_secondary", 1)

        if tracer:
            tracer.unwrap_all()
            ctx.tracer = spans.NullTracer()
            untraced, traced = measure_traced(wl, ctx, tracer, args.seconds)
        else:
            measure(wl.op, wl, args.seconds, min_sec)
        wl.finish()

        attempted = sum(o.attempted for o in wl.ops())
        failures = [f for o in wl.ops() for f in o.failures] + wl.end_failures
        failed = sum(o.failed for o in wl.ops()) + len(wl.end_failures)
        if tracer:
            metrics = per_layer(wl, tracer, untraced, traced, import_ms, session_ms)
            tracer.dump(WORK_DIR / "traces" / f"{args.workload}-s{args.seed}.jsonl")
        else:
            metrics = end_to_end(wl, setup_s)
        summary(args, wl, setup_s, reps, boot_s, metrics, failures)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    correct = failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


def summary(args, wl, setup_s, reps, boot_s, metrics, failures) -> None:
    """Human-readable report on stderr: sample counts and every metric."""
    err = sys.stderr
    print(f"# perfbench {args.workload} seed={args.seed} trace={args.trace}", file=err)
    print(f"#   setup: boot {boot_s:.2f}s + median of "
          f"{[round(r, 2) for r in reps]}s = {setup_s:.2f}s", file=err)
    for kind, o in wl.out.items():
        if o.attempted:
            p50, p90 = o.pct(50), o.pct(90)
            print(f"#   {kind}: {o.attempted} ops, {o.failed} failed, "
                  f"p50 {p50.value:.1f} ms, p90 {p90.value:.1f} ms "
                  f"({p90.beyond} of n={p90.n} beyond it); in order: "
                  f"{[round(s) for s in o.samples_ms]}", file=err)
    sec = wl.secondary_samples()
    if sec:
        print(f"#   secondary {wl.secondary}: n={len(sec)}, "
              f"p50 {percentile(sec, 50).value:.1f} ms", file=err)
    for k, (v, u) in metrics.items():
        print(f"#   {k} = {v:.6g} {u}", file=err)
    for f in failures:
        print(f"#   FAILED: {f}", file=err)


if __name__ == "__main__":
    sys.exit(main())
