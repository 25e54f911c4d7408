"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ..., "n_errors": ...}.

Each query is timed as cold plan → collect (count of materialized rows),
after a warmup query to amortize JVM/session startup out of the numbers.

Profiling a few queries uses the same warmup and timing loop:

  SPARK_GRAFT_BENCH_RUNS=3 python bench.py --only NAME [NAME...] [--plans DIR]

``--only`` times just the named queries and writes no ``BENCH_FULL*.json``
record; ``--plans DIR`` first saves each query's formatted physical plan
to ``DIR/<name>.txt`` (outside the timed region).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from mcp_server_vector_search_spark import artifacts, registry  # noqa: E402
from mcp_server_vector_search_spark.cache import release_scratch  # noqa: E402
from mcp_server_vector_search_spark.session import get_spark  # noqa: E402


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--only", nargs="+", metavar="NAME",
                    help="time only these queries")
    ap.add_argument("--plans", metavar="DIR",
                    help="save formatted plans to DIR/<name>.txt")
    args = ap.parse_args(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    t0 = time.perf_counter()
    registry.load_all_operators()
    registry_load_s = round(time.perf_counter() - t0, 4)
    unknown = sorted(set(args.only or ()) - set(registry.QUERIES))
    if unknown:
        ap.error(f"not registered: {', '.join(unknown)}")
    spark = get_spark(app_name="bench")

    # warmup: touch the session + parquet footers once, and spin up the
    # Python data-source worker pool (same amortization as the JVM
    # warmup — the one-time interpreter bootstrap is session cost, not
    # query cost; source_python_datasource's steady-state is ~0.45 s
    # where its cold-pool first run is ~3-5 s)
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    from mcp_server_vector_search_spark.sources.pysource import register_pysource

    register_pysource(spark)
    spark.read.format("pyrowgroup").option(
        "path", f"{sf_dir}/region.parquet"
    ).load().count()
    # ...and one representative aggregate over the two LARGE tables:
    # the first big-scan query of a session otherwise pays page-cache
    # fill, whole-stage codegen compile, and first-shuffle setup —
    # session cost, not query cost (r10: three sub-second agg rows
    # tripped the 2x gate purely from running first after a cold start)
    from pyspark.sql import functions as _F

    for warm_tbl, warm_key in (("lineitem", "l_returnflag"), ("orders", "o_orderstatus")):
        spark.read.parquet(f"{sf_dir}/{warm_tbl}.parquet").groupBy(
            warm_key
        ).agg(_F.count(_F.lit(1))).collect()

    # Per-query fault isolation: one failing query must never cost the
    # round its whole perf record (round 3 lost all timings to a single
    # AnalysisException).  Failures are recorded as {"err": ...} entries
    # alongside the successful timings.
    #
    # Each query is timed runs_per_query times and the official number is
    # the MIN (VERDICT r8 task 2: the r8 driver record was uniformly
    # ~1.8x inflated by machine contention; the min rejects transient
    # contention while scratch release + clearCache between runs keeps
    # each run a cold plan).  All raw runs plus start/end loadavg are
    # kept in the payload so a contaminated record is self-labeling.
    #
    # MEASUREMENT FIX (r16, VERDICT r15 task 4): runs used to be
    # back-to-back per query, so a contiguous host-stall window inflated
    # BOTH samples of every query in one alphabetical cluster (the r15
    # driver record flagged dedup_incremental_lines at 5.5x purely from
    # an a-d-cluster stall).  Runs are now organized as full PASSES over
    # the registry — pass 0 forward-alphabetical, pass 1 reverse, pass 2+
    # shuffled with a fixed seed — so the two samples of any query are
    # taken ~5 minutes apart and a stall window can never hit both.  The
    # pass orders are recorded in the payload ("pass_orders").
    names = sorted(set(args.only or registry.QUERIES))
    if args.plans:
        from mcp_server_vector_search_spark.plans.explain import formatted_plan

        Path(args.plans).mkdir(parents=True, exist_ok=True)
        for name in names:
            plan = formatted_plan(registry.QUERIES[name](spark, sf_dir))
            (Path(args.plans) / f"{name}.txt").write_text(plan)
            release_scratch()
            spark.catalog.clearCache()
    runs_per_query = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    loadavg_start = os.getloadavg()
    ts_start = time.time()
    timings: dict[str, float] = {}
    raw_runs: dict[str, list[float]] = {}
    row_counts: dict[str, int] = {}
    row_count_mismatches: dict[str, list[int]] = {}
    errors: dict[str, str] = {}
    pass_orders: list[str] = []
    for pass_no in range(runs_per_query):
        if pass_no == 0:
            order, order_tag = list(names), "forward"
        elif pass_no == 1:
            order, order_tag = list(reversed(names)), "reverse"
        else:
            order, order_tag = list(names), f"shuffled(seed={pass_no})"
            random.Random(pass_no).shuffle(order)
        pass_orders.append(order_tag)
        for name in order:
            fn = registry.QUERIES[name]
            t0 = time.perf_counter()
            try:
                df = fn(spark, sf_dir)
                n = df.count()
            except Exception as exc:  # noqa: BLE001 — survive any one query
                # a transient failure must not discard a valid sample
                # from another pass — the whole point of multi-run
                # timing is noise rejection
                err = f"{type(exc).__name__}: {exc}"[:500]
                errors[name] = err
                print(f"# pass{pass_no} {name}: run FAILED {err}", file=sys.stderr)
            else:
                dt = round(time.perf_counter() - t0, 4)
                raw_runs.setdefault(name, []).append(dt)
                # cross-pass determinism check: a query whose row count
                # changes between passes is flagged in the payload
                if name in row_counts and row_counts[name] != n:
                    row_count_mismatches.setdefault(name, [row_counts[name]]).append(n)
                row_counts[name] = n
                print(f"# pass{pass_no} {name}: {dt:.3f}s ({n} rows)", file=sys.stderr)
            finally:
                # Operators may persist() scratch subtrees (signature
                # tables, exploded shingles); drop them so runs are timed
                # independently instead of competing for storage memory.
                release_scratch()
                spark.catalog.clearCache()
    for name in names:
        if raw_runs.get(name):
            timings[name] = min(raw_runs[name])
            errors.pop(name, None)
        else:
            errors.setdefault(name, "no successful run")

    total = round(sum(timings.values()), 4)
    # The printed one-line JSON stays SMALL (VERDICT r16 task 2: the r15
    # driver record truncated mid-line because the full `runs` map for 309
    # queries overflowed the driver's stdout-tail capture, killing the
    # round-over-round table).  Bulky detail (raw runs, pass orders,
    # loadavg, row counts) lives only in the sidecar BENCH_FULL*.json.
    payload = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        # a query that fails every pass drops out of the total: count it
        "n_errors": len(errors),
    }
    full_payload = {
        **payload,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count(),
        "runs": raw_runs,
        "runs_per_query": runs_per_query,
        "pass_orders": pass_orders,
        "row_counts": row_counts,
        "row_count_mismatches": row_count_mismatches,
        "loadavg": {"start": loadavg_start, "end": os.getloadavg()},
        "wallclock": {"start": ts_start, "end": time.time()},
        "errors": errors,
        "artifact_store": dict(artifacts.STATS),
        "registry_load_s": registry_load_s,
    }
    # Lossless record: the driver archives only a truncated tail of stdout,
    # which has repeatedly lost 100+ per-query timings (VERDICT r6 task 1).
    # Persist the full payload to a committed repo file so every round's
    # per-query numbers stay auditable regardless of stdout truncation.
    repo = Path(__file__).resolve().parent
    text = json.dumps(full_payload, indent=1, sort_keys=True) + "\n"
    # Only full official-SF runs (the driver's sf0.1) overwrite the
    # committed records; iterating locally at sf0.001/0.01 or on an
    # --only subset must not clobber them.
    if float(sf) >= 0.1 and not args.only:
        (repo / "BENCH_FULL.json").write_text(text)
        # ...and a per-round copy (BENCH_FULL.json is overwritten each run,
        # so round N+1's verdict could only diff the truncated stdout tail;
        # VERDICT r7 task 4).  The round number comes from the highest
        # CORRECTNESS_r{N}.json present, +1 — the bench for round N runs
        # before its correctness file lands.
        rounds = [
            int(p.stem.split("_r")[1])
            for p in repo.glob("CORRECTNESS_r*.json")
            if p.stem.split("_r")[1].isdigit()
        ]
        (repo / f"BENCH_FULL_r{max(rounds, default=0) + 1:02d}.json").write_text(text)
    print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    main()
