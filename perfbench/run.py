#!/usr/bin/env python3
"""Run one benchmark workload, or all of them, and print the result.

    python3 perfbench/run.py --workload season_backfill --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all

Run from the root of a source checkout. One workload runs in this process:
it starts the program's Spark session, stages seeded inputs, times one cold
pass and then warm passes for ``--seconds`` seconds (at least three), checks
what every pass wrote and prints one JSON object as its last line.
``--trace 1`` runs the same passes with a span around every layer call and
reports per-layer metrics instead, and writes every span to
``.perfbench_out/trace-<workload>-<seed>.json``. ``--workload all`` runs each
workload in a fresh process of its own.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")
NAMES = ("season_backfill", "iterative_solvers")

END_TO_END = {"setup_s": "s", "cold_cpu_s": "s", "cpu_s": "s"}
SETUP_REPEATS = 3  # stagings per run; setup_s takes their median
MIN_WARM = 3  # warm passes per run at least, however long they take

STAT_UNITS = {"wall_s": "s", "self_s": "s", "jobs": "count", "tasks": "count",
              "shuffle_bytes": "B", "spill_bytes": "B", "gc_ms": "ms",
              "executor_ms": "ms", "calls": "count", "bytes_written": "B"}
FULL = ("wall_s", "self_s", "jobs", "tasks", "shuffle_bytes", "spill_bytes", "gc_ms",
        "executor_ms")
#: (layer, statistic) pairs reported with --trace 1, per warm pass
PER_LAYER = (
    [(layer, stat) for layer in (
        "normalize.normalize_records",
        "sources.io.write_partitioned",
        "sources.io.overwrite_parquet_atomic",
        "operators.pbp.enrich_plays",
        "operators.pbp.game_team_stats",
        "operators.pbp.team_daily_rollup",
        "operators.ratings.ratings_per_date",
        "plans.backtest.attach_ratings",
        "plans.backtest.backtest_metrics",
        "operators.cc.connected_components_star",
        "queries.solver",
    ) for stat in FULL]
    + [("operators.ratings.solve_ratings", s) for s in ("wall_s", "calls")]
    + [("sources.io.write_partitioned", "bytes_written"),
       ("sources.io.overwrite_parquet_atomic", "bytes_written"),
       ("plans.backtest.roi_by_threshold", "wall_s")]
    + [(f"queries.solver.{q}", s) for q in (
        "q300_weighted_sssp", "q61_jacobi_exact")
       for s in ("wall_s", "jobs")]
)


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr,
          flush=True)


def cleanup(spark, keep: set) -> None:
    """Drop cached data and every persisted RDD a pass left behind
    (``localCheckpoint`` blocks included), waiting until they are gone, then
    collect the JVM heap, so that no pass pays for its predecessor's
    garbage."""
    spark.catalog.clearCache()
    for rid, rdd in dict(spark.sparkContext._jsc.getPersistentRDDs()).items():
        if rid not in keep:
            rdd.unpersist(True)
    spark.sparkContext._jvm.System.gc()


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers have ended."""
    from spans import TreeSampler

    pids = [p for p in TreeSampler().pids() if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)


def run_one(name: str, seed: int, seconds: float, trace: bool, run_dir: str) -> dict:
    sys.path[:0] = [HERE, ROOT]
    import spans as tracing

    os.makedirs(os.path.join(run_dir, "tmp"))
    # keep every file the session writes inside the checkout
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    log_dir = os.path.join(run_dir, "eventlog")
    if trace:
        conf.update(tracing.event_log_conf(log_dir))
    from hoops_edge_database_etl_spark.session import get_spark

    sampler = tracing.TreeSampler()
    with sampler if trace else contextlib.nullcontext():
        t0 = time.perf_counter()
        spark = get_spark(extra_conf=conf)
        session_s = time.perf_counter() - t0
        session_cpu = sampler.cpu_s()  # interpreter start, imports, session start
        log(f"session up in {session_s:.2f}s, {session_cpu:.2f}s cpu since start")
        import workloads  # the program's pbp module needs a live session to import

        tr = tracing.Tracer(spark, trace)
        if trace:
            from hoops_edge_database_etl_spark.operators import cc, ratings

            tr.wrap(ratings, "solve_ratings", "operators.ratings.solve_ratings")
            tr.wrap(cc, "connected_components_star", "operators.cc.connected_components_star")
        wl = workloads.WORKLOADS[name](spark, tr, run_dir, seed)
        try:
            # stage the inputs several times, each into a fresh directory on
            # a clean cache; the last staging's inputs feed the passes
            stage_cpus = []
            for i in range(SETUP_REPEATS):
                if i:
                    cleanup(spark, set())
                    shutil.rmtree(os.path.join(run_dir, f"stage{i - 1}"))
                c0 = sampler.cpu_s()
                wl.stage(os.path.join(run_dir, f"stage{i}"))
                stage_cpus.append(sampler.cpu_s() - c0)
            keep = set(dict(spark.sparkContext._jsc.getPersistentRDDs()))
            setup_s = session_cpu + statistics.median(stage_cpus)
            log(f"set up in {time.perf_counter() - T_START:.2f}s; staging cpu "
                + ", ".join(f"{c:.2f}s" for c in stage_cpus))
            walls, cpus, attempted, failed = [], [], 0, 0
            warm_end = None
            k = 0
            while k <= MIN_WARM or time.perf_counter() < warm_end:
                tr.phase = "cold" if k == 0 else "warm"
                c0, t0 = sampler.cpu_s(), time.perf_counter()
                try:
                    wl.run_pass(k)
                    wall, cpu = time.perf_counter() - t0, sampler.cpu_s() - c0
                    results = wl.check_pass(k)
                except Exception:
                    traceback.print_exc()
                    wall, cpu = time.perf_counter() - t0, sampler.cpu_s() - c0
                    results = [["exception"]] * wl.OPS_PER_PASS
                if len(results) != wl.OPS_PER_PASS:
                    raise RuntimeError(f"{name}: pass returned {len(results)} checks")
                attempted += len(results)
                for problems in results:
                    if problems:
                        failed += 1
                        log(f"pass {k} failed: {'; '.join(problems)[:400]}")
                walls.append(wall)
                cpus.append(cpu)
                log(f"pass {k}: {wall:.3f}s wall, {cpu:.2f}s cpu")
                cleanup(spark, keep)
                wl.drop_pass(k)
                if k == 0:
                    warm_end = time.perf_counter() + seconds
                k += 1
        finally:
            if trace:
                sampler.sample()
            stop_session(spark)
    result = {
        "correct": True,
        "attempted": attempted,
        "failed": failed,
    }
    if trace:
        counters = tracing.group_counters(log_dir)
        layers = tracing.layer_metrics(tr.spans, counters, PER_LAYER, len(walls) - 1)
        metrics = {f"{layer}.{stat}": {"value": layers[f"{layer}.{stat}"],
                                       "unit": STAT_UNITS[stat]} for layer, stat in PER_LAYER}
        metrics["session.get_spark.wall_s"] = {"value": session_s, "unit": "s"}
        metrics["process.peak_rss_mb"] = {"value": sampler.peak_rss / 2**20, "unit": "MB"}
        side = os.path.join(OUT, f"trace-{name}-{seed}.json")
        with open(side, "w") as fh:
            json.dump({"workload": name, "seed": seed, "session_s": session_s,
                       "pass_wall_s": walls, "spans": tr.spans,
                       "counters": counters, "metrics": metrics}, fh, indent=1)
        log(f"spans written to {side}")
    else:
        log(f"cold pass {walls[0]:.3f}s wall, median warm pass "
            f"{statistics.median(walls[1:]):.3f}s wall over {len(walls) - 1}")
        metrics = {
            "setup_s": setup_s,
            "cold_cpu_s": cpus[0],
            "cpu_s": statistics.fmean(cpus[1:]),
        }
        metrics = {m: {"value": v, "unit": END_TO_END[m]} for m, v in metrics.items()}
    result["metrics"] = metrics
    return result


def run_all(args) -> int:
    """Each workload in a fresh process; one summary line per workload, then
    one combined object."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name}: exited {proc.returncode} without a result", flush=True)
            return 1
        res = json.loads(lines[-1])
        print(f"{name}: attempted {res['attempted']}, failed {res['failed']}, "
              + ", ".join(f"{m} {v['value']:.4g} {v['unit']}"
                          for m, v in res["metrics"].items()), flush=True)
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for m, v in res["metrics"].items():
            combined["metrics"][f"{name}.{m}"] = v
    print(json.dumps(combined))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    run_dir = os.path.join(OUT, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result = run_one(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
