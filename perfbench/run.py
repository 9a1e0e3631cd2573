"""Benchmark entry point: one workload, one fresh SparkSession, one run.

    python3 perfbench/run.py --workload memo_rebuild --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run

1. generates the seeded lake into the run's own directory under
   ``.perfbench_work/`` — outside ``setup_s``;
2. times ``setup_s``: importing ``jorvik_spark`` and its query registry,
   ``get_session`` and a trivial job, in this fresh process;
3. times the cold cycle, runs ``WARMUP[workload]`` uncounted warm-up
   cycles, then measures ``round(--seconds / SECONDS_PER_CYCLE)``
   cycles, at least one;
4. checks every timed output in DuckDB;
5. prints one JSON object as the last line of stdout. With ``--trace 0``
   its metrics are the end-to-end ones; with ``--trace 1`` every measured
   cycle is paired with a traced one, interleaved untraced-traced,
   traced-untraced, ..., and its metrics are the per-layer ones from the
   traced cycles.

A detail record (settings, host load, lake hash, every cycle's time and
JIT time) goes to stderr as one ``PERFBENCH_DETAIL`` line and, with
``--detail PATH``, to a file. ``--cycles N`` measures exactly N cycles
instead of ``--seconds`` (used for the warm-up curves in ``warmup/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT)]

# Pinned deployment settings. Task threads stay below nproc; the Spark
# heap stays far below host RAM (get_session's default is 16g). C1-only
# JIT: with the default tiered C2 compiler the warm cycle time keeps
# falling for ~15 cycles and steps down at a different cycle in each JVM
# (see warmup/README.md); C1 settles within a few cycles. Its compile
# thresholds are a tenth of the defaults, so the cold cycle compiles what
# the next cycle would otherwise still be compiling.
TASK_THREADS = 2
DRIVER_MEM = "2g"
# Spark's default of 100 cached whole-stage-codegen classes is close to
# what one cold etl_cdc cycle generates (~95); whether a JVM then
# recompiles ~22 classes every cycle or none varied from run to run.
CODEGEN_CACHE_ENTRIES = 2000
JVM_OPTIONS = (
    f"-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m -Xms{DRIVER_MEM} -XX:-UsePerfData"
    " -XX:Tier3InvocationThreshold=20 -XX:Tier3MinInvocationThreshold=10"
    " -XX:Tier3CompileThreshold=200 -XX:Tier3BackEdgeThreshold=6000"
)

# Uncounted warm-up cycles after the cold cycle, read off the curves in
# warmup/. The same on every commit. etl_cdc has none: its first cycle
# after the cold one already runs within ~10 % of the later ones.
WARMUP = {"memo_rebuild": 2, "etl_cdc": 0}
# How much of --seconds one measured cycle stands for: a run measures a
# fixed count of cycles, the same however fast the host is. (Timing
# "until --seconds elapsed" lets a fast run measure more cycles further
# down the JIT curve, which widens the spread between runs.) With
# --seconds 10 a run measures 5 and 1 cycles, so that 22 runs of each
# workload fit well within an hour: an etl_cdc run already pays ~10 s of
# setup and a ~20 s cold cycle.
SECONDS_PER_CYCLE = {"memo_rebuild": 2.0, "etl_cdc": 10.0}
DEADLINE_S = 150  # stop measuring early rather than overrun the 180 s limit

E2E_UNITS = {"setup_s": "s", "cold_cycle_s": "s", "cycle_s": "s"}
LAYER_UNITS = {
    "session.start_s": "s",
    "spark.jit_s": "s", "spark.gc_s": "s", "spark.codegen_compiles": "count",
    "tables.load_table_s": "s", "tables.load_table_calls": "count", "tables.cache_hit_ratio": "ratio",
    "queries.build_s": "s", "queries.plan_s": "s", "queries.exec_s": "s", "queries.transfer_s": "s",
    "queries.jobs": "count", "queries.shuffle_write_bytes": "bytes", "queries.spill_bytes": "bytes",
    "queries.rows_out": "count",
    "memo.build_s": "s", "memo.hit_s": "s", "memo.builds": "count", "memo.hits": "count",
    "memo.hit_ratio": "ratio", "memo.cached_bytes": "bytes",
    "storage.write_s": "s", "storage.merge_s": "s", "storage.files_written": "count",
    "storage.merge_write_amp": "ratio", "isolation.read_s": "s",
    "etl.run_s": "s", "etl.verify_s": "s",
    "lineage.update_s": "s", "lineage.rows": "count",
    "streaming.drain_s": "s", "streaming.batches": "count", "streaming.batch_s": "s",
    "trace.overhead_s": "s",
}


def configure_environment(work: Path) -> dict:
    """Point every temp and scratch directory into the checkout and pin
    the deployment settings; return them for the detail record."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java_opts = f"{JVM_OPTIONS} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    env = {
        "SPARK_GRAFT_CPUS": str(TASK_THREADS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(tmp),
        "TMPDIR": str(tmp),
        # No hsperfdata file in the system temp dir from either JVM.
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--driver-java-options", shlex.quote(java_opts),
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.codegen.cache.maxEntries={CODEGEN_CACHE_ENTRIES}",
            "--conf", f"spark.sql.warehouse.dir={tmp / 'warehouse'}",
            "pyspark-shell",
        ]),
    }
    os.environ.update(env)
    return {"task_threads": TASK_THREADS, "driver_mem": DRIVER_MEM, "jvm_options": JVM_OPTIONS,
            "codegen_cache_entries": CODEGEN_CACHE_ENTRIES,
            "nproc": os.cpu_count(), "warmup_cycles": WARMUP}


def measured_cycles(workload: str, seconds: float) -> int:
    return max(1, round(seconds / SECONDS_PER_CYCLE[workload]))


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def tail_percentile(values: list[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile p (whole percent) of ``values`` that has at
    least ``min_beyond`` samples above it, with its value; None when even
    the median has fewer beyond it."""
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 49, -1):
        k = -(-p * n // 100) - 1  # nearest-rank index
        if n - 1 - k >= min_beyond:
            return p, xs[k]
    return None


def drift(times: list[float]) -> dict | None:
    """Medians of the first and the last third of the measured cycles
    (one cycle each with fewer than six); None with fewer than two."""
    if len(times) < 2:
        return None
    third = max(1, len(times) // 3)
    return {"first_third_s": statistics.median(times[:third]),
            "last_third_s": statistics.median(times[-third:])}


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def layer_metrics(totals: dict, layer: dict, engine_delta: dict) -> dict:
    """One traced cycle's per-layer metrics; a layer the cycle did not
    touch reports 0."""

    def self_s(n):
        return totals[n].self_s if n in totals else 0.0

    def total_s(n):
        return totals[n].total_s if n in totals else 0.0

    def calls(n):
        return totals[n].calls if n in totals else 0

    lt_calls = calls("tables.load_table")
    builds, hits = calls("memo.build"), calls("memo.hit")
    m = {
        "spark.jit_s": engine_delta["jit_s"],
        "spark.gc_s": engine_delta["gc_s"],
        "spark.codegen_compiles": engine_delta["codegen_compiles"],
        "tables.load_table_s": total_s("tables.load_table"),
        "tables.load_table_calls": lt_calls,
        "tables.cache_hit_ratio": layer.get("tables.hits", 0) / lt_calls if lt_calls else 0.0,
        "queries.build_s": self_s("queries.build"),
        "memo.build_s": self_s("memo.build"),
        "memo.hit_s": total_s("memo.hit"),
        "memo.builds": builds,
        "memo.hits": hits,
        "memo.hit_ratio": hits / (hits + builds) if hits + builds else 0.0,
        "storage.write_s": self_s("storage.write"),
        "storage.merge_s": self_s("storage.merge"),
        "isolation.read_s": total_s("isolation.read"),
        "etl.run_s": self_s("etl.run"),
        "etl.verify_s": self_s("etl.verify"),
        "lineage.update_s": total_s("lineage.update"),
        "streaming.drain_s": self_s("streaming.drain"),
    }
    for k in LAYER_UNITS:
        if k not in m and k not in ("session.start_s", "trace.overhead_s"):
            m[k] = layer.get(k, 0)
    return m


def main(argv=None) -> int:
    if os.environ.get("PYTHONHASHSEED") != "0" and argv is None:
        # Same str-hash order in every run: set iteration order must not
        # vary between runs of the same code.
        os.execve(sys.executable, [sys.executable, *sys.argv], {**os.environ, "PYTHONHASHSEED": "0"})
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--detail", type=Path)
    ap.add_argument("--cycles", type=int, help="measure exactly this many cycles")
    a = ap.parse_args(argv)

    missing = [p for p in ("jorvik_spark", "examples/medallion", "testdata/sf0.01") if not (ROOT / p).is_dir()]
    if missing:
        print(f"perfbench: not a repository checkout (missing {missing})", file=sys.stderr)
        return 2

    from perfbench.lake import make_lake
    from perfbench.workloads import WORKLOADS, Context

    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    t_run = time.perf_counter()
    work = ROOT / ".perfbench_work"
    settings = configure_environment(work)
    run_dir = work / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    detail = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "settings": settings, "git_commit": git_commit(), "loadavg_before": os.getloadavg()}
    lake = run_dir / "lake"
    detail["lake"] = make_lake(a.seed, lake)

    t0 = time.perf_counter()
    import jorvik_spark  # noqa: F401
    import jorvik_spark.queries  # noqa: F401
    from jorvik_spark.session import get_session

    t1 = time.perf_counter()
    spark = get_session("perfbench")
    session_start_s = time.perf_counter() - t1
    spark.range(1).count()
    setup_s = time.perf_counter() - t0
    # Collected timestamps are naive local times; compare them in UTC. Set
    # after the JVM started, so Spark keeps the host's default zone.
    os.environ["TZ"] = "UTC"
    time.tzset()

    try:
        from perfbench.trace import Engine, Tracer, install

        engine = Engine(spark)
        tracer = None
        if a.trace:
            tracer = Tracer(enabled=False)
            install(tracer)
        ctx = Context(spark, lake, run_dir, tracer, engine)
        wl = WORKLOADS[a.workload](ctx)
        wl.prepare()

        def timed_cycle() -> dict:
            ctx.layer.clear()
            if tracer:
                tracer.reset()
            e0 = engine.snapshot()
            c0 = time.perf_counter()
            wl.cycle()
            dt = time.perf_counter() - c0
            e1 = engine.snapshot()
            rec = {"s": dt, **{k: e1[k] - e0[k] for k in e0}}
            if tracer and tracer.enabled:
                totals, counts, _ = tracer.reset()
                rec["layers"] = layer_metrics(totals, {**ctx.layer, **counts}, rec)
            return rec

        cold = timed_cycle()
        warm = [timed_cycle() for _ in range(WARMUP[a.workload])]
        n = a.cycles or measured_cycles(a.workload, a.seconds)

        plan = [False] * n
        if a.trace:
            # Untraced and traced cycles in ABBA order (at least one full
            # ABBA), so that both sit at the same point of the JIT curve and
            # trace.overhead_s is the tracer's cost, not warm-up progress.
            plan = [t for i in range(max(2, n)) for t in ((False, True) if i % 2 == 0 else (True, False))]
        measured, traced = [], []
        for t in plan:
            if measured and (traced or not a.trace) and time.perf_counter() - t_run > DEADLINE_S:
                break
            if tracer:
                tracer.enabled = t
            (traced if t else measured).append(timed_cycle())
        if tracer:
            tracer.enabled = False
        attempted, failures = wl.check()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    times = [c["s"] for c in measured]
    cycle_s = statistics.median(times)
    tail = tail_percentile(times)
    if a.trace:
        layers = {
            k: statistics.median(c["layers"][k] for c in traced)
            for k in traced[0]["layers"]
        }
        layers["session.start_s"] = session_start_s
        layers["trace.overhead_s"] = statistics.median(c["s"] for c in traced) - cycle_s
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        e2e = {"setup_s": setup_s, "cold_cycle_s": cold["s"], "cycle_s": cycle_s}
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}

    detail.update({
        "setup_s": setup_s, "session_start_s": session_start_s, "cold": cold, "warmup": warm,
        "measured": measured, "traced": traced,
        "cycle_tail": {"percentile": tail[0], "s": tail[1]} if tail else None,
        "drift": drift(times),
        "attempted": attempted, "failures": failures[:20],
        "loadavg_after": os.getloadavg(), "run_s": time.perf_counter() - t_run,
    })
    line = json.dumps(detail, default=float)
    print("PERFBENCH_DETAIL " + line, file=sys.stderr)
    if a.detail:
        a.detail.write_text(line)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
