"""Steadiness check: run one workload several times and judge the spread.

    python3 perfbench/steady.py --workload memo_rebuild --seeds 1 2 3 4 5
    python3 perfbench/steady.py --workload etl_cdc --seeds 7 7 7 --trace

Untraced (default): prints each end-to-end metric's median and quartile
spread ((q3 - q1) / median, as ``statistics.quantiles(n=4)`` gives them)
next to its bound in BENCHMARK.json, and checks every run for drift
inside its measured window: the median of the last third of the cycles
must be within the ``cycle_s`` bound of the first third's. A run that
measures fewer than two cycles is reported as not checked.

``--trace``: runs traced and checks that the host-independent counters
repeat exactly across runs. Give the same seed each time for this.
Exits 1 when any check fails.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

EXACT_COUNTERS = (
    "queries.jobs", "queries.shuffle_write_bytes", "queries.rows_out",
    "memo.builds", "memo.hits", "storage.files_written", "lineage.rows",
    "streaming.batches",
)


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def run_once(workload: str, seed: int, seconds: int, trace: bool, detail: Path) -> tuple[dict, dict]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(int(trace)), "--detail", str(detail)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd)}")
    return json.loads(out.stdout.strip().splitlines()[-1]), json.loads(detail.read_text())


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args(argv)

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out_dir = ROOT / ".perfbench_work" / "steady"
    out_dir.mkdir(parents=True, exist_ok=True)

    results, details, ok = [], [], True
    for i, seed in enumerate(a.seeds):
        res, det = run_once(a.workload, seed, bench["run_seconds"], a.trace,
                            out_dir / f"{a.workload}-{i}.json")
        results.append(res)
        details.append(det)
        vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"run {i} seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} load={det['loadavg_before'][0]:.2f}->{det['loadavg_after'][0]:.2f} "
              f"cycles={len(det['measured'])} {vals if not a.trace else ''}", flush=True)
        ok &= res["correct"] and res["failed"] == 0

    if a.trace:
        for name in EXACT_COUNTERS:
            seen = [r["metrics"][name]["value"] for r in results]
            same = len(set(seen)) == 1
            ok &= same
            print(f"{name:32s} {'repeats' if same else 'DIFFERS'} {seen}")
        return 0 if ok else 1

    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in results]
        if len(vals) < 2:
            continue
        med, q1, q3, rel = spread(vals)
        flag = "" if rel <= bound / 3 else (" above bound/3" if rel <= bound else " ABOVE BOUND")
        ok &= rel <= bound
        print(f"{name:14s} median {med:8.4f}  q1 {q1:8.4f}  q3 {q3:8.4f}  spread {rel:6.1%}  bound {bound:.0%}{flag}")
    for i, det in enumerate(details):
        d = det["drift"]
        if d is None:
            print(f"run {i}: drift not checked ({len(det['measured'])} cycle)")
            continue
        rel = d["last_third_s"] / d["first_third_s"] - 1
        bad = abs(rel) > bounds["cycle_s"]
        ok &= not bad
        print(f"run {i}: last third vs first third {rel:+.1%}{'  DRIFT' if bad else ''}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
