"""Run-to-run spread and tracing overhead of the benchmark.

    python3 perfbench/spread.py --workload lake_read --seeds 1-10
    python3 perfbench/spread.py --workload lake_read --seeds 1-3 --overhead

For every end-to-end metric it prints the median of the runs and the
distance between the first and third quartile as a share of the median
(`statistics.quantiles(values, n=4)`), next to the metric's bound in
BENCHMARK.json. With --overhead each seed also runs with --trace 1 and
the traced medians are compared with the untraced ones.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent


def seeds_of(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def run(workload, seed, seconds, trace):
    """Metrics of one run: the JSON line's, or with --trace 1 the traced
    run's own end-to-end figures from its report."""
    r = subprocess.run([sys.executable, str(BENCH_DIR / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {r.returncode}\n{r.stdout}")
    out = json.loads(lines[-1])
    if not out["correct"]:
        raise SystemExit(f"{workload} seed {seed}: incorrect\n{r.stdout}")
    if not trace:
        return {k: v["value"] for k, v in out["metrics"].items()}
    figures, section = {}, False
    for line in lines:
        if "end-to-end metrics of this traced run" in line:
            section = True
        elif line.strip().startswith("--"):
            section = False
        elif section:
            name, value = line.split()[:2]
            figures[name] = float(value)
    return figures


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return m, (q3 - q1) / m if m else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    plain, traced = [], []
    for s in seeds_of(a.seeds):
        t0 = time.time()
        plain.append(run(a.workload, s, seconds, 0))
        print(f"seed {s} ({time.time() - t0:.0f} s): " +
              ", ".join(f"{k}={v:.4g}" for k, v in plain[-1].items()), flush=True)
        if a.overhead:
            traced.append(run(a.workload, s, seconds, 1))
    print(f"\n{a.workload}: {len(plain)} runs")
    for name in plain[0]:
        vals = [p[name] for p in plain]
        m, sp = spread(vals) if len(vals) >= 2 else (vals[0], 0.0)
        line = f"  {name:14s} median {m:12.4f}  IQR/median {sp:7.4f}  bound {bounds.get(name)}"
        if a.overhead and traced:
            tm = statistics.median(t[name] for t in traced)
            line += f"  traced median {tm:12.4f} ({(tm - m) / m * 100:+.1f}%)"
        print(line)


if __name__ == "__main__":
    main()
