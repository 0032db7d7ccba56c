#!/usr/bin/env python3
"""Run the benchmark on several seeds and report how steady each metric is.

    python3 perfbench/steadiness.py [--runs 10] [--first-seed 1]
        [--workload NAME ...] [--traced N]

For every workload and end-to-end metric it prints the median, the
quartiles and the spread (quartile distance over median, as
`statistics.quantiles(values, n=4)` gives them) next to the metric's
bound from BENCHMARK.json. With --traced N it also runs the first N
seeds with --trace 1 and prints the tracing overhead (traced minus
untraced medians over those seeds), and the per-layer self times with
the share of wall time that the program's layers account for.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def run(workload, seed, seconds, trace, raw=None):
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {r.returncode}")
    if raw:
        other = [ln for ln in r.stderr.splitlines() if "other_cores=" in ln]
        with raw.open("a") as f:
            f.write(json.dumps({"workload": workload, "seed": seed, "trace": trace,
                                "load": other[-1] if other else None,
                                "result": json.loads(lines[-1])}) + "\n")
    return json.loads(lines[-1])


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append",
                    help="workload to run (default: every one in BENCHMARK.json)")
    ap.add_argument("--traced", type=int, default=0, metavar="N",
                    help="also run the first N seeds traced")
    ap.add_argument("--raw", type=Path, help="append every run's result line to this file")
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seeds = range(args.first_seed, args.first_seed + args.runs)
    for w in workloads:
        plain = [run(w, s, spec["run_seconds"], 0, args.raw) for s in seeds]
        print(f"\n{w}: {len(plain)} runs, seeds {seeds.start}..{seeds.stop - 1}")
        print(f"  {'metric':16s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s} {'bound':>6s}")
        for name in bounds:
            med, q1, q3, sp = spread([r["metrics"][name]["value"] for r in plain])
            unit = plain[0]["metrics"][name]["unit"]
            print(f"  {name:16s} {med:12.4f} {q1:12.4f} {q3:12.4f} {sp:7.3f} {bounds[name]:6.2f}"
                  f"  {unit}")
        if not args.traced:
            continue
        traced = [run(w, s, spec["run_seconds"], 1, args.raw) for s in seeds[:args.traced]]
        tm = lambda k: statistics.median(r["metrics"][k]["value"] for r in traced)
        pm = lambda k: statistics.median(r["metrics"][k]["value"] for r in plain[:args.traced])
        print(f"  tracing overhead ({len(traced)} traced runs, traced minus untraced medians):")
        for k in ("batch_s.p50", "query_ms.p50", "rows_per_s"):
            t, p = tm("trace." + k), pm(k)
            print(f"    {k:14s} {t:10.4f} - {p:10.4f} = {t - p:+.4f} ({(t - p) / p:+.1%})")
        wall = tm("trace.wall_s")
        selfs = {k[len("self_s."):]: tm(k) for k in traced[0]["metrics"] if k.startswith("self_s.")}
        named = sum(v for k, v in selfs.items() if k not in ("bench", "check", "gen"))
        print(f"  self time by layer (medians, s), wall {wall:.2f} s:")
        for k, v in sorted(selfs.items(), key=lambda kv: -kv[1]):
            if v:
                print(f"    {k:10s} {v:8.3f}  {v / wall:6.1%}")
        print(f"    program layers cover {named / wall:.1%} of wall; the gap is the "
              f"benchmark's own checks, input generation and loop ({1 - named / wall:.1%})")


if __name__ == "__main__":
    main()
