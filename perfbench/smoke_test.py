#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload once at tiny size.

    python3 perfbench/smoke_test.py

Runs each workload (the ones in BENCHMARK.json and train_curate) with
--size tiny, once plain and once traced. Asserts that each run exits 0
with every output check passed, and that it prints exactly the metrics
BENCHMARK.json names (plus train_curate's own), each with its unit.
"""
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent

# metrics only train_curate reports, after the shared ones
TRAIN_END_TO_END = {"dedup_recall": "ratio", "ann_recall10": "ratio"}
TRAIN_LAYERS = {
    **{f"{m}_ms": "ms" for m in ("dedup.create", "dedup.refresh", "dedup.admission",
                                 "ann.create", "ann.refresh", "ann.query", "curate.gates")},
    "dedup.pairs": "count", "curate.kept_frac": "ratio",
    "self_s.ann": "s", "self_s.curate": "s", "self_s.dedup": "s",
}


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    end_to_end = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    failures = []
    for w in [x["name"] for x in spec["workloads"]] + ["train_curate"]:
        for trace in (0, 1):
            want = dict(per_layer if trace else end_to_end)
            if w == "train_curate":
                want.update(TRAIN_LAYERS if trace else TRAIN_END_TO_END)
            r = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", w,
                                "--seed", "7", "--seconds", "1", "--trace", str(trace),
                                "--size", "tiny"], cwd=ROOT, capture_output=True, text=True)
            label = f"{w} trace={trace}"
            try:
                out = json.loads(r.stdout.strip().splitlines()[-1])
            except (IndexError, ValueError):
                failures.append(f"{label}: no result line (exit {r.returncode})\n{r.stderr[-3000:]}")
                continue
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            problems = []
            if r.returncode != 0 or not out["correct"] or out["failed"]:
                problems.append(f"exit {r.returncode}, correct {out['correct']}, "
                                f"failed {out['failed']} of {out['attempted']}")
            if got != want:
                problems.append(f"metrics differ: missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, units "
                                f"{[k for k in want if k in got and got[k] != want[k]]}")
            if any(not isinstance(v["value"], (int, float)) for v in out["metrics"].values()):
                problems.append("a metric value is not a number")
            print(f"{label}: {'ok' if not problems else 'FAILED'} "
                  f"({out['attempted']} operations, {len(got)} metrics)")
            failures += [f"{label}: {p}" for p in problems]
    for f in failures:
        print(f, file=sys.stderr)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
