"""Run the benchmark on several seeds and print, per end-to-end metric,
the median and the quartile spread ((Q3 - Q1) / median) next to the
metric's bound. Run from the repository root:

    python3 perfbench/spread.py --workload ingest --seeds 1-10

Each run's last output line is appended to --out (JSON lines), so two
sets can be compared afterwards with --compare A.jsonl B.jsonl.
"""

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import measure  # noqa: E402


def seeds(text):
    lo, _, hi = text.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def table(rows, spec):
    out = {}
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in rows]
        med = measure.median(vals)
        spread = measure.quartile_spread(vals) if len(vals) > 1 else 0.0
        out[m["name"]] = med
        print(f"{m['name']:28s} median {med:12.4f} {m['unit']:6s} "
              f"spread {spread:6.3f}  bound {m['bound']}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2)
    a = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.compare:
        first, second = (table(load(p), spec) for p in a.compare)
        for m in spec["end_to_end"]:
            sign = 1 if m["better"] == "lower" else -1
            worse = sign * (second[m["name"]] - first[m["name"]]) / \
                first[m["name"]]
            print(f"{m['name']:28s} second vs first {worse:+.3f} "
                  f"(bound {m['bound']})")
        return
    rows = []
    for s in a.seeds:
        t0 = time.monotonic()
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(s), "--seconds",
             str(spec["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
        wall = time.monotonic() - t0
        if r.returncode != 0 or not last.startswith("{"):
            print(f"seed {s}: exit {r.returncode}\n{r.stderr[-2000:]}")
            sys.exit(1)
        row = json.loads(last)
        rows.append(row)
        print(f"seed {s}: {wall:.1f} s wall, correct={row['correct']}",
              flush=True)
        if a.out:
            with open(a.out, "a") as f:
                f.write(last + "\n")
    table(rows, spec)


if __name__ == "__main__":
    main()
