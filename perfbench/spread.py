"""Run-to-run spread of the end-to-end metrics, as the acceptance rule sees it.

    python3 perfbench/spread.py --seeds 10 [--first-seed 1] [--workloads a,b]
                                [--save set1.json] [--compare set0.json]

Runs the benchmark command once per seed and workload (sequentially),
then prints for every end-to-end metric its median over the seeds and
its spread: the distance between the first and third quartile
(`statistics.quantiles(values, n=4)`) as a share of the median, beside
the metric's bound from BENCHMARK.json, and the largest spread ÷ bound
over every metric, `setup_s` included. `--compare` also reports how far
each median moved from a set saved earlier with `--save`.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--save")
    ap.add_argument("--compare")
    args = ap.parse_args()

    values: dict[str, dict[str, list[float]]] = {}
    walls: dict[str, list[float]] = {}
    for w in args.workloads.split(","):
        values[w] = {m["name"]: [] for m in bench["end_to_end"]}
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            t0 = time.monotonic()
            cmd = bench["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", "0",
            ]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            wall = time.monotonic() - t0
            if p.returncode != 0:
                sys.stderr.write(p.stderr[-3000:])
                raise SystemExit(f"{w} seed {seed} exited {p.returncode}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            for k, v in res["metrics"].items():
                values[w][k].append(v["value"])
            walls.setdefault(w, []).append(wall)
            print(
                f"{w} seed {seed}: wall {wall:.1f} s correct {res['correct']} "
                f"failed {res['failed']}/{res['attempted']}",
                flush=True,
            )
    old = json.loads(Path(args.compare).read_text()) if args.compare else None
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    worst = (0.0, "")
    for w, metrics in values.items():
        print(f"== {w}")
        for k, xs in metrics.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            b = bounds[k]["bound"]
            worst = max(worst, (spread / b, f"{w} {k}"))
            flag = "" if spread <= b else "  OVER BOUND"
            line = f"  {k:18s} median {med:.6g}  spread {100 * spread:5.1f}%  bound {100 * b:.0f}%{flag}"
            if old is not None:
                m0 = statistics.median(old["values"][w][k])
                worse = (med - m0) / m0 if bounds[k]["better"] == "lower" else (m0 - med) / m0
                line += f"  vs saved median {m0:.6g}: {100 * worse:+.1f}% worse"
                if worse > b:
                    line += "  MEDIAN OVER BOUND"
            print(line)
    print(f"largest spread/bound: {worst[0]:.2f} ({worst[1]})")
    # the acceptance sweep makes 4 + 22 runs per workload
    runs = 4 + 22 * len(walls)
    mean_wall = statistics.mean(x for xs in walls.values() for x in xs)
    print(f"mean run wall {mean_wall:.1f} s; {runs} runs take about {runs * mean_wall:.0f} s")
    if args.save:
        Path(args.save).write_text(json.dumps({"values": values, "wall_s": walls}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
