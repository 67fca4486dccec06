"""Benchmark record: tracing overhead and exact-count repeatability.

    python3 perfbench/report.py --seed 1 [--workloads a,b] [--seconds 10] [--cycles 2]

For each workload it runs, one after another and each in its own process:
  1. an untraced run (the end-to-end numbers),
  2. a traced run of the same seed and length; the difference of its
     end-to-end numbers from run 1 is the tracing overhead,
  3. two traced runs of the same seed with a fixed number of op-mix
     cycles; every count listed in EXACT must read the same in both, and
     a count that does not is listed as non-exact with its spread.
It prints a summary and writes the record to
`perfbench/records/<git commit>-c<cpus>.json`, keyed on the commit and
the CPU count.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from harness import ROOT, git_commit, nproc  # noqa: E402

BENCH_WORKLOADS = [w["name"] for w in json.loads((ROOT / "BENCHMARK.json").read_text())["workloads"]]

# Counts that a later change may only claim a gain on if they repeat
# exactly between two traced runs of one seed.
EXACT_LAYER = [
    "spark.jobs_per_op",
    "storage.fs.list_dir.calls_per_op",
    "storage.fs.read_text.calls_per_op",
    "storage.fs.put_if_absent.calls_per_op",
    "storage.fs.write_text_atomic.calls_per_op",
    "storage.fs.walk_files.calls_per_op",
    "storage.fs.open_binary.calls_per_op",
    "storage.commit.read_commit.calls_per_op",
    "catalog.io.write_data_files.files",
    "storage.snapshot.prune.kept_ratio",
]
EXACT_END_TO_END = ["write_amp", "space_amp"]


def run(workload: str, seed: int, trace: int, seconds: float, cycles: "int | None", tag: str) -> dict:
    out = ROOT / ".perfbench" / f"detail-{workload}-{seed}-{tag}.json"
    out.parent.mkdir(exist_ok=True)
    cmd = [
        sys.executable,
        str(HERE / "run.py"),
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(seconds),
        "--trace", str(trace),
        "--detail", str(out),
    ]
    if cycles is not None:
        cmd += ["--cycles", str(cycles)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} ({tag}) exited {p.returncode}")
    detail = json.loads(out.read_text())
    out.unlink()
    return detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"])
    ap.add_argument("--cycles", type=int, default=2)
    ap.add_argument("--workloads", default=",".join(BENCH_WORKLOADS))
    args = ap.parse_args()

    record: dict = {"git_commit": git_commit(), "nproc": nproc(), "seed": args.seed, "workloads": {}}
    for w in args.workloads.split(","):
        plain = run(w, args.seed, 0, args.seconds, None, "plain")
        traced = run(w, args.seed, 1, args.seconds, None, "traced")
        rep = [run(w, args.seed, 1, args.seconds, args.cycles, f"exact{i}") for i in (1, 2)]
        overhead = {
            k: {
                "untraced": v,
                "traced": traced["end_to_end"][k],
                "overhead": traced["end_to_end"][k] / v - 1.0,
            }
            for k, v in plain["end_to_end"].items()
        }
        exact, non_exact = [], {}
        for k in EXACT_LAYER + EXACT_END_TO_END:
            group = "end_to_end" if k in EXACT_END_TO_END else None
            a, b = (r[group][k] if group else r["layers"]["metrics"][k] for r in rep)
            if a == b:
                exact.append(k)
            else:
                mean = (a + b) / 2
                non_exact[k] = {"values": [a, b], "spread": abs(a - b) / mean if mean else None}
        record["workloads"][w] = {
            "env": plain["env"],
            "end_to_end": plain["end_to_end"],
            "named": plain["named"],
            "notes": plain["notes"],
            "setup": plain["setup"],
            "checks_failed": [c for c in plain["checks"] if c[1] is not None],
            "tracing_overhead": overhead,
            "per_layer": traced["layers"]["metrics"],
            "spans": traced["layers"]["spans"],
            "exact_counts": {"cycles": args.cycles, "exact": exact, "non_exact": non_exact},
        }
        print(f"== {w}")
        for k, o in overhead.items():
            print(
                f"  {k:18s} untraced {o['untraced']:.6g}  traced {o['traced']:.6g}  "
                f"overhead {100 * o['overhead']:+.1f}%"
            )
        print(f"  exact counts ({args.cycles} cycles, 2 traced runs): {', '.join(exact) or 'none'}")
        for k, v in non_exact.items():
            print(f"  NON-EXACT {k}: {v['values']} (spread {v['spread']})")

    records = HERE / "records"
    records.mkdir(exist_ok=True)
    path = records / f"{record['git_commit'][:12]}-c{record['nproc']}.json"
    path.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"record written to {path.relative_to(ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
