"""Lakehouse benchmark: one workload, one seed, one process, one client.

    python3 perfbench/run.py --workload mor_compact --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout; the library is imported from
there. Prints every metric as a `metric <name> = <value> <unit>` line,
the output checks and the environment record, then, as the last line,
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
layers' public functions are wrapped at run time, spans are written to
`.perfbench/spans-<workload>-<seed>.jsonl` and the metrics are the
per-layer ones. Scratch files live under `.perfbench/` and are removed
at exit. See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from harness import (  # noqa: E402
    ROOT,
    Bench,
    environment,
    median,
    remove_tree,
    start_session,
    stop_session,
    tail,
)

SETUP_REPEATS = 3
AMP_CYCLES = 2

# name -> unit, in the order BENCHMARK.json lists them
END_TO_END = {
    "setup_s": "s",
    "write_s.p50": "s",
    "read_s.p50": "s",
    "cycle_s.p50": "s",
    "write_rows_per_s": "rows/s",
    "write_amp": "ratio",
    "space_amp": "ratio",
}

PER_LAYER = {
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.job_s": "s",
    "spark.driver_gap_s": "s",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "catalog.write_to_table.s": "s",
    "catalog.read_table.plan_s": "s",
    "catalog.read_table.exec_s": "s",
    "catalog.optimize_table.calls": "count",
    "catalog.snapshot.calls_per_op": "count",
    "catalog.io.write_data_files.s": "s",
    "catalog.io.write_data_files.files": "count",
    "catalog.io.write_data_files.bytes": "bytes",
    "catalog.io.collect_add_actions.s": "s",
    "operators.calls_per_op": "count",
    "storage.commit.commit.s": "s",
    "storage.commit.read_commit.calls_per_op": "count",
    "storage.commit.versions.calls_per_op": "count",
    "storage.commit.conflicts": "count",
    "storage.commit.checkpoints_written": "count",
    "storage.snapshot.of.s": "s",
    "storage.snapshot.prune.s": "s",
    "storage.snapshot.prune.kept_ratio": "ratio",
    "storage.bloom.probe.calls": "count",
    "storage.bloom.excluded_ratio": "ratio",
    "storage.fs.list_dir.calls_per_op": "count",
    "storage.fs.read_text.calls_per_op": "count",
    "storage.fs.put_if_absent.calls_per_op": "count",
    "storage.fs.write_text_atomic.calls_per_op": "count",
    "storage.fs.walk_files.calls_per_op": "count",
    "storage.fs.open_binary.calls_per_op": "count",
    "storage.fs.s": "s",
    "localdf.local_df.calls": "count",
}


def measure(wl, bench, seconds: float, cycles: "int | None" = None) -> dict:
    """Run whole cycles of the op mix: `cycles` of them, or else until
    `seconds` have passed and at least AMP_CYCLES ran (the cycle under
    way when time is up runs to its end). A cycle's time is the sum of
    its ops' times; client-side input generation and checks are not in
    it. Returns write/space amplification over the first AMP_CYCLES
    cycles, so they do not depend on how many cycles fit the time."""
    bench.measuring = True
    wl.start_measuring()
    deadline = time.perf_counter() + seconds
    done = 0
    amp = None
    amp_at = AMP_CYCLES if cycles is None else min(AMP_CYCLES, cycles)
    while (done < cycles) if cycles is not None else (
        done < AMP_CYCLES or time.perf_counter() < deadline
    ):
        first = len(bench.ops)
        for _ in wl.cycle():
            pass
        bench.samples["cycle"].append(
            sum(o["wall_end"] - o["wall_start"] for o in bench.ops[first:])
        )
        done += 1
        if done == amp_at:
            amp = wl.amplification()
    bench.measuring = False
    return amp


def end_to_end(wl, bench, setup_s: float, amp: dict) -> tuple[dict, dict]:
    """(shared end-to-end metrics, workload-named metrics with notes)."""
    from workloads import rows_per_s

    s = bench.samples
    writes = [x for k in wl.write_kinds for x in s[k]]
    reads = s["read"]
    shared = {
        "setup_s": setup_s,
        "write_s.p50": median(writes),
        "read_s.p50": median(reads),
        "cycle_s.p50": median(s["cycle"]),
        "write_rows_per_s": rows_per_s(wl, bench),
        **amp,
    }
    notes = {
        "write_s.p50": f"n={len(writes)} ({'+'.join(wl.write_kinds)})",
        "read_s.p50": f"n={len(reads)}",
        "cycle_s.p50": f"n={len(s['cycle'])} cycles",
    }
    named: dict[str, tuple[float, str, str]] = {}

    def dist(name: str, xs: list[float], with_tail: bool) -> None:
        if not xs:
            return
        named[f"{name}.p50"] = (median(xs), "s", f"n={len(xs)}")
        if with_tail:
            v, p = tail(xs)
            named[f"{name}.tail"] = (v, "s", f"p{p:.1f}, n={len(xs)}")

    for name, xs in (("write_s", writes), ("read_s", reads)):
        v, p = tail(xs)
        named[f"{name}.tail"] = (v, "s", f"p{p:.1f}, n={len(xs)}")
    dist("merge_s", s["merge"], True)
    dist("read_recent_s", s["read_recent"], False)
    dist("compact_s", s["compact"], False)
    dist("pipeline_s", s["pass"], False)
    named["failed_frac"] = (bench.failed / bench.attempted, "ratio", f"{bench.failed}/{bench.attempted}")
    return shared, {"notes": notes, "named": named}


def per_layer(tracer, bench) -> dict:
    from tracing import span_totals, spark_attribution

    ops = bench.ops
    n = len(ops)
    st = span_totals(tracer.spans)
    c = tracer.counters

    def tot(name: str, key: str = "s") -> float:
        return st.get(name, {}).get(key, 0.0)

    sp = spark_attribution(bench.spark.sparkContext, ops)
    fs_names = [k for k in st if k.startswith("storage.fs.")]
    ops_calls = sum(v["calls"] for k, v in st.items() if k.startswith("operators."))
    considered = c.get("storage.snapshot.prune.considered", 0)
    probes = tot("storage.bloom.probe", "calls")
    m = {
        "spark.jobs_per_op": sp.get("jobs", 0) / n,
        "spark.tasks_per_op": sp.get("tasks", 0) / n,
        "spark.job_s": sp.get("job_s", 0.0) / n,
        "spark.driver_gap_s": sp.get("driver_gap_s", 0.0) / n,
        "spark.task_s": sp.get("task_s", 0.0) / n,
        "spark.gc_s": sp.get("gc_s", 0.0) / n,
        "spark.shuffle_write_bytes": sp.get("shuffle_write_bytes", 0) / n,
        "spark.input_bytes": sp.get("input_bytes", 0) / n,
        "catalog.write_to_table.s": tot("catalog.write_to_table") / n,
        "catalog.read_table.plan_s": tot("catalog.read_table") / n,
        "catalog.read_table.exec_s": tot("catalog.read_table.exec") / n,
        "catalog.optimize_table.calls": tot("catalog.optimize_table", "calls"),
        "catalog.snapshot.calls_per_op": tot("catalog.snapshot", "calls") / n,
        "catalog.io.write_data_files.s": tot("catalog.io.write_data_files") / n,
        "catalog.io.write_data_files.files": c.get("catalog.io.write_data_files.files", 0),
        "catalog.io.write_data_files.bytes": c.get("catalog.io.write_data_files.bytes", 0),
        "catalog.io.collect_add_actions.s": tot("catalog.io.collect_add_actions") / n,
        "operators.calls_per_op": ops_calls / n,
        "storage.commit.commit.s": tot("storage.commit.commit") / n,
        "storage.commit.read_commit.calls_per_op": tot("storage.commit.read_commit", "calls") / n,
        "storage.commit.versions.calls_per_op": tot("storage.commit.versions", "calls") / n,
        "storage.commit.conflicts": c.get("storage.commit.conflicts", 0),
        "storage.commit.checkpoints_written": c.get("storage.commit.checkpoints_written", 0),
        "storage.snapshot.of.s": tot("storage.snapshot.of") / n,
        "storage.snapshot.prune.s": tot("storage.snapshot.prune") / n,
        "storage.snapshot.prune.kept_ratio": (
            c.get("storage.snapshot.prune.kept", 0) / considered if considered else 1.0
        ),
        "storage.bloom.probe.calls": probes,
        "storage.bloom.excluded_ratio": c.get("storage.bloom.excluded", 0) / probes if probes else 0.0,
        "storage.fs.s": sum(tot(k) for k in fs_names) / n,
        "localdf.local_df.calls": tot("localdf.local_df", "calls"),
    }
    for f in ("list_dir", "read_text", "put_if_absent", "write_text_atomic", "walk_files", "open_binary"):
        m[f"storage.fs.{f}.calls_per_op"] = tot(f"storage.fs.{f}", "calls") / n
    # Everything the spans saw, per layer function: calls, inclusive and
    # self seconds (all per run, over measured ops).
    spans = {
        name: {"calls": int(v["calls"]), "s": v["s"], "self_s": v["self_s"]}
        for name, v in sorted(st.items())
    }
    # Per-function numbers that are zero on some workloads, so they stay
    # out of the per-layer list every run reports.
    extra = {
        "catalog.optimize_table.s": tot("catalog.optimize_table"),
        "localdf.local_df.s": tot("localdf.local_df"),
    }
    for name in st:
        if name.startswith("operators."):
            # operators return lazy plans: their span is planning time
            extra[f"{name}.calls"] = tot(name, "calls")
            extra[f"{name}.plan_s"] = tot(name)
    return {"metrics": m, "extra": extra, "spans": spans, "spark": sp, "ops": n}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cycles", type=int, help="run this many op-mix cycles instead of --seconds")
    ap.add_argument("--detail", help="also write everything measured, as JSON, to this file")
    args = ap.parse_args(argv)

    if not (ROOT / "deltacat_spark" / "__init__.py").is_file():
        print(f"deltacat_spark not found under {ROOT}; run from a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wid, cls = WORKLOADS[args.workload]
    trace = bool(args.trace)

    out_dir = ROOT / ".perfbench"
    work = out_dir / f"run-{os.getpid()}"
    wl = cls(args.seed, wid)  # seeded inputs and oracle, before timing
    tracer = None
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, trace)
        session_s = time.perf_counter() - t0
        from deltacat_spark.catalog import Catalog

        wl.spark = spark
        if trace:
            from tracing import Tracer

            tracer = Tracer()
            tracer.install()
        bench = Bench(spark, tracer)
        wl.bench, wl.tracer = bench, tracer
        local = Path(spark.conf.get("spark.local.dir"))
        table_setups = []
        for rep in range(SETUP_REPEATS):
            root = local / f"catalog-{rep}"
            t0 = time.perf_counter()
            wl.cat = Catalog(spark, str(root))
            wl.setup(wl.cat)
            table_setups.append(time.perf_counter() - t0)
            if rep < SETUP_REPEATS - 1:
                remove_tree(root)
        t0 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + median(table_setups) + warmup_s

        amp = measure(wl, bench, args.seconds, args.cycles)
        wl.final_checks()
        shared, named = end_to_end(wl, bench, setup_s, amp)
        layers = per_layer(tracer, bench) if trace else None
        env = environment(spark, args.seed, wl.inputs())
    finally:
        if tracer is not None:
            tracer.uninstall()
        if spark is not None:
            stop_session(spark)
        remove_tree(work)

    setup = {"session_s": session_s, "table_setups_s": table_setups, "warmup_s": warmup_s}
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds:g} trace {args.trace}")
    print("env " + json.dumps(env, sort_keys=True))
    print(
        f"setup: session {session_s:.3f} s + table set-up median {median(table_setups):.3f} s "
        f"of {[round(x, 3) for x in table_setups]} + warm-up {warmup_s:.3f} s"
    )
    for name, unit in END_TO_END.items():
        note = named["notes"].get(name, "")
        print(f"metric {name} = {shared[name]:.6g} {unit}" + (f"  [{note}]" if note else ""))
    for name, (v, unit, note) in named["named"].items():
        print(f"metric {args.workload}:{name} = {v:.6g} {unit}  [{note}]")
    for name, problem in bench.checks:
        if problem is not None:
            print(f"check {name} FAIL {problem}")
    n_bad = sum(1 for _, p in bench.checks if p is not None)
    print(
        f"checks {len(bench.checks) - n_bad}/{len(bench.checks)} passed; "
        f"ops {len(bench.ops)} ({bench.failed_ops} failed)"
    )
    if trace:
        out_dir.mkdir(exist_ok=True)
        spans_path = out_dir / f"spans-{args.workload}-{args.seed}.jsonl"
        tracer.write(str(spans_path))
        print(f"spans {len(tracer.spans)} written to {spans_path.relative_to(ROOT)}")
        for name, unit in PER_LAYER.items():
            print(f"layer {name} = {layers['metrics'][name]:.6g} {unit}")
        for name, v in layers["extra"].items():
            print(f"layer {name} = {v:.6g} {'count' if name.endswith('.calls') else 's'}  [per run]")
        for name, v in layers["spans"].items():
            print(f"span {name}: calls {v['calls']} s {v['s']:.6g} self_s {v['self_s']:.6g}  [per run]")
        metrics = {k: {"value": layers["metrics"][k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": shared[k], "unit": u} for k, u in END_TO_END.items()}
    if args.detail:
        detail = {
            "workload": args.workload,
            "trace": trace,
            "env": env,
            "setup": setup,
            "end_to_end": shared,
            "named": {k: v[0] for k, v in named["named"].items()},
            "notes": {**named["notes"], **{k: v[2] for k, v in named["named"].items()}},
            "checks": bench.checks,
            "samples": bench.samples,
            "ops": len(bench.ops),
            "layers": layers,
        }
        Path(args.detail).write_text(json.dumps(detail, indent=1, sort_keys=True))
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
