"""Runtime tracing of the library's layers, from the benchmark's side.

`Tracer.install()` replaces the public functions and methods of each
layer with wrappers that record a span (name, start, end, parent span,
op id) and a few counters; `uninstall()` puts the originals back. No
library file is changed. Functions that a module imports by name are
replaced in every loaded `deltacat_spark` module that holds them, so
calls are caught where they are made; methods are replaced on their
classes, so internal calls (auto-compaction's `self.optimize_table`)
are caught too.

Spans stay in memory and are written out once, at the end of the run.
Spark work is attributed per op through job groups and the UI's REST
API (`spark_attribution`).
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
import urllib.request
from collections import defaultdict
from datetime import datetime, timezone

# (layer metric prefix, module, attribute) of every wrapped function.
FUNCTIONS = [
    ("catalog.io.write_data_files", "deltacat_spark.catalog.io", "write_data_files"),
    ("catalog.io.collect_add_actions", "deltacat_spark.catalog.io", "collect_add_actions"),
    ("localdf.local_df", "deltacat_spark.localdf", "local_df"),
    ("storage.bloom.probe", "deltacat_spark.storage.bloom", "probe"),
] + [
    (f"operators.merge.{f}", "deltacat_spark.operators.merge", f)
    for f in ("upsert", "partial_upsert", "equality_delete", "dedupe_last_writer")
] + [
    (f"operators.dedupe.{f}", "deltacat_spark.operators.dedupe", f)
    for f in (
        "shingle_sets",
        "minhash_signatures",
        "lsh_candidates",
        "jaccard_pairs",
        "connected_components",
        "keep_best",
    )
]

# (layer metric prefix, module, class, method) of every wrapped method.
METHODS = [
    ("catalog.write_to_table", "deltacat_spark.catalog.catalog", "Catalog", "write_to_table"),
    ("catalog.read_table", "deltacat_spark.catalog.catalog", "Catalog", "read_table"),
    ("catalog.optimize_table", "deltacat_spark.catalog.catalog", "Catalog", "optimize_table"),
    ("catalog.snapshot", "deltacat_spark.catalog.catalog", "Catalog", "snapshot"),
    ("storage.commit.commit", "deltacat_spark.storage.commit", "CommitLog", "commit"),
    ("storage.commit.try_commit", "deltacat_spark.storage.commit", "CommitLog", "try_commit"),
    ("storage.commit.read_commit", "deltacat_spark.storage.commit", "CommitLog", "read_commit"),
    ("storage.commit.versions", "deltacat_spark.storage.commit", "CommitLog", "versions"),
    ("storage.commit.write_checkpoint", "deltacat_spark.storage.commit", "CommitLog", "write_checkpoint"),
    ("storage.snapshot.of", "deltacat_spark.storage.snapshot", "Snapshot", "of"),
    ("storage.snapshot.prune", "deltacat_spark.storage.snapshot", "Snapshot", "prune"),
] + [
    (f"storage.fs.{m}", "deltacat_spark.storage.fs", "LocalFS", m)
    for m in (
        "list_dir",
        "read_text",
        "put_if_absent",
        "write_text_atomic",
        "walk_files",
        "open_binary",
        "exists",
        "isdir",
        "size",
        "makedirs",
        "rename",
        "delete",
        "delete_dir",
    )
]


class Tracer:
    """Span recorder. Single-threaded: the benchmark drives one client."""

    def __init__(self):
        # span: [name, start, end, parent index, op id]
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op_id: "int | None" = None
        self.counters: dict[str, float] = defaultdict(float)
        self._restore: list[tuple] = []

    # -- recording -----------------------------------------------------
    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.op_id])
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    def count(self, name: str, n: float = 1) -> None:
        if self.op_id is not None:
            self.counters[name] += n

    # -- installation --------------------------------------------------
    def _wrapper(self, name: str, fn, observe=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = tracer.begin(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.end(idx)
            if observe is not None:
                observe(tracer, args, out)
            return out

        return traced

    def install(self) -> None:
        import importlib

        for name, modname, attr in FUNCTIONS:
            mod = importlib.import_module(modname)
            orig = getattr(mod, attr)
            wrapped = self._wrapper(name, orig, OBSERVERS.get(name))
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("deltacat_spark") and (
                    getattr(m, attr, None) is orig
                ):
                    self._restore.append((m, attr, orig))
                    setattr(m, attr, wrapped)
        for name, modname, clsname, attr in METHODS:
            cls = getattr(importlib.import_module(modname), clsname)
            raw = cls.__dict__[attr]
            observe = OBSERVERS.get(name)
            if isinstance(raw, classmethod):
                new = classmethod(self._wrapper(name, raw.__func__, observe))
            else:
                new = self._wrapper(name, raw, observe)
            self._restore.append((cls, attr, raw))
            setattr(cls, attr, new)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for name, start, end, parent, op in self.spans:
                fh.write(
                    json.dumps(
                        {"name": name, "start": start, "end": end, "parent": parent, "op": op}
                    )
                    + "\n"
                )


def _observe_write_files(tracer: Tracer, args, adds) -> None:
    tracer.count("catalog.io.write_data_files.files", len(adds))
    tracer.count(
        "catalog.io.write_data_files.bytes",
        sum(int(a["add"].get("bytes") or 0) for a in adds),
    )


def _observe_try_commit(tracer: Tracer, args, ok) -> None:
    if not ok:
        tracer.count("storage.commit.conflicts")


def _observe_checkpoint(tracer: Tracer, args, out) -> None:
    tracer.count("storage.commit.checkpoints_written")


def _observe_prune(tracer: Tracer, args, kept) -> None:
    tracer.count("storage.snapshot.prune.considered", len(args[0].files))
    tracer.count("storage.snapshot.prune.kept", len(kept))


def _observe_probe(tracer: Tracer, args, maybe) -> None:
    if not maybe:
        tracer.count("storage.bloom.excluded")


OBSERVERS = {
    "catalog.io.write_data_files": _observe_write_files,
    "storage.commit.try_commit": _observe_try_commit,
    "storage.commit.write_checkpoint": _observe_checkpoint,
    "storage.snapshot.prune": _observe_prune,
    "storage.bloom.probe": _observe_probe,
}


# ---------------------------------------------------------------------------
# span analysis
# ---------------------------------------------------------------------------
def span_totals(spans: list[list]) -> dict[str, dict[str, float]]:
    """Per span name: calls, inclusive seconds and self seconds (duration
    minus the time its child spans cover), over spans inside ops."""
    child_cover = [0.0] * len(spans)
    for name, start, end, parent, op in spans:
        if parent is not None:
            child_cover[parent] += end - start  # children never overlap
    out: dict[str, dict[str, float]] = defaultdict(lambda: {"calls": 0, "s": 0.0, "self_s": 0.0})
    for i, (name, start, end, parent, op) in enumerate(spans):
        if op is None:
            continue
        t = out[name]
        t["calls"] += 1
        t["s"] += end - start
        t["self_s"] += end - start - child_cover[i]
    return out


# ---------------------------------------------------------------------------
# Spark attribution (job groups + UI REST)
# ---------------------------------------------------------------------------
def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read().decode())


def _ts(s: "str | None") -> "float | None":
    if not s:
        return None
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=timezone.utc).timestamp()


def spark_attribution(sc, ops: list[dict]) -> dict[str, float]:
    """Sum Spark jobs, tasks and stage metrics over the jobs of each op's
    job group (`op-<id>`), and the op's driver gap: its wall time minus
    the union of its jobs' intervals. `ops` carry id, wall_start and
    wall_end (epoch seconds). Returns totals over all ops."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    groups = {f"op-{o['id']}" for o in ops}
    expected = sum(len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups)
    # The status store fills from the listener bus; wait until it has
    # every finished job of our groups.
    deadline = time.monotonic() + 30
    while True:
        jobs = [j for j in _get(f"{base}/jobs") if j.get("jobGroup") in groups]
        done = [j for j in jobs if j.get("completionTime")]
        if len(done) >= expected or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    stages = {}
    for s in _get(f"{base}/stages"):
        stages[(s["stageId"], s["attemptId"])] = s
    by_stage: dict[int, list[dict]] = defaultdict(list)
    for (sid, _att), s in stages.items():
        by_stage[sid].append(s)
    tot = defaultdict(float)
    per_group: dict[str, list[tuple[float, float]]] = defaultdict(list)
    seen: set[int] = set()  # a stage reused by a later job counts once
    for j in sorted(done, key=lambda j: j["jobId"]):
        tot["jobs"] += 1
        tot["tasks"] += j.get("numTasks", 0) - j.get("numSkippedTasks", 0)
        t0, t1 = _ts(j.get("submissionTime")), _ts(j.get("completionTime"))
        if t0 is not None and t1 is not None:
            per_group[j["jobGroup"]].append((t0, t1))
            tot["job_s"] += t1 - t0
        for sid in j.get("stageIds", []):
            if sid in seen:
                continue
            seen.add(sid)
            for s in by_stage.get(sid, []):
                if s.get("status") == "SKIPPED":
                    continue
                tot["task_s"] += s.get("executorRunTime", 0) / 1000.0
                tot["gc_s"] += s.get("jvmGcTime", 0) / 1000.0
                tot["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
                tot["input_bytes"] += s.get("inputBytes", 0)
    for o in ops:
        ivs = sorted(per_group.get(f"op-{o['id']}", []))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            s, e = max(s, o["wall_start"]), min(e, o["wall_end"])
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        tot["driver_gap_s"] += (o["wall_end"] - o["wall_start"]) - covered
    tot["expected_jobs"] = expected
    return dict(tot)
