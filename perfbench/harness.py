"""Session lifecycle, timed ops, checks and the statistics reported."""

from __future__ import annotations

import os
import platform
import shutil
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------
def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    ten samples beyond it: the 11th-largest sample, at the percentile
    100·(n−10)/n. With fewer than 11 samples it is the maximum (p100)."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


# ---------------------------------------------------------------------------
# environment
# ---------------------------------------------------------------------------
def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    return "unknown"


FLUSH_POLICY = (
    "commit files are fsynced by LocalFS.put_if_absent; checkpoints "
    "(write_text_atomic) and Spark data files are not fsynced; reads are "
    "served from the OS page cache, so latencies are the sandbox's, not a device's"
)


def environment(spark, seed: int, inputs: dict) -> dict:
    import pyarrow

    return {
        "git_commit": git_commit(),
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "seed": seed,
        "inputs": inputs,
        "flush_policy": FLUSH_POLICY,
    }


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------
def start_session(work: Path, trace: bool):
    """Spark on local[nproc] with shuffle partitions = nproc; every
    scratch file (Spark local dir, JVM and Python temp files) goes under
    `work`. The UI (needed for per-op job attribution) runs only when
    tracing."""
    from deltacat_spark.session import build_session

    n = nproc()
    local = work / "spark-local"
    tmp = work / "tmp"
    local.mkdir(parents=True)
    tmp.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    conf = {
        "spark.local.dir": str(local),
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update(
            {
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "1000",
            }
        )
    spark = build_session("perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception:
                pass
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def remove_tree(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)


def tree_files(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


# ---------------------------------------------------------------------------
# timed ops
# ---------------------------------------------------------------------------
class Bench:
    """Closed loop, one client: each op starts when the previous ended.

    `op()` times one operation; a raised exception counts as a failed op.
    `check()` records one output check. In a traced run each op gets an
    id, a root span and its own Spark job group."""

    def __init__(self, spark, tracer=None):
        self.spark = spark
        self.tracer = tracer
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.ops: list[dict] = []
        self.failed_ops = 0
        self.checks: list[tuple[str, "str | None"]] = []
        self.measuring = False

    def op(self, kind: str, fn):
        """Run `fn`; when measuring, time it as one op of `kind`.
        Returns fn's result, or None when it raised."""
        if not self.measuring:
            return fn()
        tr = self.tracer
        oid = len(self.ops)
        sc = self.spark.sparkContext
        if tr is not None:
            tr.op_id = oid
            sc.setJobGroup(f"op-{oid}", kind)
            root = tr.begin(f"op.{kind}")
        w0 = time.time()
        t0 = time.perf_counter()
        ok = True
        out = None
        try:
            out = fn()
        except Exception as e:  # a failed op is data, not a crash
            ok = False
            print(f"op {kind} failed: {type(e).__name__}: {e}", file=sys.stderr)
        t1 = time.perf_counter()
        w1 = time.time()
        if tr is not None:
            tr.end(root)
            tr.op_id = None
            sc.setLocalProperty("spark.jobGroup.id", None)
        self.ops.append({"id": oid, "kind": kind, "wall_start": w0, "wall_end": w1, "ok": ok})
        if ok:
            self.samples[kind].append(t1 - t0)
        else:
            self.failed_ops += 1
        return out

    def sample(self, kind: str, seconds: float) -> None:
        """A timing of a part of the current op (not an op of its own)."""
        if self.measuring:
            self.samples[kind].append(seconds)

    def check(self, name: str, problem: "str | None") -> None:
        self.checks.append((name, problem))
        if problem is not None:
            print(f"check {name} FAILED: {problem}", file=sys.stderr)

    @property
    def attempted(self) -> int:
        return len(self.ops) + len(self.checks)

    @property
    def failed(self) -> int:
        return self.failed_ops + sum(1 for _, p in self.checks if p is not None)
