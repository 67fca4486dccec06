"""The closed-loop workloads, driven through the public API.

Each workload reads its committed inputs and draws its ops from the
seed before Spark starts, sets its tables up (timed, repeated, median
reported as part of `setup_s`), warms every op type it measures up
untimed, then runs its seeded op mix in cycles until the measuring time
is over. Output checks compare what the library returns with an
independent model.
"""

from __future__ import annotations

import contextlib
import os
import time

import numpy as np
import pyarrow as pa

from data import LINEITEM_KEYS, read_input, revalue
from model import KeyedModel, compare
from harness import tree_files

MOR_MERGES_PER_COMPACT = 3
# Op times fall for several cycles after start (JIT compilation), so
# samples are taken from the third cycle on.
WARMUP_CYCLES = 2


def _sorted_rows(rows) -> list[tuple]:
    return sorted(tuple(r) for r in rows)


class Workload:
    name = ""
    # op kinds that commit user rows: write_s.p50 and write_rows_per_s
    write_kinds: tuple[str, ...] = ()

    def __init__(self, seed: int, workload_id: int):
        self.rng = np.random.default_rng([seed, workload_id])
        self.rows_submitted = 0
        self.bytes_submitted = 0

    # set by the runner
    spark = None
    bench = None
    tracer = None

    def exec_span(self):
        """Span around the action that executes a read_table plan."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span("catalog.read_table.exec")

    def submitted(self, tbl: pa.Table) -> None:
        if self.bench.measuring:
            self.rows_submitted += tbl.num_rows
            self.bytes_submitted += tbl.nbytes

    def inputs(self) -> dict:
        """Input description for the environment record."""
        raise NotImplementedError

    def setup(self, cat) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        """WARMUP_CYCLES whole cycles of the op mix, untimed: every op
        type runs more than once before samples are taken, and the JVM
        has compiled the hot paths."""
        for _ in range(WARMUP_CYCLES):
            for _ in self.cycle():
                pass

    def cycle(self):
        """Generator: runs one cycle of the op mix, yielding after each op."""
        raise NotImplementedError

    def table_roots(self) -> list[str]:
        return [os.path.join(self.cat.root, "default", t) for t in self.tables]

    def start_measuring(self) -> None:
        self._files_before = {}
        for r in self.table_roots():
            self._files_before.update(tree_files(r))

    def amplification(self) -> dict:
        """write_amp and space_amp over this workload's tables, for the
        cycles run since `start_measuring`."""
        from deltacat_spark.storage.commit import CommitLog
        from deltacat_spark.storage.snapshot import Snapshot

        written = total = live = 0
        for r in self.table_roots():
            files = tree_files(r)
            total += sum(files.values())
            written += sum(s for p, s in files.items() if p not in self._files_before)
            # resolved without Catalog.snapshot, which may write a checkpoint
            snap = Snapshot.of(CommitLog(r))
            live += sum(files[f.abs_path(r)] for f in snap.files)
        return {
            "write_amp": written / self.bytes_submitted,
            "space_amp": total / live,
        }

    def final_checks(self) -> None:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# mor_compact
# ---------------------------------------------------------------------------
class MorCompact(Workload):
    name = "mor_compact"
    table = "lineitem"
    tables = ("lineitem",)
    properties = {"read_optimization": "none", "bloom_filter_columns": "l_orderkey"}
    window_frac = 0.005
    write_kinds = ("merge",)

    def __init__(self, seed: int, workload_id: int):
        super().__init__(seed, workload_id)
        self.base = read_input("lineitem")
        self.columns = self.base.column_names
        self.model = KeyedModel(self.base, LINEITEM_KEYS)
        # the distinct keys in key order; each base row's rank among them
        keys = sorted(self.model.rows)
        rank = {k: i for i, k in enumerate(keys)}
        key_cols = [self.base.column(k).to_pylist() for k in LINEITEM_KEYS]
        self.row_rank = np.array([rank[k] for k in zip(*key_cols)])
        self.key_orders = np.array([k[0] for k in keys])
        self.orders = np.unique(self.key_orders)

    def inputs(self) -> dict:
        return {
            "lineitem_rows": self.base.num_rows,
            "lineitem_arrow_bytes": self.base.nbytes,
            "distinct_keys": len(self.key_orders),
        }

    def _schema(self):
        from deltacat_spark.schema import Schema

        fields = Schema.of(self.spark.createDataFrame(self.base.slice(0, 1)).schema).fields
        for f in fields:
            f.merge_key = f.name in LINEITEM_KEYS
        return Schema(fields)

    def setup(self, cat) -> None:
        cat.create_table(self.table, schema=self._schema(), properties=self.properties)
        cat.write_to_table(self.spark.createDataFrame(self.base), self.table, mode="merge")
        cat.repartition_table_by_range(self.table, column="l_orderkey", num_partitions=16)

    # -- ops -------------------------------------------------------------
    def merge(self) -> None:
        """Upsert of the sample's rows in a contiguous window of keys
        (duplicate keys included, as in sf0.1), start skewed toward high
        keys, with new values."""
        n = len(self.key_orders)
        w = max(1, int(self.window_frac * n))
        start = int((1.0 - self.rng.random() ** 2) * (n - w))
        in_window = (self.row_rank >= start) & (self.row_rank < start + w)
        tbl = revalue(self.rng, self.base.filter(pa.array(in_window)))
        df = self.spark.createDataFrame(tbl)
        self.submitted(tbl)
        self.bench.op("merge", lambda: self.cat.write_to_table(df, self.table, mode="merge"))
        self.model.upsert(tbl)
        self.last_order = int(self.key_orders[start + w // 2])

    def read(self, recent: bool = False) -> None:
        """Point read of one order (all its lines), checked by value.
        `recent`: the order in the middle of the last merged window (its
        delta is live, so the read folds it), op kind `read_recent`;
        otherwise a uniformly drawn order, op kind `read`."""
        from deltacat_spark.plans.expr import col

        if recent:
            k = self.last_order
        else:
            k = int(self.orders[int(self.rng.integers(0, len(self.orders)))])

        def op():
            df = self.cat.read_table(self.table, predicate=col("l_orderkey").eq(k))
            with self.exec_span():
                return df.collect()

        got = self.bench.op("read_recent" if recent else "read", op)
        if got is None or not self.bench.measuring:
            return
        want = [self.model.rows[(k, ln)] for ln in range(1, 8) if (k, ln) in self.model.rows]
        got_rows = _sorted_rows(tuple(r[c] for c in self.columns) for r in got)
        self.bench.check(
            "point_read",
            None if got_rows == sorted(want) else f"order {k}: {len(got_rows)} rows != model {len(want)}",
        )

    def optimize(self) -> None:
        self.bench.op("compact", lambda: self.cat.optimize_table(self.table))

    def cycle(self):
        for _ in range(MOR_MERGES_PER_COMPACT):
            self.merge()
            yield
            for _ in range(3):
                self.read()
                yield
        self.read(recent=True)
        yield
        self.optimize()
        yield

    def final_checks(self) -> None:
        actual = self.cat.read_table(self.table).toArrow()
        self.bench.check("final_table", compare(self.model.table(), actual, self.columns))


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------
class CorpusDedup(Workload):
    name = "corpus_dedup"
    tables = ("documents", "survivors")
    write_kinds = ("write",)

    def __init__(self, seed: int, workload_id: int):
        super().__init__(seed, workload_id)
        import duckdb

        from deltacat_spark.workloads import oracle_sql

        self.docs = read_input("documents")
        con = duckdb.connect()
        con.register("documents", self.docs)
        self.expected = con.sql(oracle_sql()["dedup_survivors"]).arrow()
        con.close()
        self.columns = self.expected.column_names
        self.by_id = {r["survivor_id"]: r for r in self.expected.to_pylist()}
        self.survivor_ids = sorted(self.by_id)

    def inputs(self) -> dict:
        return {
            "documents": self.docs.num_rows,
            "documents_arrow_bytes": self.docs.nbytes,
            "oracle_clusters": self.expected.num_rows,
        }

    def setup(self, cat) -> None:
        from pyspark.sql import types as T

        from deltacat_spark.schema import Field, Schema

        cat.write_to_table(self.spark.createDataFrame(self.docs), "documents", mode="create")
        cat.create_table(
            "survivors",
            schema=Schema([Field(c, T.LongType()) for c in self.columns]),
        )

    def dedup_pass(self) -> None:
        """The registry's `dedup_survivors` pipeline over the catalog
        table, its result committed with one replace write."""
        from pyspark.sql import functions as F

        from deltacat_spark.operators import dedupe as dd

        def op():
            d = self.cat.read_table("documents")
            sh = dd.shingle_sets(d, "doc_id", "text", n=3, hashed=True)
            sigs = dd.minhash_signatures(
                dd.shingle_sets(d, "doc_id", "text", n=3, distinct=False), num_perms=8
            )
            cands = dd.lsh_candidates(sigs, rows_per_band=2, max_bucket=None)
            pairs = dd.jaccard_pairs(sh, candidates=cands, df_cap=None, threshold=0.7)
            cc = dd.connected_components(pairs)
            kept = dd.keep_best(d.select("doc_id", F.length("text").alias("q")), cc, "doc_id", "q")
            sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
            out = (
                kept.join(cc, "doc_id")
                .join(sizes, "cluster_id")
                .select("cluster_id", F.col("doc_id").alias("survivor_id"), "cluster_size")
            )
            t0 = time.perf_counter()
            self.cat.write_to_table(out, "survivors", mode="replace")
            self.bench.sample("write", time.perf_counter() - t0)

        self.submitted(self.expected)
        self.bench.op("pass", op)

    def read(self) -> None:
        from deltacat_spark.plans.expr import col

        k = self.survivor_ids[int(self.rng.integers(0, len(self.survivor_ids)))]

        def op():
            df = self.cat.read_table("survivors", predicate=col("survivor_id").eq(k))
            with self.exec_span():
                return df.collect()

        got = self.bench.op("read", op)
        if got is None or not self.bench.measuring:
            return
        got_rows = [r.asDict() for r in got]
        want = [self.by_id[k]]
        self.bench.check("point_read", None if got_rows == want else f"survivor {k}: {got_rows} != {want}")

    def cycle(self):
        self.dedup_pass()
        yield
        for _ in range(5):
            self.read()
            yield

    def final_checks(self) -> None:
        actual = self.cat.read_table("survivors").toArrow()
        self.bench.check("survivors", compare(self.expected, actual, self.columns))


WORKLOADS = {
    w.name: (i, w)
    for i, w in enumerate([MorCompact, CorpusDedup], start=1)
}


def rows_per_s(wl: Workload, bench) -> float:
    """User rows submitted ÷ summed time of the ops that committed them."""
    t = sum(sum(bench.samples[k]) for k in wl.write_kinds)
    return wl.rows_submitted / t

