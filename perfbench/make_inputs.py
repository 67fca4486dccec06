"""Make the benchmark's input sample from an sf0.1 testdata tree.

    python3 perfbench/make_inputs.py <sf0.1 dir>

Writes `perfbench/inputs/lineitem.parquet` and
`perfbench/inputs/documents.parquet`, which are committed, so a run reads
only its own checkout. The sample is drawn with a fixed seed and keeps
the shape of the full tables:

- lineitem: whole orders, drawn uniformly, in file order, so duplicate
  (l_orderkey, l_linenumber) keys stay at the full table's rate (each
  duplicate has other values; the last one in file order wins a merge).
- documents: whole near-duplicate clusters and singleton documents,
  each drawn with the same probability, in file order. Clusters are the
  registry's `dedup_survivors` DuckDB oracle (`oracle_sql()`) over all
  documents, so the clustered share of documents, the cluster sizes and
  the words per document stay those of the full corpus. (A prefix or a
  uniform sample of documents would break pairs apart: the number of
  clusters grows with the square of the sample size.)

It prints the shape figures of the full tables and of the sample.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

SEED = 0
LINEITEM_ORDER_FRAC = 0.05
DOCUMENT_FRAC = 0.3


def lineitem_shape(con, t: pa.Table) -> dict:
    con.register("t", t)
    rows, keys, orders = con.sql(
        "select count(*), count(distinct (l_orderkey, l_linenumber)), count(distinct l_orderkey) from t"
    ).fetchone()
    con.unregister("t")
    return {"rows": rows, "distinct_keys": keys, "orders": orders, "rows_per_key": round(rows / keys, 4)}


def documents_shape(t: pa.Table, survivors: pa.Table) -> dict:
    words = pc.list_value_length(pc.split_pattern(t.column("text"), " ")).to_numpy()
    clustered = int(pc.sum(survivors.column("cluster_size")).as_py() or 0)
    sizes = survivors.column("cluster_size").to_numpy()
    return {
        "docs": t.num_rows,
        "clusters": survivors.num_rows,
        "clustered_share": round(clustered / t.num_rows, 4),
        "cluster_sizes": {int(s): int((sizes == s).sum()) for s in np.unique(sizes)},
        "words_per_doc_mean": round(float(words.mean()), 2),
    }


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    from deltacat_spark.workloads import oracle_sql

    src = Path(sys.argv[1])
    out = HERE / "inputs"
    out.mkdir(exist_ok=True)
    rng = np.random.default_rng(SEED)
    con = duckdb.connect()

    li = pq.read_table(src / "lineitem.parquet").replace_schema_metadata(None)
    orders = np.unique(li.column("l_orderkey").to_numpy())
    keep = orders[rng.random(len(orders)) < LINEITEM_ORDER_FRAC]
    li_s = li.filter(pc.is_in(li.column("l_orderkey"), pa.array(keep)))
    pq.write_table(li_s, out / "lineitem.parquet")
    print("lineitem full  ", lineitem_shape(con, li))
    print("lineitem sample", lineitem_shape(con, li_s))

    docs = pq.read_table(src / "documents.parquet").replace_schema_metadata(None)
    sql = oracle_sql()["dedup_survivors"]
    con.register("documents", docs)
    surv = con.sql(sql).arrow()
    # cluster membership: doc_id -> cluster_id, from the oracle's components
    members = dict(con.sql(sql[: sql.index(",\nranked AS")] + "\nSELECT doc_id, cluster_id FROM clusters").fetchall())
    con.unregister("documents")
    ids = docs.column("doc_id").to_numpy()
    unit = np.array([members.get(int(i), int(i)) for i in ids])  # cluster id or own id
    units = np.unique(unit)
    chosen = units[rng.random(len(units)) < DOCUMENT_FRAC]
    docs_s = docs.filter(pa.array(np.isin(unit, chosen)))
    pq.write_table(docs_s, out / "documents.parquet")
    con.register("documents", docs_s)
    surv_s = con.sql(sql).arrow()
    print("documents full  ", documents_shape(docs, surv))
    print("documents sample", documents_shape(docs_s, surv_s))
    return 0


if __name__ == "__main__":
    sys.exit(main())
