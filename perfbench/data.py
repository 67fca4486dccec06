"""Benchmark inputs: the committed sf0.1 sample and seeded merge values.

The lineitem and documents tables are the sample in `inputs/`, made
from the sf0.1 testdata tree by `make_inputs.py` (see there for how it
keeps the full tables' shape). The values of merge payloads are drawn
here from the workload's seeded generator; the op-level choices (key
windows, lookup keys) are drawn from the same generator in workloads.py.
So a run depends only on its seed and the committed files.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

INPUTS = Path(__file__).resolve().parent / "inputs"

# (l_orderkey, l_linenumber) is the merge key of the lineitem table.
LINEITEM_KEYS = ["l_orderkey", "l_linenumber"]


def read_input(name: str) -> pa.Table:
    """`inputs/<name>.parquet`, as committed."""
    return pq.read_table(INPUTS / f"{name}.parquet")


def revalue(rng: np.random.Generator, rows: pa.Table) -> pa.Table:
    """`rows` with new l_quantity, l_extendedprice and l_discount, drawn
    in sf0.1's value ranges. Prices carry two decimals, so every double
    round-trips through Parquet exactly."""
    n = rows.num_rows
    new = {
        "l_quantity": rng.integers(1, 51, size=n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, size=n), 2),
        "l_discount": rng.integers(0, 11, size=n) / 100.0,
    }
    for name, values in new.items():
        rows = rows.set_column(rows.column_names.index(name), name, pa.array(values, pa.float64()))
    return rows
