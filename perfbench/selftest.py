"""Self-test of the benchmark's output checker (no Spark needed).

    python3 perfbench/selftest.py

Shows that `model.compare` accepts the model's own rows in any order and
rejects a result with one row dropped, one value altered, or one row
duplicated in place of another; and that the keyed model applies
upserts by key, the later of two same-key rows in a batch winning.
Exits non-zero on any failure.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402

from data import LINEITEM_KEYS, read_input, revalue  # noqa: E402
from model import KeyedModel, compare  # noqa: E402


def main() -> int:
    rng = np.random.default_rng(7)
    base = read_input("lineitem").slice(0, 1000)
    cols = base.column_names
    model = KeyedModel(base, LINEITEM_KEYS)
    expected = model.table()
    failures = []

    def expect(name: str, ok: bool) -> None:
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
        if not ok:
            failures.append(name)

    shuffled = expected.take(pa.array(rng.permutation(expected.num_rows)))
    expect("accepts the same rows in another order", compare(expected, shuffled, cols) is None)

    ship = cols.index("l_shipdate")
    utc = expected.set_column(ship, "l_shipdate", expected.column(ship).cast(pa.timestamp("us", "UTC")))
    expect("accepts timestamps read back in UTC", compare(expected, utc, cols) is None)

    dropped = pa.concat_tables([expected.slice(0, 400), expected.slice(401)])
    expect("rejects one dropped row", compare(expected, dropped, cols) is not None)

    price = expected.column("l_extendedprice").to_pylist()
    price[123] = round(price[123] + 0.01, 2)
    altered = expected.set_column(
        cols.index("l_extendedprice"), "l_extendedprice", pa.array(price, pa.float64())
    )
    expect("rejects one altered value", compare(expected, altered, cols) is not None)

    dup = pa.concat_tables([expected.slice(0, 400), expected.slice(0, 1), expected.slice(401)])
    expect("rejects a duplicated row in place of another", compare(expected, dup, cols) is not None)

    expect("rejects a missing column", compare(expected, expected.drop_columns([cols[-1]]), cols) is not None)

    # keyed model semantics: last writer wins by key, also within a batch
    n_keys = len(model.rows)
    row = base.slice(10, 1)
    k = tuple(row.column(c)[0].as_py() for c in LINEITEM_KEYS)
    first, second = revalue(rng, row), revalue(rng, row)
    model.upsert(pa.concat_tables([first, second]))
    expect("the later same-key row of a batch wins", model.rows[k] == tuple(second.to_pylist()[0].values()))
    expect("an upsert of a known key adds no row", len(model.rows) == n_keys)
    expect("model differs from base after the upsert", compare(expected, model.table(), cols) is not None)

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
