"""Physical data-file IO: the staged-write kernel every writer shares,
and the catalog's write path on top of it.

Staged-write kernel. Every commit first writes data files, then
publishes them in one log record; the first half is the same for the
catalog and the Iceberg, Delta and Hudi writers:

* `cluster_for_write` hash-clusters rows on their partition (or file
  group) key so each key is written by one task;
* `stage_write` runs Spark's parquet writer (`partitionBy` for the
  hive-style layout, `maxRecordsPerFile` always set), then lists the
  written files through the `storage/fs.py` seam, makes their basenames
  unique, decodes the partition directories and reads each footer once.
  It returns one `StagedFile` per non-empty file.

Each caller keeps only its format-specific part: where the files go
(the catalog leaves them in place, the formats move them to their own
names), the shape of the stats and the log action.

Catalog write path (`write_data_files`): executors write parquet
(optionally hash/partition-layout via `partitionBy` on generated
transform columns, sorted within files by the sort scheme, sliced by
`maxRecordsPerFile` — the reference's `records_per_compacted_file`
slicing, `storage/main/impl.py:2578-2659`); `collect_add_actions` turns
the staged files' footers into per-file records/bytes + column min/max
stats recorded in the commit log (the reference's delta stats,
`compute/stats/models/delta_stats.py`, reborn as Delta-style skipping
stats).

Each commit writes under its own `data/{uuid}/` directory so concurrent
writers never collide on filenames and failed writes are garbage, not
corruption (cleaned by vacuum).
"""

from __future__ import annotations

import contextlib
import uuid
from collections import Counter
from typing import Any, NamedTuple
from urllib.parse import unquote

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, functions as F

from deltacat_spark.storage.fs import LOCAL_FS
from deltacat_spark.plans.transforms import (
    PART_PREFIX,
    PartitionKey,
    SortKey,
    partition_columns,
    sort_columns,
)

# Reference default: 4M records per compacted file
# (`compute/compactor_v2/constants.py:7`).
DEFAULT_MAX_RECORDS_PER_FILE = 4_000_000

# Spark's directory value for a NULL partition value.
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

_STATS_MAX_COLS = 32
_STATS_TYPES = {
    "BOOLEAN",
    "INT32",
    "INT64",
    "FLOAT",
    "DOUBLE",
    "BYTE_ARRAY",
}


class StagedFile(NamedTuple):
    """One non-empty parquet file written by `stage_write`."""

    path: str
    # hive directory key -> URL-decoded value, as Spark wrote them (a
    # NULL value is the raw `HIVE_NULL` string)
    partition_values: dict[str, str]
    metadata: pq.FileMetaData
    size: int

    def nullable_partition_values(self) -> dict[str, str | None]:
        """Partition values with Spark's NULL marker decoded to None."""
        return {
            k: None if v == HIVE_NULL else v
            for k, v in self.partition_values.items()
        }


def cluster_for_write(
    df: DataFrame, cols: list[str], salt: int | None = None
) -> DataFrame:
    """Hash-cluster `df` on `cols` so all rows of one key reach one
    write task: a `partitionBy` fanout then writes few, large files per
    directory, and a write partitioned on a per-file key (a Hudi file
    group, a Delta OPTIMIZE bin) lands exactly one file per key.

    The partition count is explicit because a bare `repartition(cols)`
    gets AQE-coalesced to ONE task on small writes, which serializes
    the whole fanout. Each key still hashes to exactly one task, so the
    number of files per directory is unchanged at any scale.

    `salt=N` (N > 1): cluster on (`cols`, a deterministic hash of the
    row's other columns mod N) across N tasks instead — a
    low-cardinality key (3 regions on a 1000-executor cluster) then
    uses N writers rather than one task per key. The salt is never
    written to the files."""
    if salt and salt > 1:
        rest = [c for c in df.columns if c not in cols]
        return (
            df.withColumn(
                "__dcs_salt",
                F.pmod(F.hash(*[F.col(c) for c in rest]), F.lit(salt)),
            )
            .repartition(salt, *cols, "__dcs_salt")
            .drop("__dcs_salt")
        )
    return df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, *cols
    )


def stage_write(
    df: DataFrame,
    dest: str,
    part_cols: list[str] | tuple = (),
    max_records_per_file: int = 0,
    fs=LOCAL_FS,
) -> list[StagedFile]:
    """Write `df` as parquet under `dest` and return its non-empty files.

    `part_cols` become hive-style `key=value` directories (Spark's
    `partitionBy`). `maxRecordsPerFile` is always passed, so the
    session's `spark.sql.files.maxRecordsPerFile` never slices a write;
    0 means unlimited, which a write clustered on a per-file key needs.

    Spark writes to ``fs.spark_path(dest)`` and the listing, renames and
    footer reads go through the `fs` seam, so tables on object stores
    use one path mapping for data and control plane.

    File BASENAMES come back unique: Spark's partitionBy writer reuses
    one task filename (part-00000-<task uuid>) across every partition
    directory that task writes, and basenames are the catalog's
    table-wide row-identity anchor (the MoR provenance map and
    positional deletes key on them, because `input_file_name()`
    URI-prefixes full paths). Only colliding files are renamed
    (`d<seq>-<name>`), so the unpartitioned path stays rename-free
    (on object stores a move is a server-side copy). Zero-row files
    are left out of the result."""
    writer = df.write.mode("overwrite").option(
        "maxRecordsPerFile", max_records_per_file
    )
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(fs.spark_path(dest))
    paths = sorted(p for p in fs.walk_files(dest) if p.endswith(".parquet"))
    counts = Counter(p.rsplit("/", 1)[-1] for p in paths)
    staged = []
    for i, path in enumerate(paths):
        fname = path.rsplit("/", 1)[-1]
        if counts[fname] > 1:
            new = path[: -len(fname)] + f"d{i:05d}-{fname}"
            fs.rename(path, new)
            path = new
        with fs.open_binary(path) as fh:
            md = pq.read_metadata(fh)
        size = fs.size(path)
        if md.num_rows:
            rel_dir = fs.relpath(path, dest).rpartition("/")[0]
            staged.append(
                StagedFile(path, _partition_values(rel_dir), md, size)
            )
    return staged


def one_file_per_key(
    staged: list[StagedFile], key: str
) -> dict[str, StagedFile]:
    """Index a write partitioned on a per-file key (a Hudi file group, a
    Delta OPTIMIZE bin) by that key's value. Clustered on the key
    (`cluster_for_write`) with no record cap, every key is written by
    one task and so lands exactly one file; a second one means the
    write was not clustered, which is a bug, not a case to merge."""
    out: dict[str, StagedFile] = {}
    for sf in staged:
        k = sf.partition_values[key]
        if k in out:
            raise RuntimeError(
                f"staged write produced more than one file for "
                f"{key}={k!r}: {out[k].path}, {sf.path}"
            )
        out[k] = sf
    return out


@contextlib.contextmanager
def staging_dir(path: str):
    """Yield the local `path` for a staged write and remove it on exit,
    whether the write succeeded or failed — a failed write leaves
    nothing behind."""
    try:
        yield path
    finally:
        LOCAL_FS.delete_dir(path)


def _partition_values(rel_dir: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for seg in rel_dir.split("/") if rel_dir else ():
        k, eq, v = seg.partition("=")
        if eq:
            out[k] = unquote(v)
    return out


def write_data_files(
    df: DataFrame,
    table_root: str,
    partition_scheme: list[PartitionKey] | None = None,
    sort_scheme: list[SortKey] | None = None,
    max_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
    partition_salt: int | None = None,
    fs=LOCAL_FS,
    bloom_columns: list[str] | None = None,
) -> list[dict[str, Any]]:
    """Write a batch; return commit `add` action dicts.

    `partition_salt=N`: shuffle on (partition values, salt) across N
    explicit tasks instead of partition values alone (see
    `cluster_for_write`).

    `fs` (`storage/fs.py` seam): see `stage_write`.
    """
    dest = fs.join(table_root, "data", uuid.uuid4().hex)
    # A delta payload need not carry every table column: a DELETE delta
    # is a key filter, a partial-upsert delta a column subset. Partition
    # and sort keys whose source column is absent are skipped — the
    # delta file lands unpartitioned and the read path's pruning stays
    # conservative for files without recorded partition values.
    names = set(df.columns)
    if partition_scheme:
        partition_scheme = [pk for pk in partition_scheme if pk.source in names]
    if sort_scheme:
        sort_scheme = [sk for sk in sort_scheme if sk.column in names]
    part_cols = partition_columns(partition_scheme, df.schema)
    out = df
    for name, col in part_cols.items():
        out = out.withColumn(name, col)
    if part_cols:
        # rows of one partition in one task: few, large files each
        out = cluster_for_write(out, list(part_cols), partition_salt)
    if sort_scheme:
        out = out.sortWithinPartitions(*sort_columns(sort_scheme))
    staged = stage_write(out, dest, list(part_cols), max_records_per_file, fs)
    adds = collect_add_actions(staged, table_root, fs=fs)
    if bloom_columns:
        from deltacat_spark.storage.bloom import attach_blooms, eligible_columns

        cols = eligible_columns(df, [c for c in bloom_columns if c in names])
        if cols:
            try:
                attach_blooms(adds, table_root, cols, df.sparkSession, fs)
            except Exception as e:  # pragma: no cover - exercised via test
                # Blooms are a read optimization, never a durability
                # dependency: a failed bloom pass must not fail the
                # commit. Files without bloom_ref simply don't skip.
                import warnings

                warnings.warn(
                    f"bloom filter pass failed, committing without "
                    f"blooms: {type(e).__name__}: {e}"
                )
    return adds


def collect_add_actions(
    staged: list[StagedFile], table_root: str, fs=LOCAL_FS
) -> list[dict[str, Any]]:
    """Commit `add` actions for the files `stage_write` left under the
    table's `data/` directory. Paths are recorded *relative to the table
    root* so the table stays relocatable (rename_table is an O(1)
    directory move); partition values keep Spark's directory strings,
    `HIVE_NULL` included."""
    adds = []
    for sf in staged:
        stats = column_stats(sf.metadata)
        pvals = {
            k.removeprefix(PART_PREFIX): v
            for k, v in sf.partition_values.items()
        }
        adds.append(
            {
                "add": {
                    "path": fs.relpath(sf.path, table_root),
                    "partition_values": pvals or None,
                    "records": sf.metadata.num_rows,
                    "bytes": sf.size,
                    **({"stats": stats} if stats else {}),
                }
            }
        )
    return adds


def column_stats(md: pq.FileMetaData) -> dict[str, dict[str, Any]]:
    """Per-column min/max/null-count skipping stats from a parquet
    footer, JSON-ready ({} when no column has any)."""
    stats: dict[str, dict[str, Any]] = {}
    # per-column null counts, summed over row groups — recorded only
    # when EVERY row group reports one (a partial sum would understate
    # and could wrongly prove "no nulls"). Tracked for all stats-typed
    # top-level columns, including all-null ones that carry no min/max.
    nulls: dict[str, int] = {}
    nulls_bad: set = set()
    ncols = min(md.num_columns, _STATS_MAX_COLS)
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for i in range(ncols):
            col = g.column(i)
            st = col.statistics
            name = col.path_in_schema
            if "." in name:  # nested — skip
                continue
            if st is not None and st.has_null_count and name not in nulls_bad:
                nulls[name] = nulls.get(name, 0) + int(st.null_count)
            else:
                nulls_bad.add(name)
                nulls.pop(name, None)
            if st is None or not st.has_min_max:
                continue
            if col.physical_type not in _STATS_TYPES:
                continue
            try:
                mn, mx = st.min, st.max
            except Exception:
                # pyarrow can't cast stats for every logical type (e.g.
                # decimals on some physical encodings) — no stats, no
                # pruning for that column; never a failed commit.
                continue
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    continue
            cur = stats.get(name)
            if cur is None:
                stats[name] = {"min": mn, "max": mx}
            else:
                cur["min"] = min(cur["min"], mn)
                cur["max"] = max(cur["max"], mx)
    for name, n in nulls.items():
        stats.setdefault(name, {})["nulls"] = n
    return _jsonable(stats)


def _jsonable(stats: dict) -> dict:
    import datetime

    def conv(v):
        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.isoformat()
        return v

    return {
        c: {k: conv(v) for k, v in mm.items()} for c, mm in stats.items()
    }
