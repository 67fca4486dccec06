"""Jar-free Apache Iceberg v2 table interop (read + write + position
deletes), from the published table spec alone.

Why: the reference's converter session commits equality→position
delete conversions back to REAL Iceberg snapshots
(`compute/converter/converter_session.py:46-429`) and reads external
Iceberg tables through pyiceberg/Spark connectors
(`types/media.py:353-420` DatastoreType ICEBERG). This sandbox has no
iceberg-spark-runtime jar and no network, but Iceberg's on-disk
control plane is JSON (table metadata) + Avro (manifest lists and
manifests) + parquet (data and delete files) — all of which this repo
can produce natively (`sources/avrofile.py` is the spec-direct Avro
codec). So the previously env-blocked half of the converter round-trip
becomes implementable: write v2 metadata, commit append/overwrite/
delete snapshots, time-travel by snapshot-id, and apply POSITION
DELETES (content=1 files keyed by file_path + pos) on read.

Spec shape implemented (format-version 2):
- `metadata/v<N>.metadata.json` + `version-hint.text` (file-system
  catalog convention), snapshots with sequence numbers, snapshot-log.
- manifest list: Avro records named per the spec (manifest_path,
  manifest_length, partition_spec_id, content, sequence_number,
  min_sequence_number, added_snapshot_id, *_files_count, *_rows_count).
- manifest: Avro manifest_entry records (status, snapshot_id,
  sequence_number, data_file{content, file_path, file_format,
  partition, record_count, file_size_in_bytes}).
- identity partition specs; partition values ride in the manifest's
  `partition` record. Data files omit the identity source columns
  (the spec's migrated-hive-table convention: readers reconstruct
  identity columns from partition metadata), which lets the writer
  use Spark's fanout partitionBy so every data file is single-valued.
- position delete files: parquet with spec columns `file_path: string,
  pos: long` referenced by content=1 manifests.

Column bounds are spec-exact: `lower_bounds`/`upper_bounds` ride as
the spec's field-id → single-value-serialized-bytes map (Avro array of
key/value records `k126_v127`/`k129_v130` with logicalType map), using
the binary single-value serialization from the spec's Appendix D
(little-endian fixed-width numerics, UTF-8 strings, two's-complement
big-endian decimals, micros-since-epoch timestamps) — so an external
Iceberg reader (Spark runtime, pyiceberg, Trino) gets real file
skipping from these manifests. Manifests written by the pre-r11
name→string map are still read (bounds parsing handles both shapes).

Scale shape: control plane is O(manifests) on the driver, exactly
Iceberg's own model; the data plane is ONE Spark parquet scan over the
kept files (manifest-level partition pruning happens before listing),
and position deletes apply as a broadcast-able anti-join on
(_metadata.file_path, _metadata.row_index) — Spark's native row-index
metadata column, no per-row Python.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import struct
import time
import uuid
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from deltacat_spark.catalog.io import (
    cluster_for_write,
    stage_write,
    staging_dir,
)
from deltacat_spark.localdf import local_df

from deltacat_spark.sources import avrofile

METADATA_DIR = "metadata"
DATA_DIR = "data"

# ---------------------------------------------------------------------------
# schema mapping (Spark <-> Iceberg JSON types)
# ---------------------------------------------------------------------------


def iceberg_schema_for(spark_schema: T.StructType) -> dict:
    next_id = [0]

    def nid() -> int:
        next_id[0] += 1
        return next_id[0]

    def conv(dt: T.DataType) -> Any:
        if isinstance(dt, T.StructType):
            return {
                "type": "struct",
                "fields": [
                    {
                        "id": nid(),
                        "name": f.name,
                        "required": not f.nullable,
                        "type": conv(f.dataType),
                    }
                    for f in dt.fields
                ],
            }
        if isinstance(dt, T.ArrayType):
            return {
                "type": "list",
                "element-id": nid(),
                "element": conv(dt.elementType),
                "element-required": not dt.containsNull,
            }
        if isinstance(dt, T.MapType):
            return {
                "type": "map",
                "key-id": nid(),
                "key": conv(dt.keyType),
                "value-id": nid(),
                "value": conv(dt.valueType),
                "value-required": not dt.valueContainsNull,
            }
        if isinstance(dt, T.DecimalType):
            return f"decimal({dt.precision}, {dt.scale})"
        m = {
            "boolean": "boolean",
            "integer": "int",
            "short": "int",
            "byte": "int",
            "long": "long",
            "float": "float",
            "double": "double",
            "string": "string",
            "binary": "binary",
            "date": "date",
            "timestamp": "timestamptz",
            "timestamp_ntz": "timestamp",
        }
        key = dt.typeName()
        if key in m:
            return m[key]
        raise ValueError(f"no iceberg mapping for spark type {dt}")

    out = conv(spark_schema)
    out["schema-id"] = 0
    out["identifier-field-ids"] = []
    return out


def spark_schema_for(ice: dict) -> T.StructType:
    def conv(t: Any) -> T.DataType:
        if isinstance(t, dict):
            k = t["type"]
            if k == "struct":
                return T.StructType(
                    [
                        T.StructField(
                            f["name"], conv(f["type"]), not f["required"]
                        )
                        for f in t["fields"]
                    ]
                )
            if k == "list":
                return T.ArrayType(
                    conv(t["element"]), not t.get("element-required", False)
                )
            if k == "map":
                return T.MapType(
                    conv(t["key"]),
                    conv(t["value"]),
                    not t.get("value-required", False),
                )
            raise ValueError(f"unknown iceberg type {t}")
        if t.startswith("decimal"):
            p, s = t[t.index("(") + 1 : t.index(")")].split(",")
            return T.DecimalType(int(p), int(s))
        m = {
            "boolean": T.BooleanType(),
            "int": T.IntegerType(),
            "long": T.LongType(),
            "float": T.FloatType(),
            "double": T.DoubleType(),
            "string": T.StringType(),
            "binary": T.BinaryType(),
            "date": T.DateType(),
            "timestamptz": T.TimestampType(),
            "timestamp": T.TimestampNTZType(),
            "uuid": T.StringType(),
        }
        if t in m:
            return m[t]
        if t in ("timestamp_ns", "timestamptz_ns", "unknown", "variant",
                 "geometry", "geography"):
            raise NotImplementedError(
                f"iceberg v3 type {t!r} is not supported by this "
                "reader yet (v3 metadata/DV reads are; the new value "
                "types are not)"
            )
        raise ValueError(f"unknown iceberg type {t!r}")

    dt = conv(ice)
    assert isinstance(dt, T.StructType)
    return dt


# ---------------------------------------------------------------------------
# avro schemas for the control plane
# ---------------------------------------------------------------------------

_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
        {"name": "min_sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
        {"name": "added_files_count", "type": "int"},
        {"name": "existing_files_count", "type": "int"},
        {"name": "deleted_files_count", "type": "int"},
        {"name": "added_rows_count", "type": "long"},
        {"name": "existing_rows_count", "type": "long"},
        {"name": "deleted_rows_count", "type": "long"},
    ],
}


def _manifest_entry_schema(
    partition_fields: list[dict], v3: bool = False
) -> dict:
    """Manifest-entry Avro schema; `partition` is a record typed by the
    (identity) partition spec. `v3=True` appends the format-version-3
    data_file fields (142 first_row_id, 143 referenced_data_file,
    144 content_offset, 145 content_size_in_bytes — the deletion-vector
    and row-lineage carriers); v2 manifests stay byte-stable."""
    part_fields = [
        {"name": pf["name"], "type": ["null", pf["avro_type"]]}
        for pf in partition_fields
    ]
    schema = {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {"name": "sequence_number", "type": ["null", "long"]},
            {"name": "file_sequence_number", "type": ["null", "long"]},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {"name": "content", "type": "int"},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {
                            "name": "partition",
                            "type": {
                                "type": "record",
                                "name": "r102",
                                "fields": part_fields,
                            },
                        },
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                        {
                            # spec: map<int, binary> keyed by field id,
                            # encoded in Avro as an array of key/value
                            # records (record/field names per the
                            # iceberg manifest avro schema)
                            "name": "lower_bounds",
                            "type": [
                                "null",
                                {
                                    "type": "array",
                                    "logicalType": "map",
                                    "items": {
                                        "type": "record",
                                        "name": "k126_v127",
                                        "fields": [
                                            {
                                                "name": "key",
                                                "type": "int",
                                                "field-id": 126,
                                            },
                                            {
                                                "name": "value",
                                                "type": "bytes",
                                                "field-id": 127,
                                            },
                                        ],
                                    },
                                },
                            ],
                        },
                        {
                            "name": "upper_bounds",
                            "type": [
                                "null",
                                {
                                    "type": "array",
                                    "logicalType": "map",
                                    "items": {
                                        "type": "record",
                                        "name": "k129_v130",
                                        "fields": [
                                            {
                                                "name": "key",
                                                "type": "int",
                                                "field-id": 129,
                                            },
                                            {
                                                "name": "value",
                                                "type": "bytes",
                                                "field-id": 130,
                                            },
                                        ],
                                    },
                                },
                            ],
                        },
                        {
                            # spec data_file field 135: the schema field
                            # ids an EQUALITY delete file (content=2)
                            # matches on; null for data/position files
                            "name": "equality_ids",
                            "type": [
                                "null",
                                {
                                    "type": "array",
                                    "items": "int",
                                    "element-id": 136,
                                },
                            ],
                            "field-id": 135,
                        },
                    ],
                },
            },
        ],
    }
    if v3:
        schema["fields"][-1]["type"]["fields"].extend(
            [
                {
                    "name": "first_row_id",
                    "type": ["null", "long"],
                    "field-id": 142,
                },
                {
                    "name": "referenced_data_file",
                    "type": ["null", "string"],
                    "field-id": 143,
                },
                {
                    "name": "content_offset",
                    "type": ["null", "long"],
                    "field-id": 144,
                },
                {
                    "name": "content_size_in_bytes",
                    "type": ["null", "long"],
                    "field-id": 145,
                },
            ]
        )
    return schema


# ---------------------------------------------------------------------------
# single-value binary serialization (Iceberg spec Appendix D)
# ---------------------------------------------------------------------------

_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH_DT = datetime.datetime(1970, 1, 1)


def serialize_single_value(ice_type: str, v: Any) -> bytes | None:
    """Iceberg binary single-value serialization for bound values:
    boolean = 1 byte; int/date = 4-byte LE; long/time/timestamp[tz] =
    8-byte LE (micros for temporals); float = 4-byte LE IEEE-754;
    double = 8-byte LE; string = UTF-8; uuid = 16 big-endian bytes;
    binary/fixed = raw; decimal = unscaled two's-complement big-endian
    (minimal length). Returns None for values this writer cannot
    represent (never a failed commit — that file just has no bound)."""
    try:
        if ice_type == "boolean":
            return b"\x01" if v else b"\x00"
        if ice_type == "int":
            return struct.pack("<i", int(v))
        if ice_type == "long":
            return struct.pack("<q", int(v))
        if ice_type == "float":
            return struct.pack("<f", float(v))
        if ice_type == "double":
            return struct.pack("<d", float(v))
        if ice_type == "date":
            days = (
                (v - _EPOCH_DATE).days
                if isinstance(v, datetime.date)
                else int(v)
            )
            return struct.pack("<i", days)
        if ice_type in ("timestamp", "timestamptz", "time"):
            if isinstance(v, datetime.datetime):
                base = (
                    _EPOCH_DT.replace(tzinfo=v.tzinfo)
                    if v.tzinfo is not None
                    else _EPOCH_DT
                )
                micros = round((v - base).total_seconds() * 1_000_000)
            else:
                micros = int(v)
            return struct.pack("<q", micros)
        if ice_type == "string":
            return str(v).encode("utf-8")
        if ice_type == "uuid":
            return uuid.UUID(str(v)).bytes
        if ice_type == "binary" or ice_type.startswith("fixed"):
            return bytes(v)
        if ice_type.startswith("decimal"):
            scale = int(
                ice_type[ice_type.index("(") + 1 : ice_type.index(")")]
                .split(",")[1]
            )
            with decimal.localcontext() as ctx:
                ctx.prec = 100  # a 38-digit unscaled value must not round
                unscaled = int(
                    decimal.Decimal(v).scaleb(scale).to_integral_value()
                )
            # spec Appendix D: MINIMAL two's-complement length (e.g.
            # -128 is b'\x80', not b'\xff\x80'; +128 needs two bytes)
            nbytes = max(1, (unscaled.bit_length() + 7) // 8)
            try:
                return unscaled.to_bytes(nbytes, "big", signed=True)
            except OverflowError:
                return unscaled.to_bytes(nbytes + 1, "big", signed=True)
    except (TypeError, ValueError, OverflowError, decimal.InvalidOperation):
        return None
    return None


def deserialize_single_value(ice_type: str, data: bytes) -> Any:
    """Inverse of `serialize_single_value` (spec Appendix D binary)."""
    if ice_type == "boolean":
        return data != b"\x00"
    if ice_type == "int":
        return struct.unpack("<i", data)[0]
    if ice_type == "long":
        return struct.unpack("<q", data)[0]
    if ice_type == "float":
        return struct.unpack("<f", data)[0]
    if ice_type == "double":
        return struct.unpack("<d", data)[0]
    if ice_type == "date":
        return _EPOCH_DATE + datetime.timedelta(
            days=struct.unpack("<i", data)[0]
        )
    if ice_type in ("timestamp", "timestamptz", "time"):
        return struct.unpack("<q", data)[0]  # micros
    if ice_type == "string":
        return data.decode("utf-8")
    if ice_type == "uuid":
        return str(uuid.UUID(bytes=data))
    if ice_type == "binary" or ice_type.startswith("fixed"):
        return bytes(data)
    if ice_type.startswith("decimal"):
        scale = int(
            ice_type[ice_type.index("(") + 1 : ice_type.index(")")]
            .split(",")[1]
        )
        unscaled = int.from_bytes(data, "big", signed=True)
        with decimal.localcontext() as ctx:
            ctx.prec = 100
            return decimal.Decimal(unscaled).scaleb(-scale)
    raise ValueError(f"no single-value deserializer for {ice_type!r}")


def _abs_data_path(root: str, p: str) -> str:
    """Manifest `file_path` → filesystem path. THIS writer stores
    root-relative paths (relocatable tables — documented deviation);
    external spec-compliant writers store absolute `file://` URIs.
    Accept both so externally-written tables read back."""
    if p.startswith("file:"):
        p = p[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
    return p if p.startswith("/") else os.path.join(root, p)


def _rel_data_path(root: str, p: str) -> str:
    """Manifest/delete `file_path` → the canonical root-relative form
    lineage joins key on (inverse of the `__ice_fp` normalization)."""
    if p.startswith("file:"):
        p = p[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
    prefix = root.rstrip("/") + "/"
    return p[len(prefix):] if p.startswith(prefix) else p


def _rel_fp_col(root: str, col) -> Any:
    """The same normalization as `_rel_data_path`, as a Column — for
    delete-file `file_path` values written by external writers."""
    c = F.regexp_replace(col, "^file:/*", "/")
    return F.replace(c, F.lit(root.rstrip("/") + "/"), F.lit(""))


def _field_info(ice_schema: dict) -> dict[str, tuple[int, str]]:
    """column name -> (field id, iceberg primitive type) for the
    top-level primitive fields (bounds are only kept for these)."""
    out: dict[str, tuple[int, str]] = {}
    for f in ice_schema.get("fields", []):
        t = f["type"]
        if isinstance(t, str):
            out[f["name"]] = (f["id"], t)
    return out


def parse_bounds(
    data_file: dict, ice_schema: dict
) -> dict[str, tuple[Any, Any]]:
    """Decode a manifest entry's bounds into {column: (lo, hi)} — typed
    python values for the spec field-id binary map, raw strings for the
    legacy pre-r11 name→string map (both shapes read back)."""
    finfo = _field_info(ice_schema)
    by_id = {fid: (name, t) for name, (fid, t) in finfo.items()}
    lo_raw = data_file.get("lower_bounds") or {}
    hi_raw = data_file.get("upper_bounds") or {}

    def decode(raw: Any) -> dict[str, Any]:
        if isinstance(raw, dict):  # legacy name->string map
            return dict(raw)
        out: dict[str, Any] = {}
        for kv in raw:  # spec array-of-{key,value} map
            hit = by_id.get(kv["key"])
            if hit is not None:
                out[hit[0]] = deserialize_single_value(hit[1], kv["value"])
        return out

    lo, hi = decode(lo_raw), decode(hi_raw)
    return {c: (lo.get(c), hi.get(c)) for c in set(lo) | set(hi)}


_BOUNDS_MAX_COLS = 32  # manifests stay small even for very wide tables


def _file_bounds_spec(
    md, finfo: dict[str, tuple[int, str]]
) -> tuple[list[dict] | None, list[dict] | None]:
    """Spec bounds maps ([{key: field-id, value: bytes}], lower/upper)
    from a data file's parquet footer (`pyarrow.parquet.FileMetaData`)."""
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    bad: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for i in range(min(md.num_columns, _BOUNDS_MAX_COLS)):
            col = g.column(i)
            name = col.path_in_schema
            if "." in name or name not in finfo or name in bad:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                # a single stats-less row group voids the file's bound
                bad.add(name)
                mins.pop(name, None)
                maxs.pop(name, None)
                continue
            mn, mx = st.min, st.max
            mins[name] = mn if name not in mins else min(mins[name], mn)
            maxs[name] = mx if name not in maxs else max(maxs[name], mx)
    lo, hi = [], []
    for name, v in sorted(mins.items(), key=lambda kv: finfo[kv[0]][0]):
        fid, t = finfo[name]
        b = serialize_single_value(t, v)
        if b is not None:
            lo.append({"key": fid, "value": b})
    for name, v in sorted(maxs.items(), key=lambda kv: finfo[kv[0]][0]):
        fid, t = finfo[name]
        b = serialize_single_value(t, v)
        if b is not None:
            hi.append({"key": fid, "value": b})
    return (lo or None), (hi or None)


# ---------------------------------------------------------------------------
# partition transforms (Iceberg spec "Partition Transforms" + Appendix B)
# ---------------------------------------------------------------------------


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """32-bit Murmur3 (x86) — the spec's bucket hash function
    (Appendix B). Returns the UNSIGNED value; iceberg buckets take
    `(h & Integer.MAX_VALUE) % N`."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed
    n = len(data) & ~3
    for i in range(0, n, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[n:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def bucket_hash_bytes(ice_type: str, v: Any) -> bytes:
    """Appendix B hash input: int/long/date/time/timestamp[tz] hash as
    the 8-byte little-endian LONG; string as UTF-8; uuid as 16 BE
    bytes; binary raw; decimal as minimal big-endian unscaled."""
    if ice_type in ("int", "long"):
        return struct.pack("<q", int(v))
    if ice_type == "date":
        days = (
            (v - _EPOCH_DATE).days if isinstance(v, datetime.date) else int(v)
        )
        return struct.pack("<q", days)
    if ice_type in ("timestamp", "timestamptz", "time"):
        if isinstance(v, datetime.datetime):
            base = (
                _EPOCH_DT.replace(tzinfo=v.tzinfo)
                if v.tzinfo is not None
                else _EPOCH_DT
            )
            micros = round((v - base).total_seconds() * 1_000_000)
        else:
            micros = int(v)
        return struct.pack("<q", micros)
    if ice_type == "string":
        return str(v).encode("utf-8")
    if ice_type == "uuid":
        return uuid.UUID(str(v)).bytes
    if ice_type == "binary" or ice_type.startswith("fixed"):
        return bytes(v)
    if ice_type.startswith("decimal"):
        scale = int(
            ice_type[ice_type.index("(") + 1 : ice_type.index(")")]
            .split(",")[1]
        )
        with decimal.localcontext() as ctx:
            ctx.prec = 100
            unscaled = int(
                decimal.Decimal(v).scaleb(scale).to_integral_value()
            )
        nbytes = max(1, (unscaled.bit_length() + 7) // 8)
        try:
            return unscaled.to_bytes(nbytes, "big", signed=True)
        except OverflowError:
            return unscaled.to_bytes(nbytes + 1, "big", signed=True)
    raise ValueError(f"iceberg bucket transform undefined for {ice_type}")


def bucket_value(ice_type: str, v: Any, n: int) -> "int | None":
    """The spec bucket partition value: (murmur3 & MAX_INT) % n."""
    if v is None:
        return None
    return (murmur3_32(bucket_hash_bytes(ice_type, v)) & 0x7FFFFFFF) % n


_EPOCH_D = datetime.date(1970, 1, 1)


def _temporal_micros(v: Any) -> int:
    """datetime (naive = UTC) → epoch micros."""
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return round(v.timestamp() * 1_000_000)
    return int(v)


def transform_value(transform: str, ice_type: str, v: Any) -> Any:
    """The spec partition transform evaluated on ONE scalar — the
    driver-side mirror of `_transform_column` (used for predicate →
    partition projection; spec §Partition Transforms)."""
    if v is None:
        return None
    if transform == "identity":
        return v
    if transform.startswith("bucket["):
        return bucket_value(ice_type, v, int(transform[7:-1]))
    if transform.startswith("truncate["):
        w = int(transform[9:-1])
        if ice_type in ("int", "long"):
            iv = int(v)
            return iv - (((iv % w) + w) % w)
        if ice_type == "string":
            return str(v)[:w]
        raise NotImplementedError(f"truncate projection for {ice_type}")
    if transform in ("year", "month", "day", "hour"):
        if ice_type == "date" and isinstance(v, datetime.date):
            if transform == "year":
                return v.year - 1970
            if transform == "month":
                return (v.year - 1970) * 12 + v.month - 1
            if transform == "day":
                return (v - _EPOCH_D).days
            raise ValueError("hour transform undefined for date")
        micros = _temporal_micros(v)
        if transform == "hour":
            return micros // 3_600_000_000
        if transform == "day":
            return micros // 86_400_000_000
        dt = datetime.datetime.fromtimestamp(
            micros / 1_000_000, datetime.timezone.utc
        )
        if transform == "year":
            return dt.year - 1970
        return (dt.year - 1970) * 12 + dt.month - 1
    raise NotImplementedError(f"transform {transform!r} projection")


# transforms that preserve ordering of their source (the spec's basis
# for projecting RANGE predicates; bucket is not order-preserving, so
# ranges cannot prune bucketed layouts — equality only)
def _order_preserving(transform: str, ice_type: str) -> bool:
    if transform == "identity":
        return True
    if transform.startswith("truncate["):
        return ice_type in ("int", "long", "string")
    return transform in ("year", "month", "day", "hour")


def project_predicates(
    meta: dict, predicate_filter: dict[str, Any]
) -> list[tuple[str, Any, Any]]:
    """Spec §Scan Planning inclusive projection: source-column
    predicates → [(partition_field_name, lo, hi)] conditions on
    partition-tuple VALUES (closed interval; None = open end).
    `predicate_filter` maps source column → equality value, or →
    (lo, hi) for an inclusive range. Equality projects through every
    transform; ranges only through order-preserving ones (bucket is
    skipped — never a wrong prune, just no prune)."""
    ice_schema = current_schema(meta)
    finfo = _field_info(ice_schema)
    by_id = {fid: (name, t) for name, (fid, t) in finfo.items()}
    conds: list[tuple[str, Any, Any]] = []
    for pf in current_spec_fields(meta):
        src = by_id.get(pf.get("source-id"))
        if src is None:
            continue
        src_name, src_type = src
        if src_name not in predicate_filter:
            continue
        pred = predicate_filter[src_name]
        tr = pf.get("transform", "identity")
        if isinstance(pred, tuple):
            lo, hi = pred
            if not _order_preserving(tr, src_type):
                continue
            conds.append(
                (
                    pf["name"],
                    None if lo is None else transform_value(tr, src_type, lo),
                    None if hi is None else transform_value(tr, src_type, hi),
                )
            )
        else:
            if pred is None:
                raise ValueError(
                    "predicate_filter equality value may not be None "
                    "(use an explicit partition_filter for null "
                    "partitions)"
                )
            tv = transform_value(tr, src_type, pred)
            conds.append((pf["name"], tv, tv))
    return conds


_TRANSFORM_RE = None  # compiled lazily


def parse_partition_term(term: str) -> dict:
    """'col' | 'bucket(N, col)' | 'truncate(W, col)' |
    'year(col)'/'month(col)'/'day(col)'/'hour(col)' →
    {transform, source, param, name} (spec transform strings and
    field-name convention `source_transform`)."""
    import re as _re

    global _TRANSFORM_RE
    if _TRANSFORM_RE is None:
        _TRANSFORM_RE = _re.compile(
            r"^\s*(bucket|truncate)\s*\(\s*(\d+)\s*,\s*([\w.]+)\s*\)\s*$|"
            r"^\s*(year|month|day|hour)\s*\(\s*([\w.]+)\s*\)\s*$"
        )
    m = _TRANSFORM_RE.match(term)
    if m is None:
        return {
            "transform": "identity",
            "source": term.strip(),
            "param": None,
            "name": term.strip(),
        }
    if m.group(1):
        t, p, col = m.group(1), int(m.group(2)), m.group(3)
        short = "trunc" if t == "truncate" else t
        return {
            "transform": f"{t}[{p}]",
            "source": col,
            "param": p,
            "name": f"{col}_{short}",
        }
    t, col = m.group(4), m.group(5)
    return {
        "transform": t,
        "source": col,
        "param": None,
        "name": f"{col}_{t}",
    }


def _specs_from_meta(meta: dict, ice_schema: dict) -> list[dict]:
    """Reverse of the write-side spec construction: metadata partition
    spec fields → parsed terms (for appends with partition_by=None)."""
    by_id = {}
    for f in ice_schema.get("fields", []):
        by_id[f["id"]] = f["name"]
    out = []
    for pf in current_spec_fields(meta):
        tr = pf.get("transform", "identity")
        src = by_id.get(pf.get("source-id"), pf["name"])
        if tr == "identity":
            out.append(
                {"transform": "identity", "source": src, "param": None,
                 "name": pf["name"]}
            )
        elif tr.startswith(("bucket[", "truncate[")):
            param = int(tr[tr.index("[") + 1 : -1])
            out.append(
                {"transform": tr, "source": src, "param": param,
                 "name": pf["name"]}
            )
        else:
            out.append(
                {"transform": tr, "source": src, "param": None,
                 "name": pf["name"]}
            )
    return out


_TEMPORAL_ICE_TYPES = ("date", "timestamp", "timestamptz")


def _assert_utc_for_temporal_transforms(
    spark: SparkSession, specs: list[dict], finfo: dict
) -> None:
    """Temporal transforms (year/month/day/hour, and bucket over a
    temporal source) evaluate via session-timezone calendar functions;
    the spec's epoch-based ordinals (Appendix B hashes temporals as
    their epoch ordinal) are only produced under UTC. `session.py` sets
    UTC; refuse loudly rather than write partition values external
    readers would prune incorrectly."""
    needs_utc = [
        sp["name"]
        for sp in specs
        if sp["transform"] in ("year", "month", "day", "hour")
        or (
            sp["transform"].startswith("bucket[")
            and finfo.get(sp["source"], (0, ""))[1] in _TEMPORAL_ICE_TYPES
        )
    ]
    if not needs_utc:
        return
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
        raise ValueError(
            f"temporal partition transforms {needs_utc} require "
            f"spark.sql.session.timeZone=UTC (got {tz!r}); non-UTC "
            "sessions would write spec-incorrect partition ordinals "
            "that external Iceberg readers prune wrongly"
        )


def _transform_column(spec: dict, ice_type: str):
    """The Spark Column computing an iceberg partition transform of the
    source column — native expressions for truncate/temporal (ordinals
    per the spec: years/months/days/hours since the 1970 epoch), an
    Arrow-batched pandas UDF of the spec murmur3 for bucket."""
    src = F.col(spec["source"])
    tr = spec["transform"]
    if tr == "identity":
        return src
    if tr.startswith("truncate["):
        w = spec["param"]
        if ice_type in ("int", "long"):
            # floor to the width multiple (works for negatives)
            return (src - (((src % w) + w) % w)).cast(
                "int" if ice_type == "int" else "long"
            )
        if ice_type == "string":
            return F.substring(src, 1, w)
        raise ValueError(f"truncate undefined for {ice_type}")
    if tr in ("year", "month", "day", "hour"):
        if ice_type == "date":
            ts = src.cast("timestamp")
        elif ice_type in ("timestamp", "timestamptz"):
            ts = src
        else:
            raise ValueError(f"{tr} transform undefined for {ice_type}")
        if tr == "year":
            return (F.year(ts) - F.lit(1970)).cast("int")
        if tr == "month":
            return (
                (F.year(ts) - F.lit(1970)) * 12 + F.month(ts) - F.lit(1)
            ).cast("int")
        if tr == "day":
            return F.datediff(ts.cast("date"), F.lit("1970-01-01")).cast(
                "int"
            )
        return F.floor(
            F.unix_timestamp(ts) / F.lit(3600)
        ).cast("int")
    if tr.startswith("bucket["):
        n = spec["param"]
        from pyspark.sql.functions import pandas_udf

        t = ice_type

        @pandas_udf("int")
        def _bucket(s):
            import numpy as np
            import pandas as pd

            if t in ("int", "long", "date", "timestamp", "timestamptz"):
                # numpy-vectorized murmur3 over the 8-byte LE long
                # (Appendix B: temporals hash as their epoch ordinal)
                if t == "date":
                    x = (
                        pd.to_datetime(s)
                        .values.astype("datetime64[D]")
                        .astype("int64")
                    )
                elif t in ("timestamp", "timestamptz"):
                    x = (
                        pd.to_datetime(s)
                        .values.astype("datetime64[us]")
                        .astype("int64")
                    )
                else:
                    x = s.fillna(0).astype("int64").to_numpy(
                        dtype="int64"
                    )
                u = x.view("uint64")
                k1 = (u & 0xFFFFFFFF).astype("uint32")
                k2 = (u >> np.uint64(32)).astype("uint32")
                c1 = np.uint32(0xCC9E2D51)
                c2 = np.uint32(0x1B873593)

                def mix_k(k):
                    k = (k * c1).astype("uint32")
                    k = ((k << np.uint32(15)) | (k >> np.uint32(17))).astype("uint32")
                    return (k * c2).astype("uint32")

                h = np.zeros(len(x), dtype="uint32")
                for k in (k1, k2):
                    h ^= mix_k(k)
                    h = ((h << np.uint32(13)) | (h >> np.uint32(19))).astype("uint32")
                    h = (h * np.uint32(5) + np.uint32(0xE6546B64)).astype("uint32")
                h ^= np.uint32(8)  # len(data)
                h ^= h >> np.uint32(16)
                h = (h * np.uint32(0x85EBCA6B)).astype("uint32")
                h ^= h >> np.uint32(13)
                h = (h * np.uint32(0xC2B2AE35)).astype("uint32")
                h ^= h >> np.uint32(16)
                out = ((h & np.uint32(0x7FFFFFFF)) % np.uint32(n)).astype(
                    "int32"
                )
                res = pd.Series(out, index=s.index).astype("Int32")
                res[s.isna()] = pd.NA
                return res
            # general path (strings, decimals, uuid): per-value
            return pd.Series(
                [bucket_value(t, v, n) for v in s], index=s.index
            ).astype("Int32")

        return _bucket(src)
    raise ValueError(f"unknown iceberg transform {tr!r}")


_SPARK_TO_PART_AVRO = {
    "integer": "int",
    "long": "long",
    "string": "string",
    "date": "string",
    "boolean": "boolean",
    "double": "double",
    "float": "float",
    "short": "int",
    "byte": "int",
}


def parse_single_value_json(ice_type: Any, v: Any) -> Any:
    """The spec's JSON single-value serialization → python value
    (r14 — the carrier for v3 `initial-default` / `write-default`).
    Primitives only; nested defaults refuse loudly."""
    if v is None:
        return None
    if not isinstance(ice_type, str):
        raise NotImplementedError(
            "default values on nested (struct/list/map) fields are not "
            "supported by this reader"
        )
    if ice_type in ("boolean", "int", "long", "float", "double", "string",
                    "uuid"):
        return v
    if ice_type == "date":
        return datetime.date.fromisoformat(v)
    if ice_type in ("timestamp", "timestamptz"):
        dt = datetime.datetime.fromisoformat(v)
        if ice_type == "timestamp" and dt.tzinfo is not None:
            dt = dt.replace(tzinfo=None)
        return dt
    if ice_type.startswith("decimal"):
        import decimal

        return decimal.Decimal(str(v))
    if ice_type == "binary" or ice_type.startswith("fixed"):
        return bytes.fromhex(v)
    raise NotImplementedError(
        f"default value for iceberg type {ice_type!r} is not supported"
    )


def current_schema(meta: dict) -> dict:
    """The CURRENT iceberg schema object. v2: `schemas` selected by
    `current-schema-id` matching each schema's OWN `schema-id` field
    (the spec's rule — positional indexing misreads evolved external
    tables whose ids aren't 0..n); v1: the legacy single `schema`."""
    schemas = meta.get("schemas")
    if schemas:
        want = meta.get("current-schema-id", 0)
        for s in schemas:
            if s.get("schema-id", 0) == want:
                return s
        return schemas[want]  # ids absent: positional fallback
    legacy = meta.get("schema")
    if legacy is None:
        raise ValueError("iceberg metadata has neither schemas nor schema")
    return legacy


def current_spec_fields(meta: dict) -> list[dict]:
    """Default partition-spec fields. v2: `partition-specs` selected by
    `default-spec-id` (matched on each spec's `spec-id`); v1: the
    legacy flat `partition-spec` list."""
    specs = meta.get("partition-specs")
    if specs:
        want = meta.get("default-spec-id", 0)
        for sp in specs:
            if sp.get("spec-id", 0) == want:
                return sp["fields"]
        return specs[want]["fields"]
    return meta.get("partition-spec") or []


# ---------------------------------------------------------------------------
# table handle
# ---------------------------------------------------------------------------


class IcebergTable:
    """File-system-catalog Iceberg v2 table (version-hint convention).

    `metadata=` preloads the CURRENT table metadata (a service catalog
    — e.g. `sources/iceberg_rest.py` — resolves it over the wire; the
    data/manifest planes still read from `root`)."""

    def __init__(self, root: str, metadata: dict | None = None):
        self.root = root
        self._metadata = metadata
        # version the last metadata() load came from — committers pin
        # their CAS target to loaded_version + 1 so a commit that
        # landed after the load LOSES instead of being silently rebased
        # over (the same race class as the r13 Delta DV-commit fix)
        self.loaded_version: int | None = None

    # -- metadata plumbing -------------------------------------------------
    def _meta_dir(self) -> str:
        return os.path.join(self.root, METADATA_DIR)

    def current_version(self) -> int:
        hint = os.path.join(self._meta_dir(), "version-hint.text")
        if os.path.isfile(hint):
            return int(open(hint).read().strip())
        vs = [
            int(f[1 : -len(".metadata.json")])
            for f in os.listdir(self._meta_dir())
            if f.startswith("v") and f.endswith(".metadata.json")
        ]
        if not vs:
            raise FileNotFoundError(f"no iceberg metadata under {self.root}")
        return max(vs)

    def metadata(self, version: int | None = None) -> dict:
        if self._metadata is not None and version is None:
            return self._metadata
        v = self.current_version() if version is None else version
        path = os.path.join(self._meta_dir(), f"v{v}.metadata.json")
        if version is None:
            self.loaded_version = v
        with open(path) as f:
            return json.load(f)

    def exists(self) -> bool:
        try:
            self.current_version()
            return True
        except (FileNotFoundError, NotADirectoryError):
            return False

    def snapshot(self, meta: dict, snapshot_id: int | None = None) -> dict:
        sid = (
            meta.get("current-snapshot-id")
            if snapshot_id is None
            else snapshot_id
        )
        for s in meta.get("snapshots", []):
            if s["snapshot-id"] == sid:
                return s
        raise ValueError(f"snapshot {sid} not found")

    def snapshot_id_at(self, timestamp_ms: int) -> int:
        """Time travel by TIMESTAMP: the newest snapshot whose
        timestamp-ms <= the given instant (resolved over the
        snapshot-log per the spec's history table)."""
        meta = self.metadata()
        log = sorted(
            meta.get("snapshot-log", []), key=lambda e: e["timestamp-ms"]
        )
        best = None
        for e in log:
            if e["timestamp-ms"] <= timestamp_ms:
                best = e["snapshot-id"]
        if best is None:
            raise ValueError(
                f"no iceberg snapshot at or before timestamp "
                f"{timestamp_ms} (oldest is "
                f"{log[0]['timestamp-ms'] if log else 'n/a'})"
            )
        return best

    def manifests(self, snap: dict) -> list[dict]:
        # external writers store absolute URIs; this writer stores
        # root-relative paths — accept both
        path = _abs_data_path(self.root, snap["manifest-list"])
        _, rows = avrofile.read_container(path)
        return rows

    def manifest_entries(self, manifest_path: str) -> list[dict]:
        _, rows = avrofile.read_container(
            _abs_data_path(self.root, manifest_path)
        )
        return rows

    # -- files at a snapshot ------------------------------------------------
    def live_files(
        self, snapshot_id: int | None = None
    ) -> tuple[list[dict], list[dict]]:
        """(data_files, delete_files) live at the snapshot — every ADDED
        or EXISTING manifest entry across the manifest list."""
        meta = self.metadata()
        fv = meta.get("format-version", 2)
        if fv not in (1, 2, 3):
            raise NotImplementedError(
                f"Iceberg format-version {fv} is not supported "
                "(this jar-free reader implements v1/v3 reads + v2)"
            )
        # v1 reads fine through the same replay: its manifests simply
        # lack sequence/content fields (.get defaults: data manifests,
        # global seq 0) and the format predates delete files entirely.
        # v3 (r14) reads too: puffin DELETION VECTORS surface here as
        # content=1 entries with content_offset/content_size_in_bytes
        # (applied by read_iceberg), row-lineage metadata (next-row-id
        # / first-row-id / first_row_id) is surfaced on request and
        # otherwise ignored, and the new v3 value types refuse by name
        # at schema translation.
        snap = self.snapshot(meta, snapshot_id)
        data, deletes = [], []
        for mf in self.manifests(snap):
            for e in self.manifest_entries(mf["manifest_path"]):
                if e["status"] == 2:  # DELETED entry — file removed
                    continue
                df = dict(e["data_file"])
                # sequence-number inheritance: a null entry seq means
                # "inherit from the manifest" (spec: ADDED entries
                # written without an explicit seq inherit the commit's)
                df["__seq"] = (
                    e.get("sequence_number")
                    if e.get("sequence_number") is not None
                    else mf.get("sequence_number", 0)
                )
                if mf.get("content") == 1:  # v1 manifests lack the field
                    if df.get("content") == 2 and not df.get(
                        "equality_ids"
                    ):
                        # EQUALITY delete files must name the fields
                        # they match on (spec data_file field 135); a
                        # content=2 entry without equality_ids cannot
                        # be applied — fail loudly rather than misread.
                        raise NotImplementedError(
                            "equality delete file (data_file.content=2) "
                            "without equality_ids cannot be applied by "
                            "this jar-free reader"
                        )
                    deletes.append(df)
                else:
                    data.append(df)
        return data, deletes


# ---------------------------------------------------------------------------
# read
# ---------------------------------------------------------------------------

# sentinel for deletes whose manifest carries no sequence number (an
# external v1-ish manifest): they apply to EVERY data file — mapped to
# a seq beyond any real one so fast and slow paths agree
_GLOBAL_SEQ = 1 << 62


def _seq_or_global(delete_file: dict) -> int:
    s = int(delete_file.get("__seq") or 0)
    return s if s > 0 else _GLOBAL_SEQ


def _apply_equality_deletes(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    eq_deletes: list[dict],
    data_seq: dict[str, int],
    max_data_seq: int,
    ice_schema: dict,
    full_schema: T.StructType,
    how: str,
) -> DataFrame:
    """Apply EQUALITY delete files (content=2) to a lineage-bearing
    frame: per the spec, a data row is deleted when an equality-delete
    row matches it null-safely on the delete file's `equality_ids`
    columns AND the delete's sequence number is STRICTLY greater than
    the data file's. `how='left_anti'` returns survivors (the read
    path — groups chain, a row must survive every group);
    `how='left_semi'` returns the UNION of matched (__ice_fp,
    __ice_pos) coordinates across groups (the converter's
    position-finding scan).

    Scale shape: delete files group by their equality_ids set; each
    group is ONE parquet scan, broadcast into a hash anti/semi-join
    whose keys are the equality columns (the seq comparison rides as a
    residual join condition) — no per-row Python, no O(files) plans."""
    finfo = _field_info(ice_schema)
    by_id = {fid: (name, t) for name, (fid, t) in finfo.items()}
    # group by (equality_ids, partition tuple): per the spec a
    # PARTITIONED equality-delete file applies only to data of its own
    # partition — applying it globally would over-delete rows in other
    # partitions that happen to match the equality values
    groups: dict[tuple, list[dict]] = {}
    for d in eq_deletes:
        pkey = tuple(sorted((d.get("partition") or {}).items()))
        groups.setdefault(
            (tuple(sorted(d["equality_ids"])), pkey), []
        ).append(d)
    field_types = {f.name: f.dataType for f in full_schema.fields}
    out = df
    matched: list[DataFrame] = []
    for (ids, pkey), files in sorted(groups.items()):
        missing = [i for i in ids if i not in by_id]
        if missing:
            raise NotImplementedError(
                f"equality delete references field ids {missing} that "
                "are not top-level primitive columns of the table "
                "schema — not supported by this jar-free reader"
            )
        bad_part = [k for k, _ in pkey if k not in field_types]
        if bad_part:
            raise NotImplementedError(
                f"equality delete file is scoped to partition fields "
                f"{bad_part} that are not identity source columns — "
                "cannot be applied by this jar-free reader"
            )
        cols = [by_id[i][0] for i in ids]
        del_schema = T.StructType(
            [T.StructField(c, field_types[c], True) for c in cols]
        )
        paths = [_abs_data_path(root, d["file_path"]) for d in files]
        left = df if how == "left_semi" else out

        def _part_cond(frame):
            # constant partition scope as extra join terms (null-safe)
            c = None
            for k, v in pkey:
                term = frame[k].eqNullSafe(
                    F.lit(v).cast(field_types[k])
                )
                c = term if c is None else c & term
            return c

        if min(_seq_or_global(d) for d in files) > max_data_seq:
            # every delete in the group is newer than every data file:
            # no seq bookkeeping needed
            eqf = spark.read.schema(del_schema).parquet(*paths)
            cond = _part_cond(left)
            for c in cols:
                term = left[c].eqNullSafe(eqf[c])
                cond = term if cond is None else cond & term
            joined = left.join(F.broadcast(eqf), cond, how)
        else:
            dmap = local_df(spark,
                [
                    (
                        os.path.basename(
                            _abs_data_path(root, d["file_path"])
                        ),
                        _seq_or_global(d),
                    )
                    for d in files
                ],
                "__dfname string, __del_seq long",
            )
            eqf = (
                spark.read.schema(del_schema)
                .parquet(*paths)
                .withColumn(
                    "__dfname",
                    F.element_at(F.split(F.input_file_name(), "/"), -1),
                )
                .join(F.broadcast(dmap), "__dfname")
                .drop("__dfname")
            )
            seq_map = local_df(spark,
                list(data_seq.items()),
                "__ice_fp string, __data_seq long",
            )
            tagged = left.join(F.broadcast(seq_map), "__ice_fp")
            cond = eqf["__del_seq"] > tagged["__data_seq"]
            pc = _part_cond(tagged)
            if pc is not None:
                cond = cond & pc
            for c in cols:
                cond = cond & tagged[c].eqNullSafe(eqf[c])
            joined = tagged.join(F.broadcast(eqf), cond, how).drop(
                "__data_seq"
            )
        if how == "left_semi":
            matched.append(joined.select("__ice_fp", "__ice_pos"))
        else:
            out = joined
    if how == "left_semi":
        u = matched[0]
        for m in matched[1:]:
            u = u.unionByName(m)
        return u.distinct()
    return out


def _name_mapping_aliases(meta: dict) -> dict[str, list[str]]:
    """{current column name: [parquet-side name aliases]} from the
    `schema.name-mapping.default` table property (spec Appendix C) —
    the read fallback for IMPORTED parquet written without iceberg
    field ids: files carry their original column names, the mapping
    binds those names to field ids, and the ids resolve to the current
    schema names (which may have been renamed since import). Nested
    mapping entries refuse. Empty when the property is absent."""
    nm = (meta.get("properties") or {}).get("schema.name-mapping.default")
    if not nm:
        return {}
    entries = json.loads(nm)
    finfo = _field_info(current_schema(meta))
    by_id = {fid: name for name, (fid, _) in finfo.items()}
    out: dict[str, list[str]] = {}
    for e in entries:
        if e.get("fields"):
            raise NotImplementedError(
                "nested schema.name-mapping.default entries are not "
                "supported by this jar-free reader"
            )
        cur = by_id.get(e.get("field-id"))
        if cur is None:
            continue  # mapping for a dropped/non-primitive column
        out[cur] = list(dict.fromkeys(list(e.get("names") or []) + [cur]))
    return out


def read_iceberg(
    spark: SparkSession,
    root: str,
    snapshot_id: int | None = None,
    partition_filter: Callable[[dict], bool] | dict | None = None,
    apply_deletes: bool = True,
    with_lineage: bool = False,
    bounds_filter: dict[str, tuple[Any, Any]] | None = None,
    apply_equality_deletes: bool = True,
    as_of_timestamp_ms: int | None = None,
    predicate_filter: dict[str, Any] | None = None,
    metadata: dict | None = None,
    with_row_lineage: bool = False,
    ref: str | None = None,
) -> DataFrame:
    """Iceberg table → DataFrame (time travel via `snapshot_id` or
    `as_of_timestamp_ms` — the newest snapshot at or before the instant,
    resolved over the snapshot-log;
    position AND equality deletes applied by default via Spark's
    `_metadata` row-index / null-safe-equality anti-joins).
    `with_lineage=True` keeps `__ice_fp` (root-relative source file)
    and `__ice_pos` (row index) — the coordinates position-delete
    commits key on. `apply_equality_deletes=False` skips content=2
    files only (the converter's pre-fold view).

    `bounds_filter={col: (lo, hi)}` (either end None = open) prunes
    data files by the manifest's spec lower/upper bounds BEFORE
    listing: a file is skipped only when its bounds prove no row can
    satisfy `lo <= col <= hi`; files without bounds for a column are
    kept (pruning is metadata-only and never a residual filter — the
    returned frame still needs the row-level predicate).

    `predicate_filter={source_col: v | (lo, hi)}` is the spec's
    INCLUSIVE PROJECTION (§Scan Planning): a predicate on the SOURCE
    column prunes partition tuples through the spec's transforms —
    `o_orderkey = 42` scans 1/N of a `bucket(N, o_orderkey)` layout,
    a timestamp range prunes day/month partitions, etc. Equality
    projects through every transform; ranges only through
    order-preserving ones. Metadata-only like `bounds_filter`: never a
    residual row filter, and a file whose tuple lacks the projected
    field (older spec) is kept.

    `metadata=` reads with CATALOG-RESOLVED table metadata (REST/service
    catalogs deliver it in their LoadTableResult) instead of the
    version-hint file under `root`.

    `with_row_lineage=True` (r14, v3) surfaces the spec's row-lineage
    columns: `_row_id` = the file's `first_row_id` + row position
    (null when the file predates lineage — the spec's unassigned
    state) and `_last_updated_sequence_number` = the file's data
    sequence number (the inherited value for rows the file itself
    wrote)."""
    tbl = IcebergTable(root, metadata=metadata)
    meta = tbl.metadata()
    if ref is not None:
        # spec refs: named branches/tags in metadata `refs` — time
        # travel by name (r14)
        if snapshot_id is not None or as_of_timestamp_ms is not None:
            raise ValueError(
                "pass ref OR snapshot_id/as_of_timestamp_ms, not both"
            )
        refs = meta.get("refs") or {}
        if ref not in refs:
            raise ValueError(
                f"unknown iceberg ref {ref!r} (table has {sorted(refs)})"
            )
        snapshot_id = refs[ref]["snapshot-id"]
    if as_of_timestamp_ms is not None:
        if snapshot_id is not None:
            raise ValueError(
                "pass snapshot_id OR as_of_timestamp_ms, not both"
            )
        snapshot_id = tbl.snapshot_id_at(as_of_timestamp_ms)
    full_schema = spark_schema_for(current_schema(meta))
    # only IDENTITY spec fields name real schema columns (omitted from
    # data files and reconstructed from manifest metadata); transform
    # fields (bucket/truncate/temporal) live only in partition tuples
    part_cols = [
        pf["name"]
        for pf in current_spec_fields(meta)
        if pf.get("transform", "identity") == "identity"
    ]
    data_schema = T.StructType(
        [f for f in full_schema.fields if f.name not in part_cols]
    )
    data, deletes = tbl.live_files(snapshot_id)

    if partition_filter is not None:
        if isinstance(partition_filter, dict):
            want = partition_filter

            def _keep(pv: dict) -> bool:
                return all(pv.get(k) == v for k, v in want.items())

        else:
            _keep = partition_filter
        data = [f for f in data if _keep(f.get("partition") or {})]

    if predicate_filter:
        conds = project_predicates(meta, predicate_filter)

        def _proj_keep(f: dict) -> bool:
            pv = f.get("partition") or {}
            for name, lo, hi in conds:
                if name not in pv or pv[name] is None:
                    continue  # absent/null tuple value → never wrong-prune
                v = pv[name]
                try:
                    if lo is not None and v < lo:
                        return False
                    if hi is not None and v > hi:
                        return False
                except TypeError:
                    continue  # incomparable (legacy string tuple) → keep
            return True

        data = [f for f in data if _proj_keep(f)]

    if bounds_filter:
        ice_schema = current_schema(meta)
        fin = _field_info(ice_schema)
        # normalize predicate values into bound space (temporals
        # compare as micros/days in the spec binary form)
        def _norm(t: str, v: Any) -> Any:
            if v is None:
                return None
            if t in ("timestamp", "timestamptz", "time") and isinstance(
                v, datetime.datetime
            ):
                b = serialize_single_value(t, v)
                return deserialize_single_value(t, b)
            return v

        def _survives(f: dict) -> bool:
            b = parse_bounds(f, ice_schema)
            for col, (lo, hi) in bounds_filter.items():
                fb = b.get(col)
                if fb is None:
                    continue  # no bounds → cannot prune
                fmin, fmax = fb
                t = fin.get(col, (None, "string"))[1]
                lo_n, hi_n = _norm(t, lo), _norm(t, hi)
                try:
                    if lo_n is not None and fmax is not None and fmax < lo_n:
                        return False
                    if hi_n is not None and fmin is not None and fmin > hi_n:
                        return False
                except TypeError:
                    # legacy string-map bounds vs a typed predicate:
                    # incomparable → keep the file (never wrong-prune)
                    continue
            return True

        data = [f for f in data if _survives(f)]

    if not data:
        empty = local_df(spark, [], full_schema)
        if with_row_lineage:
            empty = empty.withColumn(
                "_row_id", F.lit(None).cast("long")
            ).withColumn(
                "_last_updated_sequence_number", F.lit(None).cast("long")
            )
        if with_lineage:
            empty = empty.withColumn(
                "__ice_fp", F.lit(None).cast("string")
            ).withColumn("__ice_pos", F.lit(None).cast("long"))
        return empty
    paths = [_abs_data_path(root, f["file_path"]) for f in data]
    aliases = _name_mapping_aliases(meta)
    data_names = {f.name for f in data_schema.fields}
    if any(aliases.get(n, [n]) != [n] for n in data_names):
        # name-mapping fallback: scan with EVERY alias as a nullable
        # column (Spark returns null for columns a file lacks — one
        # scan handles per-file name variance: imported files use
        # their original names, later files the current names), then
        # coalesce aliases into the current name. Ambiguity refuses.
        read_fields: list[T.StructField] = []
        seen: dict[str, str] = {}
        for f in data_schema.fields:
            for a in aliases.get(f.name, [f.name]):
                if a in seen and seen[a] != f.name:
                    raise ValueError(
                        f"name-mapping alias {a!r} is claimed by both "
                        f"{seen[a]!r} and {f.name!r}"
                    )
                if a not in seen:
                    seen[a] = f.name
                    read_fields.append(T.StructField(a, f.dataType, True))
        df = spark.read.schema(T.StructType(read_fields)).parquet(*paths)
        for f in data_schema.fields:
            al = aliases.get(f.name, [f.name])
            if al != [f.name]:
                df = df.withColumn(
                    f.name, F.coalesce(*[F.col(a) for a in al])
                ).drop(*[a for a in al if a != f.name])
    else:
        df = spark.read.schema(data_schema).parquet(*paths)
    # lineage columns from Spark's metadata struct, normalized to
    # table-root-relative paths (manifests store relative paths so the
    # table stays relocatable — documented deviation from the spec's
    # absolute URIs)
    rel = F.replace(
        F.regexp_replace(F.col("_metadata.file_path"), "^file:/*", "/"),
        F.lit(root.rstrip("/") + "/"),
        F.lit(""),
    )
    df = df.withColumn("__ice_fp", rel).withColumn(
        "__ice_pos", F.col("_metadata.row_index")
    )

    # v3 DEFAULT VALUES: a field's `initial-default` is the value of
    # rows in data files written BEFORE the field existed — applied per
    # file (footer presence check), never to explicit nulls in files
    # that carry the column. One broadcast file→has-column map; zero
    # cost when every file has every column.
    data_names = {f.name for f in data_schema.fields}
    defaulted = [
        fd
        for fd in current_schema(meta).get("fields", [])
        if fd.get("initial-default") is not None
        and fd["name"] in data_names
    ]
    if defaulted:
        import pyarrow.parquet as pq

        flag_rows = []
        any_missing = False
        for f in data:
            names = set(
                pq.read_schema(
                    _abs_data_path(root, f["file_path"])
                ).names
            )
            # a column present under a name-mapping alias counts
            flags = tuple(
                any(
                    a in names
                    for a in aliases.get(fd["name"], [fd["name"]])
                )
                for fd in defaulted
            )
            any_missing = any_missing or not all(flags)
            flag_rows.append(
                (_rel_data_path(root, f["file_path"]),) + flags
            )
        if any_missing:
            fmap = local_df(spark,
                flag_rows,
                "__ice_fp string, "
                + ", ".join(
                    f"__has_{i} boolean" for i in range(len(defaulted))
                ),
            )
            df = df.join(F.broadcast(fmap), "__ice_fp", "left")
            spark_types = {
                x.name: x.dataType for x in data_schema.fields
            }
            for i, fd in enumerate(defaulted):
                dv = parse_single_value_json(
                    fd["type"], fd["initial-default"]
                )
                df = df.withColumn(
                    fd["name"],
                    F.when(
                        F.coalesce(F.col(f"__has_{i}"), F.lit(True)),
                        F.col(fd["name"]),
                    ).otherwise(
                        F.lit(dv).cast(spark_types[fd["name"]])
                    ),
                ).drop(f"__has_{i}")

    eq_deletes = [d for d in deletes if d.get("content") == 2]
    non_eq = [d for d in deletes if d.get("content") != 2]
    # v3 DELETION VECTORS: puffin blobs addressed by content_offset /
    # content_size_in_bytes, scoped to one referenced data file each
    dv_deletes = [
        d
        for d in non_eq
        if (d.get("file_format") or "").upper() == "PUFFIN"
        or d.get("content_offset") is not None
    ]
    pos_deletes = [d for d in non_eq if d not in dv_deletes]
    data_seq = {
        _rel_data_path(root, f["file_path"]): int(f.get("__seq") or 0)
        for f in data
    }
    max_data_seq = max(data_seq.values(), default=0)

    if apply_deletes and pos_deletes:
        # spec scoping: a position delete at sequence S applies only to
        # data files with data_seq <= S. Read each delete file tagged
        # with its seq, map data rows to their file's seq via a
        # broadcast fp→seq map, and anti-join only in-scope pairs.
        # A delete with seq 0/absent (a manifest with no seq info)
        # applies GLOBALLY on both paths (`_seq_or_global`).
        if all(
            _seq_or_global(d) >= max_data_seq for d in pos_deletes
        ):
            # fast path (all deletes at/after every data file — the
            # common append-then-delete history): plain anti-join
            dpaths = [
                _abs_data_path(root, f["file_path"]) for f in pos_deletes
            ]
            pos_df = spark.read.parquet(*dpaths).select(
                _rel_fp_col(root, F.col("file_path")).alias("__ice_fp"),
                F.col("pos").alias("__ice_pos"),
            )
            df = df.join(pos_df, ["__ice_fp", "__ice_pos"], "left_anti")
        else:
            # ONE scan of all delete files; each row learns its delete
            # file's sequence via a broadcast basename→seq map (file
            # basenames are uuid-stamped, hence unique) — the plan
            # stays O(1) in the number of delete files
            dmap_rows = [
                (
                    os.path.basename(_abs_data_path(root, d["file_path"])),
                    _seq_or_global(d),
                )
                for d in pos_deletes
            ]
            dmap = local_df(spark,
                dmap_rows, "__dfname string, __del_seq long"
            )
            pos_df = (
                spark.read.parquet(
                    *[
                        _abs_data_path(root, d["file_path"])
                        for d in pos_deletes
                    ]
                )
                .withColumn(
                    "__dfname",
                    F.element_at(F.split(F.input_file_name(), "/"), -1),
                )
                .join(F.broadcast(dmap), "__dfname")
                .select(
                    _rel_fp_col(root, F.col("file_path")).alias(
                        "__ice_fp"
                    ),
                    F.col("pos").alias("__ice_pos"),
                    "__del_seq",
                )
            )
            seq_rows = [(k, v) for k, v in data_seq.items()]
            seq_map = local_df(spark,
                seq_rows, "__ice_fp string, __data_seq long"
            )
            pos_df = (
                pos_df.join(F.broadcast(seq_map), "__ice_fp", "inner")
                .where(F.col("__del_seq") >= F.col("__data_seq"))
                .select("__ice_fp", "__ice_pos")
            )
            df = df.join(pos_df, ["__ice_fp", "__ice_pos"], "left_anti")

    if apply_deletes and dv_deletes:
        # decode each DV blob ON EXECUTORS (one descriptor row per
        # referenced file, Arrow-batched mapInPandas — the Delta DV
        # pattern) and anti-join on (file, row index). A DV's file
        # scoping is its referenced_data_file; uuid-stamped data names
        # make the path equality exact.
        desc_rows = [
            (
                _abs_data_path(root, d["file_path"]),
                int(d["content_offset"]),
                int(d["content_size_in_bytes"]),
                _rel_data_path(root, d["referenced_data_file"]),
            )
            for d in dv_deletes
            if d.get("referenced_data_file")
        ]
        if len(desc_rows) != len(dv_deletes):
            raise ValueError(
                "puffin delete entry without referenced_data_file — "
                "footer-scanned DVs are not supported; the manifest "
                "entry must carry fields 143-145"
            )
        desc_df = local_df(spark,
            desc_rows,
            "__puffin string, __off long, __size long, __ice_fp string",
        ).repartition(min(len(desc_rows), 32))

        def _dv_gen(batches):
            import pandas as pd

            from deltacat_spark.sources import puffin as _puffin

            for pdf in batches:
                for pp, off, size, fp in zip(
                    pdf["__puffin"], pdf["__off"], pdf["__size"],
                    pdf["__ice_fp"],
                ):
                    poss = _puffin.dv_positions(pp, int(off), int(size))
                    if poss:
                        yield pd.DataFrame(
                            {"__ice_fp": [fp] * len(poss),
                             "__ice_pos": poss}
                        )

        dv_df = desc_df.mapInPandas(
            _dv_gen, "__ice_fp string, __ice_pos long"
        )
        df = df.join(dv_df, ["__ice_fp", "__ice_pos"], "left_anti")

    if part_cols:
        # reconstruct identity partition columns from manifest metadata
        # (file → value map is manifest-sized, broadcastable)
        rows = [
            (_rel_data_path(root, f["file_path"]),)
            + tuple((f.get("partition") or {}).get(c) for c in part_cols)
            for f in data
        ]
        map_schema = T.StructType(
            [T.StructField("__ice_fp", T.StringType())]
            + [
                T.StructField(
                    f.name + "__part", T.StringType(), True
                )
                for f in full_schema.fields
                if f.name in part_cols
            ]
        )
        pmap = local_df(spark,
            [tuple(str(v) if v is not None else None for v in r) for r in rows],
            map_schema,
        )
        df = df.join(F.broadcast(pmap), "__ice_fp", "left")
        for f in full_schema.fields:
            if f.name in part_cols:
                df = df.withColumn(
                    f.name, F.col(f.name + "__part").cast(f.dataType)
                ).drop(f.name + "__part")

    # equality deletes apply AFTER partition-column reconstruction so
    # their equality_ids may reference partition columns too
    if apply_deletes and apply_equality_deletes and eq_deletes:
        df = _apply_equality_deletes(
            spark, root, df, eq_deletes, data_seq, max_data_seq,
            current_schema(meta), full_schema,
            how="left_anti",
        )

    if with_row_lineage:
        lin_rows = [
            (
                _rel_data_path(root, f["file_path"]),
                f.get("first_row_id"),
                int(f.get("__seq") or 0),
            )
            for f in data
        ]
        lmap = local_df(spark,
            lin_rows,
            "__ice_fp string, __first_row_id long, "
            "_last_updated_sequence_number long",
        )
        df = df.join(F.broadcast(lmap), "__ice_fp", "left").withColumn(
            "_row_id", F.col("__first_row_id") + F.col("__ice_pos")
        ).drop("__first_row_id")

    keep = [f.name for f in full_schema.fields]
    if with_row_lineage:
        keep = keep + ["_row_id", "_last_updated_sequence_number"]
    if with_lineage:
        keep = keep + ["__ice_fp", "__ice_pos"]
    return df.select(*keep)


def read_iceberg_incremental(
    spark: SparkSession,
    root: str,
    from_sequence: int,
    to_sequence: int | None = None,
    on_non_append: str = "fail",
) -> DataFrame:
    """Batch incremental read — exactly the rows APPENDED by snapshots
    with `from_sequence < seq <= to_sequence` (the batch twin of the
    streaming source: scan only manifest entries newly ADDED by an
    append snapshot in the window; EXISTING entries carried forward by
    later manifest lists never re-deliver). Non-append snapshots in the
    window (replace/overwrite/delete) carry no new rows and cannot be
    represented as appends: `on_non_append` 'fail' raises, 'skip'
    ignores them. Stamps `_snapshot_id`."""
    if on_non_append not in ("fail", "skip"):
        raise ValueError(f"on_non_append must be fail|skip, got {on_non_append!r}")
    tbl = IcebergTable(root)
    meta = tbl.metadata()
    if meta.get("format-version", 2) not in (2, 3):
        # v3 keeps the v2 sequence-number model (r14) — DV commits in
        # the window surface as non-append snapshots (fail/skip policy)
        raise NotImplementedError(
            "incremental reads need v2/v3 sequence numbers; this table "
            f"is format-version {meta.get('format-version')}"
        )
    full_schema = spark_schema_for(current_schema(meta))
    part_cols = [
        pf["name"]
        for pf in current_spec_fields(meta)
        if pf.get("transform", "identity") == "identity"
    ]
    data_schema = T.StructType(
        [f for f in full_schema.fields if f.name not in part_cols]
    )
    files: list[tuple[str, dict, int]] = []
    for snap in sorted(
        meta.get("snapshots", []), key=lambda s: s["sequence-number"]
    ):
        seq = snap["sequence-number"]
        if not (
            from_sequence < seq
            and (to_sequence is None or seq <= to_sequence)
        ):
            continue
        op = snap.get("summary", {}).get("operation")
        if op != "append":
            if on_non_append == "skip":
                continue
            raise ValueError(
                f"iceberg snapshot {snap['snapshot-id']} is {op!r}, not "
                "an append; incremental appends cannot represent "
                "rewrites/deletes — use on_non_append='skip' or a batch "
                "read_iceberg"
            )
        sid = snap["snapshot-id"]
        for mf in tbl.manifests(snap):
            if mf.get("content") == 1:
                continue
            for e in tbl.manifest_entries(mf["manifest_path"]):
                if e["status"] != 1 or e.get("snapshot_id") != sid:
                    continue
                d = e["data_file"]
                files.append(
                    (
                        _rel_data_path(root, d["file_path"]),
                        d.get("partition") or {},
                        sid,
                    )
                )
    if not files:
        return (
            local_df(spark, [], full_schema)
            .withColumn("_snapshot_id", F.lit(None).cast("long"))
        )
    df = spark.read.schema(data_schema).parquet(
        *[_abs_data_path(root, fp) for fp, _, _ in files]
    )
    rel = F.replace(
        F.regexp_replace(F.col("_metadata.file_path"), "^file:/*", "/"),
        F.lit(root.rstrip("/") + "/"),
        F.lit(""),
    )
    df = df.withColumn("__ice_fp", rel)
    map_schema = T.StructType(
        [T.StructField("__ice_fp", T.StringType())]
        + [
            T.StructField(c + "__part", T.StringType(), True)
            for c in part_cols
        ]
        + [T.StructField("_snapshot_id", T.LongType())]
    )
    pmap = local_df(spark,
        [
            (fp,)
            + tuple(
                str(pv.get(c)) if pv.get(c) is not None else None
                for c in part_cols
            )
            + (sid,)
            for fp, pv, sid in files
        ],
        map_schema,
    )
    df = df.join(F.broadcast(pmap), "__ice_fp")
    for f in full_schema.fields:
        if f.name in part_cols:
            df = df.withColumn(
                f.name, F.col(f.name + "__part").cast(f.dataType)
            ).drop(f.name + "__part")
    return df.select(
        *[f.name for f in full_schema.fields], "_snapshot_id"
    )


def iceberg_history(root: str) -> list[dict]:
    meta = IcebergTable(root).metadata()
    return [
        {
            "snapshot_id": s["snapshot-id"],
            "sequence_number": s.get("sequence-number"),
            "timestamp_ms": s["timestamp-ms"],
            "operation": s.get("summary", {}).get("operation"),
        }
        for s in meta.get("snapshots", [])
    ]


# ---------------------------------------------------------------------------
# write
# ---------------------------------------------------------------------------


def write_iceberg(
    df: DataFrame,
    root: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    max_records_per_file: int = 5_000_000,
    summary_extra: dict | None = None,
) -> int:
    """DataFrame → Iceberg v2 table; returns the new snapshot id.

    `summary_extra` lands in the snapshot's summary string map — the
    spec's carrier for engine properties; the streaming sink stamps its
    batch id there (`latest_summary_value` reads it back).

    append: new data manifest + carry prior manifests forward in the
    new manifest list. overwrite: manifest list holds only the new
    manifest (prior files age out of the current snapshot but remain
    reachable via time travel).

    `partition_by` terms are identity column names or spec TRANSFORMS:
    `bucket(N, col)` (spec murmur3, Appendix B — numpy-vectorized for
    numeric/temporal sources), `truncate(W, col)`, `year(col)` /
    `month(col)` / `day(col)` / `hour(col)` (epoch ordinals). Identity
    source columns are omitted from data files (reconstructed from
    manifest metadata on read — the migrated-hive convention);
    transform SOURCE columns stay in the data, and the transform
    values ride only in the partition tuple — exactly what external
    readers prune on.
    """
    if mode not in ("append", "overwrite", "replace"):
        raise ValueError(
            f"mode must be append|overwrite|replace, got {mode!r}"
        )
    # "replace" = overwrite layout with a reorganization label (used by
    # rewrite_data_files — readers/streams treat it as carrying no new
    # rows)
    if mode == "replace":
        mode_layout = "overwrite"
    else:
        mode_layout = mode
    tbl = IcebergTable(root)
    os.makedirs(tbl._meta_dir(), exist_ok=True)
    os.makedirs(os.path.join(root, DATA_DIR), exist_ok=True)

    existed = tbl.exists()
    prev_meta = tbl.metadata() if existed else None
    if existed and prev_meta.get("format-version", 2) not in (2, 3):
        raise NotImplementedError(
            "writes need a v2/v3 table; this table is format-version "
            f"{prev_meta.get('format-version')}"
        )
    v3 = bool(existed and prev_meta.get("format-version", 2) == 3)
    if v3 and mode == "replace":
        # a replace snapshot repackages EXISTING rows, whose v3 row ids
        # must be preserved (carried in-file) — this writer assigns
        # fresh ids only, so compaction on v3 would corrupt lineage
        raise NotImplementedError(
            "rewrite/replace on a v3 table is not supported (row-id "
            "preservation through compaction is not implemented); "
            "compact before upgrading to v3"
        )
    # field ids/types first: transforms need their source's ice type
    ice_schema = (
        current_schema(prev_meta)
        if existed
        else iceberg_schema_for(df.schema)
    )
    finfo = _field_info(ice_schema)
    if existed:
        specs = _specs_from_meta(prev_meta, ice_schema)
        if partition_by is not None:
            want = [
                (p["name"], p["transform"])
                for p in map(parse_partition_term, partition_by)
            ]
            have = [(sp["name"], sp["transform"]) for sp in specs]
            if want != have:
                raise ValueError(
                    f"partition terms {want} != table's {have}"
                )
    else:
        specs = [parse_partition_term(t) for t in (partition_by or [])]
    part_cols = [sp["name"] for sp in specs]
    missing = [
        sp["source"] for sp in specs if sp["source"] not in df.columns
    ]
    if missing:
        raise ValueError(f"partition columns absent from frame: {missing}")

    # ---- data files (fanout partitionBy: every file single-valued) ----
    commit_uuid = uuid.uuid4().hex[:12]
    out = df
    _assert_utc_for_temporal_transforms(df.sparkSession, specs, finfo)
    for sp in specs:
        if sp["transform"] != "identity":
            if sp["source"] not in finfo:
                raise ValueError(
                    f"transform source {sp['source']!r} is not a "
                    "top-level primitive column"
                )
            out = out.withColumn(
                sp["name"], _transform_column(sp, finfo[sp["source"]][1])
            )
    if part_cols:
        out = cluster_for_write(out, part_cols)

    spark_types = {f.name: f.dataType.typeName() for f in df.schema.fields}

    def _part_avro_type(sp: dict) -> str:
        tr = sp["transform"]
        if tr == "identity":
            return _SPARK_TO_PART_AVRO.get(
                spark_types.get(sp["source"], "string"), "string"
            )
        if tr.startswith("bucket[") or tr in (
            "year", "month", "day", "hour",
        ):
            return "int"
        if tr.startswith("truncate["):
            ice_t = finfo.get(sp["source"], (0, "string"))[1]
            return {"int": "int", "long": "long"}.get(ice_t, "string")
        return "string"

    part_types = {sp["name"]: _part_avro_type(sp) for sp in specs}
    partition_fields = [
        {
            "name": sp["name"],
            "avro_type": part_types[sp["name"]],
            "source": sp["source"],
            "transform": sp["transform"],
        }
        for sp in specs
    ]

    entries = []
    now_ms = int(time.time() * 1000)
    snapshot_id = int.from_bytes(os.urandom(7), "big")
    seq = (prev_meta["last-sequence-number"] + 1) if existed else 1
    with staging_dir(
        os.path.join(root, DATA_DIR, f".staging-{commit_uuid}")
    ) as staging:
        staged = stage_write(out, staging, part_cols, max_records_per_file)
        for idx, sf in enumerate(staged):
            rel = f"{DATA_DIR}/{commit_uuid}-{idx:05d}.parquet"
            os.replace(sf.path, os.path.join(root, rel))
            lo, hi = _file_bounds_spec(sf.metadata, finfo)
            data_file = {
                "content": 0,
                "file_path": rel,
                "file_format": "PARQUET",
                "partition": _typed_partition(
                    sf.nullable_partition_values(), part_cols, part_types
                ),
                "record_count": sf.metadata.num_rows,
                "file_size_in_bytes": sf.size,
                "lower_bounds": lo,
                "upper_bounds": hi,
            }
            entries.append(
                {
                    "status": 1,  # ADDED
                    "snapshot_id": snapshot_id,
                    "sequence_number": seq,
                    "file_sequence_number": seq,
                    "data_file": data_file,
                }
            )

    # v3 ROW LINEAGE (r14): every new data file gets an explicit
    # first_row_id block carved out of the table's next-row-id counter
    # — `_row_id` then reads as first_row_id + row position
    first_row_base = None
    if v3:
        first_row_base = int(prev_meta.get("next-row-id", 0))
        running = first_row_base
        for e in entries:
            e["data_file"].update(
                {
                    "first_row_id": running,
                    "referenced_data_file": None,
                    "content_offset": None,
                    "content_size_in_bytes": None,
                }
            )
            running += e["data_file"]["record_count"]

    # ---- manifest ----
    entry_schema = _manifest_entry_schema(partition_fields, v3=v3)
    manifest_rel = f"{METADATA_DIR}/{commit_uuid}-m0.avro"
    manifest_path = os.path.join(root, manifest_rel)
    avrofile.write_container(manifest_path, entry_schema, entries)
    added_rows = sum(e["data_file"]["record_count"] for e in entries)
    new_manifest = {
        "manifest_path": manifest_rel,
        "manifest_length": os.path.getsize(manifest_path),
        # writes validate against (and use) the table's DEFAULT spec,
        # so stamp its id — spec evolution can leave default != 0
        "partition_spec_id": (
            prev_meta.get("default-spec-id", 0) if existed else 0
        ),
        "content": 0,
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snapshot_id,
        "added_files_count": len(entries),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": added_rows,
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }
    manifests = [new_manifest]
    if mode_layout == "append" and existed and prev_meta.get("current-snapshot-id") is not None:
        prev_snap = tbl.snapshot(prev_meta)
        manifests.extend(tbl.manifests(prev_snap))

    return _commit_snapshot(
        tbl,
        prev_meta,
        manifests,
        snapshot_id,
        seq,
        now_ms,
        operation=mode,
        schema=df.schema,
        partition_fields=partition_fields,
        commit_uuid=commit_uuid,
        summary_extra=summary_extra,
        row_lineage=(
            (first_row_base, added_rows)
            if first_row_base is not None
            else None
        ),
    )


def latest_summary_value(root: str, key: str) -> str | None:
    """Newest value of `key` across snapshot summaries (newest-first by
    sequence number) — the Iceberg streaming sink's replay-detection
    read."""
    tbl = IcebergTable(root)
    if not tbl.exists():
        return None
    snaps = sorted(
        tbl.metadata().get("snapshots", []),
        key=lambda s: s["sequence-number"],
        reverse=True,
    )
    for s in snaps:
        v = (s.get("summary") or {}).get(key)
        if v is not None:
            return v
    return None


def rewrite_data_files(spark: SparkSession, root: str) -> int:
    """Compaction — Iceberg's rewrite-data-files maintenance: the
    resolved current state (position deletes APPLIED and folded away)
    is rewritten one file per partition and committed as a `replace`
    snapshot. Prior snapshots stay time-travelable; the append stream
    treats `replace` as a non-append (no rows re-delivered). Returns
    the new snapshot id."""
    df = read_iceberg(spark, root)  # applies position deletes
    return write_iceberg(df, root, mode="replace")


def _snapshot_refs(tbl: IcebergTable, snapshots: list[dict]) -> set[str]:
    """Root-relative paths referenced by the given snapshots: manifest
    lists, manifest files, and every entry's data/delete file (ANY
    status — a DELETED entry still names the file so an older retained
    snapshot that reads it is never broken)."""
    out: set[str] = set()
    for s in snapshots:
        out.add(_rel_data_path(tbl.root, s["manifest-list"]))
        for mf in tbl.manifests(s):
            out.add(_rel_data_path(tbl.root, mf["manifest_path"]))
            for e in tbl.manifest_entries(mf["manifest_path"]):
                out.add(
                    _rel_data_path(tbl.root, e["data_file"]["file_path"])
                )
    return out


def upgrade_iceberg_v1_to_v2(root: str) -> int:
    """Spec table-format upgrade — the path Iceberg itself takes before
    writing v2 features to a legacy table (and the supported way to
    WRITE to the v1 tables this module otherwise refuses): a pure
    metadata transformation. Existing v1 manifests stay on disk and
    read at sequence number 0 under v2 rules (spec: files in tables
    upgraded to v2 inherit sequence 0); snapshots gain
    `sequence-number` 0; the legacy single `schema` / flat
    `partition-spec` keys become the id-selected `schemas` /
    `partition-specs`. After upgrade every v2 surface works: appends,
    equality/position deletes, incremental reads, streaming. Returns
    the new metadata version; no-op on already-v2 tables."""
    tbl = IcebergTable(root)
    meta = tbl.metadata()
    fv = meta.get("format-version", 2)
    if fv == 2:
        return tbl.loaded_version or tbl.current_version()
    if fv != 1:
        raise NotImplementedError(
            f"cannot upgrade format-version {fv} (v1 → v2 only)"
        )
    new = dict(meta)
    new["format-version"] = 2
    if "schemas" not in new:
        sch = dict(meta["schema"])
        sch.setdefault("schema-id", 0)
        new["schemas"] = [sch]
        new["current-schema-id"] = sch["schema-id"]
    new.pop("schema", None)
    if "partition-specs" not in new:
        fields = meta.get("partition-spec") or []
        new["partition-specs"] = [{"spec-id": 0, "fields": fields}]
        new["default-spec-id"] = 0
    new.pop("partition-spec", None)
    if "last-partition-id" not in new:
        pids = [
            f.get("field-id", 999)
            for s in new["partition-specs"]
            for f in (s.get("fields") or [])
        ]
        new["last-partition-id"] = max(pids, default=999)
    new.setdefault("sort-orders", [{"order-id": 0, "fields": []}])
    new.setdefault("default-sort-order-id", 0)
    new.setdefault("last-sequence-number", 0)
    new["snapshots"] = [
        dict(s, **{"sequence-number": s.get("sequence-number", 0)})
        for s in meta.get("snapshots", [])
    ]
    new.setdefault("metadata-log", [])
    return _commit_metadata(tbl, new)


def upgrade_iceberg_v2_to_v3(root: str) -> int:
    """Spec v2 → v3 upgrade, metadata-only (r14 — the read-first slice
    of format-version 3): stamps `format-version: 3` and the
    row-lineage accounting field `next-row-id` (0 for an upgraded
    table; existing files have no `first_row_id`, so their row ids
    surface as null until an engine assigns them — the spec's lazy
    assignment). Existing manifests/snapshots read unchanged; after
    the upgrade `commit_deletion_vectors` can land puffin DVs. Returns
    the new metadata version; no-op on already-v3 tables."""
    tbl = IcebergTable(root)
    meta = tbl.metadata()
    fv = meta.get("format-version", 2)
    if fv == 3:
        return tbl.loaded_version or tbl.current_version()
    if fv != 2:
        raise NotImplementedError(
            f"cannot upgrade format-version {fv} (v2 -> v3 only; "
            "run upgrade_iceberg_v1_to_v2 first)"
        )
    new = dict(meta)
    new["format-version"] = 3
    new.setdefault("next-row-id", 0)
    return _commit_metadata(tbl, new)


def delete_where_dv(
    spark: SparkSession, root: str, predicate: str
) -> "int | None":
    """Predicate-driven v3 DELETE via deletion vectors (r14) — the
    merge-on-read delete an external v3 engine performs: ONE
    distributed lineage scan finds matching (file, row-index)
    coordinates (existing DVs/deletes already applied, so re-deleting
    is naturally idempotent). Each touched file's positions are folded
    with its existing DV and serialized into a roaring64 bitmap ON
    EXECUTORS (applyInPandas keyed by file path); the driver collects
    only (path, bitmap_bytes, cardinality) — O(touched files), never
    O(matched rows), so a broad predicate at any scale stays
    driver-safe. Returns the snapshot id, or None when nothing
    matched."""
    tbl = IcebergTable(root)
    # file → existing live-DV coordinates, shipped into the executor
    # groups so the spec's replacement rule (new DV ⊇ old DV) is folded
    # where the rows are
    _, live_deletes = tbl.live_files()
    desc_rows = [
        (
            d["referenced_data_file"],
            _abs_data_path(root, d["file_path"]),
            int(d["content_offset"]),
            int(d["content_size_in_bytes"]),
        )
        for d in live_deletes
        if (d.get("file_format") or "").upper() == "PUFFIN"
        and d.get("referenced_data_file")
        and d.get("content_offset") is not None
    ]
    matched = (
        read_iceberg(spark, root, with_lineage=True)
        .filter(F.expr(predicate))
        .select("__ice_fp", "__ice_pos")
    )
    if desc_rows:
        dmap = local_df(spark,
            desc_rows,
            "__ice_fp string, __puffin string, __off long, __size long",
        )
        matched = matched.join(F.broadcast(dmap), "__ice_fp", "left")
    else:
        matched = (
            matched.withColumn("__puffin", F.lit(None).cast("string"))
            .withColumn("__off", F.lit(None).cast("long"))
            .withColumn("__size", F.lit(None).cast("long"))
        )

    def _fold_group(pdf):
        import pandas as pd

        from deltacat_spark.sources import puffin as _puffin
        from deltacat_spark.sources.deltadv import roaring64_serialize

        fp = pdf["__ice_fp"].iloc[0]
        poss = {int(x) for x in pdf["__ice_pos"]}
        pp = pdf["__puffin"].iloc[0]
        if pp is not None and isinstance(pp, str):
            poss.update(
                _puffin.dv_positions(
                    pp,
                    int(pdf["__off"].iloc[0]),
                    int(pdf["__size"].iloc[0]),
                )
            )
        return pd.DataFrame(
            {
                "fp": [fp],
                "bm": [roaring64_serialize(sorted(poss))],
                "card": [len(poss)],
            }
        )

    folded = (
        matched.groupBy("__ice_fp")
        .applyInPandas(_fold_group, "fp string, bm binary, card long")
        .collect()
    )
    if not folded:
        return None
    return commit_deletion_vectors(
        root,
        bitmaps_by_file={
            r["fp"]: (bytes(r["bm"]), int(r["card"])) for r in folded
        },
    )


def commit_deletion_vectors(
    root: str,
    positions_by_file: "dict[str, list[int]] | None" = None,
    bitmaps_by_file: "dict[str, tuple[bytes, int]] | None" = None,
) -> int:
    """Commit puffin DELETION VECTORS — the v3 replacement for
    position-delete parquet: one puffin file holding one
    `deletion-vector-v1` blob per referenced data file, registered in
    a content=1 manifest whose entries carry `referenced_data_file` /
    `content_offset` / `content_size_in_bytes` (data_file fields
    143-145), so readers seek straight to the blob without touching
    the puffin footer. `positions_by_file` maps table-root-relative
    data paths to deleted row positions. Spec rule honored (r14,
    strengthened): a data file has AT MOST ONE live DV — the new blob
    MERGES the file's existing DV positions, and carried-forward
    delete manifests are rewritten WITHOUT the superseded puffin
    entries (other files' DVs carry forward untouched).

    `bitmaps_by_file` (r15, the scale path) maps data paths to
    (serialized roaring64 bitmap, cardinality) ALREADY folded with the
    file's existing DV — `delete_where_dv` aggregates these on
    executors so the driver never materializes positions. Pass exactly
    one of the two.

    Returns the new snapshot id. Needs a v3 table
    (`upgrade_iceberg_v2_to_v3`)."""
    from deltacat_spark.sources import puffin

    if (positions_by_file is None) == (bitmaps_by_file is None):
        raise ValueError(
            "pass exactly one of positions_by_file / bitmaps_by_file"
        )
    tbl = IcebergTable(root)
    meta = tbl.metadata()
    if meta.get("format-version", 2) != 3:
        raise NotImplementedError(
            "deletion vectors are an Iceberg v3 feature; this table is "
            f"format-version {meta.get('format-version')} — run "
            "upgrade_iceberg_v2_to_v3 first"
        )
    if not (positions_by_file or bitmaps_by_file):
        raise ValueError("positions_by_file is empty")
    card_by_file: dict[str, int] = {}
    blob_by_file: dict[str, bytes] = {}
    if positions_by_file is not None:
        # fold the targeted files' EXISTING DVs into the new blobs (the
        # spec's replacement rule: the new DV must contain every
        # previously-deleted position of its file)
        positions_by_file = {
            rel: set(poss) for rel, poss in positions_by_file.items()
        }
        _, live_deletes = tbl.live_files()
        for d in live_deletes:
            ref = d.get("referenced_data_file")
            if (
                (d.get("file_format") or "").upper() == "PUFFIN"
                and ref in positions_by_file
                and d.get("content_offset") is not None
            ):
                positions_by_file[ref].update(
                    puffin.dv_positions(
                        _abs_data_path(root, d["file_path"]),
                        int(d["content_offset"]),
                        int(d["content_size_in_bytes"]),
                    )
                )
        for rel, poss in positions_by_file.items():
            card_by_file[rel] = len(set(poss))
            blob_by_file[rel] = puffin.dv_blob_encode(sorted(set(poss)))
    else:
        for rel, (bm, card) in bitmaps_by_file.items():
            card_by_file[rel] = int(card)
            blob_by_file[rel] = puffin.dv_blob_encode_serialized(bm)
    commit_uuid = uuid.uuid4().hex[:12]
    snapshot_id = int.from_bytes(os.urandom(7), "big")
    seq = meta["last-sequence-number"] + 1
    puffin_rel = f"{DATA_DIR}/{commit_uuid}-deletes.puffin"
    blobs = []
    for rel in sorted(blob_by_file):
        blobs.append(
            (
                blob_by_file[rel],
                {
                    "type": puffin.DV_BLOB_TYPE,
                    "snapshot-id": snapshot_id,
                    "sequence-number": seq,
                    "properties": {
                        "referenced-data-file": rel,
                        "cardinality": str(card_by_file[rel]),
                    },
                },
            )
        )
    puffin_path = os.path.join(root, puffin_rel)
    os.makedirs(os.path.dirname(puffin_path), exist_ok=True)
    blob_entries = puffin.write_puffin(puffin_path, blobs)
    fsize = os.path.getsize(puffin_path)

    entry_schema = _manifest_entry_schema([], v3=True)
    entries = []
    for (rel, entry) in zip(sorted(blob_by_file), blob_entries):
        entries.append(
            {
                "status": 1,
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 1,  # POSITION_DELETES (DV flavor)
                    "file_path": puffin_rel,
                    "file_format": "PUFFIN",
                    "partition": {},
                    "record_count": card_by_file[rel],
                    "file_size_in_bytes": fsize,
                    "lower_bounds": None,
                    "upper_bounds": None,
                    "equality_ids": None,
                    "first_row_id": None,
                    "referenced_data_file": rel,
                    "content_offset": entry["offset"],
                    "content_size_in_bytes": entry["length"],
                },
            }
        )
    manifest_rel = f"{METADATA_DIR}/{commit_uuid}-m0.avro"
    manifest_path = os.path.join(root, manifest_rel)
    avrofile.write_container(manifest_path, entry_schema, entries)
    delete_manifest = {
        "manifest_path": manifest_rel,
        "manifest_length": os.path.getsize(manifest_path),
        "partition_spec_id": _spec_id_for_identity_fields(
            meta, current_schema(meta), []
        ),
        "content": 1,
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snapshot_id,
        "added_files_count": len(entries),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": sum(card_by_file.values()),
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }
    manifests = [delete_manifest] + _carry_forward_manifests(
        tbl,
        meta,
        commit_uuid=commit_uuid,
        drop_dv_for=set(blob_by_file),
    )
    return _commit_snapshot(
        tbl,
        meta,
        manifests,
        snapshot_id,
        seq,
        int(time.time() * 1000),
        operation="delete",
        commit_uuid=commit_uuid,
        # v3 snapshots record their first-row-id assignment; a DV
        # commit adds no rows, so it claims an empty block and
        # next-row-id round-trips unchanged
        row_lineage=(int(meta.get("next-row-id") or 0), 0),
    )


def _commit_metadata(tbl: IcebergTable, meta: dict) -> int:
    """Write `meta` as the next metadata version (hard-link CAS — the
    same concurrency discipline as `_commit_snapshot`: pin to the
    version `meta` was loaded from so a concurrent commit makes this
    one LOSE rather than be silently rebased over)."""
    version = (
        tbl.loaded_version + 1
        if tbl.loaded_version is not None
        else tbl.current_version() + 1
    )
    path = os.path.join(tbl._meta_dir(), f"v{version}.metadata.json")
    tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=2)
    try:
        os.link(tmp, path)
    except FileExistsError:
        os.remove(tmp)
        raise RuntimeError(
            f"concurrent Iceberg commit at metadata v{version}; retry"
        )
    os.remove(tmp)
    with open(
        os.path.join(tbl._meta_dir(), "version-hint.text"), "w"
    ) as f:
        f.write(str(version))
    return version


def set_iceberg_ref(
    root: str,
    name: str,
    snapshot_id: int | None = None,
    kind: str = "tag",
) -> int:
    """Create/move a spec ref (metadata `refs` entry): a `tag` pins a
    snapshot for release-style time travel, a `branch` is a movable
    pointer (this module reads branches; only `main` advances on
    write). `snapshot_id` defaults to the current snapshot. Returns
    the new metadata version."""
    if kind not in ("tag", "branch"):
        raise ValueError(f"kind must be tag|branch, got {kind!r}")
    tbl = IcebergTable(root)
    meta = tbl.metadata()
    sid = (
        meta.get("current-snapshot-id")
        if snapshot_id is None
        else snapshot_id
    )
    tbl.snapshot(meta, sid)  # raises if the snapshot does not exist
    new = dict(meta)
    new["refs"] = dict(meta.get("refs") or {})
    new["refs"][name] = {"snapshot-id": sid, "type": kind}
    return _commit_metadata(tbl, new)


def remove_iceberg_ref(root: str, name: str) -> int:
    """Drop a ref; its snapshot becomes expirable again. Refusing to
    drop `main` matches engines (the current pointer is not a ref you
    delete)."""
    if name == "main":
        raise ValueError("cannot remove the main branch ref")
    tbl = IcebergTable(root)
    meta = tbl.metadata()
    refs = dict(meta.get("refs") or {})
    if name not in refs:
        raise ValueError(f"unknown iceberg ref {name!r}")
    del refs[name]
    new = dict(meta)
    new["refs"] = refs
    return _commit_metadata(tbl, new)


def iceberg_metadata_table(
    spark: SparkSession, root: str, kind: str
) -> DataFrame:
    """The spec's inspection/metadata tables as DataFrames (r14 — the
    `db.table.snapshots` surface engines expose): `snapshots`,
    `history`, `refs`, `manifests`, `files`, `delete_files`. All are
    control-plane-sized (O(snapshots)/O(manifests)/O(files)) driver
    lists — no data scan at any table size."""
    tbl = IcebergTable(root)
    meta = tbl.metadata()
    if kind == "snapshots":
        rows = [
            (
                int(s["snapshot-id"]),
                int(s.get("sequence-number", 0)),
                int(s.get("timestamp-ms", 0)),
                (s.get("summary") or {}).get("operation"),
                s.get("manifest-list"),
            )
            for s in meta.get("snapshots", [])
        ]
        return local_df(spark,
            rows,
            "snapshot_id long, sequence_number long, committed_at_ms "
            "long, operation string, manifest_list string",
        )
    if kind == "history":
        cur = meta.get("current-snapshot-id")
        live = {s["snapshot-id"] for s in meta.get("snapshots", [])}
        rows = [
            (
                int(e["timestamp-ms"]),
                int(e["snapshot-id"]),
                e["snapshot-id"] in live,
                e["snapshot-id"] == cur,
            )
            for e in meta.get("snapshot-log", [])
        ]
        return local_df(spark,
            rows,
            "made_current_at_ms long, snapshot_id long, "
            "is_retained boolean, is_current boolean",
        )
    if kind == "refs":
        rows = [
            (name, r.get("type"), int(r["snapshot-id"]))
            for name, r in sorted((meta.get("refs") or {}).items())
        ]
        return local_df(spark,
            rows if rows else [],
            "name string, type string, snapshot_id long",
        )
    if kind == "manifests":
        snap = tbl.snapshot(meta)
        rows = [
            (
                mf["manifest_path"],
                int(mf.get("manifest_length", 0)),
                int(mf.get("partition_spec_id", 0)),
                int(mf.get("content", 0)),
                int(mf.get("sequence_number", 0)),
                int(mf.get("added_files_count", 0)),
                int(mf.get("existing_files_count", 0)),
                int(mf.get("added_rows_count", 0)),
            )
            for mf in tbl.manifests(snap)
        ]
        return local_df(spark,
            rows,
            "path string, length long, partition_spec_id int, "
            "content int, sequence_number long, added_files_count int, "
            "existing_files_count int, added_rows_count long",
        )
    if kind in ("files", "delete_files"):
        data, deletes = tbl.live_files()
        src = data if kind == "files" else deletes
        rows = [
            (
                f["file_path"],
                f.get("file_format"),
                int(f.get("content", 0)),
                int(f.get("record_count", 0)),
                int(f.get("file_size_in_bytes", 0)),
                int(f.get("__seq") or 0),
                json.dumps(
                    {
                        k: (str(v) if v is not None else None)
                        for k, v in (f.get("partition") or {}).items()
                    }
                ),
            )
            for f in src
        ]
        return local_df(spark,
            rows,
            "file_path string, file_format string, content int, "
            "record_count long, file_size_in_bytes long, "
            "sequence_number long, partition string",
        )
    raise ValueError(
        f"unknown metadata table {kind!r} (snapshots, history, refs, "
        "manifests, files, delete_files)"
    )


def expire_snapshots(root: str, keep_last: int = 1) -> list[str]:
    """Snapshot expiration — Iceberg's retention maintenance (the
    janitor motion: reference `catalog/main/impl.py` garbage
    collection). Keeps the newest `keep_last` snapshots (the current
    snapshot always survives), commits a new metadata version without
    the expired ones, then deletes files ONLY expired snapshots
    reference — a file shared with any retained snapshot stays. Time
    travel to an expired snapshot id now fails; retained history is
    untouched. Returns deleted root-relative paths.

    r14: snapshots targeted by a `refs` entry (spec branches/tags —
    external engines pin releases with tags) are RETAINED regardless
    of age; expiring a tagged snapshot would break the ref."""
    tbl = IcebergTable(root)
    meta = tbl.metadata()
    snaps = sorted(
        meta.get("snapshots", []), key=lambda s: s["sequence-number"]
    )
    keep_ids = (
        {s["snapshot-id"] for s in snaps[-max(keep_last, 1) :]}
        | {meta["current-snapshot-id"]}
        | {
            r["snapshot-id"]
            for r in (meta.get("refs") or {}).values()
            if r.get("snapshot-id") is not None
        }
    )
    expired = [s for s in snaps if s["snapshot-id"] not in keep_ids]
    if not expired:
        return []
    retained = [s for s in snaps if s["snapshot-id"] in keep_ids]
    doomed = sorted(
        _snapshot_refs(tbl, expired) - _snapshot_refs(tbl, retained)
    )
    new_meta = dict(meta)
    new_meta["snapshots"] = retained
    new_meta["snapshot-log"] = [
        e
        for e in meta.get("snapshot-log", [])
        if e["snapshot-id"] in keep_ids
    ]
    _commit_metadata(tbl, new_meta)
    for rel in doomed:
        p = os.path.join(root, rel)
        if os.path.isfile(p):
            os.remove(p)
    return doomed


def remove_orphan_files(root: str, older_than_s: float = 3600.0) -> list[str]:
    """Delete data/manifest files under the table root that NO snapshot
    in the current metadata references — the residue of crashed writes
    (the write path stages parquet before the metadata commit). Only
    `.parquet`/`.avro` files older than `older_than_s` are candidates:
    the age cutoff keeps a concurrent in-flight writer's staged files
    safe, exactly why the real procedure has `older_than`. Returns
    deleted root-relative paths."""
    tbl = IcebergTable(root)
    meta = tbl.metadata()
    live = _snapshot_refs(tbl, meta.get("snapshots", []))
    cutoff = time.time() - older_than_s
    doomed = []
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            if not fname.endswith((".parquet", ".avro")):
                continue
            full = os.path.join(dirpath, fname)
            rel = os.path.relpath(full, root)
            if rel in live:
                continue
            if os.path.getmtime(full) > cutoff:
                continue
            os.remove(full)
            doomed.append(rel)
    return sorted(doomed)



def _typed_partition(
    pv_raw: dict[str, str | None],
    part_cols: list[str],
    part_types: dict[str, str],
) -> dict:
    out: dict[str, Any] = {}
    for c in part_cols:
        v = pv_raw.get(c)
        t = part_types.get(c, "string")
        if v is None:
            out[c] = None
        elif t in ("int", "long"):
            out[c] = int(v)
        elif t in ("float", "double"):
            out[c] = float(v)
        elif t == "boolean":
            out[c] = v.lower() == "true"
        else:
            out[c] = v
    return out


def _commit_snapshot(
    tbl: IcebergTable,
    prev_meta: dict | None,
    manifests: list[dict],
    snapshot_id: int,
    seq: int,
    now_ms: int,
    operation: str,
    schema: T.StructType | None = None,
    partition_fields: list[dict] | None = None,
    commit_uuid: str | None = None,
    summary_extra: dict | None = None,
    row_lineage: "tuple[int, int] | None" = None,
) -> int:
    commit_uuid = commit_uuid or uuid.uuid4().hex[:12]
    ml_rel = f"{METADATA_DIR}/snap-{snapshot_id}-{commit_uuid}.avro"
    # manifests carried forward from a PRE-UPGRADE v1 manifest list
    # lack the v2 fields (content/sequence numbers/counts) — fill the
    # spec's upgrade semantics: data content at sequence 0
    defaults = {
        "content": 0,
        "sequence_number": 0,
        "min_sequence_number": 0,
        "added_snapshot_id": 0,
        "added_files_count": 0,
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": 0,
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }
    manifests = [
        {**defaults, **{k: v for k, v in m.items() if v is not None}}
        for m in manifests
    ]
    avrofile.write_container(
        os.path.join(tbl.root, ml_rel), _MANIFEST_LIST_SCHEMA, manifests
    )
    summary = {"operation": operation}
    if summary_extra:
        summary.update({str(k): str(v) for k, v in summary_extra.items()})
    snap = {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": ml_rel,
        "summary": summary,
        "schema-id": 0,
    }
    if row_lineage is not None:
        # v3 row-id accounting: the snapshot claims its block and the
        # table counter advances past it
        snap["first-row-id"] = row_lineage[0]
    if prev_meta is not None:
        meta = dict(prev_meta)
        meta["snapshots"] = list(prev_meta.get("snapshots", [])) + [snap]
        meta["snapshot-log"] = list(prev_meta.get("snapshot-log", [])) + [
            {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
        ]
        # pin to the version the caller's metadata() load came from —
        # re-reading current_version() here would silently rebase this
        # commit's manifests over a concurrent commit (whose file
        # changes they don't carry); the os.link CAS below must LOSE
        version = (
            tbl.loaded_version + 1
            if tbl.loaded_version is not None
            else tbl.current_version() + 1
        )
    else:
        assert schema is not None
        ice_schema = iceberg_schema_for(schema)
        spec_fields = [
            {
                "source-id": _field_id_for(
                    ice_schema, pf.get("source", pf["name"])
                ),
                "field-id": 1000 + i,
                "name": pf["name"],
                "transform": pf.get("transform", "identity"),
            }
            for i, pf in enumerate(partition_fields or [])
        ]
        meta = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid4()),
            "location": tbl.root,
            "last-sequence-number": seq,
            "last-updated-ms": now_ms,
            "last-column-id": _max_field_id(ice_schema),
            "schemas": [ice_schema],
            "current-schema-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "default-spec-id": 0,
            "last-partition-id": 1000 + len(spec_fields) - 1 if spec_fields else 999,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "default-sort-order-id": 0,
            "properties": {"write.format.default": "parquet"},
            "snapshots": [snap],
            "snapshot-log": [
                {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
            ],
            "metadata-log": [],
        }
        version = 1
    meta["current-snapshot-id"] = snapshot_id
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = now_ms
    if meta.get("refs"):
        # the main branch ref tracks the current snapshot on every
        # write (the spec's rule; external engines always stamp
        # refs.main and treat current-snapshot-id != refs.main as
        # inconsistent metadata). Other branches stay put — this
        # module writes only to main.
        meta["refs"] = dict(meta["refs"])
        meta["refs"]["main"] = {
            "snapshot-id": snapshot_id,
            "type": "branch",
        }
    if row_lineage is not None:
        meta["next-row-id"] = row_lineage[0] + row_lineage[1]

    path = os.path.join(tbl._meta_dir(), f"v{version}.metadata.json")
    tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=2)
    try:
        os.link(tmp, path)
    except FileExistsError:
        os.remove(tmp)
        raise RuntimeError(
            f"concurrent Iceberg commit at metadata v{version}; retry"
        )
    os.remove(tmp)
    with open(
        os.path.join(tbl._meta_dir(), "version-hint.text"), "w"
    ) as f:
        f.write(str(version))
    return snapshot_id


def _spec_id_for_identity_fields(
    meta: dict, ice_schema: dict, names: list[str]
) -> int:
    """The spec-id whose fields are exactly identity transforms on
    `names` (in order); REGISTERS a new spec in `meta` when none
    matches — external readers resolve a manifest's partition tuple
    type by `partition_spec_id`, so writing ad-hoc partition fields
    under spec 0 (whose fields generally differ) would make them
    misread the manifest. Mutates `meta` in place; `_commit_snapshot`
    persists it."""
    specs = list(meta.get("partition-specs") or [{"spec-id": 0, "fields": []}])
    for spec in specs:
        fields = spec.get("fields") or []
        if [f["name"] for f in fields] == names and all(
            f.get("transform", "identity") == "identity" for f in fields
        ):
            return spec["spec-id"]
    new_id = max(s["spec-id"] for s in specs) + 1
    last_pid = int(meta.get("last-partition-id", 999))
    new_fields = [
        {
            "source-id": _field_id_for(ice_schema, n),
            "field-id": last_pid + 1 + i,
            "name": n,
            "transform": "identity",
        }
        for i, n in enumerate(names)
    ]
    meta["partition-specs"] = specs + [
        {"spec-id": new_id, "fields": new_fields}
    ]
    if names:
        meta["last-partition-id"] = last_pid + len(names)
    return new_id


def _field_id_for(ice_schema: dict, name: str) -> int:
    for f in ice_schema["fields"]:
        if f["name"] == name:
            return f["id"]
    raise KeyError(name)


def _max_field_id(ice_schema: dict) -> int:
    mx = 0

    def walk(t: Any) -> None:
        nonlocal mx
        if isinstance(t, dict):
            for k in ("id", "element-id", "key-id", "value-id"):
                if k in t:
                    mx = max(mx, t[k])
            for f in t.get("fields", []):
                walk(f)
            for k in ("type", "element", "key", "value"):
                if isinstance(t.get(k), dict):
                    walk(t[k])
        return None

    walk(ice_schema)
    return mx


# ---------------------------------------------------------------------------
# position deletes (the converter-session surface)
# ---------------------------------------------------------------------------


def commit_position_deletes(
    spark: SparkSession,
    root: str,
    deletes: DataFrame,
    drop_equality: bool = False,
) -> int:
    """Commit a delete snapshot from a (file_path, pos) frame — the
    second half of the reference's equality→position converter
    (`converter_session.py`: commit positional deletes to the Iceberg
    table). `file_path` must be table-root-relative (as returned by
    `find_positions_for_predicate`). `drop_equality=True` additionally
    rewrites carried-forward delete manifests WITHOUT their content=2
    (equality) entries — the fold step of the converter: the new
    position-delete file replaces them."""
    tbl = IcebergTable(root)
    meta = tbl.metadata()
    if meta.get("format-version", 2) != 2:
        raise NotImplementedError(
            "delete commits need a v2 table (sequence-numbered "
            f"manifests); this table is format-version "
            f"{meta.get('format-version')}"
        )
    commit_uuid = uuid.uuid4().hex[:12]
    snapshot_id = int.from_bytes(os.urandom(7), "big")
    seq = meta["last-sequence-number"] + 1
    delete_manifests = _write_delete_manifest(
        root,
        deletes.select(
            F.col("file_path").cast("string"), F.col("pos").cast("long")
        ),
        commit_uuid,
        snapshot_id,
        seq,
        # external readers type the partition tuple by this id: an
        # unpartitioned (empty-tuple) delete manifest needs a spec with
        # NO fields, which is spec 0 only on unpartitioned tables —
        # register/reuse an empty spec otherwise
        _spec_id_for_identity_fields(meta, current_schema(meta), []),
        {"content": 1},  # POSITION_DELETES
    )
    manifests = delete_manifests + _carry_forward_manifests(
        tbl, meta, drop_equality=drop_equality, commit_uuid=commit_uuid
    )
    return _commit_snapshot(
        tbl,
        meta,
        manifests,
        snapshot_id,
        seq,
        int(time.time() * 1000),
        operation="delete",
        commit_uuid=commit_uuid,
    )


def _write_delete_manifest(
    root: str,
    deletes: DataFrame,
    commit_uuid: str,
    snapshot_id: int,
    seq: int,
    spec_id: int,
    data_file: dict,
    partition_fields: list[dict] | None = None,
) -> list[dict]:
    """Write `deletes` as ONE delete file plus the manifest that adds
    it; returns [manifest], or [] when there is nothing to delete.
    `data_file` carries the entry's content-type fields."""
    kind = "eq-deletes" if data_file["content"] == 2 else "deletes"
    rel = f"{DATA_DIR}/{commit_uuid}-{kind}.parquet"
    with staging_dir(
        os.path.join(root, DATA_DIR, f".staging-{commit_uuid}")
    ) as staging:
        staged = stage_write(deletes.coalesce(1), staging)
        if not staged:
            return []
        os.replace(staged[0].path, os.path.join(root, rel))
    n = staged[0].metadata.num_rows
    entry = {
        "status": 1,
        "snapshot_id": snapshot_id,
        "sequence_number": seq,
        "file_sequence_number": seq,
        "data_file": {
            "file_path": rel,
            "file_format": "PARQUET",
            "partition": {},
            "record_count": n,
            "file_size_in_bytes": staged[0].size,
            "lower_bounds": None,
            "upper_bounds": None,
            **data_file,
        },
    }
    manifest_rel = f"{METADATA_DIR}/{commit_uuid}-m0.avro"
    manifest_path = os.path.join(root, manifest_rel)
    avrofile.write_container(
        manifest_path,
        _manifest_entry_schema(partition_fields or []),
        [entry],
    )
    return [
        {
            "manifest_path": manifest_rel,
            "manifest_length": os.path.getsize(manifest_path),
            "partition_spec_id": spec_id,
            "content": 1,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snapshot_id,
            "added_files_count": 1,
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": n,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }
    ]


def _carry_forward_manifests(
    tbl: IcebergTable,
    meta: dict,
    drop_equality: bool = False,
    commit_uuid: str = "",
    drop_dv_for: "set[str] | None" = None,
) -> list[dict]:
    """The current snapshot's manifests, optionally with EQUALITY
    delete entries (content=2) and/or superseded DELETION-VECTOR
    entries (r14: puffin content=1 entries whose referenced_data_file
    is being replaced by a NEW DV — the v3 spec's at-most-one-live-DV-
    per-file rule) removed. A delete manifest containing dropped
    entries is REWRITTEN (kept entries become status=0 EXISTING with
    their inherited sequence numbers materialized, per the spec's
    manifest-rewrite rules); one that becomes empty is dropped. Data
    manifests and clean delete manifests carry forward untouched — the
    control plane stays O(manifests)."""
    manifests = tbl.manifests(tbl.snapshot(meta))
    if not drop_equality and not drop_dv_for:
        return manifests

    def _dropped(df: dict) -> bool:
        if drop_equality and df.get("content") == 2:
            return True
        if (
            drop_dv_for
            and df.get("content") == 1
            and (df.get("file_format") or "").upper() == "PUFFIN"
            and df.get("referenced_data_file") in drop_dv_for
        ):
            return True
        return False

    out: list[dict] = []
    for i, mf in enumerate(manifests):
        if mf.get("content") != 1:
            out.append(mf)
            continue
        mpath = _abs_data_path(tbl.root, mf["manifest_path"])
        schema, entries = avrofile.read_container(mpath)
        live = [e for e in entries if e["status"] != 2]
        kept = [e for e in live if not _dropped(e["data_file"])]
        if len(kept) == len(live):
            out.append(mf)
            continue
        if not kept:
            continue
        rewritten = []
        for e in kept:
            e = dict(e)
            if e.get("sequence_number") is None:
                e["sequence_number"] = mf.get("sequence_number", 0)
            e["status"] = 0  # EXISTING
            rewritten.append(e)
        rel = f"{METADATA_DIR}/{commit_uuid}-rw{i}.avro"
        path = os.path.join(tbl.root, rel)
        avrofile.write_container(path, schema, rewritten)
        nm = dict(mf)
        nm["manifest_path"] = rel
        nm["manifest_length"] = os.path.getsize(path)
        nm["added_files_count"] = 0
        nm["existing_files_count"] = len(rewritten)
        nm["deleted_files_count"] = 0
        nm["added_rows_count"] = 0
        nm["existing_rows_count"] = sum(
            e["data_file"]["record_count"] for e in rewritten
        )
        nm["deleted_rows_count"] = 0
        nm["min_sequence_number"] = min(
            e["sequence_number"] for e in rewritten
        )
        out.append(nm)
    return out


_ICE_TO_PART_AVRO = {
    "int": "int",
    "long": "long",
    "string": "string",
    "boolean": "boolean",
    "float": "float",
    "double": "double",
}


def commit_equality_deletes(
    spark: SparkSession,
    root: str,
    deletes: DataFrame,
    partition: dict | None = None,
) -> int:
    """Commit an EQUALITY-delete snapshot (content=2 delete file whose
    `equality_ids` are the frame's columns) — the spec shape an
    external CDC/streaming writer produces and the ACTUAL INPUT of the
    reference converter (`compute/converter/steps/convert.py:45+`
    downloads equality-delete files to convert). Every column of
    `deletes` must be a top-level primitive column of the table schema;
    the delete lands at the next sequence number, so per the spec's
    strict-inequality scoping it targets every CURRENT data file and
    none committed later. `partition={col: value}` writes a
    PARTITION-SCOPED delete file (it applies only to data of that
    partition — the spec's partitioned-delete shape)."""
    tbl = IcebergTable(root)
    meta = tbl.metadata()
    if meta.get("format-version", 2) != 2:
        raise NotImplementedError(
            "equality-delete commits need a v2 table; this table is "
            f"format-version {meta.get('format-version')}"
        )
    ice_schema = current_schema(meta)
    finfo = _field_info(ice_schema)
    bad = [c for c in deletes.columns if c not in finfo]
    if bad:
        raise ValueError(
            f"equality delete columns {bad} are not top-level primitive "
            "columns of the table schema"
        )
    partition = dict(partition or {})
    bad = [c for c in partition if c not in finfo]
    if bad:
        raise ValueError(
            f"partition scope columns {bad} are not top-level primitive "
            "columns of the table schema"
        )
    partition_fields = [
        {
            "name": c,
            "avro_type": _ICE_TO_PART_AVRO.get(finfo[c][1], "string"),
        }
        for c in sorted(partition)
    ]
    equality_ids = [finfo[c][0] for c in deletes.columns]

    commit_uuid = uuid.uuid4().hex[:12]
    snapshot_id = int.from_bytes(os.urandom(7), "big")
    seq = meta["last-sequence-number"] + 1
    delete_manifests = _write_delete_manifest(
        root,
        deletes,
        commit_uuid,
        snapshot_id,
        seq,
        # resolve (or register) the spec that matches the scope columns
        # — external readers type the partition tuple by this id, so
        # spec 0 would misread a partition-scoped delete manifest
        _spec_id_for_identity_fields(
            meta, ice_schema, [f["name"] for f in partition_fields]
        ),
        {
            "content": 2,  # EQUALITY_DELETES
            "partition": partition,
            "equality_ids": equality_ids,
        },
        partition_fields,
    )
    manifests = delete_manifests + tbl.manifests(tbl.snapshot(meta))
    return _commit_snapshot(
        tbl,
        meta,
        manifests,
        snapshot_id,
        seq,
        int(time.time() * 1000),
        operation="delete",
        commit_uuid=commit_uuid,
    )


def fold_equality_deletes(spark: SparkSession, root: str) -> int | None:
    """Convert every live EQUALITY delete file (content=2) into ONE
    position-delete snapshot — the reference converter session end to
    end (`converter_session.py:46-429` / `steps/convert.py:45+`): scan
    the table's live rows (existing position deletes applied, equality
    deletes NOT), find the coordinates each equality delete targets
    under the spec's strict sequence scoping, commit them as a
    content=1 position-delete file, and rewrite the carried-forward
    delete manifests WITHOUT the equality entries. Reads before and
    after the fold are identical; returns the new snapshot id, or None
    when the table has no equality deletes."""
    tbl = IcebergTable(root)
    meta = tbl.metadata()
    data, deletes = tbl.live_files()
    eq_deletes = [d for d in deletes if d.get("content") == 2]
    if not eq_deletes:
        return None
    df = read_iceberg(
        spark,
        root,
        apply_deletes=True,
        apply_equality_deletes=False,
        with_lineage=True,
    )
    data_seq = {
        _rel_data_path(root, f["file_path"]): int(f.get("__seq") or 0)
        for f in data
    }
    full_schema = spark_schema_for(current_schema(meta))
    pos = _apply_equality_deletes(
        spark,
        root,
        df,
        eq_deletes,
        data_seq,
        max(data_seq.values(), default=0),
        current_schema(meta),
        full_schema,
        how="left_semi",
    ).select(
        F.col("__ice_fp").alias("file_path"),
        F.col("__ice_pos").alias("pos"),
    )
    return commit_position_deletes(spark, root, pos, drop_equality=True)


def find_positions_for_predicate(
    spark: SparkSession, root: str, predicate: str
) -> DataFrame:
    """(file_path, pos) of live rows matching a SQL predicate — the
    equality→position conversion scan. Runs as ONE distributed parquet
    scan with the predicate pushed down; file paths come back
    table-root-relative so commits stay relocatable."""
    df = read_iceberg(spark, root, apply_deletes=True, with_lineage=True)
    return df.filter(predicate).select(
        F.col("__ice_fp").alias("file_path"),
        F.col("__ice_pos").alias("pos"),
    )


def convert_equality_deletes_to_position(
    spark: SparkSession, root: str, predicate: str
) -> int:
    """Reference converter-session parity in one call: scan live rows
    matching the equality predicate, commit them as a position-delete
    snapshot (`converter_session.py:46-429`)."""
    dels = find_positions_for_predicate(spark, root, predicate)
    return commit_position_deletes(spark, root, dels)


# ---------------------------------------------------------------------------
# catalog bridge
# ---------------------------------------------------------------------------


def export_table_to_iceberg(
    catalog, table: str, dest: str, namespace: str = "default"
) -> int:
    """Catalog table's current snapshot → Iceberg table."""
    df = catalog.read_table(table, namespace=namespace)
    info = catalog.get_table(table, namespace=namespace) or {}
    scheme = [
        pk.get("source") or pk.get("name")
        for pk in (info.get("partition_scheme") or [])
        if (pk.get("transform") or "identity") == "identity"
    ]
    return write_iceberg(
        df, dest, mode="overwrite" if IcebergTable(dest).exists() else "append",
        partition_by=[c for c in scheme if c] or None,
    )


def import_iceberg_to_table(
    catalog,
    spark: SparkSession,
    src: str,
    table: str,
    namespace: str = "default",
    snapshot_id: int | None = None,
    **write_kwargs: Any,
) -> None:
    df = read_iceberg(spark, src, snapshot_id=snapshot_id)
    catalog.write_to_table(
        df, table, namespace=namespace, mode="auto", **write_kwargs
    )
