"""The staged-write kernel (`catalog/io.py`: `cluster_for_write` +
`stage_write`) shared by the catalog and the Iceberg, Delta and Hudi
writers: write parallelism under AQE, unique basenames, NULL partition
values, independence from the session's `maxRecordsPerFile`, and
staging directories removed when a write fails."""

import os
import re

import pytest
from pyspark.sql import functions as F, types as T

from deltacat_spark.catalog.io import (
    HIVE_NULL,
    cluster_for_write,
    stage_write,
)
from deltacat_spark.plans.transforms import PartitionKey
from deltacat_spark.schema import Field, Schema
from deltacat_spark.sources.deltalake import (
    DeltaSnapshot,
    optimize_delta,
    read_delta,
    write_delta,
)
from deltacat_spark.sources.hudi import (
    compact_hudi,
    file_slices,
    write_hudi,
)
from deltacat_spark.sources.iceberg import read_iceberg, write_iceberg


def _task_ids(staged):
    return {re.search(r"part-(\d{5})", os.path.basename(sf.path)).group(1)
            for sf in staged}


def test_clustered_write_uses_more_than_one_task(spark, tmp_path):
    # a small shuffle: without an explicit partition count AQE
    # coalesces it to one task and the whole fanout writes serially
    assert spark.sparkContext.defaultParallelism >= 2
    df = spark.range(400).selectExpr("id", "cast(id % 16 as string) as p")
    staged = stage_write(
        cluster_for_write(df, ["p"]), str(tmp_path / "out"), ["p"]
    )
    assert len(_task_ids(staged)) > 1
    # each key still hashes to exactly one task: one file per directory
    assert sorted(sf.partition_values["p"] for sf in staged) == sorted(
        str(i) for i in range(16)
    )
    assert sum(sf.metadata.num_rows for sf in staged) == 400


def test_colliding_basenames_come_back_unique(spark, tmp_path):
    # one task writes every partition directory under ONE file name
    df = spark.range(30).selectExpr("id", "cast(id % 3 as string) as p")
    staged = stage_write(df.coalesce(1), str(tmp_path / "out"), ["p"])
    names = [os.path.basename(sf.path) for sf in staged]
    assert len(staged) == 3
    assert len(set(names)) == 3
    assert all(re.match(r"d\d{5}-part-", n) for n in names)
    assert all(os.path.isfile(sf.path) for sf in staged)
    assert all(sf.size == os.path.getsize(sf.path) for sf in staged)


def test_zero_row_files_are_left_out(spark, tmp_path):
    assert stage_write(
        spark.range(0).coalesce(1), str(tmp_path / "out")
    ) == []


def test_null_partition_value(spark, catalog, tmp_path):
    rows = [(1, "a"), (2, None), (3, None)]
    schema = "id long, p string"

    catalog.create_table(
        "t",
        schema=Schema(
            [Field("id", T.LongType()), Field("p", T.StringType())]
        ),
        partition_scheme=[PartitionKey("p")],
    )
    catalog.write_to_table(spark.createDataFrame(rows, schema), "t")
    pvals = sorted(
        f.partition_values["p"] for f in catalog.snapshot("t").files
    )
    # the catalog records Spark's directory string for a NULL value
    assert pvals == [HIVE_NULL, "a"]
    assert catalog.read_table("t").filter("p is null").count() == 2

    ice = str(tmp_path / "ice")
    write_iceberg(spark.createDataFrame(rows, schema), ice, partition_by=["p"])
    got = read_iceberg(spark, ice)
    assert sorted(r.id for r in got.filter("p is null").collect()) == [2, 3]

    dl = str(tmp_path / "delta")
    write_delta(spark.createDataFrame(rows, schema), dl, partition_by=["p"])
    assert {
        f["partitionValues"]["p"] for f in DeltaSnapshot(dl).live_files()
    } == {None, "a"}
    got = read_delta(spark, dl)
    assert sorted(r.id for r in got.filter("p is null").collect()) == [2, 3]


@pytest.fixture()
def one_record_per_file(spark):
    key = "spark.sql.files.maxRecordsPerFile"
    prior = spark.conf.get(key)
    spark.conf.set(key, "1")
    yield
    spark.conf.set(key, prior)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, cat string, v double")


def test_per_key_writes_ignore_session_max_records(
    spark, tmp_path, one_record_per_file
):
    rows = [(i, str(i % 2), float(i)) for i in range(20)]
    upd = [(i, str(i % 2), -float(i)) for i in range(0, 20, 3)]

    def one_file_per_group(root):
        slices = file_slices(root)
        assert len({s["file_id"] for s in slices}) == len(slices)
        bases = [s["path"] for s in slices]
        assert all(os.path.isfile(os.path.join(root, b)) for b in bases)
        return slices

    # CoW upsert: rewritten groups and the new groups land one file each
    cow = str(tmp_path / "cow")
    write_hudi(_df(spark, rows), cow, "k", operation="insert",
               partition_by=["cat"])
    write_hudi(_df(spark, upd + [(99, "2", 9.0)]), cow, "k")
    assert len(one_file_per_group(cow)) == 3
    assert len(os.listdir(os.path.join(cow, "cat=2"))) == 1

    # MoR upsert lands one log file per group; compaction one base each
    mor = str(tmp_path / "mor")
    write_hudi(_df(spark, rows), mor, "k", operation="insert",
               partition_by=["cat"], table_type="MERGE_ON_READ")
    write_hudi(_df(spark, upd), mor, "k")
    slices = one_file_per_group(mor)
    assert [len(s["log_paths"]) for s in slices] == [1, 1]
    compact_hudi(spark, mor)
    slices = one_file_per_group(mor)
    assert len(slices) == 2 and all(not s["log_paths"] for s in slices)

    # OPTIMIZE: one file per partition
    dl = str(tmp_path / "delta")
    for part in (rows[:10], rows[10:]):
        write_delta(_df(spark, part), dl, partition_by=["cat"])
    optimize_delta(spark, dl)
    live = DeltaSnapshot(dl).live_files()
    assert sorted(f["partitionValues"]["cat"] for f in live) == ["0", "1"]
    assert read_delta(spark, dl).count() == 20


def _boom_frame(spark):
    @F.udf("long")
    def boom(x):
        raise ValueError("boom")

    return _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).withColumn(
        "k", boom("k")
    )


def _leftover_staging(root):
    return [
        os.path.join(d, n)
        for d, dirs, _ in os.walk(root)
        for n in dirs
        if n.startswith((".staging-", ".tmp-"))
    ]


@pytest.fixture()
def no_aqe(spark):
    # with AQE on, a clustered write runs its shuffle before the write
    # job starts, so a failing UDF never reaches the staging directory;
    # without it the failure lands inside the started write job
    key = "spark.sql.adaptive.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, prior)


@pytest.mark.parametrize(
    "write",
    [
        lambda df, root: write_delta(df, root, partition_by=["cat"]),
        lambda df, root: write_iceberg(df, root, partition_by=["cat"]),
        lambda df, root: write_hudi(
            df, root, "k", operation="insert", partition_by=["cat"]
        ),
    ],
    ids=["delta", "iceberg", "hudi"],
)
def test_failed_write_removes_its_staging_dir(spark, tmp_path, no_aqe, write):
    root = str(tmp_path / "t")
    with pytest.raises(Exception, match="boom"):
        write(_boom_frame(spark), root)
    assert os.path.isdir(root)
    assert _leftover_staging(root) == []
