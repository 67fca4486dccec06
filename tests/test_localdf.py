"""local_df (Arrow-backed small local frames) must be drop-in equal to
spark.createDataFrame(list, schema) — same schema, same rows — for the
shapes the lakehouse control-plane maps use (r16 optimization: the
list path costs one Python-worker round-trip per core per
materialization)."""

from decimal import Decimal

from pyspark.sql import Row, types as T

from deltacat_spark.localdf import local_df


CASES = [
    ([("a.parquet", "f1"), ("b.parquet", None)], "__fname string, __fid string"),
    ([(1, None, 2.5, True, b"xy")], "a long, b string, c double, d boolean, e binary"),
    ([(None,)], "v string"),
    ([(1, [1, 2, 3])], "k long, arr array<bigint>"),
    ([(i, f"s{i}") for i in range(500)], "i int, s string"),
    ([(Decimal("1.50"),)], "d decimal(10,2)"),
]


class TestLocalDf:
    def test_matches_list_path(self, spark):
        for rows, schema in CASES:
            ref = spark.createDataFrame(rows, schema)
            got = local_df(spark, rows, schema)
            assert got.schema == ref.schema, schema
            assert sorted(map(tuple, got.collect())) == sorted(
                map(tuple, ref.collect())
            ), schema

    def test_empty(self, spark):
        got = local_df(spark, [], "a int, b string")
        assert got.count() == 0
        assert [f.name for f in got.schema.fields] == ["a", "b"]

    def test_row_objects_with_struct_schema(self, spark):
        rows = [Row(x=1, y="s"), Row(x=2, y=None)]
        st = T.StructType(
            [
                T.StructField("x", T.IntegerType()),
                T.StructField("y", T.StringType()),
            ]
        )
        ref = spark.createDataFrame(rows, st)
        got = local_df(spark, rows, st)
        assert got.schema == ref.schema
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, ref.collect())
        )

    def test_generator_input(self, spark):
        got = local_df(spark, ((i,) for i in range(5)), "i long")
        assert sorted(r.i for r in got.collect()) == [0, 1, 2, 3, 4]

    def test_dict_rows(self, spark):
        rows = [{"a": "x", "b": "y"}, {"a": "z", "b": None}]
        ref = spark.createDataFrame(rows, "a string, b string")
        got = local_df(spark, rows, "a string, b string")
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, ref.collect())
        ) == [("x", "y"), ("z", None)]

    def test_nan_stays_nan(self, spark):
        rows = [(1, float("nan")), (2, 1.5), (3, None)]
        got = {
            r.k: r.v
            for r in local_df(spark, rows, "k long, v double").collect()
        }
        assert got[1] != got[1]  # NaN, not NULL
        assert got[2] == 1.5 and got[3] is None
