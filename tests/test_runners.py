"""The two walk runners of the batch decode path (``protocols.map_rows``
and ``protocols.map_files``) hand walks plain Python values, ``None``
for a NULL (not pandas' NaN), and turn a walk's ``None`` back into
NULL."""

from __future__ import annotations

from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from ingestor_etl_spark.protocols import map_files, map_rows

OUT = StructType(
    [
        StructField("file", StringType()),
        StructField("n", LongType()),
        StructField("v", LongType()),
        StructField("seen", StringType()),
    ]
)


def _rows(spark):
    return spark.createDataFrame(
        [("f", 1, None), ("f", 2, 7), ("g", 3, None)],
        "file string, n long, v long",
    ).coalesce(1)


def test_map_rows_sees_none_for_null(spark):
    def fn(file, n, v):
        yield file, n, v, repr(v)

    got = sorted(tuple(r) for r in map_rows(_rows(spark), OUT, fn).collect())
    assert got == [("f", 1, None, "None"), ("f", 2, 7, "7"), ("g", 3, None, "None")]


def test_map_files_sees_none_for_null(spark):
    def walk(rows):
        for n, v in rows:
            yield n, v, repr(v)

    got = sorted(tuple(r) for r in map_files(_rows(spark), OUT, walk).collect())
    assert got == [("f", 1, None, "None"), ("f", 2, 7, "7"), ("g", 3, None, "None")]


def test_map_rows_keeps_rows_before_an_error(spark):
    """§2.8: a row whose function raises keeps what it yielded, and
    the other rows go on."""

    def fn(file, n, v):
        yield file, n, None, "before"
        if v is None:
            raise ValueError("malformed")
        yield file, n, v, "after"

    got = sorted((tuple(r) for r in map_rows(_rows(spark), OUT, fn).collect()), key=repr)
    assert got == sorted(
        [("f", 1, None, "before"), ("f", 2, None, "before"), ("f", 2, 7, "after"), ("g", 3, None, "before")],
        key=repr,
    )


def test_out_of_range_integer_wraps_instead_of_failing(spark):
    """A walk value outside its column's integer range wraps as the
    pandas conversion did (a Diameter Result-Code >= 2**31 in an INT
    column), instead of failing the task."""
    schema = StructType([StructField("file", StringType()), StructField("code", IntegerType())])
    got = map_rows(_rows(spark).where("n = 1"), schema, lambda file, n, v: [(file, 2**31 + 5)]).collect()
    assert [tuple(r) for r in got] == [("f", -(2**31) + 5)]
