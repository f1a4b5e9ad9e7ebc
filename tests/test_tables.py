"""Table IO facade: parquet fallback semantics (no Iceberg jar here)."""

import pytest

from linguistjs_spark.sources.tables import (
    iceberg_available,
    read_table,
    write_table,
)


def test_parquet_roundtrip_and_dynamic_overwrite(spark, tmp_path):
    p = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "a", "b0"), (2, "b", "b0"), (3, "c", "b1")],
        "id long, v string, bucket string",
    )
    write_table(df, p, mode="append", partition_by=("bucket",))
    assert read_table(spark, p).count() == 3

    # overwrite only bucket b1; b0 rows must survive (dynamic overwrite)
    repl = spark.createDataFrame([(9, "z", "b1")], "id long, v string, bucket string")
    write_table(repl, p, mode="overwrite_partitions", partition_by=("bucket",))
    got = {(r.id, r.bucket) for r in read_table(spark, p).collect()}
    assert got == {(1, "b0"), (2, "b0"), (9, "b1")}


def test_iceberg_detection_is_honest(spark):
    # this container has no Iceberg runtime; the facade must say so and
    # route names to parquet rather than failing at analysis time
    assert iceberg_available(spark) is False


class _StubSpark:
    """Stands in for a SparkSession whose JVM class lookup raises `exc`."""

    def __init__(self, exc):
        def for_name(_name):
            raise exc

        cls = type("C", (), {"forName": staticmethod(for_name)})
        lang = type("L", (), {"Class": cls})
        self._jvm = type("J", (), {"java": type("V", (), {"lang": lang})})


class _JavaThrowable:
    _target_id = "o0"  # read by Py4JJavaError.__init__

    def __init__(self, name):
        self.name = name

    def getClass(self):
        return self

    def getName(self):
        return self.name


def test_iceberg_detection_fails_loudly():
    """Only a missing class reads as "no Iceberg"; any other failure of the
    lookup propagates instead of silently routing tables to parquet."""
    from py4j.protocol import Py4JJavaError

    cnfe = Py4JJavaError("", _JavaThrowable("java.lang.ClassNotFoundException"))
    assert iceberg_available(_StubSpark(cnfe)) is False
    for exc in (
        Py4JJavaError("", _JavaThrowable("java.lang.NoClassDefFoundError")),
        ConnectionRefusedError("gateway is gone"),
    ):
        with pytest.raises(type(exc)):
            iceberg_available(_StubSpark(exc))


def test_table_name_heuristic_requires_three_parts():
    # ADVICE r02: bare relative locations with dots must stay on the
    # parquet path even when an Iceberg jar is present
    from linguistjs_spark.sources.tables import _is_table_name

    assert _is_table_name("catalog.db.tbl") is True
    assert _is_table_name("out.parquet") is False
    assert _is_table_name("pages.v2") is False
    assert _is_table_name("a.b.c.d") is False
    assert _is_table_name("cat..tbl") is False
    assert _is_table_name("dir/cat.db.tbl") is False
    assert _is_table_name("data.ORC") is False


def test_overwrite_partitions_without_columns_fails_loud(spark, tmp_path):
    # ADVICE r02: the parquet path must not silently degrade
    # overwrite_partitions into a full-directory overwrite
    import pytest

    df = spark.createDataFrame([(1, "a")], "id long, v string")
    with pytest.raises(ValueError, match="partition_by"):
        write_table(df, str(tmp_path / "t"), mode="overwrite_partitions")
