from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from multi_table_plugins_spark.sinks.multi_sink import read_back, write_multi_table


def test_orc_sink_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("t1", 1, "a"), ("t1", 2, "b"), ("t2", 3, "c")],
        "tablename string, id int, v string",
    )
    base = str(tmp_path / "orc_out")
    paths = write_multi_table(df, base, ingest_time=7, fmt="orc")
    assert sorted(paths) == ["t1", "t2"]
    back = read_back(spark, base, fmt="orc")
    assert back.count() == 3
    assert back.filter(F.col("tablename") == "t1").count() == 2
    assert {r["ingesttime"] for r in back.select("ingesttime").distinct().collect()} == {7}


def test_json_sink_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([("t1", 1)], "tablename string, id int")
    base = str(tmp_path / "json_out")
    write_multi_table(df, base, ingest_time=1, fmt="json")
    back = read_back(spark, base, fmt="json")
    assert back.count() == 1


def test_avro_sink_round_trips_or_names_avro(spark, tmp_path):
    # spark-avro is an external module, not bundled with pip pyspark: with
    # it on the classpath the sink round-trips; without it the write fails
    # with an error that names avro
    df = spark.createDataFrame([("t1", 1), ("t2", 2)], "tablename string, id int")
    base = str(tmp_path / "avro_out")
    try:
        paths = write_multi_table(df, base, ingest_time=1, fmt="avro")
    except AnalysisException as e:
        assert "avro" in str(e).lower(), e
        return
    assert sorted(paths) == ["t1", "t2"]
    back = read_back(spark, base, fmt="avro")
    assert sorted((r["tablename"], r["id"]) for r in back.collect()) == [("t1", 1), ("t2", 2)]
