"""The engine's session settings, shared by both launch paths: ``get_spark``
(local mode) applies them all, and the spark-submit job fills in only the
keys the submit conf does not hold."""

from __future__ import annotations

import __spark_entry__ as entry
from pacts_spark.runner import ValidationRun
from pacts_spark.session import ENGINE_CONF, submit_conf
from pacts_spark.transcripts import conversations_dim, tools_dim
from tests.conftest import SF_SMALL


def test_get_spark_blocks_are_zstd_and_outputs_snappy(spark):
    assert spark.sparkContext.getConf().get("spark.io.compression.codec") == "zstd"
    # the written outputs keep Spark's parquet codec
    assert spark.conf.get("spark.sql.parquet.compression.codec") == "snappy"


def test_submit_conf_fills_missing_keys_and_keeps_submitted():
    submitted = {
        "spark.io.compression.codec": "lz4",
        "spark.sql.session.timeZone": "Europe/Paris",
        "spark.master": "yarn",
        "spark.sql.shuffle.partitions": "2000",
    }
    conf = submit_conf(submitted)
    assert set(conf) == set(ENGINE_CONF)
    assert conf["spark.io.compression.codec"] == "lz4"
    assert conf["spark.sql.session.timeZone"] == "Europe/Paris"
    for k, v in ENGINE_CONF.items():
        if k not in submitted:
            assert conf[k] == v
    assert submit_conf({}) == ENGINE_CONF


def test_engine_conf_leaves_launch_settings_to_the_launcher():
    launcher_keys = {
        "spark.master",
        "spark.executor.instances",
        "spark.executor.cores",
        "spark.executor.memory",
        "spark.driver.memory",
        "spark.sql.shuffle.partitions",
    }
    assert not launcher_keys & set(ENGINE_CONF)


def test_second_run_compiles_no_class_again(spark, engine, tmp_path):
    """The codegen cache holds a whole ``ValidationRun``: running it again
    in the same session, its job and all five writes, compiles no
    generated class. (At Spark's default of 100 entries the LRU cache
    evicts in a cycle and the second run compiles dozens again.)"""
    path = str(tmp_path / "turns")
    entry._transcripts(spark, str(SF_SMALL)).write.parquet(path)
    events = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()

    def run_once(out):
        res = ValidationRun(engine).run(
            spark,
            spark.read.parquet(path),
            conversations=conversations_dim(events),
            tools=tools_dim(spark),
        )
        for name in ("violations", "verdicts", "stats", "drift", "gaps"):
            getattr(res, name).write.parquet(str(tmp_path / out / name))

    run_once("first")
    before = compiles.getCount()
    run_once("second")
    assert compiles.getCount() - before == 0
