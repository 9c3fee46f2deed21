"""The engine's session settings, shared by both launch paths: ``get_spark``
(local mode) applies them all, and the spark-submit job fills in only the
keys the submit conf does not hold."""

from __future__ import annotations

from pacts_spark.session import ENGINE_CONF, submit_conf


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
