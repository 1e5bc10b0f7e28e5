"""Session defaults that depend on the master."""

import os

from whoiswho_spark.session import master_io_defaults


def test_io_defaults_follow_the_master():
    """Local masters keep uncompressed shuffle and 16m scan splits; a
    cluster master gets Spark's own compressed shuffle and 128m splits."""
    for master in ("local", "local[4]", "local[*]", "local-cluster[2,1,1024]"):
        assert master_io_defaults(master) == {
            "spark.shuffle.compress": "false",
            "spark.sql.files.maxPartitionBytes": "16m",
        }, master
    for master in ("spark://head:7077", "yarn", "k8s://https://api:6443"):
        assert master_io_defaults(master) == {
            "spark.shuffle.compress": "true",
            "spark.sql.files.maxPartitionBytes": "128m",
        }, master


def test_local_session_uses_local_io_defaults(spark):
    """The local test session carries the local values unless the env
    knobs override them."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.shuffle.compress") == os.environ.get(
        "SPARK_GRAFT_SHUFFLE_COMPRESS", "false"
    )
    assert conf.get("spark.sql.files.maxPartitionBytes") == os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"
    )


def test_codegen_cache_holds_a_run(spark):
    """The generated-code cache is sized past one pipeline run plus its
    evaluation (about 100 classes)."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == "512"
