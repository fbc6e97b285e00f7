"""Session factory + 100 TB conf profile (SURVEY §2.10 X3)."""

import os

from wiki_entity_linker_spark.session import (
    cluster_conf_profile,
    default_driver_memory,
    get_spark,
)


def test_cluster_conf_profile_shape():
    prof = cluster_conf_profile(executor_cores=8, executors=1000)
    # shuffle partitions sized 3× total cores
    assert prof["spark.sql.shuffle.partitions"] == str(3 * 8 * 1000)
    # the knobs the 100 TB plan relies on are all present
    for k in (
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.speculation",
        "spark.io.compression.codec",
    ):
        assert k in prof, k
    assert all(isinstance(v, str) for v in prof.values())


def test_factory_applies_profile_runtime_confs(spark):
    """get_spark(extra_conf=...) must deliver profile values to the session
    (runtime-settable SQL confs apply even through getOrCreate reuse)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prof = cluster_conf_profile(executor_cores=4, executors=2)
    try:
        s = get_spark(
            "profile-test",
            cores=8,
            extra_conf={
                "spark.sql.shuffle.partitions": prof["spark.sql.shuffle.partitions"]
            },
        )
        assert s.conf.get("spark.sql.shuffle.partitions") == str(3 * 4 * 2)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_default_driver_memory_fits_physical_ram():
    """The derived spark.driver.memory default never exceeds physical RAM
    (and never the old 24g ceiling), so the JVM raises its own OOM error
    instead of being killed by the kernel."""
    got = default_driver_memory()
    assert got.endswith("m")
    mb = int(got[:-1])
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert 0 < mb < ram_mb
    assert mb <= 24 * 1024
