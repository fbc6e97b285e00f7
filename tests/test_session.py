"""Session factory + 100 TB conf profile (SURVEY §2.10 X3), and the two
media of the lineage cut.

The cut's medium follows Spark's checkpoint directory. PySpark cannot unset
one once ``setCheckpointDir`` has run, and the test session is shared, so
the reliable medium runs in a child process with its own small session: a
directory left set here would silently switch every later test's cuts.
"""

import json
import os
import subprocess
import sys

from wiki_entity_linker_spark.operators import closure
from wiki_entity_linker_spark.operators.closure import (
    components_with_singletons,
    transitive_closure,
)
from wiki_entity_linker_spark.session import (
    cluster_conf_profile,
    cut,
    default_driver_memory,
    get_spark,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a 10-node chain, a 3-cycle and a branch into the chain
CLOSURE_EDGES = (
    [(f"n{i}", f"n{i + 1}") for i in range(9)]
    + [("c0", "c1"), ("c1", "c2"), ("c2", "c0"), ("b0", "n5")]
)
# three clusters of 2-4 nodes plus two singletons
CC_EDGES = [("a", "b"), ("b", "c"), ("c", "d"), ("e", "f"), ("g", "h"), ("h", "e2")]
CC_NODES = ["a", "b", "c", "d", "e", "f", "g", "h", "e2", "s1", "s2"]


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


def _rows(df) -> list[list]:
    return sorted([list(r) for r in df.collect()])


def test_cut_local_medium_without_checkpoint_dir(spark):
    assert spark.sparkContext.getCheckpointDir() is None
    df = spark.range(40).selectExpr("id % 7 AS k").groupBy("k").count()
    c = cut(df)
    assert c._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD"
    assert _rows(c) == _rows(df)


_CHILD = """
import glob, json, sys
from wiki_entity_linker_spark.operators import closure
from wiki_entity_linker_spark.session import cut, get_spark

d, closure_edges, cc_edges, cc_nodes = sys.argv[1], *map(json.loads, sys.argv[2:])
spark = get_spark("cut-reliable", cores=2, extra_conf={"spark.checkpoint.dir": d})
closure._CLOSURE_LOCAL_SOLVE_EDGES = 0
closure._CC_LOCAL_SOLVE_EDGES = 0
edges = spark.createDataFrame(closure_edges, "child string, parent string")
tc = closure.transitive_closure(edges)
cc = closure.components_with_singletons(
    spark.createDataFrame([(n,) for n in cc_nodes], "id string"),
    spark.createDataFrame(cc_edges, "id_a string, id_b string"),
    id_col="id",
)
out = {
    "dir_set": spark.sparkContext.getCheckpointDir() is not None,
    "tc": sorted([list(r) for r in tc.collect()]),
    "cc": sorted([list(r) for r in cc.collect()]),
    # counted before the plan probe below writes one of its own
    "rdd_parts": len(glob.glob(f"{d}/**/rdd-*/part-*", recursive=True)),
    "plan": cut(spark.range(5))._jdf.queryExecution().analyzed().nodeName(),
}
spark.stop()
print("RESULT " + json.dumps(out))
"""


def test_cut_reliable_medium_matches_local(spark, monkeypatch, tmp_path):
    """With ``spark.checkpoint.dir`` set, the doubling loop and the
    star-contraction loop cut through reliable checkpoints (``rdd-*`` files
    under the directory) and return exactly the local medium's rows."""
    monkeypatch.setattr(closure, "_CLOSURE_LOCAL_SOLVE_EDGES", 0)
    monkeypatch.setattr(closure, "_CC_LOCAL_SOLVE_EDGES", 0)
    local_tc = _rows(
        transitive_closure(
            spark.createDataFrame(CLOSURE_EDGES, "child string, parent string")
        )
    )
    local_cc = _rows(
        components_with_singletons(
            spark.createDataFrame([(n,) for n in CC_NODES], "id string"),
            spark.createDataFrame(CC_EDGES, "id_a string, id_b string"),
            id_col="id",
        )
    )
    assert spark.sparkContext.getCheckpointDir() is None

    ckpt = tmp_path / "ckpt"
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            _CHILD,
            str(ckpt),
            json.dumps(CLOSURE_EDGES),
            json.dumps(CC_EDGES),
            json.dumps(CC_NODES),
        ],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    out = json.loads(lines[-1][len("RESULT "):])
    assert out["dir_set"]
    assert out["plan"] == "LogicalRDD"
    assert out["rdd_parts"] > 0
    assert out["tc"] == local_tc
    assert out["cc"] == local_cc
    # the fixture graphs are non-trivial: the closure adds pairs beyond the
    # edges, and the components keep three clusters and two singletons
    assert len(local_tc) > len(CLOSURE_EDGES)
    assert len({c for _, c in local_cc}) == 5
