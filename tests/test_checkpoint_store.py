"""StageManager store seam: parquet default, Iceberg-shaped swap, resume-key
input identity (VERDICT r1 #10 + ADVICE resume-key finding)."""

import os

import pytest
from pyspark.sql import functions as F

from wiki_entity_linker_spark.plans.checkpoint import (
    IcebergStore,
    ParquetStore,
    StageManager,
)


class RecordingStore(ParquetStore):
    """Parquet store that records which seam methods the manager calls."""

    def __init__(self, root):
        super().__init__(root)
        self.calls = []

    def write(self, spark, name, df):
        self.calls.append(("write", name))
        return super().write(spark, name, df)

    def read(self, spark, name):
        self.calls.append(("read", name))
        return super().read(spark, name)


def test_stage_manager_uses_store_seam(spark, tmp_path):
    root = str(tmp_path / "run")
    store = RecordingStore(root)
    mgr = StageManager(spark, root, {"p": 1}, store=store)
    df = mgr.stage("s1", lambda: spark.range(10).select(F.col("id")))
    assert df.count() == 10
    assert store.calls == [("write", "s1")]

    # resume goes through store.read, not a hardcoded parquet path
    store2 = RecordingStore(root)
    mgr2 = StageManager(spark, root, {"p": 1}, store=store2)
    df2 = mgr2.stage("s1", lambda: spark.range(99))
    assert df2.count() == 10  # stored result, builder not re-run
    assert store2.calls == [("read", "s1")]
    assert mgr2.counters["s1"]["resumed"] is True

    # param change invalidates: write again
    store3 = RecordingStore(root)
    mgr3 = StageManager(spark, root, {"p": 2}, store=store3)
    df3 = mgr3.stage("s1", lambda: spark.range(5))
    assert df3.count() == 5
    assert store3.calls == [("write", "s1")]


def test_iceberg_store_shape(spark):
    st = IcebergStore("lake", "er_stages")
    assert st.table("edges") == "lake.er_stages.edges"
    # no Iceberg catalog on the test session → detectably unavailable
    assert IcebergStore.available(spark, "lake") is False


def test_er_resume_key_covers_input_identity(spark, tmp_path):
    """Same workdir + same config but DIFFERENT input must invalidate."""
    from wiki_entity_linker_spark.plans.er_pipeline import _input_fingerprint

    a = spark.createDataFrame([(1, "x")], "id long, content string")
    b = spark.createDataFrame([(1, "x"), (2, "y")], "id long, content string")
    assert _input_fingerprint(a) != _input_fingerprint(b)
    # parquet-backed: identity from the file listing, no scan
    p1 = str(tmp_path / "t1.parquet")
    p2 = str(tmp_path / "t2.parquet")
    a.write.parquet(p1)
    a.write.parquet(p2)
    f1 = _input_fingerprint(spark.read.parquet(p1))
    f2 = _input_fingerprint(spark.read.parquet(p2))
    assert f1 != f2
    assert f1 == _input_fingerprint(spark.read.parquet(p1))


def test_stage_costs_only_its_write(spark, tmp_path, monkeypatch):
    """A checkpointed stage runs one Spark job, its write: the read-back
    takes the written schema and ``rows_out``/``partitions`` come from the
    part files' parquet footers, so nothing is counted or collected."""
    frame = type(spark.range(1))  # the concrete DataFrame class in use
    calls = []
    for method in ("count", "collect"):
        real = getattr(frame, method)

        def recording(self, _real=real, _name=method):
            calls.append(_name)
            return _real(self)

        monkeypatch.setattr(frame, method, recording)
    sc = spark.sparkContext
    group = f"stage-budget-{tmp_path.name}"
    mgr = StageManager(spark, str(tmp_path / "run"), {"p": 1})
    sc.setJobGroup(group, "stage budget")
    try:
        mgr.stage("s1", lambda: spark.range(0, 37, 1, 3))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert calls == []

    meta = mgr.counters["s1"]
    parts = [f for f in os.listdir(tmp_path / "run" / "s1.parquet") if f.startswith("part-")]
    assert meta["rows_out"] == 37
    assert len(meta["partitions"]) == len(parts) == 3
    assert sum(p["rows"] for p in meta["partitions"]) == 37

    mgr.stage("empty", lambda: spark.range(0))
    assert mgr.counters["empty"]["rows_out"] == 0
    assert mgr.counters["empty"]["partitions"] == []

    # resuming reads the schema from the part files' footers: no job runs
    # before the first action, for a written and for an empty stage alike
    group = f"stage-resume-{tmp_path.name}"
    again = StageManager(spark, str(tmp_path / "run"), {"p": 1})
    sc.setJobGroup(group, "stage resume")
    try:
        s1 = again.stage("s1", lambda: spark.range(99))
        empty = again.stage("empty", lambda: spark.range(99))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    assert again.counters["s1"]["resumed"] and again.counters["empty"]["resumed"]
    # the footer schema is the one inference reads
    inferred = spark.read.parquet(str(tmp_path / "run" / "s1.parquet")).schema
    assert s1.schema == inferred and empty.schema == inferred
