"""Per-layer spans for a traced benchmark run.

The spans are recorded from the benchmark's side only: the tracer wraps the
public entry points of each layer for the duration of one timed iteration,

* ``plans.checkpoint.StageManager.stage``  -> ``<module>.<stage>``
* ``plans.checkpoint.ParquetStore.write``  -> ``checkpoint.write``, followed
  by ``checkpoint.bookkeeping`` (the row count + partition lineage the
  manager runs after every write) until the stage returns,

and the workload opens ``queries.<name>`` spans itself. Every span gets a
Spark job group that is unique to this run, so each Spark job is billed to
exactly one span. Spans stay in memory; after the timed iteration
:meth:`Tracer.totals` reads each group's jobs and stages from Spark's status
store (which works with the UI off) and folds them into per-span totals.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from pyspark.sql import SparkSession

MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.nonce = f"perfbench-{os.getpid()}-{time.time_ns()}"
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.module = "run"

    # -- span bookkeeping ---------------------------------------------------
    def _set_group(self) -> None:
        if self.stack:
            top = self.stack[-1]
            self.sc.setJobGroup(top["group"], top["name"])
        else:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                self.sc.setLocalProperty(key, None)

    def open(self, name: str, kind: str = "span") -> dict:
        sp = {
            "id": len(self.spans),
            "name": name,
            "kind": kind,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "group": f"{self.nonce}-{len(self.spans)}",
            "start": time.time(),
        }
        self.spans.append(sp)
        self.stack.append(sp)
        self._set_group()
        return sp

    def close(self, sp: dict) -> None:
        """Close ``sp`` and any span still open above it."""
        now = time.time()
        while self.stack:
            top = self.stack.pop()
            top["end"] = now
            if top is sp:
                break
        self._set_group()

    @contextmanager
    def span(self, name: str, kind: str = "span"):
        sp = self.open(name, kind)
        try:
            yield sp
        finally:
            self.close(sp)

    # -- layer hooks ----------------------------------------------------------
    @contextmanager
    def layers(self, module: str):
        """Trace one timed iteration: a root ``run`` span, plus the layer
        wrappers, with stage spans prefixed by ``module``."""
        from wiki_entity_linker_spark.plans import checkpoint

        tracer = self
        stage0 = checkpoint.StageManager.stage
        write0 = checkpoint.ParquetStore.write

        def stage(mgr, name, build, *args, **kwargs):
            sp = tracer.open(f"{tracer.module}.{name}", kind="stage")
            try:
                return stage0(mgr, name, build, *args, **kwargs)
            finally:
                tracer.close(sp)

        def write(store, spark, name, df):
            with tracer.span("checkpoint.write"):
                out = write0(store, spark, name, df)
            if tracer.stack and tracer.stack[-1]["kind"] == "stage":
                # everything until the stage returns is the manager's
                # post-write bookkeeping (count + partition lineage)
                tracer.open("checkpoint.bookkeeping")
            return out

        self.module = module
        checkpoint.StageManager.stage = stage
        checkpoint.ParquetStore.write = write
        try:
            with self.span("run"):
                yield self
        finally:
            checkpoint.StageManager.stage = stage0
            checkpoint.ParquetStore.write = write0

    # -- status-store read-out ------------------------------------------------
    def _own_metrics(self) -> dict[int, dict]:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        seen_stages: set[int] = set()
        own: dict[int, dict] = {}
        for sp in self.spans:
            m = {"jobs": 0, "exec_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0, "job_ms": []}
            for job_id in tracker.getJobIdsForGroup(sp["group"]):
                m["jobs"] += 1
                jd = store.job(job_id)
                if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                    m["job_ms"].append(
                        (jd.submissionTime().get().getTime(), jd.completionTime().get().getTime())
                    )
                info = tracker.getJobInfo(job_id)
                for stage_id in info.stageIds if info else []:
                    if stage_id in seen_stages:
                        continue
                    seen_stages.add(stage_id)
                    sd = store.lastStageAttempt(stage_id)
                    m["exec_s"] += sd.executorRunTime() / 1000.0
                    m["shuffle_mb"] += sd.shuffleWriteBytes() / MB
                    m["spill_mb"] += sd.diskBytesSpilled() / MB
            own[sp["id"]] = m
        return own

    def totals(self) -> dict[str, dict]:
        """Per span name: wall time, jobs, executor time, shuffle write and
        disk spill, each INCLUSIVE of child spans. The root ``run`` span
        also gets ``driver_gap_s``: its wall time not covered by any running
        job."""
        own = self._own_metrics()
        incl = {i: dict(m, job_ms=list(m["job_ms"])) for i, m in own.items()}
        for sp in reversed(self.spans):  # children always come after parents
            if sp["parent"] is not None:
                p = incl[sp["parent"]]
                for k in ("jobs", "exec_s", "shuffle_mb", "spill_mb"):
                    p[k] += incl[sp["id"]][k]
                p["job_ms"] += incl[sp["id"]]["job_ms"]

        out: dict[str, dict] = {}
        for sp in self.spans:
            t = out.setdefault(
                sp["name"],
                {"wall_s": 0.0, "jobs": 0, "exec_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0},
            )
            t["wall_s"] += sp["end"] - sp["start"]
            for k in ("jobs", "exec_s", "shuffle_mb", "spill_mb"):
                t[k] += incl[sp["id"]][k]
            if sp["name"] == "run":
                covered = _union_ms(incl[sp["id"]]["job_ms"], sp["start"], sp["end"])
                t["driver_gap_s"] = t.get("driver_gap_s", 0.0) + (
                    sp["end"] - sp["start"] - covered
                )
        return out

    def span_records(self) -> list[dict]:
        return [
            {k: sp[k] for k in ("id", "name", "parent", "start", "end")} for sp in self.spans
        ]


def _union_ms(intervals: list[tuple[int, int]], start: float, end: float) -> float:
    """Seconds of ``[start, end]`` covered by the union of job intervals (ms)."""
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        lo, hi = max(lo / 1000.0, start), min(hi / 1000.0, end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return covered


def flat_metrics(totals: dict[str, dict]) -> dict[str, float]:
    """Span totals -> ``<span>.<field>`` metric names, plus the named
    checkpoint and run-level aggregates."""
    flat: dict[str, float] = {}
    for name, t in totals.items():
        for field in ("wall_s", "exec_s", "jobs", "shuffle_mb"):
            flat[f"{name}.{field}"] = t[field]
    write = totals.get("checkpoint.write", {})
    book = totals.get("checkpoint.bookkeeping", {})
    run = totals.get("run", {})
    flat["checkpoint.write_s"] = write.get("wall_s", 0.0)
    flat["checkpoint.bookkeeping_s"] = book.get("wall_s", 0.0)
    flat["checkpoint.bookkeeping_jobs"] = book.get("jobs", 0)
    flat["run.driver_gap_s"] = run.get("driver_gap_s", 0.0)
    flat["run.spill_mb"] = run.get("spill_mb", 0.0)
    return flat
