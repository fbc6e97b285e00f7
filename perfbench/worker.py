"""One Spark application of the benchmark: set up, run timed iterations,
check their outputs, write a JSON result file.

Started by ``run.py`` (never by hand) as
``python3 perfbench/worker.py '<json spec>'``; the spec names the workload,
the generated inputs, a scratch workdir, the run length and whether to trace.
A workload function returns ``setup_s`` and a list of samples, one per timed
iteration: ``{"run_s", "traced", "attempted", "failed", "errors", ...}``.
A traced sample also carries ``layers``, every per-layer metric: its own
iteration's, plus a companion pass over the layers the workload does not
enter (``spec["companion"]``).

The worker writes the phase it is in (``setup``, ``run``, ``check``) to
``spec["phase_file"]`` so that ``run.py`` can attribute the process tree's
RSS to it: ``peak_rss_mb`` covers set-up and the timed iterations only, not
the evaluation and oracle queries the checks run afterwards.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from contextlib import nullcontext

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from checks import (  # noqa: E402
    HEADLINE_F1,
    check_digests,
    check_er,
    digest,
    pair_f1,
)
from tracing import Tracer, flat_metrics  # noqa: E402


def _session(spec: dict):
    from wiki_entity_linker_spark.session import get_spark

    work = spec["workdir"]
    return get_spark(
        "perfbench",
        cores=spec["cores"],
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the whole heap is committed and touched at start, so the JVM's
            # share of peak_rss_mb does not depend on when G1 grows the heap
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch"
            ),
            "spark.ui.showConsoleProgress": "false",
            # the traced iteration reads every job back after it ends
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _phase(spec: dict, name: str) -> None:
    with open(spec["phase_file"], "w") as f:
        f.write(name)


def _iterations(seconds: float, trace: bool):
    """Yield ``traced`` flags: untraced iterations until ``seconds`` have
    passed (at least one); a traced run adds one traced iteration."""
    t0 = time.perf_counter()
    yield False
    while not trace and time.perf_counter() - t0 < seconds:
        yield False
    if trace:
        yield True


def _traced(tracer: Tracer | None, module: str):
    return tracer.layers(module) if tracer else nullcontext()


def _assignment_facts(assignment, labeled_pairs) -> dict:
    from pyspark.sql import functions as F

    from wiki_entity_linker_spark.eval.pairwise import evaluate_against_labeled_pairs

    row = assignment.agg(
        F.count("*").alias("rows"),
        F.countDistinct("id").alias("ids"),
        F.countDistinct("component").alias("clusters"),
    ).collect()[0]
    metrics = evaluate_against_labeled_pairs(
        assignment, labeled_pairs, id_col="id", cluster_col="component"
    )
    f1 = metrics.filter("slice = 'all'").collect()[0]["f1"]
    return {"f1": f1, "clusters": row["clusters"], "rows": row["rows"], "ids": row["ids"]}


def _merge_some(assignment):
    """Self-test perturbation: merge the ~1/256 of files whose id starts
    with ``00`` into one existing cluster."""
    from pyspark.sql import functions as F

    c0 = assignment.first()["component"]
    return assignment.withColumn(
        "component",
        F.when(F.substring("id", 1, 2) == "00", F.lit(c0)).otherwise(F.col("component")),
    )


# -- workloads ---------------------------------------------------------------


def _load_er(spark, d: str):
    src = spark.read.parquet(f"{d}/source_files.parquet")
    lp = spark.read.parquet(f"{d}/labeled_pairs.parquet")
    src.count(), lp.count()
    return src, lp


def _resolve(spark, src, lp, er_dir: str, tracer: Tracer | None):
    """One ``run_er_pipeline(checkpoint=True)`` into ``er_dir``, including
    its ``metrics`` stage; returns ``(run_s, out)``."""
    from wiki_entity_linker_spark.plans.er_pipeline import run_er_pipeline

    t0 = time.perf_counter()
    with _traced(tracer, "er_pipeline"):
        out = run_er_pipeline(spark, src, lp, er_dir)
        out["metrics"].collect()
    return time.perf_counter() - t0, out


def _er_layers(tracer: Tracer, out: dict) -> dict:
    rows = {k: v["rows_out"] for k, v in out["_counters"].items()}
    return flat_metrics(tracer.totals()) | {
        "er_pipeline.match_ratio": rows["edges"] / rows["scores"],
        "er_pipeline.pairs_per_rep": rows["pairs"] / rows["exact_groups"],
    }


def er_full(spark, spec: dict, t_start: float) -> dict:
    """One cold ``run_er_pipeline(checkpoint=True)`` with labeled-pair
    evaluation, in this fresh session."""
    facts = spec["facts"]
    src, lp = _load_er(spark, spec["inputs"])
    setup_s = time.perf_counter() - t_start

    _phase(spec, "run")
    tracer = Tracer(spark) if spec["trace"] else None
    run_s, out = _resolve(spark, src, lp, os.path.join(spec["workdir"], "er"), tracer)
    _phase(spec, "check")
    out["_cleanup"]()

    got = _assignment_facts(out["assignment"], lp)
    errors = check_er(got["f1"], got["clusters"], got["rows"], got["ids"], facts)
    sample = {"run_s": run_s, "traced": bool(tracer), "attempted": 1,
              "failed": int(bool(errors)), "errors": errors, "pair_f1": got["f1"],
              "clusters": got["clusters"], "files": facts["files"]}
    if tracer:
        sample["layers"] = _er_layers(tracer, out)
        sample["spans"] = tracer.span_records()
        _add_companion(sample, _query_companion(spark, spec["companion"]))
    result = {"setup_s": setup_s, "samples": [sample]}
    if spec["selftest"]:
        bad = _assignment_facts(_merge_some(out["assignment"]), lp)
        result["perturbed_errors"] = check_er(
            bad["f1"], bad["clusters"], bad["rows"], bad["ids"], facts
        )
    return result


def headline_queries(spark, spec: dict, t_start: float) -> dict:
    """Warm session: setup loads the tables and runs one pass that collects
    every result (the warm-up); timed passes force each query with a noop
    write. The checks then match the collected results against the repo's
    DuckDB oracle SQL and the planted document families."""
    import bench
    from wiki_entity_linker_spark import queries as q

    d = spec["inputs"]
    for f in sorted(os.listdir(d)):
        spark.read.parquet(os.path.join(d, f)).count()
    qs = q.queries()
    got, bad, results = {}, {}, {}
    for name in bench.HEADLINE:
        try:
            df = qs[name](spark, d)
            results[name] = (df.columns, [tuple(r) for r in df.collect()])
        except Exception as exc:  # noqa: BLE001 - counted as a failed query
            bad[name] = f"raised {exc!r}"[:300]
            continue
        got[name] = digest(*results[name])
    setup_s = time.perf_counter() - t_start

    _phase(spec, "run")
    passes, samples = [], []
    for traced in _iterations(spec["seconds"], spec["trace"]):
        tracer = Tracer(spark) if traced else None
        times, failed = _query_pass(spark, d, tracer)
        if not tracer:
            passes.append((times, failed))
            continue
        samples.append({"run_s": sum(times.values()), "traced": True,
                        "attempted": len(bench.HEADLINE), "failed": failed, "errors": [],
                        "files": spec["facts"]["documents"],
                        "layers": flat_metrics(tracer.totals()), "spans": tracer.span_records()})
    # run_s is bench.py's headline number: the sum over queries of each
    # query's best untraced pass, which a slow moment of the host during one
    # pass does not move
    best = {name: min(t[name] for t, _ in passes) for name in bench.HEADLINE}
    samples.insert(0, {"run_s": sum(best.values()), "traced": False,
                       "attempted": len(bench.HEADLINE) * len(passes),
                       "failed": sum(f for _, f in passes), "errors": [],
                       "files": spec["facts"]["documents"], "query_best_s": best,
                       "pass_s": [sum(t.values()) for t, _ in passes]})

    _phase(spec, "check")
    if spec["trace"]:
        _add_companion(samples[-1], _er_companion(spark, spec["companion"], spec["workdir"]))
    family = dict(enumerate(spec["facts"]["family"]))
    want = _oracle_digests(d, list(got), q.oracle_sql())
    bad |= _headline_errors(got, want, results, family)
    f1 = _documents_f1(results, family)
    for s in samples:
        s["pair_f1"] = f1
    # the warm-up pass is one more attempt per query, and the one checked
    samples[0]["attempted"] += len(bench.HEADLINE)
    samples[0]["failed"] += len(bad)
    samples[0]["errors"] = [f"{name}: {msg}" for name, msg in sorted(bad.items())]
    result = {"setup_s": setup_s, "samples": samples, "digests": got}
    if spec["selftest"]:
        # drop the last row of the first non-empty result
        name = next(n for n in got if results[n][1])
        cols, rows = results[name]
        perturbed = results | {name: (cols, rows[:-1])}
        result["perturbed_errors"] = sorted(
            _headline_errors(got | {name: digest(cols, rows[:-1])}, want, perturbed, family)
        )
    return result


def _query_pass(spark, d: str, tracer: Tracer | None) -> tuple[dict[str, float], int]:
    """Force every ``bench.HEADLINE`` query with a ``noop`` write; returns
    each query's wall time and the number that raised."""
    import bench
    from wiki_entity_linker_spark import queries as q

    qs = q.queries()
    times, failed = {}, 0
    with _traced(tracer, "queries"):
        for name in bench.HEADLINE:
            with tracer.span(f"queries.{name}") if tracer else nullcontext():
                t0 = time.perf_counter()
                try:
                    qs[name](spark, d).write.format("noop").mode("overwrite").save()
                except Exception:  # noqa: BLE001 - counted as a failed query
                    failed += 1
                times[name] = time.perf_counter() - t0
    return times, failed


# -- companion layers of a traced run -------------------------------------------
#
# A traced run reports every per-layer metric, on every workload. After the
# workload's own traced iteration, the same session runs one traced pass of
# the layers the workload does not enter, on inputs ``run.py`` generated
# from the same seed: the headline queries after ``er_full``, an ER run on
# the ``small`` corpus after ``headline_queries``. Their spans go to a
# separate tracer, so the workload's own ``run.*`` and ``trace.*`` figures
# do not include them.


def _query_companion(spark, comp: dict) -> dict:
    tracer = Tracer(spark)
    times, failed = _query_pass(spark, comp["inputs"], tracer)
    layers = {k: v for k, v in flat_metrics(tracer.totals()).items() if k.startswith("queries.")}
    return {"layers": layers, "attempted": len(times), "failed": failed,
            "errors": [f"companion: {failed} headline queries raised"] if failed else []}


def _er_companion(spark, comp: dict, workdir: str) -> dict:
    src, lp = _load_er(spark, comp["inputs"])
    tracer = Tracer(spark)
    _, out = _resolve(spark, src, lp, os.path.join(workdir, "companion-er"), tracer)
    out["_cleanup"]()
    got = _assignment_facts(out["assignment"], lp)
    errors = check_er(got["f1"], got["clusters"], got["rows"], got["ids"], comp["facts"])
    layers = {k: v for k, v in _er_layers(tracer, out).items()
              if k.startswith(("er_pipeline.", "checkpoint."))}
    return {"layers": layers, "attempted": 1, "failed": int(bool(errors)),
            "errors": [f"companion ER run: {e}" for e in errors]}


def _add_companion(sample: dict, comp: dict) -> None:
    sample["layers"] |= comp["layers"]
    for k in ("attempted", "failed", "errors"):
        sample[k] += comp[k]


def _documents_f1(results: dict, family: dict) -> float:
    if "er_cluster_documents" not in results:
        return 0.0
    cols, rows = results["er_cluster_documents"]
    ids, comps = cols.index("id"), cols.index("component")
    return pair_f1({r[ids]: r[comps] for r in rows}, family)


def _headline_errors(got: dict, want: dict, results: dict, family: dict) -> dict[str, str]:
    bad = check_digests(got, want)
    f1 = _documents_f1(results, family)
    if f1 != HEADLINE_F1:
        bad.setdefault("er_cluster_documents", f"pair F1 {f1} != {HEADLINE_F1}")
    return bad


def _oracle_digests(d: str, names: list[str], sql: dict[str, str]) -> dict[str, dict]:
    """Expected row count + checksum of each query, from the repo's DuckDB
    oracle SQL over the same parquet files."""
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(d)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(d, f)}'")
    out = {}
    for name in names:
        rel = con.sql(sql[name])
        out[name] = digest(rel.columns, rel.fetchall())
    con.close()
    return out


WORKLOADS = {"er_full": er_full, "headline_queries": headline_queries}


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main() -> None:
    spec = json.loads(sys.argv[1])
    _phase(spec, "setup")
    t_start = time.perf_counter()
    spark = _session(spec)
    start_s = time.perf_counter() - t_start
    try:
        result = WORKLOADS[spec["workload"]](spark, spec, t_start)
        result["start_s"] = start_s
    except Exception:  # noqa: BLE001 - reported to run.py as a failed worker
        result = {"error": traceback.format_exc()[-4000:]}
    with open(spec["out"], "w") as f:
        json.dump(result, f)
    _stop(spark)


if __name__ == "__main__":
    main()
