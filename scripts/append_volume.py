"""Measure one ER append's WRITE volume against the base run's canonical
tables (BASELINE.md round-5 table).

The round-4 evidence showed append-time READ volume is O(batch) (input
bytes 0.10x at a 10% batch). An append also writes only batch deltas: for
components/assignment that is the batch-sized relabel map plus the batch's
own rows, which ``read_canonical`` resolves into the whole-corpus view.
This script runs a full ER run over the base (1 - batch-frac) of a fixture
corpus, appends the rest, and reports bytes actually written per stage
table — deterministic disk sizes, immune to shared-host load — next to the
base run's materialized components/assignment bytes. It checks that the
resolved assignment has exactly one row per file and exits non-zero if not.

Run: ``python scripts/append_volume.py [--scale benchxl] [--cpus 32]``
(writes ``.benchmarks/append_volume.json``)
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def stage_sizes(workdir: str) -> dict[str, int]:
    out = {}
    for name in sorted(os.listdir(workdir)):
        p = os.path.join(workdir, name)
        if name.endswith(".parquet"):
            out[name[: -len(".parquet")]] = du(p)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", default="benchxl")
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--root", default="/tmp/append_volume")
    ap.add_argument("--batch-frac", type=float, default=0.10)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from wiki_entity_linker_spark.fixtures.corpus import ensure_corpus
    from wiki_entity_linker_spark.operators.blocking import with_file_id
    from wiki_entity_linker_spark.plans.er_incremental import run_er_incremental
    from wiki_entity_linker_spark.plans.er_pipeline import run_er_pipeline
    from wiki_entity_linker_spark.session import get_spark

    os.makedirs(args.root, exist_ok=True)
    d = ensure_corpus(os.path.join(args.root, "corpus"), args.scale)
    spark = get_spark("append-volume", cores=args.cpus)
    src = spark.read.parquet(f"{d}/source_files.parquet")

    tagged = with_file_id(src)
    # id-ordered split (batch ids after base ids → first-writer-stable reps);
    # file_id is a sha256 string, so the cut is the max of the first
    # (1-frac) ids — one bounded sort-limit job, no driver-side id list
    n = tagged.count()
    cut = (
        tagged.select("file_id").orderBy("file_id")
        .limit(int(n * (1 - args.batch_frac)))
        .agg(F.max("file_id")).first()[0]
    )
    base = tagged.filter(F.col("file_id") <= cut).drop("file_id")
    batch = tagged.filter(F.col("file_id") > cut).drop("file_id")
    n_base, n_batch = base.count(), batch.count()

    base_wd = os.path.join(args.root, "base_wd")
    shutil.rmtree(base_wd, ignore_errors=True)
    t0 = time.time()
    run_er_pipeline(spark, base, None, base_wd)["_cleanup"]()
    t_base = time.time() - t0

    wd = os.path.join(args.root, "append")
    shutil.rmtree(wd, ignore_errors=True)
    t0 = time.time()
    out = run_er_incremental(spark, base_wd, batch, wd)
    n_assign = out["assignment"].count()  # force the resolved view too
    wall = time.time() - t0
    n_ids = out["assignment"].select("id").distinct().count()
    out["_cleanup"]()
    sizes = stage_sizes(wd)
    canonical = {
        k: v for k, v in sizes.items()
        if k in ("relabel_map", "batch_components", "batch_assignment")
    }

    base_sizes = stage_sizes(base_wd)
    base_canonical = {k: base_sizes.get(k, 0) for k in ("assignment", "components")}
    one_row_per_file = n_assign == n_ids == n_base + n_batch
    report = {
        "metric": "append_write_volume",
        "scale": args.scale,
        "cpus": args.cpus,
        "files_base": n_base,
        "files_batch": n_batch,
        "base_full_run_wall_s": round(t_base, 1),
        "base_canonical_bytes": base_canonical,
        "append": {
            "wall_s": round(wall, 1),
            "rows_assignment": n_assign,
            "distinct_ids_assignment": n_ids,
            "bytes_total": sum(sizes.values()),
            "bytes_canonical_outputs": sum(canonical.values()),
            "canonical_stage_bytes": canonical,
            "all_stage_bytes": sizes,
        },
        "append_vs_base_canonical_ratio": round(
            sum(canonical.values()) / max(sum(base_canonical.values()), 1), 4),
        "assignment_one_row_per_file": one_row_per_file,
    }
    print(json.dumps(report))
    with open(os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            ".benchmarks", "append_volume.json"), "w") as f:
        json.dump(report, f, indent=1)
    spark.stop()
    if not one_row_per_file:
        sys.exit(
            f"resolved assignment: {n_assign} rows, {n_ids} distinct ids, "
            f"expected {n_base + n_batch} files"
        )


if __name__ == "__main__":
    main()
