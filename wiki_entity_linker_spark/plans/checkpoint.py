"""Checkpointed stage tables with per-partition lineage + counters.

The reference's resumability is Make's skip-if-output-exists
(Makefile:178-198) plus ``--start_line`` resume knobs
(create_entity_word_vectors.py:31). The graft requires the same contract as
first-class dataflow: every pipeline stage writes a stage table through a
swappable store — :class:`ParquetStore` (default) or :class:`IcebergStore`
(``writeTo(...).createOrReplace()`` when an Iceberg catalog is configured) —
together with a manifest recording ``params_hash``, total and
per-partition row counts. The per-partition lineage is the row count of
each written part file, read from the parquet footers on the driver, so a
checkpointed stage runs no Spark job after its write. Re-running with
identical params skips straight to the stored table, read back with the
schema in its part files' footers, so a resumed stage runs no job until
its table is used; changing any upstream param invalidates every
downstream stage (hash chaining).

The module also owns the on-disk format of append chains (plans/
er_incremental.py, plans/curation_incremental.py, streaming/appends.py): each
append workdir's ``chain.json`` names the workdir it builds on, and a
streaming chain root's ``head.json`` names its newest complete workdir. Every
manifest here is written atomically (:func:`write_json_atomic`).
"""

from __future__ import annotations

import hashlib
import json
import os
from collections.abc import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def params_hash(params: dict) -> str:
    return hashlib.sha256(
        json.dumps(params, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


def write_json_atomic(path: str, obj: dict) -> None:
    """Write ``obj`` as JSON to ``path`` through a temp file in the same
    directory and ``os.replace``: a crash mid-write leaves the previous
    manifest intact, never a truncated one that every later read fails on."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def write_chain_base(workdir: str, base_workdir: str) -> None:
    """Record that the append level at ``workdir`` builds on ``base_workdir``."""
    write_json_atomic(
        os.path.join(workdir, "chain.json"), {"base": os.path.abspath(base_workdir)}
    )


def chain_base(workdir: str) -> str | None:
    """The workdir an append level builds on; ``None`` for a self-contained
    workdir (a full run or a compaction)."""
    p = os.path.join(workdir, "chain.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)["base"]


def _head_state(chain_root: str) -> dict:
    p = os.path.join(chain_root, "head.json")
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def chain_head(chain_root: str, default: str | None = None) -> str | None:
    """The workdir holding the newest complete state of a streaming chain."""
    return _head_state(chain_root).get("head", default)


def chain_depth(chain_root: str) -> int:
    """Number of un-compacted append levels above the nearest self-contained
    workdir (0 right after a full run or a compaction)."""
    return _head_state(chain_root).get("depth", 0)


def advance_head(chain_root: str, head: str, epoch_id: int, depth: int) -> None:
    """Point the chain at ``head``; call only once its tables are written."""
    write_json_atomic(
        os.path.join(chain_root, "head.json"),
        {"head": head, "epoch": epoch_id, "depth": depth},
    )


class ParquetStore:
    """Default stage-table store: one parquet directory per stage."""

    def __init__(self, root: str):
        self.root = root

    def write(self, spark: SparkSession, name: str, df: DataFrame) -> DataFrame:
        path = os.path.join(self.root, f"{name}.parquet")
        df.write.mode("overwrite").parquet(path)
        # the schema just written: inferring it would scan a footer in a job
        # of its own (file sources read every column as nullable either way)
        return spark.read.schema(df.schema).parquet(path)

    def lineage(self, spark: SparkSession, name: str) -> list[dict]:
        """Per-partition row counters (X4 telemetry analogue,
        link_text.py:100-107): the row count of each written part file, from
        its parquet footer on the driver. Files without rows are skipped."""
        path = os.path.join(self.root, f"{name}.parquet")
        lineage = []
        for f in sorted(os.listdir(path)):
            if not f.startswith("part-"):
                continue
            rows = pq.read_metadata(os.path.join(path, f)).num_rows
            if rows:
                lineage.append({"partition_id": int(f.split("-")[1]), "rows": rows})
        return lineage

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        """The stage table with the schema Spark stored in its part files'
        footers (every part file, even an empty frame's only one, carries
        it), read on the driver: inferring it would run a job."""
        path = os.path.join(self.root, f"{name}.parquet")
        part = next(f for f in sorted(os.listdir(path)) if f.startswith("part-"))
        meta = pq.read_metadata(os.path.join(path, part)).metadata
        schema = T.StructType.fromJson(
            json.loads(meta[b"org.apache.spark.sql.parquet.row.metadata"])
        )
        return spark.read.schema(schema).parquet(path)

    def exists(self, spark: SparkSession, name: str) -> bool:
        return os.path.isdir(os.path.join(self.root, f"{name}.parquet"))


class IcebergStore:
    """Iceberg stage-table store: ``writeTo(...).createOrReplace()`` behind
    the same seam (the SURVEY risk-register swap, one interface).

    Requires an Iceberg catalog on the session
    (``spark.sql.catalog.<catalog>`` + iceberg-spark-runtime jar); use
    :meth:`available` to pick a store at runtime. Each stage becomes the
    table ``<catalog>.<namespace>.<name>`` — atomic replace, snapshot
    history and partition metadata come from the Iceberg spec itself.

    SANDBOX STATUS: shape-tested only (tests/test_checkpoint_store.py). The
    iceberg-spark-runtime jar is not in this container and there is no
    network access to fetch it, so this store has never run against a real
    catalog here. To exercise it on a cluster::

        spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \\
          --conf spark.sql.catalog.er=org.apache.iceberg.spark.SparkCatalog \\
          --conf spark.sql.catalog.er.type=hadoop \\
          --conf spark.sql.catalog.er.warehouse=<path> ...

    then pass ``store=IcebergStore("er")`` to ``run_er_pipeline``.
    """

    def __init__(self, catalog: str, namespace: str = "er_stages"):
        self.catalog = catalog
        self.namespace = namespace

    def table(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    @staticmethod
    def available(spark: SparkSession, catalog: str) -> bool:
        try:
            spark.conf.get(f"spark.sql.catalog.{catalog}")
            return True
        except Exception:
            return False

    def write(self, spark: SparkSession, name: str, df: DataFrame) -> DataFrame:
        spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.namespace}"
        )
        df.writeTo(self.table(name)).using("iceberg").createOrReplace()
        return spark.read.table(self.table(name))

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.table(self.table(name))

    def lineage(self, spark: SparkSession, name: str) -> list[dict]:
        """Per-partition row counters of the stage table, from one scan (the
        rows per scan partition)."""
        rows = (
            self.read(spark, name)
            .groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows"))
            .collect()
        )
        return [{"partition_id": r["partition_id"], "rows": r["rows"]} for r in rows]

    def exists(self, spark: SparkSession, name: str) -> bool:
        return spark.catalog.tableExists(self.table(name))


class StageManager:
    """Skip-if-complete stage runner.

    A computed stage costs its write and nothing more: the store reads the
    table back with the schema it wrote, and the manifest's ``rows_out`` and
    ``partitions`` come from :meth:`ParquetStore.lineage`, the row count per
    written part file from the parquet footers, so no Spark job runs after
    the write. Manifests written before that hold one entry per scan
    partition instead; they resume all the same.

    >>> mgr = StageManager(spark, "/tmp/er_run", {"threshold": 0.4})
    >>> edges = mgr.stage("edges", lambda: build_edges(...))
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        params: dict | None = None,
        enabled: bool = True,
        store: ParquetStore | IcebergStore | None = None,
    ):
        """``enabled=False`` turns the manager into a passthrough (each stage
        is lazily ``persist``-ed — computed once and reused, but its lineage
        is kept — nothing hits disk and no counters are collected) — used by
        throughput benchmarks where the durability contract isn't under
        test. ``store`` swaps the stage-table
        backend (parquet directories by default, Iceberg tables when a
        catalog is configured); resume manifests stay as JSON files under
        ``root`` either way."""
        self.spark = spark
        self.root = root
        self.enabled = enabled
        self.store = store or ParquetStore(root)
        self.chain_hash = params_hash(params or {})
        self.counters: dict[str, dict] = {}
        if enabled:
            os.makedirs(root, exist_ok=True)

    def _meta_path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.meta.json")

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        cache: bool = True,
    ) -> DataFrame:
        """Run (or resume) one stage; chain the params hash downstream.

        ``cache=False`` marks a stage as cheap-to-recompute (e.g. a
        projection of the raw scan): in passthrough mode it is NOT persisted
        — executor storage memory is a budget, and caching bulk columns that
        are consumed once starves the caches that are actually reused.
        """
        if not self.enabled:
            # persist (lazy): computed once on first action, REUSED by every
            # downstream stage — a lazy localCheckpoint here caused repeated
            # recomputation of shared stages (features was rebuilt by both
            # the blocking and scoring stages: 2x shingle+hash cost)
            df = build()
            return df.persist() if cache else df
        meta_path = self._meta_path(name)
        # every stage's identity folds in upstream identities
        stage_hash = params_hash({"prev": self.chain_hash, "stage": name})
        self.chain_hash = stage_hash
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            if meta.get("params_hash") == stage_hash:
                self.counters[name] = meta | {"resumed": True}
                return self.store.read(self.spark, name)
        df = build()
        # a build may itself run NESTED stages (curation's
        # dedup_verdict_table threads mgr= into its cuts): restore this stage's hash afterwards so the
        # chain seen downstream is identical whether the build ran or the
        # stage resumed (a resumed stage never executes the nested calls)
        self.chain_hash = stage_hash
        out = self.store.write(self.spark, name, df)
        lineage = self.store.lineage(self.spark, name)
        meta = {
            "stage": name,
            "params_hash": stage_hash,
            "rows_out": sum(p["rows"] for p in lineage),
            "partitions": lineage,
        }
        write_json_atomic(meta_path, meta)
        self.counters[name] = meta | {"resumed": False}
        return out
