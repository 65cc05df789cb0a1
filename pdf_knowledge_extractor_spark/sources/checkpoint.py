"""Checkpoint / resume: fingerprint-keyed stage directories, each
committed with its record.

Reproduces the reference's resumability contract (state files at
claude_integration.py:299-376, resume sets at extractor.py:72-101,
analysis cache at semantic_analyzer.py:773-803): each stage writes its
output once per input fingerprint, and a restart reads the completed
stage back instead of recomputing it (``run_pipeline_checkpointed``
walks the pipeline's stages with ``CheckpointManager.stage`` as the
step, so a stored stage's build never runs).

A stage directory holds its parquet and ``_stage.json``, its record
(the leading ``_`` keeps Spark's file index from reading it): run id,
finish time and seconds, the Spark schema, the rows of every written
file (read from the parquet footers on the driver) and the stage's
metrics. The record goes into the staging directory before the rename
that commits the stage, so a stage is stored exactly when its record
exists. A stored stage is read back with its recorded schema, and the
lineage and metrics tables are local relations built from the records:
neither runs a Spark job.

At real scale these are Iceberg tables with MERGE INTO; parquet
directories stand in here (atomicity via staging-dir rename).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

RECORD = "_stage.json"

LINEAGE_SCHEMA = (
    "stage string, fingerprint string, rows long, seconds double, "
    "partitions int, finished_at string, run_id string"
)
PARTITION_LINEAGE_SCHEMA = (
    "stage string, fingerprint string, partition_id int, rows long, "
    "run_id string"
)
METRICS_SCHEMA = (
    "stage string, key string, value double, ts string, run_id string"
)


def _file_rows(path: str) -> dict[str, int]:
    """Rows of every parquet file under ``path`` (relative path ->
    rows), read from the footers on the driver."""
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(glob.escape(path), "**", "*.parquet"),
                      recursive=True)
    return {os.path.relpath(f, path): pq.read_metadata(f).num_rows
            for f in sorted(files)}


class CheckpointManager:
    """Directory-backed stage checkpointing.

    Usage:
        cp = CheckpointManager(spark, "/path/ckpt")
        df = cp.stage("mentions", input_fp,
                      lambda: (build_mentions(...), {}))
    The thunk only runs when (stage, fingerprint) has no record;
    otherwise the parquet is read back with the recorded schema."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.run_id = uuid.uuid4().hex[:12]

    # -- fingerprints -----------------------------------------------------
    def fingerprint(self, df: DataFrame, content_col: str | None = None) -> str:
        """Order-insensitive input fingerprint: xor/sum aggregate of
        row hashes (distributed; one narrow agg job). When
        ``content_col`` is set, the per-row sha256 invariant column is
        included so any content mutation changes the fingerprint."""
        cols = [F.col(c) for c in df.columns]
        h = F.xxhash64(*cols)
        if content_col is not None:
            h = F.xxhash64(h, F.sha2(F.col(content_col), 256))
        agg = df.agg(
            F.bit_xor(h).alias("s"),  # order-insensitive, overflow-free
            F.count("*").alias("n"),
        ).first()
        return f"{agg['s']}_{agg['n']}"

    # -- records ------------------------------------------------------------
    def _dir(self, stage: str, fp: str) -> str:
        return os.path.join(self.root, f"{stage}__{fp}")

    def record(self, stage: str, fp: str) -> dict | None:
        """The stored stage's record; None when the stage is not stored
        (a directory written before records existed is not stored)."""
        path = os.path.join(self._dir(stage, fp), RECORD)
        if not os.path.exists(path):
            return None
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)

    def records(self) -> list[dict]:
        """Every stored stage's record, in order of finish time."""
        recs = (self.record(*d.split("__", 1))
                for d in sorted(os.listdir(self.root))
                if "__" in d and ".tmp-" not in d)
        return sorted(filter(None, recs), key=lambda r: r["finished_at"])

    # -- stage execution ---------------------------------------------------
    def stage(self, name: str, fp: str, thunk, write=None) -> DataFrame:
        """Run-or-restore a stage keyed by (name, input fingerprint).

        ``thunk()`` returns the stage's DataFrame and its metrics (a
        dict of numbers); ``write(df, path)`` writes the DataFrame
        (None: plain parquet). Both run only when the stage has no
        record."""
        out = self._dir(name, fp)
        rec = self.record(name, fp)
        if rec is None:
            t0 = time.perf_counter()
            df, metrics = thunk()
            tmp = out + f".tmp-{self.run_id}"
            if write is None:
                df.write.mode("overwrite").parquet(tmp)
            else:
                write(df, tmp)
            files = _file_rows(tmp)
            rec = {
                "stage": name, "fingerprint": fp, "run_id": self.run_id,
                "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                             time.gmtime()),
                "seconds": round(time.perf_counter() - t0, 3),
                "schema": df.schema.jsonValue(),
                "rows": sum(files.values()), "files": files,
                "metrics": {k: float(v) for k, v in metrics.items()},
            }
            with open(os.path.join(tmp, RECORD), "w", encoding="utf-8") as fh:
                json.dump(rec, fh, indent=1)
            if os.path.exists(out):
                shutil.rmtree(out)
            os.rename(tmp, out)
        schema = StructType.fromJson(rec["schema"])
        return self.spark.read.schema(schema).parquet(out)

    # -- lineage and metrics, from the records -------------------------------
    def _local(self, rows: list[tuple], ddl: str) -> DataFrame:
        """``rows`` as a local relation, which collects without a Spark
        job (a DataFrame made from a Python list is an RDD scan)."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = StructType.fromDDL(ddl)
        return self.spark.createDataFrame(pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows],
            schema=to_arrow_schema(schema),
        ))

    def lineage(self) -> DataFrame:
        """One row per stored stage; ``partitions`` counts its files."""
        return self._local(
            [(r["stage"], r["fingerprint"], r["rows"], r["seconds"],
              len(r["files"]), r["finished_at"], r["run_id"])
             for r in self.records()],
            LINEAGE_SCHEMA,
        )

    def partition_lineage(self) -> DataFrame:
        """One row per written file of each stored stage: its index in
        the stage's sorted file list, and its rows."""
        return self._local(
            [(r["stage"], r["fingerprint"], i, rows, r["run_id"])
             for r in self.records()
             for i, rows in enumerate(r["files"].values())],
            PARTITION_LINEAGE_SCHEMA,
        )

    def metrics(self) -> DataFrame:
        """One row per metric of each stored stage."""
        return self._local(
            [(r["stage"], k, v, r["finished_at"], r["run_id"])
             for r in self.records() for k, v in r["metrics"].items()],
            METRICS_SCHEMA,
        )


def run_pipeline_checkpointed(
    spark: SparkSession,
    docs: DataFrame,
    ckpt_dir: str,
    cfg=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str | None = None,
) -> dict[str, DataFrame]:
    """Checkpoint-resumable variant of plans.pipeline.run_pipeline.

    Walks the pipeline's stages (``pipeline.STAGES``: documents,
    concepts, similarities, edges, triples) with
    ``CheckpointManager.stage`` as the step, keyed by the source
    fingerprint (which includes the sha256 content invariant). A stage
    with a completed checkpoint is read back and not built, and every
    later stage is built from what was read back, so a resume runs
    only the work of the missing stages (on a complete checkpoint, the
    fingerprint, labelled ``pke: source`` with the source snapshot).
    An unpinned ``dct:created`` comes from the documents stage, stored
    or not, as in ``run_pipeline``, so a restart after any stage gives
    the same triples.

    Returns the stored ``source`` and the five stages, plus
    ``_checkpoint`` (the manager, for its lineage and metrics)."""
    from pdf_knowledge_extractor_spark.plans.pipeline import (
        STAGES,
        _StageWalk,
        label_jobs,
    )

    cp = CheckpointManager(spark, ckpt_dir)
    with label_jobs(spark, "source"):
        fp = cp.fingerprint(docs, content_col=text_col)
        # the sha256 column persisted => invariant checkable against
        # every later stage
        sha = F.sha2(F.col(text_col), 256)
        src = cp.stage("source", fp,
                       lambda: (docs.withColumn("_sha256", sha), {}))

    walk = _StageWalk(
        spark, src.drop("_sha256"), cfg, id_col, text_col, lang_col,
        store=lambda name, thunk, write: cp.stage(name, fp, thunk, write),
    )
    out: dict[str, DataFrame] = {"source": src}
    out.update((name, getattr(walk, name)) for name in STAGES)
    out["_checkpoint"] = cp
    return out
