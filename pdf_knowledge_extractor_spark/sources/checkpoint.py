"""Checkpoint / resume with per-partition lineage and metrics tables.

Reproduces the reference's resumability contract (state files at
claude_integration.py:299-376, resume sets at extractor.py:72-101,
analysis cache at semantic_analyzer.py:773-803) as idempotent,
fingerprint-keyed stage tables — the Spark-native shape: each stage
writes its output once per input fingerprint; a restart reads the
completed stage back instead of recomputing it, and builds the later
stages from what it read (``run_pipeline_checkpointed`` walks the
pipeline's stages with ``CheckpointManager.stage`` as the step, so a
stored stage's build never runs); the lineage table records
(stage, fingerprint, rows, wall time, per-partition row counts) and
the metrics table accumulates counters.

At real scale these are Iceberg tables with MERGE INTO; parquet
directories stand in here (atomicity via staging-dir rename).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "stage string, fingerprint string, rows long, seconds double, "
    "partitions int, finished_at string, run_id string"
)


class CheckpointManager:
    """Directory-backed stage checkpointing.

    Usage:
        cp = CheckpointManager(spark, "/path/ckpt")
        df = cp.stage("mentions", input_fp, lambda: build_mentions(...))
    The thunk only runs when no completed checkpoint exists for
    (stage, fingerprint); otherwise the parquet is read back.
    """

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

    # -- paths ------------------------------------------------------------
    def _dir(self, stage: str, fp: str) -> str:
        return os.path.join(self.root, f"{stage}__{fp}")

    def has(self, stage: str, fp: str) -> bool:
        return os.path.exists(os.path.join(self._dir(stage, fp), "_SUCCESS"))

    # -- stage execution ---------------------------------------------------
    def stage(
        self,
        name: str,
        fp: str,
        thunk,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Run-or-restore a stage keyed by (name, input fingerprint)."""
        out = self._dir(name, fp)
        if self.has(name, fp):
            return self.spark.read.parquet(out)
        t0 = time.perf_counter()
        df = thunk()
        tmp = out + f".tmp-{self.run_id}"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        if os.path.exists(out):
            shutil.rmtree(out)
        os.rename(tmp, out)
        dt = time.perf_counter() - t0
        back = self.spark.read.parquet(out)
        self._record_lineage(name, fp, back, dt)
        return back

    def _record_lineage(self, stage: str, fp: str, df: DataFrame, secs: float):
        per_part = (
            df.withColumn("_pid", F.spark_partition_id())
            .groupBy("_pid")
            .count()
            .collect()
        )
        rows = sum(r["count"] for r in per_part)
        rec = self.spark.createDataFrame(
            [
                (
                    stage,
                    fp,
                    rows,
                    round(secs, 3),
                    len(per_part),
                    time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                    self.run_id,
                )
            ],
            LINEAGE_SCHEMA,
        )
        rec.write.mode("append").parquet(os.path.join(self.root, "_lineage"))
        pp = self.spark.createDataFrame(
            [
                (stage, fp, int(r["_pid"]), int(r["count"]), self.run_id)
                for r in per_part
            ],
            "stage string, fingerprint string, partition_id int, rows long, run_id string",
        )
        pp.write.mode("append").parquet(
            os.path.join(self.root, "_partition_lineage")
        )

    # -- metrics ------------------------------------------------------------
    def record_metric(self, stage: str, key: str, value: float):
        rec = self.spark.createDataFrame(
            [(stage, key, float(value),
              time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()), self.run_id)],
            "stage string, key string, value double, ts string, run_id string",
        )
        rec.write.mode("append").parquet(os.path.join(self.root, "_metrics"))

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.root, "_lineage"))

    def partition_lineage(self) -> DataFrame:
        return self.spark.read.parquet(
            os.path.join(self.root, "_partition_lineage")
        )

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.root, "_metrics"))


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
    only the work of the missing stages: on a complete checkpoint it
    runs the fingerprint, the stage read-backs and the triples ``rows``
    metric. A restart after any stage produces the same triples.

    Returns the stored ``source`` and the five stages, plus
    ``_checkpoint`` (the manager, for its lineage and metrics)."""
    import dataclasses

    from pdf_knowledge_extractor_spark.plans.pipeline import (
        STAGES,
        PipelineConfig,
        _StageWalk,
    )

    cfg = cfg or PipelineConfig()
    cp = CheckpointManager(spark, ckpt_dir)
    fp = cp.fingerprint(docs, content_col=text_col)

    # resolve dct:created ONCE per (checkpoint, fingerprint) and persist
    # it — a resume that rebuilds a stage must emit the same dct:created
    # triples as the original run (the stamp is part of the checkpointed
    # state). Since round 5 the fresh-checkpoint stamp is the
    # deterministic snapshot sentinel (triples.snapshot_created_at), not
    # wall clock — the marker stays authoritative so checkpoints written
    # by earlier rounds (wall-clock stamps) still resume byte-identical
    if cfg.created_at is None:
        marker = os.path.join(ckpt_dir, f"_created_at__{fp}")
        if os.path.exists(marker):
            with open(marker, encoding="utf-8") as fh:
                created = fh.read().strip()
        else:
            from pdf_knowledge_extractor_spark.plans.triples import (
                snapshot_created_at,
            )

            created = snapshot_created_at(
                docs.select(
                    F.sha2(F.col(text_col), 256).alias("content_sha256")
                )
            )
            with open(marker, "w", encoding="utf-8") as fh:
                fh.write(created)
        cfg = dataclasses.replace(cfg, created_at=created)

    # source snapshot (sha256 column persisted => invariant checkable
    # against every later stage)
    src = cp.stage(
        "source",
        fp,
        lambda: docs.withColumn("_sha256", F.sha2(F.col(text_col), 256)),
    )

    def store(name, build):
        return cp.stage(name, fp, build,
                        partition_by=["pred"] if name == "triples" else None)

    walk = _StageWalk(spark, src.drop("_sha256"), cfg, id_col, text_col,
                      lang_col, store=store)
    out: dict[str, DataFrame] = {"source": src}
    out.update((name, getattr(walk, name)) for name in STAGES)
    cp.record_metric("triples", "rows", out["triples"].count())
    # banding-cap census into the metrics table when similarities were
    # built: capped runs must be distinguishable from full-recall runs
    # in the durable record
    for k, v in (walk.sim_stats or {}).items():
        if isinstance(v, (int, float)):
            cp.record_metric("similarities", f"banding_{k}", v)
    out["_checkpoint"] = cp
    return out
