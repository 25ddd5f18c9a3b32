"""Stage checkpointing + metrics lineage (SURVEY.md M8).

north_rule: "resumable from checkpoint with per-partition lineage +
metrics". Every pipeline stage can be materialized to
`<checkpoint_dir>/<config_hash>/<stage>` as parquet with Spark's
`_SUCCESS` marker as the completion sentinel; a rerun with the same
config hash reads the stage back instead of recomputing (idempotent
resume — kill at stage k, rerun, byte-identical outputs). A production
deployment would target Iceberg tables; the Iceberg runtime jars are
not in this image, so the same keyed-stage contract is implemented on
parquet (swap `_write`/`_read` to `writeTo(...)` when the catalog
exists).

A freshly written stage is read back with the schema of the frame
that wrote it, so the read-back costs no schema-inference job; a resume
has no built frame and infers the schema from the parquet footers.

Metrics: each stage appends rows (stage, metric, value) — the analog of
the reference's trie stats / per-stage timing
(/root/reference/src/fastqdedup/__init__.py:133-157, 410-412).
The metrics and lineage tables are built JVM-local
(`session.local_table`, a `LocalTableScan`), so writing them runs no
Python worker.

Lineage: every materialized stage also persists a per-partition-file
fingerprint table (`<base>/_lineage/<stage>`: file, rows, xor/sum-folded
xxhash64 of all hashable columns). A resume recomputes the fingerprints
from the stage it is about to trust and fails loudly on mismatch —
"resumes idempotently" is verified, not assumed: a half-overwritten or
bit-rotted stage cannot silently flow downstream past the _SUCCESS
marker.
"""

from __future__ import annotations

import os
import time
from typing import Callable
from urllib.parse import urlparse

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from fastqdedup_spark.config import DedupConfig
from fastqdedup_spark.session import local_table


def observed(obs: Observation) -> dict | None:
    """The metrics of a `Dataset.observe` Observation, or None when its
    job never ran: the observed plan was never built (a resumed stage
    skips the build) or never executed. Unlike `Observation.get` it
    never blocks, so it is safe inside `MetricsCollector.add_lazy`."""
    jo = obs._jo
    if jo is None:
        return None
    jrow = jo.getRowOrEmpty()
    if jrow is None or (hasattr(jrow, "isEmpty") and jrow.isEmpty()):
        return None
    return obs.get


class MetricsCollector:
    def __init__(self) -> None:
        self.rows: list[tuple[str, str, float]] = []
        self._lazy: list[tuple[str, str, Callable[[], float | None]]] = []

    def add(self, stage: str, metric: str, value: float) -> None:
        self.rows.append((stage, metric, float(value)))

    def add_lazy(
        self, stage: str, metric: str, resolve: Callable[[], float | None]
    ) -> None:
        """Metric whose value rides a NOT-YET-RUN job (Dataset.observe):
        `resolve` is called when the metrics are read and must return
        None (skip, job never ran) or the value — it must NOT block.
        This is how per-stage counters cost zero extra Spark jobs."""
        self._lazy.append((stage, metric, resolve))

    def add_row(self, stage: str, row: dict) -> None:
        for k, v in row.items():
            if v is not None:
                self.add(stage, k, v)

    def _resolved(self) -> list[tuple[str, str, float]]:
        out = list(self.rows)
        for stage, metric, fn in self._lazy:
            try:
                v = fn()
            except Exception:
                v = None
            if v is not None:
                out.append((stage, metric, float(v)))
        return out

    def as_dict(self) -> dict:
        return {f"{s}.{m}": v for s, m, v in self._resolved()}


class StageCheckpointer:
    """Keys every materialized stage by (config_hash, stage_name)."""

    def __init__(self, spark: SparkSession, cfg: DedupConfig) -> None:
        self.spark = spark
        self.cfg = cfg
        self.base = (
            os.path.join(cfg.checkpoint_dir, cfg.config_hash())
            if cfg.checkpoint_dir
            else ""
        )
        self.metrics = MetricsCollector()
        self._persisted: dict[str, list[tuple[str, float]]] | None = None

    def _path(self, stage: str) -> str:
        return os.path.join(self.base, stage)

    def _lineage_path(self, stage: str) -> str:
        return os.path.join(self.base, "_lineage", stage)

    def _success_exists(self, path: str) -> bool:
        """_SUCCESS check that works for REMOTE checkpoint dirs too: a
        driver-local os.path.exists is always False for hdfs://s3a://
        paths, which silently disabled resume (and lineage verify)
        while still paying every stage write — the north rule's
        "resumable" claim void on exactly the deployments that need
        it. Local paths keep the cheap os.stat; a `file:` URI is parsed,
        not prefix-matched, so `file:/abs` (one slash, as Hadoop prints
        local paths) resumes like `file:///abs`."""
        marker = os.path.join(path, "_SUCCESS")
        uri = urlparse(marker)
        if uri.scheme in ("", "file"):
            return os.path.exists(uri.path if uri.scheme else marker)
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(marker)
        fs = p.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return bool(fs.exists(p))

    def _lineage_rows(self, df: DataFrame) -> list[tuple[str, int, int, int]]:
        """Per-partition-file lineage of a materialized stage: for each
        parquet part file, (file, rows, xor- and sum-folded xxhash64 of
        every hashable column). Order-insensitive multiset fingerprint:
        XOR alone cancels duplicate rows, the wrapping SUM does not, so
        the pair catches dropped/extra/bit-flipped rows that the
        _SUCCESS marker and row counts cannot. One aggregation job over
        the stage (map-side combine, one row out per file)."""
        hashable = [
            c for c in df.columns
            if "map<" not in df.schema[c].dataType.simpleString()
        ]
        h = F.xxhash64(*hashable) if hashable else F.lit(0).cast("long")
        # the SUM fold is pmod-bounded so it cannot overflow int64 under
        # ANSI mode (2^31 max per row -> safe past 4B rows per file)
        agg = (
            df.groupBy(
                F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file")
            )
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.bit_xor(h).alias("xor_fp"),
                F.sum(F.pmod(h, F.lit(2147483647))).alias("sum_fp"),
            )
            .collect()
        )
        return sorted(
            (r["file"], r["rows"], r["xor_fp"] or 0, r["sum_fp"] or 0) for r in agg
        )

    def _write_lineage(self, stage: str, df: DataFrame) -> None:
        rows = self._lineage_rows(df)
        local_table(
            self.spark, rows, "file string, rows long, xor_fp long, sum_fp long"
        ).coalesce(1).write.mode("overwrite").parquet(self._lineage_path(stage))
        self.metrics.add(stage, "lineage_files", len(rows))

    def _verify_lineage(self, stage: str, df: DataFrame) -> None:
        """On resume, recompute the per-file fingerprints and compare to
        the ones persisted at write time — a partial overwrite or
        corrupted part file fails loudly instead of flowing downstream.
        Checkpoints from before lineage existed just skip (metric 0)."""
        lpath = self._lineage_path(stage)
        if not self.cfg.lineage or not self._success_exists(lpath):
            self.metrics.add(stage, "lineage_verified", 0)
            return
        stored = sorted(
            (r["file"], r["rows"], r["xor_fp"], r["sum_fp"])
            for r in self.spark.read.parquet(lpath).collect()
        )
        current = self._lineage_rows(df)
        if stored != current:
            raise RuntimeError(
                f"checkpoint lineage mismatch for stage {stage!r} at "
                f"{self._path(stage)}: persisted {len(stored)} file "
                f"fingerprints, recomputed {len(current)} "
                f"(first diff: {next((a, b) for a, b in zip(stored, current) if a != b) if len(stored) == len(current) else 'file-set changed'}). "
                f"Delete the stage directory to rebuild."
            )
        self.metrics.add(stage, "lineage_verified", 1)

    def read_lineage(self, stage: str) -> DataFrame | None:
        lpath = self._lineage_path(stage)
        if not self._success_exists(lpath):
            return None
        return self.spark.read.parquet(lpath)

    def _persisted_stage_metrics(self, stage: str) -> list[tuple[str, float]]:
        """Metrics persisted by a PREVIOUS run's write_metrics. Observed
        counters (Dataset.observe + add_lazy) never fire on a resumed
        stage — the observed plan is replaced by a parquet scan — so
        without this reload the CLI's fallback-cluster warning would be
        silently absent on resumed runs. Loaded once per checkpointer;
        absent/partial _metrics (run killed before write_metrics) just
        yields nothing."""
        if self._persisted is None:
            self._persisted = {}
            mpath = os.path.join(self.base, "_metrics")
            if self.base and self._success_exists(mpath):
                try:
                    for r in self.spark.read.parquet(mpath).collect():
                        self._persisted.setdefault(r["stage"], []).append(
                            (r["metric"], r["value"])
                        )
                except Exception:
                    pass
        return self._persisted.get(stage, [])

    def has(self, stage: str) -> bool:
        return bool(self.base) and self._success_exists(self._path(stage))

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        fuse: bool = False,
        reload_metrics: tuple[str, ...] = (),
    ) -> DataFrame:
        """Build-or-load. Materialized by default: parquet when a
        checkpoint dir is configured (durable resume), eager
        localCheckpoint otherwise (plan truncation + reuse — without
        this, every downstream action recomputes the whole upstream
        DAG). `fuse=True` marks a stage consumed by exactly ONE
        downstream stage: with no durable dir it stays lazy and fuses
        into its consumer (one fewer pipeline barrier); with a durable
        dir it still persists for resume."""
        t0 = time.monotonic()
        if self.has(name):
            df = self.spark.read.parquet(self._path(name))
            self.metrics.add(name, "resumed", 1)
            self._verify_lineage(name, df)
            # `reload_metrics` names metric-stages whose counters were
            # observed while BUILDING this stage (e.g. "dissect" rides
            # the "survivors" build) — they never fire on resume.
            # seconds/resumed/lineage_verified are re-emitted fresh by
            # every resumed run — re-adding their persisted copies too
            # would grow one duplicate row per resume GENERATION (run N
            # persists N copies of lineage_verified, run N+1 reloads
            # them all and adds its own)
            for mstage in (name, *reload_metrics):
                for metric, value in self._persisted_stage_metrics(mstage):
                    if metric not in ("seconds", "resumed", "lineage_verified"):
                        self.metrics.add(mstage, metric, value)
            # this run's cost of the stage is the load (+ lineage
            # verify) time — emitted fresh so per-stage timings survive
            # resume chains (the reload filter above excludes the
            # persisted copy; without this add, `seconds` silently
            # vanished from _metrics after the first resume)
            self.metrics.add(name, "seconds", time.monotonic() - t0)
            return df
        df = build()
        if self.base:
            df.write.mode("overwrite").parquet(self._path(name))
            df = self.spark.read.schema(df.schema).parquet(self._path(name))
            if self.cfg.lineage:
                self._write_lineage(name, df)
        elif not fuse:
            df = df.localCheckpoint(eager=True)
        self.metrics.add(name, "seconds", time.monotonic() - t0)
        return df

    def write_metrics(self) -> None:
        if self.base:
            # last-wins per (stage, metric): a resumed run holds both
            # the reloaded copy and any freshly recomputed one of the
            # same counter — persisting the raw list would compound
            # duplicates across resume chains
            dedup: dict[tuple[str, str], float] = {}
            for stage, metric, value in self.metrics._resolved():
                dedup[(stage, metric)] = value
            rows = [(s, m, v) for (s, m), v in dedup.items()]
            local_table(
                self.spark, rows, "stage string, metric string, value double"
            ).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(self.base, "_metrics")
            )
