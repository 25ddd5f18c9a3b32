"""The durable stage boundary pays no Python-worker pass and no
schema-inference job.

Driver-built tables (the `_metrics` and `_lineage` tables, the mix
weights, the driver-side CC labels) go through `session.local_table`,
which plans as a JVM `LocalTableScan`; a list-built table would be a
PythonRDD (`Scan ExistingRDD`) that runs one Python worker per
default-parallelism slice. A freshly written stage is read back with
the schema of the frame that wrote it, which must be the schema a
resumed run infers from the files."""

import ast
import pathlib

import pytest
from pyspark.sql.readwriter import DataFrameWriter

import fastqdedup_spark
from fastqdedup_spark.checkpoint import StageCheckpointer
from fastqdedup_spark.config import DedupConfig
from fastqdedup_spark.corpus import generate_files
from fastqdedup_spark.pipeline import dedup_files, dedup_keys

ARROW = "spark.sql.execution.arrow.pyspark.enabled"


@pytest.fixture
def written_plans(monkeypatch):
    """Executed plan of every frame written with `.parquet(path)`,
    keyed by path."""
    plans = {}
    write = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        plans[path] = self._df._jdf.queryExecution().executedPlan().toString()
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    return plans


@pytest.fixture
def stage_schemas(monkeypatch):
    """Schema of the frame every `StageCheckpointer.stage` call
    returns, keyed by stage name."""
    schemas = {}
    stage = StageCheckpointer.stage

    def spy(self, name, *args, **kwargs):
        df = stage(self, name, *args, **kwargs)
        schemas[name] = df.schema
        return df

    monkeypatch.setattr(StageCheckpointer, "stage", spy)
    return schemas


def _local_scan(plan):
    return "LocalTableScan" in plan and "ExistingRDD" not in plan


@pytest.mark.parametrize("arrow", ["true", "false"])
@pytest.mark.parametrize("n_rows", [0, 50])
def test_metrics_and_lineage_tables_plan_as_local_table_scan(
    spark, tmp_path, written_plans, arrow, n_rows
):
    cfg = DedupConfig(checkpoint_dir=str(tmp_path / "ck"))
    prev = spark.conf.get(ARROW)
    spark.conf.set(ARROW, arrow)
    try:
        ck = StageCheckpointer(spark, cfg)
        ck.stage("s", lambda: spark.range(n_rows))
        ck.write_metrics()
        empty = StageCheckpointer(
            spark, DedupConfig(checkpoint_dir=str(tmp_path / "empty"))
        )
        empty.write_metrics()
    finally:
        spark.conf.set(ARROW, prev)
    lineage_plan = written_plans[ck._lineage_path("s")]
    metrics_plan = written_plans[f"{ck.base}/_metrics"]
    empty_plan = written_plans[f"{empty.base}/_metrics"]
    assert _local_scan(lineage_plan), lineage_plan
    assert _local_scan(metrics_plan), metrics_plan
    assert _local_scan(empty_plan), empty_plan
    # zero-row tables still write a readable schema, and a zero-row
    # stage's empty lineage verifies on resume
    assert spark.read.parquet(f"{empty.base}/_metrics").count() == 0
    resumed = StageCheckpointer(spark, cfg)
    assert resumed.stage("s", lambda: pytest.fail("rebuilt")).count() == n_rows
    assert resumed.metrics.as_dict()["s.lineage_verified"] == 1


def test_durable_stage_runs_one_job(spark, tmp_path):
    """Write, then read back with the known schema: the parquet footer
    inference job is gone."""
    ck = StageCheckpointer(
        spark, DedupConfig(checkpoint_dir=str(tmp_path / "ck"), lineage=False)
    )
    sc = spark.sparkContext
    sc.setJobGroup("durable-stage", "durable-stage")
    try:
        ck.stage("r", lambda: spark.range(100))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("durable-stage")) == 1


def test_file_uri_checkpoint_dir_resumes(spark, tmp_path):
    """`file:/abs` is how Hadoop prints a local path; a checkpoint dir
    given that way must resume, not silently recompute every stage."""
    cfg = DedupConfig(checkpoint_dir="file:" + str(tmp_path / "ck"))
    StageCheckpointer(spark, cfg).stage("s", lambda: spark.range(10))
    ck = StageCheckpointer(spark, cfg)
    assert ck.has("s")
    assert ck.stage("s", lambda: pytest.fail("rebuilt")).count() == 10
    m = ck.metrics.as_dict()
    assert m["s.resumed"] == 1
    assert m["s.lineage_verified"] == 1


def _fresh_and_resumed(run, stage_schemas):
    first = run()
    fresh = dict(stage_schemas)
    stage_schemas.clear()
    second = run()
    assert fresh and stage_schemas == fresh
    assert all(second.metrics[f"{s}.resumed"] == 1 for s in fresh)
    return first, second


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_dedup_keys_read_back_schema_matches_resume(spark, tmp_path, stage_schemas):
    keys = spark.createDataFrame(
        [(k,) for k in ["AAAA", "AAAA", "AAAC", "AAGC", "CCCG", "TTCA", "TTT"]],
        "key string",
    )
    cfg = DedupConfig(max_distance=1, checkpoint_dir=str(tmp_path / "ck"))
    first, second = _fresh_and_resumed(
        lambda: dedup_keys(spark, keys, cfg), stage_schemas
    )
    assert _rows(first.clusters) == _rows(second.clusters)
    assert _rows(first.deduped) == _rows(second.deduped)


def test_dedup_files_read_back_schema_matches_resume(spark, tmp_path, stage_schemas):
    files = generate_files(spark, 120, seed=7).cache()
    cfg = DedupConfig(
        shingle_k=7, num_perm=64, bands=16, jaccard_threshold=0.6,
        checkpoint_dir=str(tmp_path / "ck"),
    )
    first, second = _fresh_and_resumed(
        lambda: dedup_files(spark, files, cfg), stage_schemas
    )
    assert _rows(first.deduped) == _rows(second.deduped)
    assert _rows(first.clusters) == _rows(second.clusters)


def test_driver_tables_go_through_local_table():
    """Only `local_table` and the FASTQ parse (genuine Python work) may
    call createDataFrame in the package."""
    root = pathlib.Path(fastqdedup_spark.__file__).parent
    allowed = {("session.py", "local_table"), ("sources/fastq.py", "read_fastq")}
    found = set()
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        defs = [
            n for n in ast.walk(ast.parse(src))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for i, line in enumerate(src.splitlines(), 1):
            if "createDataFrame(" not in line:
                continue
            owners = [d for d in defs if d.lineno <= i <= d.end_lineno]
            inner = min(owners, key=lambda d: d.end_lineno - d.lineno, default=None)
            found.add((path.relative_to(root).as_posix(), inner and inner.name))
    assert found - allowed == set()
