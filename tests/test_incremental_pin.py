"""The increment is read, hashed and signed once (incremental.py module
docstring, "100 TB plan shape"):

- one Arrow signing pass per increment and per index build;
- the tier counters ride the jobs that pin each tier, and equal the
  row counts of the frames the call returns;
- a malformed increment fails before any Spark job and before anything
  lands under the index.
"""

import os

import pyspark.sql.functions as F
import pytest

from fastqdedup_spark import incremental, pipeline
from fastqdedup_spark.config import DedupConfig
from fastqdedup_spark.corpus import generate_files
from fastqdedup_spark.incremental import (
    _INDEX_COLS,
    _sign_distinct,
    build_index,
    dedup_files_incremental,
)

CFG = DedupConfig(shingle_k=7, jaccard_threshold=0.8, dissection="canonical")


@pytest.fixture(scope="module")
def split(spark):
    corpus = generate_files(spark, 360, seed=11).localCheckpoint(eager=True)
    old = corpus.filter(F.crc32(F.col("path")) % 3 != 0)
    new = corpus.filter(F.crc32(F.col("path")) % 3 == 0)
    # in-batch exact repeats: the same content under a second path
    repeats = new.limit(15).withColumn("path", F.concat("path", F.lit(".copy")))
    return old, new.unionByName(repeats)


@pytest.fixture(scope="module")
def built(spark, split, tmp_path_factory):
    old, _ = split
    path = str(tmp_path_factory.mktemp("pin") / "ix")
    return build_index(spark, old, CFG, path, quality=False)


def _count_signing(monkeypatch) -> list:
    calls = []
    real = pipeline.add_signature_columns

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    for mod in (incremental, pipeline):
        monkeypatch.setattr(mod, "add_signature_columns", counting)
    return calls


def test_build_and_increment_each_sign_once(spark, split, tmp_path, monkeypatch):
    old, new = split
    calls = _count_signing(monkeypatch)
    _, idx = build_index(spark, old, CFG, str(tmp_path / "ix"), quality=False)
    assert len(calls) == 1
    dedup_files_incremental(spark, new, CFG, idx, quality=False, batch_id="b1")
    assert len(calls) == 2


def test_index_rows_equal_a_fresh_signing_of_the_survivors(built):
    """build_index slices the survivors' state out of the pipeline's
    signatures stage; it must equal signing the deduped rows anew."""
    res, idx = built
    fresh = _sign_distinct(
        res.deduped.groupBy("sha").agg(
            F.count(F.lit(1)).alias("cnt"), F.first("content").alias("content")
        ),
        CFG, None,
    )

    def rows(df):
        return sorted(tuple(r) for r in df.select(*_INDEX_COLS).collect())

    got = rows(idx.signed_survivors())
    assert got and got == rows(fresh)


def test_observed_counters_equal_returned_row_counts(spark, split, built):
    _, new = split
    _, idx = built
    inc = dedup_files_incremental(
        spark, new, CFG, idx, quality=False, update_index=False,
        collect_metrics=True,
    )
    m = inc.metrics
    n_exact, n_near = inc.dropped_exact.count(), inc.dropped_near.count()
    dropped = inc.dropped_exact.select("sha").unionByName(inc.dropped_near.select("sha"))
    remainder = (
        new.withColumn("sha", F.sha2("content", 256))
        .join(dropped, "sha", "left_anti")
        .count()
    )
    # every tier did work and the remainder holds in-batch repeats
    # (Σcnt > distinct rows), otherwise the equalities below are vacuous
    assert n_exact and n_near and remainder
    assert m["batch.input.files"] > m["batch.distinct.contents"]
    assert m["incremental.dropped_exact"] == n_exact
    assert m["incremental.dropped_near"] == n_near
    assert m["incremental.kept"] == inc.deduped.count()
    assert m["batch.input.files"] == remainder
    assert n_exact + n_near + remainder == new.count()


def test_increment_emptied_by_quality_filter_counts_zero(spark, split, tmp_path):
    old, new = split
    _, idx = build_index(spark, old, CFG, str(tmp_path / "ix"), quality=False)
    empty = new.withColumn("content", F.lit(""))  # fails min_chars
    inc = dedup_files_incremental(
        spark, empty, CFG, idx, batch_id="empty", collect_metrics=True
    )
    for key in ("incremental.dropped_exact", "incremental.dropped_near",
                "incremental.kept", "batch.input.files"):
        assert inc.metrics[key] == 0.0, key
    assert inc.deduped.count() == 0


def test_missing_column_raises_before_any_job_or_write(spark, split, built):
    _, new = split
    _, idx = built

    def listing():
        return {os.path.join(d, f) for d, _, fs in os.walk(idx.path) for f in fs}

    before = listing()
    bad = new.drop("lang")
    sc = spark.sparkContext
    sc.setJobGroup("missing-column", "missing-column")
    try:
        with pytest.raises(ValueError, match="files table missing columns"):
            dedup_files_incremental(spark, bad, CFG, idx, quality=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("missing-column")) == []
    assert listing() == before
