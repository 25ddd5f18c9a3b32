"""Code-domain pipeline gate (BASELINE.json metric):

- dup-pair recall >= 0.99 vs the exact-Jaccard oracle at the same
  shingle/signature config,
- per-row sha256 invariant preserved end-to-end,
- idempotent resume from a stage checkpoint,
- exact duplicates always land in one cluster.
"""

import hashlib

import pyspark.sql.functions as F
import pytest

from fastqdedup_spark.config import DedupConfig
from fastqdedup_spark.corpus import generate_files
from fastqdedup_spark.functions.minhash import shingle_set
from fastqdedup_spark.oracle import _UnionFind, oracle_jaccard_pairs
from fastqdedup_spark.pipeline import dedup_files

N_FILES = 400
CFG = DedupConfig(shingle_k=7, num_perm=128, bands=32, jaccard_threshold=0.6)


@pytest.fixture(scope="module")
def corpus(spark):
    return generate_files(spark, N_FILES, seed=7).cache()


@pytest.fixture(scope="module")
def result(spark, corpus):
    return dedup_files(spark, corpus, CFG)


def _norm(text):
    import re
    return re.sub(r"\s+", " ", text.lower()).strip()


def test_corpus_deterministic(spark):
    a = generate_files(spark, 50, seed=7, partitions=1).orderBy("id").collect()
    b = generate_files(spark, 50, seed=7, partitions=8).orderBy("id").collect()
    assert [r.content for r in a] == [r.content for r in b]


def test_sha256_invariant(corpus, result):
    """Pipeline output rows must carry the sha256 of their UNTOUCHED
    content (input_hint invariant)."""
    rows = result.deduped.select("sha", "content").collect()
    assert rows, "pipeline produced no survivors"
    for r in rows:
        assert hashlib.sha256(r.content.encode()).hexdigest() == r.sha


def test_dup_pair_recall(spark, corpus, result):
    """Recall of clustered pairs vs exact-Jaccard-threshold ground truth."""
    contents = [r.content for r in corpus.select("content").distinct().collect()]
    shas = [hashlib.sha256(c.encode()).hexdigest() for c in contents]
    sets = [shingle_set(_norm(c), CFG.shingle_k) for c in contents]
    truth_pairs = oracle_jaccard_pairs(sets, CFG.jaccard_threshold)
    assert truth_pairs, "corpus must contain planted near-dups"
    # oracle clusters = CC over truth pairs (single linkage)
    uf = _UnionFind(len(contents))
    for i, j in truth_pairs:
        uf.union(i, j)
    truth_cluster_pairs = {
        tuple(sorted((shas[i], shas[j])))
        for i in range(len(contents))
        for j in range(i + 1, len(contents))
        if uf.find(i) == uf.find(j)
    }
    label = {r.sha: r.cluster_id for r in result.clusters.collect()}
    got = sum(
        1 for a, b in truth_cluster_pairs if label.get(a) == label.get(b)
    )
    recall = got / len(truth_cluster_pairs)
    assert recall >= 0.99, f"dup-pair recall {recall:.4f} < 0.99"


def test_exact_duplicates_one_survivor(corpus, result):
    """kind in (base, exact) within a family are byte-identical: exactly
    one output row among them."""
    fam = (
        result.deduped.filter(F.col("kind").isin("base", "exact"))
        .groupBy("family_id")
        .count()
        .collect()
    )
    assert fam and all(r["count"] == 1 for r in fam)


def test_resume_idempotent(spark, corpus, tmp_path_factory):
    """Run with checkpoints, delete a late stage, rerun: identical output."""
    ckdir = str(tmp_path_factory.mktemp("ck"))
    cfg = DedupConfig(
        shingle_k=7, num_perm=64, bands=16, jaccard_threshold=0.6,
        checkpoint_dir=ckdir,
    )
    small = corpus.limit(120).cache()
    r1 = dedup_files(spark, small, cfg)
    out1 = sorted(r.sha for r in r1.deduped.select("sha").collect())
    import shutil, os
    shutil.rmtree(os.path.join(ckdir, cfg.config_hash(), "survivors"))
    r2 = dedup_files(spark, small, cfg)
    out2 = sorted(r.sha for r in r2.deduped.select("sha").collect())
    assert out1 == out2
    assert any(k.endswith("resumed") for k in r2.metrics)


def test_resume_without_persisted_metrics(spark, corpus, tmp_path_factory):
    """A run killed after its stages but before write_metrics leaves no
    _metrics; the rerun resumes every stage, so no Observation ever
    fires, and must fall back to counting instead of crashing on the
    unbound observation."""
    import os
    import shutil

    ckdir = str(tmp_path_factory.mktemp("ck_nometrics"))
    cfg = DedupConfig(
        shingle_k=7, num_perm=64, bands=16, jaccard_threshold=0.6,
        checkpoint_dir=ckdir,
    )
    small = corpus.limit(120).cache()
    r1 = dedup_files(spark, small, cfg)
    out1 = sorted(r.sha for r in r1.deduped.select("sha").collect())
    shutil.rmtree(os.path.join(ckdir, cfg.config_hash(), "_metrics"))
    r2 = dedup_files(spark, small, cfg)
    out2 = sorted(r.sha for r in r2.deduped.select("sha").collect())
    assert out1 == out2
    assert r2.metrics["distinct_contents.resumed"] == 1.0


def test_est_broadcast_autogate_flips_on_resumed_count(spark, corpus, tmp_path_factory):
    """The est_broadcast AUTO gate (VERDICT r4 #7): a resume whose
    persisted distinct.contents metric exceeds est_broadcast_max_rows
    must plan the sketch joins SHUFFLED (est.broadcast metric 0) and
    still produce identical output; the original run broadcast."""
    import os
    import shutil

    ckdir = str(tmp_path_factory.mktemp("ck_auto"))
    cfg = DedupConfig(
        shingle_k=7, num_perm=64, bands=16, jaccard_threshold=0.6,
        checkpoint_dir=ckdir,
    )
    small = corpus.limit(120).cache()
    r1 = dedup_files(spark, small, cfg)
    assert r1.metrics["est.broadcast"] == 1.0      # unknown count -> broadcast
    out1 = sorted(r.sha for r in r1.deduped.select("sha").collect())

    # doctor the persisted metric to a >50M synthetic distinct count and
    # drop everything downstream of signatures so the pair plan rebuilds
    base = os.path.join(ckdir, cfg.config_hash())
    mpath = os.path.join(base, "_metrics")
    mrows = [
        (r.stage, r.metric,
         9e9 if (r.stage, r.metric) == ("distinct", "contents") else r.value)
        for r in spark.read.parquet(mpath).collect()
    ]
    doctored = spark.createDataFrame(mrows, "stage string, metric string, value double")
    tmp_m = mpath + "_tmp"
    doctored.coalesce(1).write.mode("overwrite").parquet(tmp_m)
    shutil.rmtree(mpath)
    os.rename(tmp_m, mpath)
    for stage in os.listdir(base):
        if stage not in ("distinct_contents", "signatures", "_metrics"):
            shutil.rmtree(os.path.join(base, stage))

    r2 = dedup_files(spark, small, cfg)
    assert r2.metrics["est.broadcast"] == 0.0      # gate flipped to shuffled
    out2 = sorted(r.sha for r in r2.deduped.select("sha").collect())
    assert out1 == out2                            # plan choice, not semantics


def test_missing_columns_raises_value_error(spark):
    """Direct API callers get the same clear contract as the CLI's
    read_files_table: a files table missing required columns fails
    fast with the column list, not a deep AnalysisException from
    whichever stage first touches the absent column."""
    bad = spark.createDataFrame([("a",)], "path string")
    with pytest.raises(ValueError, match="missing columns.*content"):
        dedup_files(spark, bad, CFG)


def test_fully_duplicated_input_rows_emit_one_survivor(spark):
    """A literally duplicated input row (same repo/path/commit/content
    twice — two ingestion batches unioned) must still yield EXACTLY one
    output row per distinct content: the old join-back on
    (sha, repo, path, commit) matched every input copy of the
    representative and leaked duplicates into `deduped`."""
    from fastqdedup_spark.config import DedupConfig
    from fastqdedup_spark.operators.exact_dedup import exact_dedup, with_sha256
    from fastqdedup_spark.pipeline import dedup_files

    schema = "id long, repo string, path string, commit string, lang string, content string"
    rows = [
        (1, "r", "a.py", "c1", "py", "def f():\n    return 1\n" * 4),
        (1, "r", "a.py", "c1", "py", "def f():\n    return 1\n" * 4),  # full dup row
        (2, "r", "b.py", "c1", "py", "def g():\n    return 2\n" * 4),
    ]
    files = spark.createDataFrame(rows, schema)

    ed = exact_dedup(with_sha256(files))
    assert ed.count() == 2
    a = [r for r in ed.collect() if r.path == "a.py"][0]
    assert a.exact_count == 2  # both copies counted, one emitted

    res = dedup_files(spark, files.unionByName(files), DedupConfig(), quality=False)
    out = res.deduped.collect()
    assert len(out) == len({r.sha for r in out}) == 2
