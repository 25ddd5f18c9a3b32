"""Similarity search over embedding columns (array<float>).

Two tiers:
- `brute_force_topk` — exact cosine top-k; the scale story is
  "broadcast the query block, stream the corpus": the big side is never
  shuffled, scores reduce per-partition through a window-free
  min-heap-style aggregation (top-k via row_number over each query's
  scored partition is AQE-coalesced).
- `lsh_topk` — random-hyperplane (sign) LSH: bucket join on hashed sign
  prefixes, exact rerank inside the candidate set. The scale path: the
  corpus is bucketed once (writeable as a bucketed table), queries probe
  only matching buckets.

Dot products run inside a vectorized pandas UDF as one (batch x dim) @
(dim x n_queries) numpy matmul — BLAS, not per-row Python. A pure-JVM
`F.aggregate`/`zip_with` variant is provided for oracle parity tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame, Window

from fastqdedup_spark.functions.partitioning import widen_small_input
from fastqdedup_spark.session import local_table


def cosine_expr(a: str, b: str) -> Column:
    """JVM-side cosine between two array<float/double> columns via
    higher-order functions (zip_with + aggregate). Whole-stage codegen;
    used for small cases and oracle parity."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_decimals: int = 6,
) -> DataFrame:
    """Exact top-k neighbors for every query: (query_id, vec_id, score,
    rank). Queries are collected + broadcast (the query block is the
    small dim); the corpus streams through one mapInPandas doing a BLAS
    matmul per Arrow batch.

    `round_decimals` is applied ONCE to the raw score — callers who
    need coarser output must pass it here rather than re-rounding the
    result: round(round(x, 6), 4) diverges from round(x, 4) for scores
    within ~5e-7 of a half-boundary (double rounding), which breaks
    value-exact parity against any oracle that rounds once.

    Scale shape: each Arrow batch emits only its LOCAL top-k per query
    (lexsorted by (-score, id) — the exact global tiebreak — so the
    global top-k is always a subset of the union of batch top-ks). The
    final row_number window therefore sees ~k x n_queries x n_batches
    rows, not |corpus| x |queries|: the exchange that used to ship the
    full scored cross product is gone."""
    qrows = queries.select(query_id_col, vec_col).collect()
    if not qrows:
        # np.linalg.norm on a (0,)-shaped array raises AxisError on the
        # driver; an empty query set is an empty result, not a crash
        return local_table(
            corpus.sparkSession, [],
            f"{query_id_col} long, {id_col} long, score double, rank int",
        )
    qids = [r[0] for r in qrows]
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    qnorm = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    bc = corpus.sparkSession.sparkContext.broadcast((qids, qnorm))

    out_schema = f"{query_id_col} long, {id_col} long, score double"

    def score(it):
        qids_l, qn = bc.value
        n_q = len(qids_l)
        qid_arr = np.asarray(qids_l)
        for pdf in it:
            m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            s = mn @ qn.T  # (batch, n_queries)
            ids = pdf[id_col].to_numpy()
            kk = min(k, len(ids))
            # per-query batch-local top-k with the global tiebreak
            # (desc score, asc id): lexsort keys are applied last-first
            order = np.lexsort((np.broadcast_to(ids[:, None], s.shape), -s), axis=0)
            top = order[:kk]  # (kk, n_queries) corpus-row indices
            cols = np.broadcast_to(np.arange(n_q), top.shape)
            yield pd.DataFrame(
                {
                    query_id_col: np.repeat(qid_arr, kk),
                    id_col: ids[top].T.ravel(),
                    "score": s[top, cols].T.ravel(),
                }
            )

    # the BLAS pass rides the corpus partitioning: widen a tiny
    # single-row-group scan first (no-op at scale) so the matmul and
    # batch top-k use the box instead of 1-2 scan partitions
    scored = widen_small_input(corpus.select(id_col, vec_col)).mapInPandas(
        score, out_schema
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col, id_col,
            F.round("score", round_decimals).alias("score"), "rank",
        )
    )


def _pairwise_cosine_filter(
    pairs: DataFrame, vecs: DataFrame, threshold: float,
    id_col: str, vec_col: str,
) -> DataFrame:
    """(id_a, id_b) candidates -> exact-cosine-verified pairs. Two
    equi-joins attach the vectors (AQE broadcasts the vector table when
    small), then one Arrow-batched row-wise dot product."""
    va = vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    withv = pairs.join(va, "id_a").join(vb, "id_b")

    @F.pandas_udf(T.DoubleType())
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.array(a.tolist(), dtype=np.float64)
        mb = np.array(b.tolist(), dtype=np.float64)
        ma /= np.maximum(np.linalg.norm(ma, axis=1, keepdims=True), 1e-12)
        mb /= np.maximum(np.linalg.norm(mb, axis=1, keepdims=True), 1e-12)
        return pd.Series((ma * mb).sum(axis=1))

    return (
        withv.withColumn("_cos", cos("_va", "_vb"))
        .filter(F.col("_cos") >= threshold)
        .select("id_a", "id_b")
    )


def cosine_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "bucketed",
    n_bits: int = 16,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b) with
    cosine >= threshold, id_a < id_b.

    method="bucketed" (default — the 100 TB path): multi-table
    random-hyperplane LSH. Each vector gets `n_tables` independent
    sign-bucket ids; candidates are the distinct within-bucket pairs
    (the same capped/salted band self-join the text tiers use), and an
    exact cosine verify keeps precision exact. Recall for a pair at
    angle theta misses only if every table splits it:
    (1 - (1 - theta/pi)^n_bits)^n_tables — at threshold 0.99
    (theta ~ 0.14) with 16 bits x 8 tables that is ~0.5% worst-case at
    the exact threshold boundary and ~1e-11 for true near-dups
    (theta < 0.01). Nothing is ever collected to the driver.

    method="broadcast": the exact small-corpus fast path — collect +
    broadcast the full matrix, one BLAS block-matmul per partition.
    Exact for any threshold but driver-bound (~1M x small-dim ceiling);
    opt in only when the corpus is known small.
    """
    if method == "broadcast":
        rows = corpus.select(id_col, vec_col).collect()
        ids = np.array([r[0] for r in rows], dtype=np.int64)
        m = np.array([r[1] for r in rows], dtype=np.float64)
        mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        bc = corpus.sparkSession.sparkContext.broadcast((ids, mn))

        def block(it):
            all_ids, full = bc.value
            for pdf in it:
                bm = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                bm = bm / np.maximum(np.linalg.norm(bm, axis=1, keepdims=True), 1e-12)
                s = bm @ full.T  # (block, corpus)
                bi, ci = np.nonzero(s >= threshold)
                a = pdf[id_col].to_numpy()[bi]
                b = all_ids[ci]
                keep = a < b
                yield pd.DataFrame({"id_a": a[keep], "id_b": b[keep]})

        return widen_small_input(corpus.select(id_col, vec_col)).mapInPandas(
            block, "id_a long, id_b long"
        )
    if method != "bucketed":
        raise ValueError(f"unknown method: {method!r}")

    from fastqdedup_spark.config import DedupConfig
    from fastqdedup_spark.operators.lsh import _pairs_from_bands

    dim = len(corpus.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_bits * n_tables, seed)
    bc = corpus.sparkSession.sparkContext.broadcast(planes)
    weights = 1 << np.arange(n_bits, dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vs: pd.Series) -> pd.Series:
        m = np.array(vs.tolist(), dtype=np.float64)
        bits = (m @ bc.value) > 0  # (batch, n_bits * n_tables)
        bits = bits.reshape(len(m), n_tables, n_bits)
        ids = bits @ weights  # (batch, n_tables)
        # fold the table index into the bucket id so tables never collide
        ids = ids + (np.arange(n_tables, dtype=np.int64) << n_bits)
        return pd.Series(list(ids))

    # the bucket UDF and the verify join's vector table both ride the
    # corpus partitioning — widen a tiny scan once here (no-op at scale)
    vecs = widen_small_input(corpus.select(id_col, vec_col))
    bands = vecs.select(
        F.col(id_col), F.explode(buckets(F.col(vec_col))).alias("band_hash")
    )
    # reuse the text tiers' salted band self-join; cap=None — a hot
    # bucket here is a genuine mass-duplicate cluster whose pairs are
    # real, so it is salted across reducers rather than dropped
    cfg = DedupConfig()
    candidates, _ = _pairs_from_bands(bands, id_col, cfg, cap=None)
    return _pairwise_cosine_filter(candidates, vecs, threshold, id_col, vec_col)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_list: int = 32,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-Flat ANN: a coarse quantizer partitions the corpus into
    `n_list` disjoint inverted lists; each query probes only its
    `n_probe` nearest lists and reranks exactly inside them. The
    second scale path next to `lsh_topk` — where LSH recall comes from
    redundant tables, IVF recall comes from probing more lists, and the
    lists are DISJOINT so candidates never need a dedup pass.

    Centroids are a deterministic pseudo-random corpus sample: the
    `n_list` vectors with the smallest Knuth multiplicative hash of
    their id (((id mod P) * 2654435761) mod P, P = 2^31-1, ties by
    id; the pre-reduction keeps the multiply inside int64 for ids past
    ~3.5e9, where the raw product would wrap negative and silently
    reorder the sample — and would overflow outright in strict-bigint
    engines like the DuckDB oracle). No k-means
    training round: random-sample centroids are the classic IVF
    bootstrap, fully reproducible, and — unlike seeded k-means —
    exactly replicable by a SQL oracle (q22 recomputes the whole
    algorithm in DuckDB, like q17 does for hyperplane LSH).

    100 TB shape: the coarse quantizer is definitionally tiny
    (n_list centroid vectors -> one broadcast); corpus assignment is
    one Arrow BLAS pass with NO shuffle; the candidate join broadcasts
    the exploded query-probe block, so the corpus is never exchanged.
    In production the assigned corpus is written partitioned by
    `list_id`, and the probe join prunes file scans to the probed
    lists — assignment cost is paid once per corpus, probing reads
    n_probe/n_list of the data."""
    knuth = ((F.col(id_col) % F.lit(2147483647)) * F.lit(2654435761)) % F.lit(
        2147483647
    )
    crows = (
        corpus.select(id_col, vec_col)
        .orderBy(knuth.asc(), F.col(id_col).asc())
        .limit(n_list)
        .collect()
    )
    # sorted by centroid id so numpy argmax (first max wins) matches the
    # oracle's ORDER BY score DESC, cid ASC tie-break
    crows.sort(key=lambda r: r[0])
    cids = np.array([r[0] for r in crows], dtype=np.int64)
    cmat = np.array([r[1] for r in crows], dtype=np.float64)
    cnorm = cmat / np.maximum(np.linalg.norm(cmat, axis=1, keepdims=True), 1e-12)
    bc = corpus.sparkSession.sparkContext.broadcast((cids, cnorm))

    @F.pandas_udf(T.LongType())
    def assign(vs: pd.Series) -> pd.Series:
        ids_l, cn = bc.value
        m = np.array(vs.tolist(), dtype=np.float64)
        mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series(ids_l[np.argmax(mn @ cn.T, axis=1)])

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def probe(vs: pd.Series) -> pd.Series:
        ids_l, cn = bc.value
        m = np.array(vs.tolist(), dtype=np.float64)
        mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        s = mn @ cn.T  # (batch, n_list)
        nb = min(n_probe, len(ids_l))
        # top-n_probe lists, desc score / asc centroid id tie-break
        order = np.lexsort((np.broadcast_to(ids_l, s.shape), -s), axis=1)
        return pd.Series(list(ids_l[order[:, :nb]]))

    # double-cast before the JVM rerank so zip_with products are f64,
    # matching the oracle's ::DOUBLE[] arithmetic
    # assignment + probe join + rerank all ride the corpus scan (the
    # broadcast join adds no exchange): widen a tiny scan first
    assigned = widen_small_input(
        corpus.select(id_col, F.col(vec_col).cast("array<double>").alias("cvec"))
    ).withColumn("list_id", assign("cvec"))
    probes = queries.select(
        query_id_col, F.col(vec_col).cast("array<double>").alias("qvec")
    ).withColumn("list_id", F.explode(probe("qvec")))
    joined = assigned.join(F.broadcast(probes), "list_id").withColumn(
        "score", cosine_expr("cvec", "qvec")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            "list_id",
            F.round("score", 6).alias("score"),
            "rank",
        )
    )


def _hyperplanes(
    dim: int, n_bits: int, seed: int, kind: str = "gaussian"
) -> np.ndarray:
    """kind="gaussian": seeded standard-normal planes (default).
    kind="portable": deterministic uniform planes from an integer
    formula a SQL oracle can recompute exactly (functions/portable.py)
    — random-projection LSH only needs a symmetric direction
    distribution, so uniform works the same."""
    if kind == "portable":
        from fastqdedup_spark.functions.portable import portable_planes

        return portable_planes(dim, n_bits)
    rng = np.random.default_rng(np.random.SeedSequence([seed, 4242]))
    return rng.standard_normal((dim, n_bits))


def add_sign_bucket(
    df: DataFrame, vec_col: str, dim: int, n_bits: int = 12, seed: int = 42,
    bucket_col: str = "bucket", plane_kind: str = "gaussian",
) -> DataFrame:
    """Random-hyperplane signature -> int bucket (vector SimHash)."""
    planes = _hyperplanes(dim, n_bits, seed, plane_kind)
    bc = df.sparkSession.sparkContext.broadcast(planes)

    @F.pandas_udf(T.LongType())
    def bucket(vs: pd.Series) -> pd.Series:
        m = np.array(vs.tolist(), dtype=np.float64)
        bits = (m @ bc.value) > 0
        weights = (1 << np.arange(bits.shape[1], dtype=np.int64))
        return pd.Series(bits @ weights)

    return df.withColumn(bucket_col, bucket(F.col(vec_col)))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    multi_probe: int = 1,
    plane_kind: str = "gaussian",
) -> DataFrame:
    """ANN: equi-join on the sign bucket, exact cosine rerank inside the
    candidate set. The corpus side is bucketed ONCE (persistable as a
    bucketed table); only the tiny query side fans out.

    `multi_probe` is the recall knob: each query also probes every
    bucket within Hamming distance <= multi_probe of its own (a
    neighbor whose signature differs by m bits lives in a
    Hamming-m bucket), so recall no longer depends on the query landing
    in exactly the right bucket. multi_probe=1 probes 1 + n_bits
    buckets; 0 restores single-bucket probing. JVM-side bit flips —
    the corpus is never re-hashed or replicated."""
    # bucket UDF + broadcast probe join + rerank ride the corpus scan:
    # widen a tiny scan first (no-op at scale)
    corpus = widen_small_input(corpus)
    c = add_sign_bucket(corpus, vec_col, dim, n_bits, seed, plane_kind=plane_kind).select(
        "bucket", F.col(id_col), F.col(vec_col).alias("cvec")
    )
    q = add_sign_bucket(queries, vec_col, dim, n_bits, seed, plane_kind=plane_kind).select(
        "bucket", F.col(query_id_col), F.col(vec_col).alias("qvec")
    )
    if multi_probe > 0:
        # all bucket ids within Hamming <= multi_probe via iterated
        # single-bit XOR flips; array_distinct collapses the duplicates
        masks = F.array(*[F.lit(1 << i).cast("long") for i in range(n_bits)])
        probes = F.array(F.col("bucket"))
        for _ in range(multi_probe):
            probes = F.array_distinct(
                F.flatten(
                    F.transform(
                        probes,
                        lambda b: F.concat(
                            F.array(b),
                            F.transform(masks, lambda m: b.bitwiseXOR(m)),
                        ),
                    )
                )
            )
        q = q.withColumn("bucket", F.explode(probes))
    joined = (
        c.join(F.broadcast(q), "bucket")
        # a neighbor can match several probe buckets of the same query
        .dropDuplicates([query_id_col, id_col])
        .withColumn("score", cosine_expr("cvec", "qvec"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("score", 6).alias("score"), "rank")
    )
