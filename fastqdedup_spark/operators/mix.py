"""Deterministic corpus mixing / stratified subsampling.

Pre-training pipelines resample sources to target mixture weights
(e.g. The Pile / Llama data recipes: web down-weighted, books
up-weighted). Doing it with `rand()` makes every rerun a different
corpus; doing it with a HASH of a stable key makes the sample a pure
function of (key, seed) — reproducible across reruns, engines, and
cluster sizes, and replayable by the SQL oracle.

The hash is two LCG rounds mod the Mersenne prime 2^31-1 (constants
shared with functions/portable.py): every intermediate stays under
2^62, so the identical integer arithmetic runs in Catalyst, DuckDB,
or any ANSI engine — no 64-bit wraparound, no engine-specific hash().

Scale design: weights are a tiny dict -> broadcast join; the decision
is a pure JVM filter on the scan side. No shuffle, no Python, and the
filter prunes rows BEFORE any downstream exchange.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from fastqdedup_spark.session import local_table

P = 2_147_483_647  # 2^31 - 1, shared with functions/portable.py
A = 1_103_515_245
C = 12_345
PPM = 1_000_000


def sample_unit(key: "str | Column", seed: int = 1) -> Column:
    """Deterministic pseudo-uniform draw in [0, 1e6) from a
    non-negative integer key: two LCG rounds mod 2^31-1. Portable:
    the same formula in any bigint SQL engine yields the same draw.

    The key is reduced mod P BEFORE the first multiply — without it,
    keys above 2^63/A ~ 8.4e9 (well inside the 10^12-row regime this
    targets) overflow int64 and wrap negative; Spark's % keeps the
    dividend's sign, so the draw would go negative and `draw < ppm`
    would hold even for weight-0 strata. Post-reduction every
    intermediate stays under P*A < 2^62 on any conforming engine."""
    k = (F.col(key) if isinstance(key, str) else key).cast("long") % P
    u1 = (k * A + C + F.lit(int(seed))) % P
    u2 = (u1 * A + C) % P
    return u2 % PPM


def mix_sources(
    docs: DataFrame,
    weights: dict[str, float],
    stratum_col: str = "source",
    key_col: str = "doc_id",
    seed: int = 1,
    default_weight: float = 0.0,
) -> DataFrame:
    """Keep each row with probability weights[stratum] (exactly: iff
    its deterministic draw < weight*1e6), independently per row.
    Strata absent from `weights` get `default_weight`. Weight 1.0
    keeps everything in the stratum; 0.0 drops it entirely."""
    w = local_table(
        docs.sparkSession,
        [(k, int(round(v * PPM))) for k, v in weights.items()],
        f"{stratum_col} string, _ppm long",
    )
    ppm = F.coalesce(F.col("_ppm"), F.lit(int(round(default_weight * PPM))))
    return (
        docs.join(F.broadcast(w), stratum_col, "left")
        .filter(sample_unit(key_col, seed) < ppm)
        .drop("_ppm")
    )
