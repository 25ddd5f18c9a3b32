"""Incremental dedup: new batches against a persisted dedup index.

The batch pipelines (pipeline.dedup_files) recluster the whole corpus
each run. At 100 TB that is the wrong unit of work for a growing
training corpus: a daily increment is ~0.1-1% of the store, and the
retained corpus is immutable once published. This module adds the
production shape for that regime:

  index  = what one batch run (or a chain of increments) retained:
           per-survivor MinHash state (normalized content, shingle
           count, band hashes, est sketch) + the sha fingerprints of
           EVERYTHING ever seen,
  update = dedup a new batch against the index without touching,
           re-signing, or re-shuffling the retained corpus, then
           append the batch's own survivors to the index.

Semantics (documented contract, pinned by tests/test_incremental.py
against a pure-Python oracle):

  tier 1 (exact):  a new file whose sha256(content) was EVER seen
                   (kept or dropped) is dropped — `dropped_exact`.
  tier 2 (near):   a remaining file whose normalized-content k-gram
                   Jaccard >= threshold against ANY index survivor is
                   dropped — `dropped_near`.
  tier 3 (batch):  the remainder is clustered among itself by the
                   batch pipeline's clustering tail
                   (pipeline.cluster_tail), exactly as dedup_files
                   clusters a whole corpus.
  kept = tier-3 survivors; with update_index=True their signed state
  and the batch's fingerprints append to the index idempotently.

Deviation from a full recluster, stated rather than hidden: matching
is against SURVIVORS, so similarity does not chain through files the
index already dropped (new B ~ dropped A ~ survivor S does not drop B
unless B ~ S directly). That is the standard incremental trade-off —
single-linkage chaining needs the global edge set — and the periodic
full `dedup_files` recluster restores it. The reference has no
incremental mode at all (each run rebuilds its trie from scratch,
/root/reference/src/fastqdedup/__init__.py:209-288); this is a
graft-only capability mandated by the 100 TB regime, not a port.

100 TB plan shape (the part that must survive 1000 executors):
- the NEW side is read once, pinned, and signed once: one job filters,
  hashes and groups the increment by sha into (sha, cnt, content, rep)
  and pins it (localCheckpoint), observing its size and content
  fingerprint on the way. Tier 1 probes with the pin's shas, tier 2
  signs the pin's fresh rows in the batch's ONE Arrow pass, tier 3
  clusters the pin's remainder with those signatures, and the append
  writes the pin's shas — none of them goes back to the raw input.
  Every tier counter (dropped_exact, dropped_near, the remainder's
  input.files) is observed on the job that pins its tier.
- the OLD side is never broadcast, never collected, and only ever
  SCANNED: the exact tier streams the fingerprint table once against a
  broadcast of the new batch's shas; the near tier streams the index
  twice (band explode, then candidate-content fetch) against
  broadcasts of new-side tables. Zero shuffles of retained data when
  the increment is broadcast-sized (the common case by construction).
- when an increment is too big to broadcast
  (cfg.incremental_broadcast_max_rows), the band join degrades to a
  shuffled equi-join on band_hash with AQE skew splitting — and past
  ~10% of corpus size the honest answer is the batch recluster, which
  the index rebuild (`build_index`) makes one call.
- on a real cluster the index tables would be written bucketed
  (fingerprints by sha, bands exploded and bucketed by band_hash) so
  the probe side prunes file scans; here they are plain parquet
  directories with the same logical layout.

Index layout (filesystem; batch writes _SUCCESS-guarded and
idempotent, JSON files written atomically via temp+rename):

  <path>/_meta.json                 similarity-model hash + params
  <path>/_ledger.json               batch ids in APPEND order — reads
                                    with `exclude=b` see only batches
                                    appended BEFORE b (as-of), so a
                                    crash-retry of b reproduces its
                                    first run even after later
                                    increments landed
  <path>/fingerprints/<batch>/      (sha)                    parquet
  <path>/index/<batch>/             (sha, nid, content_norm,
                                     n_shingles, band_hash,
                                     sig_packed)              parquet
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from fastqdedup_spark.checkpoint import StageCheckpointer
from fastqdedup_spark.config import DedupConfig
from fastqdedup_spark.functions.minhash import add_signature_columns, normalize_content
from fastqdedup_spark.pipeline import (  # noqa: F401 — dedup_files is re-exported
    DedupResult,
    FilesFront,
    cluster_tail,
    dedup_files,
    distinct_stage,
    files_front,
    group_contents,
    prepare_files,
)

_INDEX_COLS = ["sha", "nid", "content_norm", "n_shingles", "band_hash", "sig_packed"]


def model_hash(cfg: DedupConfig) -> str:
    """Hash of the fields that define the SIMILARITY MODEL — the ones
    that must match between the run that built an index and every run
    that updates it (signatures/bands/sketches computed under different
    params are not comparable). Execution knobs (salting, transport,
    caps, checkpoints) are deliberately excluded: they change plans,
    not meaning."""
    fields = {
        "shingle_k": cfg.shingle_k,
        "num_perm": cfg.num_perm,
        "bands": cfg.bands,
        "band_bins": cfg.resolved_band_bins,
        "jaccard_threshold": cfg.jaccard_threshold,
        "seed": cfg.seed,
    }
    return hashlib.sha256(json.dumps(fields, sort_keys=True).encode()).hexdigest()[:16]


def _stable_input_id(cfg: DedupConfig) -> bool:
    return bool(cfg.input_id) and "|unfingerprintable|" not in cfg.input_id


def _fingerprint_aggs(weight: str | None = None) -> list:
    """Order-insensitive content fingerprint of a `sha` column: (row
    count, crc32 sum, min, max). `weight` names a per-row multiplicity
    column, so a grouped table (sha, cnt) yields the same values as the
    file rows it stands for."""
    w = F.col(weight) if weight else F.lit(1)
    return [
        F.coalesce(F.sum(w), F.lit(0)).alias("n"),
        F.sum(F.crc32("sha") * w).alias("s"),
        F.min("sha").alias("lo"),
        F.max("sha").alias("hi"),
    ]


def _fingerprint_id(row) -> str:
    key = f"{row['n']}|{row['s']}|{row['lo']}|{row['hi']}"
    return hashlib.sha256(key.encode()).hexdigest()[:16]


def derived_batch_id(cfg: DedupConfig, files: DataFrame | None = None) -> str:
    """The batch id dedup_files_incremental derives when no explicit id
    is given: from cfg.input_id when set (the pipeline's input
    fingerprint convention), else from a content fingerprint of the
    batch itself — an order-insensitive (count, crc32-sum, min, max)
    aggregate over the sha column. The content fallback costs one scan
    of the NEW batch (never the index), but it is stable across
    sessions: a plan-string hash was not (logical plans embed Spark
    expression ids that differ per session), which broke the
    crash-resume contract — the retry of a crashed-after-append run
    derived a fresh id, failed to exclude its own first append, and
    dropped the whole batch as dup_exact. `files` must already carry
    `sha` (with_sha256). dedup_files_incremental computes the same
    fingerprint inside the job that pins the increment, not with a scan
    of its own.

    A TIMESTAMPED input_id (input_fingerprint's `|unfingerprintable|`
    fallback for remote inputs whose listing failed) is treated as
    absent: it embeds time_ns, so deriving a batch id from it gives
    every run a fresh id — the exact instability this function exists
    to prevent (the rerun would dedup the batch against its own
    previous append). Those runs fall through to the content
    fingerprint."""
    if _stable_input_id(cfg):
        return hashlib.sha256(cfg.input_id.encode()).hexdigest()[:16]
    if files is None:
        raise ValueError("derived_batch_id needs cfg.input_id or the batch itself")
    return _fingerprint_id(files.agg(*_fingerprint_aggs()).collect()[0])


@dataclass
class IncrementalResult:
    deduped: DataFrame        # kept new files (tier-3 survivors, full rows + sha)
    dropped_exact: DataFrame  # new files dropped by tier 1 (sha seen before)
    dropped_near: DataFrame   # new files dropped by tier 2 (>= thr vs an index survivor)
    batch: DedupResult        # the within-batch (tier 3) result over the remainder
    metrics: dict


class DedupIndex:
    """Persisted dedup state; see the module docstring for layout."""

    def __init__(self, spark: SparkSession, path: str, cfg: DedupConfig):
        if cfg.strip_boilerplate_frac > 0:
            # boilerplate stripping derives its line set from the BATCH
            # being processed — two batches would shingle under
            # different normalizations, so cross-batch Jaccard would be
            # meaningless. Refuse rather than silently mis-compare.
            raise ValueError(
                "incremental indexes require strip_boilerplate_frac=0 "
                "(stripping is batch-relative; cross-batch signatures "
                "would disagree on the shingle space)"
            )
        self.spark = spark
        self.path = path
        self.cfg = cfg
        meta_path = os.path.join(path, "_meta.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            if meta["model"] != model_hash(cfg):
                raise ValueError(
                    f"index at {path} was built with a different similarity "
                    f"model ({meta['model']} != {model_hash(cfg)}); rebuild "
                    f"with build_index or pass the original config"
                )
        else:
            os.makedirs(path, exist_ok=True)
            # write-to-temp + rename: a crash mid-dump must not leave a
            # truncated _meta.json that wedges every future open (the
            # batch dirs self-heal via _SUCCESS markers; the meta file
            # gets the filesystem's atomic-replace instead)
            self._write_json_atomic(
                meta_path,
                {"model": model_hash(cfg), "shingle_k": cfg.shingle_k,
                 "num_perm": cfg.num_perm, "bands": cfg.bands,
                 "band_bins": cfg.resolved_band_bins,
                 "jaccard_threshold": cfg.jaccard_threshold,
                 "seed": cfg.seed},
            )

    @staticmethod
    def _write_json_atomic(dest: str, obj) -> None:
        tmp = dest + ".tmp"
        with open(tmp, "w") as f:
            json.dump(obj, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, dest)

    # -- reads -------------------------------------------------------------
    def _ledger(self) -> list[str]:
        """Completed batch ids in APPEND order. The order comes from
        _ledger.json (atomically updated by append()); any completed
        batch the ledger missed — a crash between the second _SUCCESS
        and the ledger write, or an index written by older code — is
        appended in sorted order, so readers never lose data to a
        bookkeeping gap."""
        lpath = os.path.join(self.path, "_ledger.json")
        order: list[str] = []
        if os.path.exists(lpath):
            try:
                with open(lpath) as f:
                    order = json.load(f)["order"]
            except (json.JSONDecodeError, KeyError):
                order = []  # truncated ledger: rebuilt from dirs below
        order = [b for b in order if self.has_batch(b)]
        root = os.path.join(self.path, "fingerprints")
        if os.path.isdir(root):
            seen = set(order)
            # unledgered batches sort by their append instant, not by
            # name — lexicographic order can invert the true append
            # order ("b1" < "base") and a wrong order corrupts the
            # as-of exclusion below. The instant is read from the
            # _appended marker append() persists INSIDE the batch
            # (filesystem mtimes are not durable: an rsync without -t
            # or a backup restore rewrites them and could silently
            # invert the reconstructed order — ADVICE r5); batches from
            # older code without the marker fall back to _SUCCESS mtime.
            def _append_instant(d: str) -> float:
                try:
                    with open(os.path.join(root, d, "_appended")) as f:
                        return float(f.read().strip())
                except (OSError, ValueError):
                    return os.path.getmtime(os.path.join(root, d, "_SUCCESS"))

            order += sorted(
                (d for d in os.listdir(root)
                 if d not in seen and self.has_batch(d)),
                key=lambda d: (_append_instant(d), d),
            )
        return order

    def _ensure_ledgered(self, batch_id: str) -> None:
        order = self._ledger()
        if batch_id not in order:
            order.append(batch_id)
        self._write_json_atomic(
            os.path.join(self.path, "_ledger.json"), {"order": order}
        )

    def _batches(self, sub: str, exclude: str | None = None) -> list[str]:
        # only COMPLETE batches (both fingerprints and index landed)
        # are visible to readers — a crash between append()'s two
        # writes must leave the half-appended batch invisible, or the
        # CLI's is_empty dispatch wedges: it would see a non-empty
        # index, route to the incremental path, and die forever in the
        # other read with "run build_index first" while refusing to
        # rebuild. Incomplete batches are overwritten by the retry
        # (has_batch is false for them), so the crash self-heals.
        #
        # `exclude` is AS-OF, not a single-id mask: a rerun of batch b
        # must see the index exactly as b's first run did, and if
        # another increment landed between b's crash and its retry,
        # masking b alone would leak that later state into the retry —
        # the output would silently de-sync from the index's persisted
        # batch-b survivors. The ledger's append order makes "before
        # b" well-defined; an unledgered exclude (fresh batch) sees
        # everything, which IS its first-run view.
        order = self._ledger()
        if exclude is not None and exclude in order:
            order = order[: order.index(exclude)]
        root = os.path.join(self.path, sub)
        return [
            os.path.join(root, d)
            for d in order
            if d != exclude and os.path.exists(os.path.join(root, d, "_SUCCESS"))
        ]

    def fingerprints(self, exclude: str | None = None) -> DataFrame:
        """(sha) of every file ever presented to this index. `exclude`
        names a batch whose own state must not be read — a RERUN of
        increment b must see the index exactly as b's first run did, or
        b's previously-appended fingerprints would match every one of
        its own files and the resume would return an empty batch."""
        dirs = self._batches("fingerprints", exclude)
        if not dirs:
            raise ValueError(f"empty index at {self.path}: run build_index first")
        return self.spark.read.parquet(*dirs)

    def signed_survivors(self, exclude: str | None = None) -> DataFrame:
        """Per-survivor MinHash state (_INDEX_COLS); `exclude` as in
        fingerprints()."""
        dirs = self._batches("index", exclude)
        if not dirs:
            raise ValueError(f"empty index at {self.path}: run build_index first")
        return self.spark.read.parquet(*dirs)

    @property
    def is_empty(self) -> bool:
        """True until the first completed (_SUCCESS-marked) batch lands —
        the CLI's build-vs-increment dispatch."""
        return not self._batches("fingerprints")

    def batch_ids(self) -> list[str]:
        """Ids of every COMPLETED batch (both _SUCCESS markers), sorted.
        The CLI's re-run dispatch: when this equals [its own derived
        id], the index holds nothing but this run's previous append —
        re-running the seed build reproduces run 1 instead of deduping
        the input against itself."""
        root = os.path.join(self.path, "fingerprints")
        if not os.path.isdir(root):
            return []
        return sorted(d for d in os.listdir(root) if self.has_batch(d))

    def has_batch(self, batch_id: str) -> bool:
        return os.path.exists(
            os.path.join(self.path, "index", batch_id, "_SUCCESS")
        ) and os.path.exists(
            os.path.join(self.path, "fingerprints", batch_id, "_SUCCESS")
        )

    # -- writes ------------------------------------------------------------
    def append(
        self, batch_id: str, fingerprints: DataFrame, signed_survivors: DataFrame
    ) -> bool:
        """Idempotent append of one increment's state: a batch dir that
        already has its _SUCCESS marker is never rewritten (a re-run of
        the same increment is a no-op, mirroring StageCheckpointer).
        Returns True when something was written."""
        if self.has_batch(batch_id):
            # ledger repair: a crash between the second _SUCCESS and
            # the ledger write leaves a completed-but-unledgered batch;
            # the retry lands here and records it
            self._ensure_ledgered(batch_id)
            return False
        # index first, fingerprints last: has_batch (and therefore
        # batch visibility in _batches) flips true only when the
        # SECOND write's _SUCCESS lands, so readers never observe a
        # half-appended batch
        signed_survivors.select(*_INDEX_COLS).write.mode("overwrite").parquet(
            os.path.join(self.path, "index", batch_id)
        )
        fingerprints.select("sha").write.mode("overwrite").parquet(
            os.path.join(self.path, "fingerprints", batch_id)
        )
        # durable append instant INSIDE the batch: the ledger-rebuild
        # fallback orders unledgered batches by this, not by fs mtime
        # (which copy/restore tooling rewrites — ADVICE r5)
        import time as _time

        with open(
            os.path.join(self.path, "fingerprints", batch_id, "_appended"), "w"
        ) as f:
            f.write(repr(_time.time()))
        self._ensure_ledgered(batch_id)
        return True


def _sign_distinct(
    distinct: DataFrame, cfg: DedupConfig, approx_rows: float | None
) -> DataFrame:
    """distinct contents (sha, cnt, content) -> signed (_INDEX_COLS + cnt)."""
    return add_signature_columns(
        distinct.withColumn("content_norm", normalize_content("content")).select(
            "sha", "cnt", "content_norm"
        ),
        cfg,
        approx_rows=approx_rows,
    ).withColumn("nid", F.unhex(F.substring("sha", 1, 32)))


def build_index(
    spark: SparkSession,
    files: DataFrame,
    cfg: DedupConfig,
    path: str,
    quality: bool = True,
    batch_id: str = "base",
    collect_metrics: bool = False,
) -> tuple[DedupResult, DedupIndex]:
    """Full batch dedup of `files` (pipeline.dedup_files), then persist
    its retained state as increment `batch_id` of a fresh index. Also
    the periodic-recluster path: rebuild into a new `path` from the
    union of store + recent increments to restore global single-linkage."""
    index = DedupIndex(spark, path, cfg)
    ck = StageCheckpointer(spark, cfg)
    front = files_front(files, cfg, quality, ck)
    res = cluster_tail(ck, cfg, front, collect_metrics)
    # the survivors' signed state is a slice of the pipeline's own
    # signatures stage — no second Arrow pass. Fingerprints come from
    # res.clusters: one row per DISTINCT quality-passed sha, already
    # computed by the distinct_contents stage — re-deriving them from
    # `files` would re-scan and re-sha256 the entire corpus a second
    # time (at 100 TB, the costliest op in the build).
    wrote = index.append(
        batch_id,
        fingerprints=res.clusters.select("sha"),
        signed_survivors=front.signed.join(
            res.survivors.select(F.col("key").alias("sha")), "sha", "left_semi"
        ),
    )
    if not wrote:
        # append() no-ops when `batch_id` already completed — correct
        # for the idempotent seed rerun (same corpus), a silent
        # disaster for a DIFFERENT corpus under a reused id: the
        # caller would hold B's dedup result while the index still
        # serves A's state to every future increment. Compare the
        # stored batch's fingerprints against this run's with the same
        # order-insensitive aggregate derived_batch_id uses (one scan
        # of ONE batch's sha table, never the corpus).
        def _fp(df: DataFrame) -> dict:
            return df.agg(*_fingerprint_aggs()).collect()[0].asDict()

        stored = spark.read.parquet(
            os.path.join(path, "fingerprints", batch_id)
        )
        if _fp(stored) != _fp(res.clusters.select("sha")):
            raise ValueError(
                f"index at {path} already holds a batch {batch_id!r} built "
                "from DIFFERENT content; pass a distinct batch_id (or a "
                "fresh path) instead of silently keeping the old state"
            )
    return res, index


def cross_candidate_pairs(
    old_signed: DataFrame,
    new_signed: DataFrame,
    cfg: DedupConfig,
    broadcast_new: bool = True,
) -> DataFrame:
    """LSH candidates BETWEEN two signed tables: explode both band-hash
    arrays, equi-join on band_hash, est-prefilter on the carried
    sketches, distinct. Returns (id_a=old nid, id_b=new nid).

    broadcast_new=True is the increment shape: the retained side
    streams through a broadcast hash join — no exchange of old data,
    no salting needed (a hot boilerplate band costs map-side est-filter
    work, not reducer skew). False degrades to a shuffled equi-join
    (both sides exchange on band_hash; AQE skew-join splits hot bands)
    for increments past broadcast size."""
    ob = old_signed.select(
        F.col("nid").alias("id_a"),
        F.explode("band_hash").alias("band_hash"),
        F.col("sig_packed").alias("sig_packed_a"),
    )
    nb = new_signed.select(
        F.col("nid").alias("id_b"),
        F.explode("band_hash").alias("band_hash"),
        F.col("sig_packed").alias("sig_packed_b"),
    )
    raw = ob.join(F.broadcast(nb) if broadcast_new else nb, "band_hash")
    if cfg.est_margin > 0:
        from fastqdedup_spark.operators.verify import est_filter_carried

        pairs = est_filter_carried(raw, cfg)
    else:
        pairs = raw.select("id_a", "id_b")
    return pairs.distinct()


def dedup_files_incremental(
    spark: SparkSession,
    new_files: DataFrame,
    cfg: DedupConfig,
    index: DedupIndex,
    quality: bool = True,
    update_index: bool = True,
    batch_id: str | None = None,
    collect_metrics: bool = False,
) -> IncrementalResult:
    """Dedup `new_files` against `index` (tiers 1-3, module docstring),
    appending the batch's retained state when update_index=True."""
    from fastqdedup_spark.operators.verify import verify_pairs_jaccard

    # the input guard raises here, before any job runs or anything
    # lands under the index
    new_files = prepare_files(new_files, quality)

    # -- the pin: the increment is read, filtered, hashed and grouped
    # ONCE; every tier and the append read this table. The same job
    # observes the batch's size and its content fingerprint (the
    # derived batch id), so neither costs a scan of its own.
    pin_obs = Observation()
    pin = (
        group_contents(new_files)
        .observe(pin_obs, F.count(F.lit(1)).alias("n_batch"),
                 *_fingerprint_aggs(weight="cnt"))
        .localCheckpoint(eager=True)
    )
    batch_fp = pin_obs.get
    n_batch, n_files = batch_fp["n_batch"], batch_fp["n"]
    # resolved up front: index reads below EXCLUDE this batch's own
    # previously-appended state, so a resume of a crashed-after-append
    # increment reproduces its first run bit-for-bit
    if batch_id:
        bid = batch_id
    elif _stable_input_id(cfg):
        bid = derived_batch_id(cfg)
    else:
        bid = _fingerprint_id(batch_fp)

    # EVERY new-side broadcast here is gated on the same knob as the
    # band join: an increment past incremental_broadcast_max_rows must
    # not force multi-GB sha tables onto every executor (the hint
    # overrides Spark's own size guard), so oversized increments let
    # AQE pick the join strategy instead.
    broadcast_new = n_batch <= cfg.incremental_broadcast_max_rows
    bcast = F.broadcast if broadcast_new else (lambda df: df)

    # -- tier 1: exact, streaming the old fingerprints ONCE ----------------
    # hits = old shas that reappear in this batch: bounded by the
    # batch's distinct count, so it pins (localCheckpoint) into a small
    # table that both the semi and anti join below can broadcast —
    # without the pin, each consumer would rescan the fingerprint store.
    hits = (
        index.fingerprints(exclude=bid)
        .join(bcast(pin.select("sha")), "sha", "left_semi")
        .localCheckpoint(eager=True)
    )
    dropped_exact = new_files.join(bcast(hits), "sha", "left_semi")
    fresh = pin.join(bcast(hits), "sha", "left_anti")

    # -- tier 2: near, streaming the survivor index twice -------------------
    # (bands for candidates, then contents for the candidates' verify;
    # both against broadcast new-side tables). This is the batch's ONE
    # Arrow signing pass: tier 3 and the append reuse it.
    fresh_obs = Observation()
    signed_new = (
        _sign_distinct(fresh, cfg, n_batch)
        .observe(fresh_obs, F.count(F.lit(1)).alias("n"),
                 F.coalesce(F.sum("cnt"), F.lit(0)).alias("files"))
        .localCheckpoint(eager=True)
    )
    n_new, n_fresh_files = fresh_obs.get["n"], fresh_obs.get["files"]
    old_index = index.signed_survivors(exclude=bid)
    cand = cross_candidate_pairs(old_index, signed_new, cfg, broadcast_new)
    # NOT bcast()-gated: this table holds OLD survivor nids hit by the
    # band join, whose size scales with how many index survivors match
    # the increment — a small batch of boilerplate-heavy docs can hit
    # millions of retained survivors, so a forced broadcast sized by
    # n_batch would override Spark's own size guard and OOM. Left
    # unhinted, AQE broadcasts it when it really is small (the common
    # case) and shuffles otherwise.
    old_hit = old_index.join(
        cand.select(F.col("id_a").alias("nid")).distinct(),
        "nid",
        "left_semi",
    )
    contents = old_hit.select("nid", "content_norm", "n_shingles", "sig_packed").unionByName(
        signed_new.select("nid", "content_norm", "n_shingles", "sig_packed")
    )
    est_ran = cfg.est_margin > 0  # cross_candidate_pairs prefilters iff margin > 0
    # metadata_broadcast=False: the size/sketch relations inside verify
    # derive from `contents`, which includes old_hit — unbounded by the
    # increment's size for the same reason old_hit itself is unhinted
    # above. Let AQE decide from the runtime size.
    verified = verify_pairs_jaccard(
        cand, contents, cfg, id_col="nid", skip_est=est_ran,
        approx_rows=n_new, metadata_broadcast=False,
    )
    near_obs = Observation()
    near_shas = (
        signed_new.join(
            verified.select(F.col("id_b").alias("nid")).distinct(), "nid", "left_semi"
        )
        .select("sha", "cnt")
        .observe(near_obs, F.coalesce(F.sum("cnt"), F.lit(0)).alias("files"))
        .localCheckpoint(eager=True)
    )
    near = bcast(near_shas.select("sha"))
    dropped_near = new_files.join(near, "sha", "left_semi")

    # -- tier 3: within-batch recluster of the remainder --------------------
    # the batch pipeline's clustering tail over the pin's remainder and
    # its tier-2 signatures: same stage names as dedup_files, so a
    # durable checkpoint_dir keeps its layout
    ck = StageCheckpointer(spark, cfg)
    distinct, n_distinct, n_remainder_files = distinct_stage(
        ck, lambda: fresh.join(near, "sha", "left_anti")
    )
    signed = ck.stage(
        "signatures", lambda: signed_new.join(near, "sha", "left_anti")
    )
    batch = cluster_tail(
        ck, cfg,
        FilesFront(new_files.columns, distinct, signed, n_distinct, n_remainder_files),
        collect_metrics,
    )

    metrics = {
        "incremental.new_distinct": float(n_new),
        "incremental.broadcast_new": float(broadcast_new),
        **{f"batch.{k}": v for k, v in batch.metrics.items()},
    }
    if collect_metrics:
        metrics["incremental.dropped_exact"] = float(n_files - n_fresh_files)
        metrics["incremental.dropped_near"] = float(near_obs.get["files"])
        metrics["incremental.kept"] = batch.metrics["output.files"]

    if update_index:
        index.append(
            bid, fingerprints=pin.select("sha"),
            signed_survivors=signed.join(
                batch.survivors.select(F.col("key").alias("sha")), "sha", "left_semi"
            ),
        )

    return IncrementalResult(batch.deduped, dropped_exact, dropped_near, batch, metrics)
