"""The benchmark workloads: inputs, one timed iteration, output check.

Each workload drives the engine only through the public calls its CLIs
make (`read_files_table` -> `dedup_files` / `dedup_files_incremental`
-> `write_table`; `read_fastq` -> `deduplicate_fastq` -> `write_fastq`),
looked up on their modules at call time so a traced run's wrappers see
them. Sizes are chosen so one iteration takes 10-14 s on a 4-core box:
every stage does real work, yet a whole run (session, set-up, warm-up,
timed iterations) stays under a minute.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from perfbench import inputs

# per-workload sizes: "full" for measured runs, "smoke" for the
# benchmark's own tests
SIZES = {
    "incremental_append": {
        "full": {"base_families": 300, "exact": 200, "near": 500, "new_families": 300},
        "smoke": {"base_families": 50, "exact": 12, "near": 30, "new_families": 10},
    },
    "fastq_parity": {"full": {"families": 2500}, "smoke": {"families": 150}},
}

READ_LEN = 50


def du_bytes(path: str) -> int:
    total = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
    return total


def reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


@dataclass
class Outcome:
    """One iteration's output check: `ok` plus the planted-truth recall
    (planted duplicates removed / planted) and the engine's metrics."""

    ok: bool
    recall: float
    detail: str
    metrics: dict


def _planted(members: dict, kept: dict, want) -> tuple[float, list]:
    """Recall over planted duplicates, and the groups whose kept count
    differs from `want(group)`."""
    planted = removed = 0
    wrong = []
    for g, n in members.items():
        w, got = want(g), kept.get(g, 0)
        planted += n - w
        removed += min(n - w, n - got)
        if got != w:
            wrong.append((g, got))
    return (removed / planted if planted else 1.0), wrong


def check_files_output(out_dir: str, corpus: inputs.CodeCorpus) -> tuple[bool, float, str]:
    """Deduped files-table output vs planted truth: sha256(content) ==
    sha on every row, every row is an input content, and each planted
    group keeps exactly one file, except an increment's exact repeats
    and near copies of indexed files, which keep none."""
    import pyarrow.parquet as pq

    table = pq.read_table(out_dir, columns=["content", "sha"]).to_pydict()
    kept: dict[str, int] = {}
    for content, sha in zip(table["content"], table["sha"]):
        if inputs.sha256_hex(content) != sha:
            return False, 0.0, f"sha mismatch on output row {sha[:12]}"
        g = corpus.group.get(sha)
        if g is None:
            return False, 0.0, f"output row {sha[:12]} is not an input content"
        kept[g] = kept.get(g, 0) + 1
    recall, wrong = _planted(
        corpus.members, kept,
        lambda g: 0 if g == "exact" or g.startswith("near") else 1,
    )
    n = len(table["sha"])
    if wrong:
        return False, recall, f"{n} rows; groups kept wrongly: {wrong[:5]}"
    return True, recall, f"{n} rows as expected"


class Workload:
    name = ""
    # run one untimed iteration at the end of set-up
    warmup = True
    # timed iterations per run at least; wall_s is their median. A run
    # pays for a Spark session and its set-up first, so few fit in the
    # minute a run may take on 4 cores.
    timed_iterations = 1

    def __init__(self, work: str, seed: int, size: dict) -> None:
        self.work = work
        self.seed = seed
        self.size = size
        self.out = os.path.join(work, "out")
        self.input_bytes = 0
        self.records = 0

    def build_inputs(self, dest: str) -> None:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """Set-up after inputs exist (e.g. the base index build)."""

    def reset(self) -> None:
        """Untimed per-iteration reset."""
        reset_dir(self.out)

    def run(self, spark) -> dict:
        raise NotImplementedError

    def check(self, metrics: dict) -> Outcome:
        raise NotImplementedError


class IncrementalAppend(Workload):
    """A base index built in set-up; each iteration restores it, dedups
    an increment of exact repeats, near copies of indexed survivors and
    new families against it, and appends the increment. Threshold 0.6,
    library defaults otherwise (directional dissection, metrics on), as
    the CLI's --index run."""

    name = "incremental_append"
    threshold = 0.6
    # the base index build is this JVM's first pipeline run and warms it;
    # a warm-up iteration on top cost 12 s per run and left the spread
    # across seeds as it was (0.10 of the median over five seeds)
    warmup = False

    def build_inputs(self, dest: str) -> None:
        s = self.size
        self.base = inputs.code_corpus(self.seed, s["base_families"])
        self.inc = inputs.increment(
            self.seed, self.base, s["exact"], s["near"], s["new_families"]
        )
        self.base_input = os.path.join(dest, "base")
        self.input = os.path.join(dest, "increment")
        inputs.write_files_table(self.base.rows, self.base_input, 4)
        self.input_bytes = inputs.write_files_table(self.inc.corpus.rows, self.input, 4)
        self.records = len(self.inc.corpus.rows)
        self.index = os.path.join(self.work, "index")
        self.pristine = os.path.join(self.work, "index_base")

    def config(self):
        from fastqdedup_spark.config import DedupConfig

        return DedupConfig(jaccard_threshold=self.threshold)

    def prepare(self, spark) -> None:
        from fastqdedup_spark import incremental, sources

        files = sources.read_files_table(spark, self.base_input)
        incremental.build_index(
            spark, files, self.config(), self.pristine, batch_id="base",
            collect_metrics=True,
        )

    def reset(self) -> None:
        super().reset()
        reset_dir(self.index)
        shutil.copytree(self.pristine, self.index)

    def run(self, spark) -> dict:
        from fastqdedup_spark import incremental, sources

        cfg = self.config()
        index = incremental.DedupIndex(spark, self.index, cfg)
        files = sources.read_files_table(spark, self.input)
        res = incremental.dedup_files_incremental(
            spark, files, cfg, index, update_index=True, batch_id="increment",
            collect_metrics=True,
        )
        sources.write_table(res.deduped, self.out)
        metrics = dict(res.metrics)
        metrics["incremental.index_bytes"] = du_bytes(self.index)
        return metrics

    def check(self, metrics: dict) -> Outcome:
        ok, recall, detail = check_files_output(self.out, self.inc.corpus)
        tiers = (metrics.get("incremental.dropped_exact"),
                 metrics.get("incremental.dropped_near"))
        if tiers != (self.inc.n_exact, self.inc.n_near):
            ok = False
            detail += f"; tiers dropped {tiers}, expected {(self.inc.n_exact, self.inc.n_near)}"
        return Outcome(ok, recall, detail, metrics)


class FastqParity(Workload):
    """Paired-end reads through the reference CLI path: Hamming d=1,
    directional dissection, quality filter on, gzip FASTQ out. Each
    iteration gets a fresh durable checkpoint_dir, so every dedup_keys
    stage is written to parquet and read back: this is the workload that
    measures the checkpoint write path. Lineage fingerprints are off (the
    CLI's --no-lineage): their extra jobs per stage made the iteration
    1.5x as long again (12.5-15 s against 8-9 s on 4 cores)."""

    name = "fastq_parity"
    # one timed iteration left an interquartile spread of 0.13 of the
    # median over ten seeds on 4 cores
    timed_iterations = 2

    def build_inputs(self, dest: str) -> None:
        self.r1 = os.path.join(dest, "reads_R1.fastq.gz")
        self.r2 = os.path.join(dest, "reads_R2.fastq.gz")
        self.truth = inputs.fastq_pair(
            self.seed, self.size["families"], READ_LEN, self.r1, self.r2
        )
        self.input_bytes = os.path.getsize(self.r1) + os.path.getsize(self.r2)
        self.records = len(self.truth.tuples)
        self.outputs = [os.path.join(self.out, "dedup_R1.fastq.gz"),
                        os.path.join(self.out, "dedup_R2.fastq.gz")]
        self.ckpt = os.path.join(self.work, "checkpoint")

    def reset(self) -> None:
        super().reset()
        reset_dir(self.ckpt)
        os.makedirs(self.out)

    def run(self, spark) -> dict:
        from fastqdedup_spark.config import DedupConfig
        from fastqdedup_spark.sources import fastq

        cfg = DedupConfig(max_distance=1, dissection="directional",
                          checkpoint_dir=self.ckpt, lineage=False)
        tables = [fastq.read_fastq(spark, self.r1), fastq.read_fastq(spark, self.r2)]
        surviving = fastq.deduplicate_fastq(spark, tables, cfg, None, 0.001)
        n = fastq.write_fastq(surviving, self.outputs)
        return {"output.tuples": n, "checkpoint.bytes": du_bytes(self.ckpt)}

    def check(self, metrics: dict) -> Outcome:
        r1 = inputs.read_fastq_file(self.outputs[0])
        r2 = inputs.read_fastq_file(self.outputs[1])
        if len(r1) != len(r2):
            return Outcome(False, 0.0, f"mate files differ: {len(r1)} vs {len(r2)}", metrics)
        index = {t: i for i, t in enumerate(self.truth.tuples)}
        kept: dict[int, int] = {}
        for a, b in zip(r1, r2):
            if a[0].rsplit("/", 1)[0] != b[0].rsplit("/", 1)[0]:
                return Outcome(False, 0.0, f"mates out of sync: {a[0]} / {b[0]}", metrics)
            i = index.get((*a, *b))
            if i is None:
                return Outcome(False, 0.0, f"output tuple {a[0]} is not an input tuple", metrics)
            fam = self.truth.family[i]
            kept[fam] = kept.get(fam, 0) + 1
        members: dict[int, int] = {}
        for f in self.truth.family:
            if f >= 0:
                members[f] = members.get(f, 0) + 1
        recall, wrong = _planted(members, kept, lambda f: 1)
        if -1 in kept:  # low-quality singletons must all be filtered out
            wrong.append((-1, kept[-1]))
        if wrong:
            return Outcome(False, recall, f"{len(r1)} tuples; families kept "
                           f"wrongly: {wrong[:5]}", metrics)
        return Outcome(True, recall, f"{len(r1)} tuples as expected", metrics)


WORKLOADS = {w.name: w for w in (IncrementalAppend, FastqParity)}
