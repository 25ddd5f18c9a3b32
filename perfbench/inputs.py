"""Seeded input builders for the benchmark workloads.

Every builder is a pure function of (seed, sizes): it draws from numpy
generators keyed on the seed and a per-builder tag, writes its files
into a directory, and returns the planted truth the output checks need.
Inputs are built in the benchmark process with pyarrow/gzip,
independently of the engine, so the engine only ever sees files on
disk, as a CLI user's would be.
"""

from __future__ import annotations

import gzip
import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CODE_WORDS = (
    "buffer index offset stream batch record schema column partition shard "
    "hash merge probe scan filter project join sort spill flush token parse "
    "node edge label rank score weight bucket window frame state queue stack "
    "read write open close seek tell sync lock retry yield await spawn"
).split()

LICENSE = (
    "// Copyright (c) Example Authors. All rights reserved.\n"
    "// Licensed under the Apache License, Version 2.0 (the \"License\");\n"
    "// you may not use this file except in compliance with the License.\n"
    "// You may obtain a copy of the License at http://example.org/LICENSE\n"
)

LANGS = ["py", "java", "c", "js", "txt"]

FILES_SCHEMA = pa.schema(
    [
        ("repo", pa.string()),
        ("path", pa.string()),
        ("commit", pa.string()),
        ("lang", pa.string()),
        ("content", pa.string()),
    ]
)


def sha256_hex(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def _rng(seed: int, *tag: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, *tag]))


def write_files_table(rows: list[tuple], path: str, parts: int) -> int:
    """rows of (repo, path, commit, lang, content) -> `parts` parquet
    files under `path`. Returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {name: list(col) for name, col in zip(FILES_SCHEMA.names, zip(*rows))},
        schema=FILES_SCHEMA,
    )
    step = -(-table.num_rows // parts)
    total = 0
    for i in range(parts):
        out = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * step, step), out)
        total += os.path.getsize(out)
    return total


# ---------------------------------------------------------------------------
# code corpus
# ---------------------------------------------------------------------------

def _code_lines(rng: np.random.Generator) -> list[str]:
    n_lines = int(rng.integers(12, 30))
    words = np.array(CODE_WORDS)
    return [
        " ".join(words[rng.integers(0, len(words), int(rng.integers(4, 9)))]) + "\n"
        for _ in range(n_lines)
    ]


def _code_text(lines: list[str], header: bool) -> str:
    return (LICENSE if header else "") + "".join(lines)


def _one_edit(lines: list[str], rng: np.random.Generator, mark: str) -> list[str]:
    """One line replaced or inserted: on files of >= 12 lines this keeps
    the normalized 7-gram Jaccard to the original near 0.8, well above
    the 0.6 threshold. `mark` goes into the new line, so two edits of
    one base never produce the same content."""
    out = list(lines)
    pos = int(rng.integers(1, len(out)))
    line = f"# edited {CODE_WORDS[int(rng.integers(len(CODE_WORDS)))]} {mark}\n"
    if rng.integers(2):
        out[pos] = line
    else:
        out.insert(pos, line)
    return out


@dataclass
class Family:
    """A planted duplicate family: `lines`/`header` rebuild its base."""

    fid: int
    lines: list[str]
    header: bool
    lang: str


@dataclass
class CodeCorpus:
    """Rows plus the planted truth: `group` maps each content sha to the
    family or singleton it belongs to; `members` counts the input files
    of each group, so the expected output has one row per group."""

    rows: list[tuple] = field(default_factory=list)
    group: dict[str, str] = field(default_factory=dict)
    members: dict[str, int] = field(default_factory=dict)
    families: list[Family] = field(default_factory=list)

    def add(self, group: str, repo: str, path: str, commit: str, lang: str,
            content: str) -> None:
        self.rows.append((repo, path, commit, lang, content))
        prev = self.group.setdefault(sha256_hex(content), group)
        if prev != group:
            raise ValueError(f"content planted in two groups: {prev}, {group}")
        self.members[group] = self.members.get(group, 0) + 1


def _family(rng: np.random.Generator, fid: int) -> Family:
    return Family(fid, _code_lines(rng), fid % 3 == 0, LANGS[fid % len(LANGS)])


def add_family(corpus: CodeCorpus, fam: Family, seed: int, tag: str) -> None:
    """base + exact copy + two one-edit near copies: the base has the
    highest count, so directional dissection keeps one file."""
    rng = _rng(seed, 1, fam.fid)
    base = _code_text(fam.lines, fam.header)
    g = f"f{fam.fid}"
    repo = f"org/repo-{fam.fid % 97}"
    for member, content in enumerate(
        [base, base,
         _code_text(_one_edit(fam.lines, rng, "m2"), fam.header),
         _code_text(_one_edit(fam.lines, rng, "m3"), fam.header)]
    ):
        corpus.add(g, repo, f"{tag}/mod_{fam.fid}/file_{member}.{fam.lang}",
                   rng.bytes(20).hex(), fam.lang, content)


def add_singleton(corpus: CodeCorpus, seed: int, sid: int, tag: str) -> None:
    rng = _rng(seed, 2, sid)
    lang = LANGS[sid % len(LANGS)]
    content = _code_text(_code_lines(rng), sid % 3 == 0)
    corpus.add(f"s{sid}", f"org/repo-{sid % 89}",
               f"{tag}/solo_{sid}.{lang}", rng.bytes(20).hex(), lang, content)


def code_corpus(seed: int, n_families: int, first_fid: int = 0,
                tag: str = "src") -> CodeCorpus:
    """`n_families` blocks of six files: a four-member duplicate family
    plus two unrelated singletons. A third of families and singletons
    carry the shared license header (the hot-band source)."""
    corpus = CodeCorpus()
    for fid in range(first_fid, first_fid + n_families):
        fam = _family(_rng(seed, 0, fid), fid)
        corpus.families.append(fam)
        add_family(corpus, fam, seed, tag)
        add_singleton(corpus, seed, 2 * fid, tag)
        add_singleton(corpus, seed, 2 * fid + 1, tag)
    order = _rng(seed, 3, first_fid).permutation(len(corpus.rows))
    corpus.rows = [corpus.rows[i] for i in order]
    return corpus


@dataclass
class Increment:
    """An increment against an index built from `base`: exact repeats
    of indexed files, one-edit near copies of indexed survivors, and new
    families. Expected: the repeats go to tier 1, the near copies to
    tier 2, and each new family and singleton keeps one file."""

    corpus: CodeCorpus
    n_exact: int
    n_near: int


def increment(seed: int, base: CodeCorpus, n_exact: int, n_near: int,
              n_new_families: int) -> Increment:
    rng = _rng(seed, 4)
    inc = CodeCorpus()
    picks = rng.choice(len(base.rows), size=n_exact, replace=False)
    for j, i in enumerate(picks):
        repo, path, _, lang, content = base.rows[int(i)]
        inc.add("exact", "org/mirror", f"inc/exact_{j}/{path}",
                rng.bytes(20).hex(), lang, content)
    fams = rng.choice(len(base.families), size=n_near, replace=True)
    for j, i in enumerate(fams):
        fam = base.families[int(i)]
        edited = _one_edit(fam.lines, _rng(seed, 5, j), f"n{j}")
        inc.add(f"near{j}", "org/mirror", f"inc/near_{j}.{fam.lang}",
                rng.bytes(20).hex(), fam.lang, _code_text(edited, fam.header))
    first = max(f.fid for f in base.families) + 1
    new = code_corpus(seed, n_new_families, first_fid=first, tag="inc")
    inc.rows += new.rows
    inc.group.update(new.group)
    inc.members.update(new.members)
    order = rng.permutation(len(inc.rows))
    inc.rows = [inc.rows[i] for i in order]
    return Increment(inc, n_exact, n_near)


# ---------------------------------------------------------------------------
# paired-end FASTQ
# ---------------------------------------------------------------------------

@dataclass
class FastqTruth:
    """`family[i]` is the family of input tuple i (-1: a low-quality
    singleton the quality filter must drop); `tuples` holds every input
    tuple as (name1, seq1, qual1, name2, seq2, qual2)."""

    tuples: list[tuple]
    family: list[int]
    n_families: int


def fastq_pair(seed: int, n_families: int, read_len: int, path_r1: str,
               path_r2: str, low_quality_frac: float = 0.02) -> FastqTruth:
    """Families of four read tuples: two exact copies of a base key,
    then two members that are each a one-mismatch variant (at distinct
    positions) with probability 0.6, else another exact copy — about 30%
    variants overall. The base key always has the highest count, so
    directional dissection keeps exactly one tuple per family."""
    rng = _rng(seed, 7)
    alphabet = np.array(list("ACGT"))
    key_len = 2 * read_len
    keys: list[str] = []
    fam_of: list[int] = []
    for f in range(n_families):
        base = alphabet[rng.integers(0, 4, key_len)]
        members = [base, base]
        pos = rng.choice(key_len, size=2, replace=False)
        for p in pos:
            if rng.random() < 0.6:
                v = base.copy()
                v[p] = alphabet[(np.searchsorted(alphabet, base[p]) + rng.integers(1, 4)) % 4]
                members.append(v)
            else:
                members.append(base)
        for m in members:
            keys.append("".join(m))
            fam_of.append(f)
    n_low = int(round(low_quality_frac * len(keys)))
    for _ in range(n_low):
        keys.append("".join(alphabet[rng.integers(0, 4, key_len)]))
        fam_of.append(-1)
    order = rng.permutation(len(keys))
    good, bad = "I" * read_len, "#" * read_len
    tuples, family = [], []
    for idx, i in enumerate(order):
        key, fam = keys[i], fam_of[i]
        q = good if fam >= 0 else bad
        tuples.append((f"bench:{idx}/1", key[:read_len], q,
                       f"bench:{idx}/2", key[read_len:], q))
        family.append(fam)
    for path, off in ((path_r1, 0), (path_r2, 3)):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with gzip.open(path, "wb", compresslevel=1) as fh:
            fh.write("".join(
                f"@{t[off]}\n{t[off + 1]}\n+\n{t[off + 2]}\n" for t in tuples
            ).encode("ascii"))
    return FastqTruth(tuples, family, n_families)


def read_fastq_file(path: str) -> list[tuple[str, str, str]]:
    with gzip.open(path, "rt") as fh:
        lines = fh.read().splitlines()
    if len(lines) % 4:
        raise ValueError(f"{path}: truncated FASTQ")
    return [(lines[i][1:], lines[i + 1], lines[i + 3]) for i in range(0, len(lines), 4)]
