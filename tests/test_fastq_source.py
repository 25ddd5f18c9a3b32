"""FASTQ source, slice projection, and full reference-CLI-equivalent
pipeline tests (reference O1/O2/O3/O4 + end-to-end)."""

import gzip
import os

import pytest

from fastqdedup_spark.config import DedupConfig
from fastqdedup_spark.functions.slices import key_projection, length_string_to_slices
from fastqdedup_spark.sources.fastq import deduplicate_fastq, read_fastq, zip_fastq


# slice parsing: the reference's parametrized cases
# (/root/reference/tests/test_fastqdedup.py:27-34)
@pytest.mark.parametrize(
    "string,result",
    [
        ("5,6,7", [slice(5), slice(6), slice(7)]),
        ("5:8,3,-5:3:-1", [slice(5, 8), slice(3), slice(-5, 3, -1)]),
        ("None:None:16", [slice(None, None, 16)]),
        ("::16", [slice(None, None, 16)]),
    ],
)
def test_length_string_to_slices(string, result):
    assert length_string_to_slices(string) == result


def _write_fastq(path, records, compress=False):
    text = "".join(f"@{n}\n{s}\n+\n{q}\n" for n, s, q in records)
    data = text.encode()
    if compress:
        data = gzip.compress(data)
    path.write_bytes(data)


R1 = [
    ("read1/1", "ACGTACGT", "IIIIIIII"),
    ("read2/1", "ACGTACGA", "IIIIIIII"),
    ("read3/1", "TTTTCCCC", "IIIIIIII"),
    ("read4/1", "ACGTACGT", "IIIIIIII"),  # exact dup of read1
    ("read5/1", "GGGGGGGG", "!!!!!!!!"),  # terrible quality
]
R2 = [
    ("read1/2", "CCCCAAAA", "IIIIIIII"),
    ("read2/2", "CCCCAAAT", "IIIIIIII"),
    ("read3/2", "GGGGAAAA", "IIIIIIII"),
    ("read4/2", "CCCCAAAA", "IIIIIIII"),
    ("read5/2", "AAAAAAAA", "IIIIIIII"),
]


def test_read_fastq_plain_and_gz(spark, tmp_path):
    _write_fastq(tmp_path / "a.fastq", R1)
    _write_fastq(tmp_path / "b.fastq.gz", R1, compress=True)
    for fname in ("a.fastq", "b.fastq.gz"):
        df = read_fastq(spark, str(tmp_path / fname))
        rows = sorted(df.collect(), key=lambda r: r.record_idx)
        assert [(r.name, r.sequence, r.qualities) for r in rows] == R1


def test_zip_validates_mates(spark, tmp_path):
    _write_fastq(tmp_path / "r1.fastq", R1)
    _write_fastq(tmp_path / "r2.fastq", R2)
    t1 = read_fastq(spark, str(tmp_path / "r1.fastq"))
    t2 = read_fastq(spark, str(tmp_path / "r2.fastq"))
    zipped = zip_fastq([t1, t2])
    assert zipped.count() == 5
    bad = [("OTHER/2", "ACGT", "IIII")] + R2[1:]
    _write_fastq(tmp_path / "bad.fastq", bad)
    tbad = read_fastq(spark, str(tmp_path / "bad.fastq"))
    with pytest.raises(ValueError, match="not mates"):
        zip_fastq([t1, tbad])


def test_key_projection_slices(spark):
    df = spark.createDataFrame([("ABCDEFGH", "12345678")], "s1 string, s2 string")
    cases = {
        "3,2": "ABC12",
        "5": "ABCDE12345678",   # second column passes through whole
        "::2,1:4": "ACEG234",
        "-3:,:2": "FGH12",
    }
    for spec, want in cases.items():
        got = df.select(
            key_projection(["s1", "s2"], length_string_to_slices(spec)).alias("k")
        ).collect()[0].k
        assert got == want, spec


def test_zip_rejects_multi_file_tables(spark, tmp_path):
    """record_idx is per-file, so a glob-read table would cross-match
    tuples; zip_fastq must refuse it (ADVICE r1)."""
    _write_fastq(tmp_path / "x1.fastq", R1[:2])
    _write_fastq(tmp_path / "x2.fastq", R1[2:4])
    multi = read_fastq(spark, str(tmp_path / "x*.fastq"))
    single = read_fastq(spark, str(tmp_path / "x1.fastq"))
    with pytest.raises(ValueError, match="multiple files"):
        zip_fastq([multi, single])


def test_quality_filter_covers_all_mates_and_slices(spark, tmp_path):
    """Reference parity (ADVICE r1): the error rate is computed over
    joinfunc of ALL mates' qualities sliced by check_slices
    (ref __init__.py:243-250), not just R1's."""
    r1 = [("a/1", "ACGTACGT", "IIIIIIII"), ("b/1", "TTTTTTTT", "IIIIIIII")]
    r2 = [("a/2", "CCCCAAAA", "!!!!!!!!"), ("b/2", "GGGGCCCC", "IIIIIIII")]
    _write_fastq(tmp_path / "q1.fastq", r1)
    _write_fastq(tmp_path / "q2.fastq", r2)
    t1 = read_fastq(spark, str(tmp_path / "q1.fastq"))
    t2 = read_fastq(spark, str(tmp_path / "q2.fastq"))
    cfg = DedupConfig(max_distance=1)
    # record a: R1 perfect, R2 terrible -> discarded now that all mates count
    out = deduplicate_fastq(spark, [t1, t2], cfg)
    assert [r.name_0 for r in out.collect()] == ["b/1"]
    # with check_slices covering only R1, R2's qualities leave the key
    out2 = deduplicate_fastq(
        spark, [t1, t2], cfg, check_slices=[slice(8), slice(0)]
    )
    assert sorted(r.name_0 for r in out2.collect()) == ["a/1", "b/1"]
    # threshold >= 1.0 disables the filter entirely (reference -E)
    out3 = deduplicate_fastq(spark, [t1, t2], cfg, max_average_error_rate=1.0)
    assert sorted(r.name_0 for r in out3.collect()) == ["a/1", "b/1"]


def test_write_fastq_round_trip_and_parity_cli(spark, tmp_path):
    """O13 sink + reference CLI surface end-to-end: outputs are gzipped
    (level 1) FASTQ whose records equal deduplicate_fastq's DataFrame."""
    from fastqdedup_spark.cli import parity_main

    _write_fastq(tmp_path / "in1.fastq.gz", R1, compress=True)
    _write_fastq(tmp_path / "in2.fastq.gz", R2, compress=True)
    o1, o2 = str(tmp_path / "out1.fastq.gz"), str(tmp_path / "out2.fastq.gz")
    parity_main([
        str(tmp_path / "in1.fastq.gz"), str(tmp_path / "in2.fastq.gz"),
        "-o", o1, "-o", o2, "-d", "1", "-c", "directional",
    ])
    got1 = read_fastq(spark, o1)
    rows = sorted(got1.collect(), key=lambda r: r.record_idx)
    assert [r.name for r in rows] == ["read1/1", "read2/1", "read3/1"]
    got2 = read_fastq(spark, o2)
    rows2 = sorted(got2.collect(), key=lambda r: r.record_idx)
    assert [r.sequence for r in rows2] == ["CCCCAAAA", "CCCCAAAT", "GGGGAAAA"]
    # mates stay positionally in sync across output files
    assert [r.name.split("/")[0] for r in rows] == [
        r.name.split("/")[0] for r in rows2
    ]


def test_deduplicate_fastq_end_to_end(spark, tmp_path):
    """Full reference-CLI equivalent: quality filter + paired dedup at
    Hamming d=1 with directional dissection."""
    _write_fastq(tmp_path / "r1.fastq.gz", R1, compress=True)
    _write_fastq(tmp_path / "r2.fastq.gz", R2, compress=True)
    t1 = read_fastq(spark, str(tmp_path / "r1.fastq.gz"))
    t2 = read_fastq(spark, str(tmp_path / "r2.fastq.gz"))
    cfg = DedupConfig(max_distance=1, dissection="directional")
    out = deduplicate_fastq(spark, [t1, t2], cfg)
    rows = sorted(out.collect(), key=lambda r: r.record_idx)
    names = [r.name_0 for r in rows]
    # read5 quality-filtered; read1+read4 exact dups (first wins);
    # read2's combined key is Hamming-2 from read1's (1 per mate), so at
    # d=1 it survives as its own cluster; read3 distinct.
    assert names == ["read1/1", "read2/1", "read3/1"]
    # paired columns intact
    assert rows[0].sequence_1 == "CCCCAAAA"


def test_emission_pass_runs_on_raw_records(spark, tmp_path):
    """Reference parity (ADVICE r2): filter_fastq_files_on_set
    (ref __init__.py:189-206) re-reads the RAW inputs and writes the
    FIRST record whose key is in the surviving set — including records
    the quality filter discarded. A low-quality record preceding a
    same-key survivor is therefore the one emitted."""
    recs = [
        ("low/1", "ACGTACGT", "!!!!!!!!"),   # quality-discarded, same key as high/1
        ("high/1", "ACGTACGT", "IIIIIIII"),  # the key survives via this record
        ("other/1", "TTTTCCCC", "IIIIIIII"),
    ]
    _write_fastq(tmp_path / "e1.fastq", recs)
    t1 = read_fastq(spark, str(tmp_path / "e1.fastq"))
    out = deduplicate_fastq(spark, [t1], DedupConfig(max_distance=1))
    names = sorted(r.name_0 for r in out.collect())
    assert names == ["low/1", "other/1"]


def test_zip_validates_third_mate_alone(spark, tmp_path):
    """ANY mismatching mate must flag the tuple: the old chained-AND
    filters only caught rows where EVERY mate mismatched, so a 3-file
    zip with files 1-2 in sync but file 3 from a different read set
    validated clean and zipped desynced records."""
    _write_fastq(tmp_path / "z1.fastq", R1)
    _write_fastq(tmp_path / "z2.fastq", R2)
    umi_bad = [("WRONG/3", "ACGT", "IIII")] + [
        (n.replace("/1", "/3"), s, q) for n, s, q in R1[1:]
    ]
    _write_fastq(tmp_path / "z3.fastq", umi_bad)
    t1 = read_fastq(spark, str(tmp_path / "z1.fastq"))
    t2 = read_fastq(spark, str(tmp_path / "z2.fastq"))
    t3 = read_fastq(spark, str(tmp_path / "z3.fastq"))
    with pytest.raises(ValueError, match="not mates"):
        zip_fastq([t1, t2, t3])
    # a fully-synced trio still validates clean
    umi_ok = [(n.replace("/1", "/3"), s, q) for n, s, q in R1]
    _write_fastq(tmp_path / "z3ok.fastq", umi_ok)
    t3ok = read_fastq(spark, str(tmp_path / "z3ok.fastq"))
    assert zip_fastq([t1, t2, t3ok]).count() == 5


def test_key_projection_stopless_slice_passes_through(spark):
    """":" / "::" in a check-lengths spec is slice(None) — a
    whole-column pass-through, not substring(col, 1, None) (which is a
    plan-build type error)."""
    df = spark.createDataFrame([("ABCDEFGH", "12345678")], "s1 string, s2 string")
    for spec, want in {"3,:": "ABC12345678", ":,::": "ABCDEFGH12345678"}.items():
        got = df.select(
            key_projection(["s1", "s2"], length_string_to_slices(spec)).alias("k")
        ).collect()[0].k
        assert got == want, spec


def test_deduplicate_fastq_checkpoints_bind_to_input(spark, tmp_path):
    """Two DIFFERENT fastq datasets run with the SAME cfg and
    checkpoint_dir must not resume each other's stages (config.py's
    input_id invariant): the second run's survivors must come from its
    own records, not dataset A's checkpointed stages."""
    from fastqdedup_spark.config import DedupConfig

    _write_fastq(tmp_path / "dsa.fastq", R1)
    dsb = [
        ("x1/1", "AAAATTTT", "IIIIIIII"),
        ("x2/1", "CCCCGGGG", "IIIIIIII"),
        ("x3/1", "AAAATTTT", "IIIIIIII"),  # dup of x1
    ]
    _write_fastq(tmp_path / "dsb.fastq", dsb)
    cfg = DedupConfig(checkpoint_dir=str(tmp_path / "ck"), dissection="highest_count")
    ta = read_fastq(spark, str(tmp_path / "dsa.fastq"))
    tb = read_fastq(spark, str(tmp_path / "dsb.fastq"))
    out_a = deduplicate_fastq(spark, [ta], cfg, None, None)
    seqs_a = {r.sequence_0 for r in out_a.collect()}
    out_b = deduplicate_fastq(spark, [tb], cfg, None, None)
    seqs_b = {r.sequence_0 for r in out_b.collect()}
    assert seqs_b == {"AAAATTTT", "CCCCGGGG"}  # B's own dedup, not A's
    # A at max_distance=1: read1/read2/read4 cluster (Hamming 1, count
    # 2 for ACGTACGT wins), read3 and read5 stand alone
    assert seqs_a == {"ACGTACGT", "TTTTCCCC", "GGGGGGGG"}


def test_checkpoint_identity_sees_in_place_overwrite(spark, tmp_path):
    """binaryFiles names a local file `file:/abs/path` (one slash); the
    checkpoint identity must still fold in its size and mtime, so a file
    overwritten in place with different reads and rerun with the same
    checkpoint_dir recomputes instead of resuming the old stages (which
    returned no records at all)."""
    path = tmp_path / "r.fastq"
    cfg = DedupConfig(checkpoint_dir=str(tmp_path / "ck"), dissection="highest_count")
    _write_fastq(path, R1)
    first = deduplicate_fastq(spark, [read_fastq(spark, str(path))], cfg, None, None)
    assert {r.sequence_0 for r in first.collect()} == {"ACGTACGT", "TTTTCCCC", "GGGGGGGG"}
    other = [("y1/1", "CATCATCATCAT", "IIIIIIIIIIII"), ("y2/1", "GATGATGATGAT", "IIIIIIIIIIII")]
    _write_fastq(path, other)
    second = deduplicate_fastq(spark, [read_fastq(spark, str(path))], cfg, None, None)
    assert {r.sequence_0 for r in second.collect()} == {"CATCATCATCAT", "GATGATGATGAT"}


def test_write_fastq_reads_the_pin_not_the_inputs(spark, tmp_path):
    """Each input is parsed once and pinned: once deduplicate_fastq has
    returned, deleting the input files must not change what write_fastq
    emits."""
    from fastqdedup_spark.sources.fastq import write_fastq

    cfg = DedupConfig(max_distance=1, dissection="directional")
    outputs = {}
    for run in ("kept", "deleted"):
        ins = [tmp_path / f"{run}_1.fastq", tmp_path / f"{run}_2.fastq"]
        _write_fastq(ins[0], R1)
        _write_fastq(ins[1], R2)
        tables = [read_fastq(spark, str(p)) for p in ins]
        out = deduplicate_fastq(spark, tables, cfg)
        if run == "deleted":
            for p in ins:
                p.unlink()
        outs = [str(tmp_path / f"{run}_out{m}.fastq") for m in (1, 2)]
        assert write_fastq(out, outs) == 3
        outputs[run] = [open(o, "rb").read() for o in outs]
    assert outputs["deleted"] == outputs["kept"]


def _stage_dirs(ckdir):
    if not os.path.isdir(ckdir):
        return []
    return [
        os.path.join(base, stage)
        for base in os.listdir(ckdir)
        for stage in os.listdir(os.path.join(ckdir, base))
    ]


def test_mate_guard_raises_before_any_checkpoint_stage(spark, tmp_path):
    """The mate check rides the zip's pin job, so a mismatched pair
    fails before dedup_keys writes a single durable stage, and reports
    the lowest bad record_idx."""
    _write_fastq(tmp_path / "m1.fastq", R1)
    bad = R2[:2] + [("OTHER/2", "ACGT", "IIII"), ("ALSO_BAD/2", "ACGT", "IIII")] + R2[4:]
    _write_fastq(tmp_path / "m2.fastq", bad)
    ckdir = str(tmp_path / "ck")
    tables = [read_fastq(spark, str(tmp_path / f"m{i}.fastq")) for i in (1, 2)]
    with pytest.raises(ValueError, match="index 2 are not mates: 'read3/1'"):
        deduplicate_fastq(spark, tables, DedupConfig(checkpoint_dir=ckdir))
    assert _stage_dirs(ckdir) == []


def test_multi_file_guard_raises_before_the_zip_join(spark, tmp_path):
    """The one-file-per-table guard rides the offending table's own pin
    job: with the glob-read table first, exactly one Spark job runs —
    no second parse, no zip join, no checkpoint stage."""
    _write_fastq(tmp_path / "g1.fastq", R1[:2])
    _write_fastq(tmp_path / "g2.fastq", R1[2:4])
    _write_fastq(tmp_path / "single.fastq", R2[:2])
    ckdir = str(tmp_path / "ck")
    tables = [
        read_fastq(spark, str(tmp_path / "g*.fastq")),
        read_fastq(spark, str(tmp_path / "single.fastq")),
    ]
    sc = spark.sparkContext
    sc.setJobGroup("multi-file-guard", "multi-file guard")
    try:
        with pytest.raises(ValueError, match="multiple files"):
            deduplicate_fastq(spark, tables, DedupConfig(checkpoint_dir=ckdir))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("multi-file-guard")) == 1
    assert _stage_dirs(ckdir) == []
