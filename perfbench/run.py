"""Benchmark entry point.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process drives the engine on
local[nproc]: set-up (session start, seeded inputs written to disk, any
index build, one untimed warm-up iteration unless the index build
already warmed the JVM), then timed iterations for `--seconds` (at
least the workload's timed_iterations), each followed by an output
check against the planted truth. The last stdout line is one JSON object: {"correct",
"attempted", "failed", "metrics"}.

End-to-end metrics (--trace 0): records_per_s (input records / median
timed wall), wall_s (median timed iteration), setup_s (everything
before the first timed iteration), peak_rss_mb (per-process peak
resident sets summed over this process, the gateway JVM and its Python
workers), recall (planted duplicates removed / planted). The error
rate (iterations that raised or failed their check / attempted) is
printed by name and carried by `failed` and `attempted`; it is zero on
a correct run, so it is not a metric.

Per-layer metrics (--trace 1): after one untraced timed iteration (the
base of trace.overhead_s), span wrappers go around the engine's layer
calls (trace.py) and the session's Spark event log is folded into
task CPU, GC, shuffle and spill per span. Spans are printed as one JSON
line.

The conditions line records nproc, heap and off-heap sizes, the load
before each iteration and the set-up parts. `--smoke` shrinks every
input for the benchmark's own tests. Everything a run writes stays
under .perfbench_work/ in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import workloads as W  # noqa: E402
from perfbench.trace import (  # noqa: E402
    EVENT_LOG_CONF,
    TASK_LAYERS,
    Tracer,
    event_log_file,
    fold_event_log,
    layer_summary,
)

# one heap setting for every workload; the box is shared, so keep it small
DEFAULT_DRIVER_MEMORY = "2g"
DEFAULT_OFFHEAP = "1g"

END_TO_END_UNITS = {
    "records_per_s": "1/s",
    "wall_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "recall": "ratio",
}

# Per-layer metric -> unit; zero where the workload does not reach the
# layer. Layers are the engine's modules; what each should move:
#   minhash.*, lsh.*, verify.*: records_per_s / wall_s on incremental_append
#     (tier-3 batch); lsh and verify also on fastq_parity (pigeonhole
#     candidates, Hamming verify), minhash never there.
#   dissect.*, connected_components.*: wall_s on both workloads; CC runs
#     the driver union-find here (rounds 0, far under 1M edges), the
#     distributed loop is not measured.
#   exact_dedup, pipeline.self_s, sources.*, driver.unattributed_s: wall_s
#     on both.
#   incremental.*: wall_s / records_per_s on incremental_append only.
#   fastq.*, checkpoint.*: wall_s on fastq_parity only.
#   <layer>.gc_s, <layer>.spill_mb: peak_rss_mb and wall_s on both.
PER_LAYER_UNITS = {
    "minhash.wall_s": "s", "minhash.task_cpu_s": "s",
    "lsh.wall_s": "s", "lsh.pairs": "count", "lsh.max_band_size": "count",
    "lsh.shuffle_write_mb": "MB",
    "verify.wall_s": "s", "verify.edges": "count", "verify.useful_ratio": "ratio",
    "dissect.wall_s": "s", "dissect.fallback_clusters": "count",
    "connected_components.wall_s": "s", "connected_components.rounds": "count",
    "exact_dedup.wall_s": "s", "pipeline.self_s": "s",
    "sources.read_s": "s", "sources.write_s": "s", "sources.write_mb": "MB",
    "checkpoint.write_mb": "MB", "checkpoint.bytes_per_input_byte": "ratio",
    "incremental.self_s": "s", "incremental.append_s": "s",
    "incremental.index_mb": "MB", "incremental.dropped_exact": "count",
    "incremental.dropped_near": "count",
    "fastq.self_s": "s", "fastq.read_s": "s", "fastq.write_s": "s",
    "driver.unattributed_s": "s", "trace.overhead_s": "s",
}

for _layer in TASK_LAYERS:
    PER_LAYER_UNITS[f"{_layer}.gc_s"] = "s"
    PER_LAYER_UNITS[f"{_layer}.spill_mb"] = "MB"


def tree_peak_rss_mb(root: int) -> float:
    """Sum over `root` and its live descendants (the gateway JVM and its
    Python daemons and workers) of each process's peak resident set
    (VmHWM). The kernel keeps the peaks, so no sampling is needed and a
    short-lived child sharing its parent's pages between fork and exec is
    never counted twice."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    total_kb, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def configure_env(work: str, trace: bool) -> dict:
    """Keep every file Spark, the JVM and Python write under `work`."""
    nproc = os.cpu_count() or 1
    for sub in ("tmp", "spark-local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = os.environ
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["SPARK_GRAFT_CPUS"] = str(nproc)
    env.setdefault("SPARK_DRIVER_MEMORY", DEFAULT_DRIVER_MEMORY)
    env.setdefault("SPARK_GRAFT_OFFHEAP", DEFAULT_OFFHEAP)
    # the launcher JVM of spark-class and the driver JVM: temp files in
    # `work`, no hsperfdata files in the system temp dir
    jvm_opts = f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData"
    for var in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):
        env[var] = f"{env.get(var, '')} {jvm_opts}".strip()
    confs = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        confs.update(EVENT_LOG_CONF)
        confs["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()
    ) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = env["TMPDIR"]
    return {
        "nproc": nproc,
        "master": f"local[{nproc}]",
        "driver_memory": env["SPARK_DRIVER_MEMORY"],
        "offheap": env["SPARK_GRAFT_OFFHEAP"],
    }


def remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # only when no other run uses it
    except OSError:
        pass


def stop_jvm(spark) -> None:
    """Stop the session, then end the gateway JVM this process launched
    (it exits on EOF on its stdin) and wait for it, so no process of the
    run outlives it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_iteration(wl, spark, tracer=None):
    """reset (untimed) -> timed run -> check (untimed). Returns (wall,
    outcome or None on an exception, root span id or None)."""
    wl.reset()
    root = tracer.begin("iteration", "driver") if tracer else None
    t0 = time.monotonic()
    try:
        metrics = wl.run(spark)
        wall = time.monotonic() - t0
    except Exception:  # noqa: BLE001 — a failed run is counted, not fatal
        traceback.print_exc()
        return time.monotonic() - t0, None, root
    finally:
        if tracer:
            tracer.end(root)
    try:
        return wall, wl.check(metrics), root
    except Exception:  # noqa: BLE001 — an unreadable output fails the check
        traceback.print_exc()
        return wall, None, root


def per_layer(wl, tracer, roots: list[int], walls: list[float],
              untraced_wall: float, run_metrics: dict,
              stage_rows: dict) -> dict[str, float]:
    """Median over traced iterations of each layer number, plus the
    counts the engine reports and the sizes left on disk."""
    sums = [layer_summary(tracer, r) for r in roots]

    def med(key: str) -> float:
        return statistics.median(s.get(key, 0.0) for s in sums)

    m = tracer.engine_metrics
    pairs = stage_rows.get("pairs", 0)
    edges = stage_rows.get("edges", 0)
    out = {
        "minhash.wall_s": med("minhash.wall_s"),
        "minhash.task_cpu_s": med("minhash.task_cpu_s"),
        "lsh.wall_s": med("lsh.wall_s"),
        "lsh.pairs": pairs,
        "lsh.max_band_size": m.get("bands.max_band_size", 0.0),
        "lsh.shuffle_write_mb": med("lsh.shuffle_write_mb"),
        "verify.wall_s": med("verify.wall_s"),
        "verify.edges": edges,
        "verify.useful_ratio": edges / pairs if pairs else 0.0,
        "dissect.wall_s": med("dissect.wall_s"),
        "dissect.fallback_clusters": m.get("dissect.fallback_clusters", 0.0),
        "connected_components.wall_s": med("connected_components.wall_s"),
        "connected_components.rounds": m.get("cc.rounds", 0.0),
        "exact_dedup.wall_s": med("exact_dedup.wall_s"),
        "pipeline.self_s": med("pipeline.self_s"),
        "sources.read_s": med("sources.read.wall_s"),
        "sources.write_s": med("sources.write.wall_s"),
        "sources.write_mb": W.du_bytes(wl.out) / 2**20,
        "incremental.self_s": med("incremental.self_s"),
        "incremental.append_s": med("incremental.append.wall_s"),
        "incremental.index_mb": run_metrics.get("incremental.index_bytes", 0.0) / 2**20,
        "incremental.dropped_exact": run_metrics.get("incremental.dropped_exact", 0.0),
        "incremental.dropped_near": run_metrics.get("incremental.dropped_near", 0.0),
        "fastq.self_s": med("fastq.self_s"),
        "fastq.read_s": med("fastq.read.wall_s"),
        "fastq.write_s": med("fastq.write.wall_s"),
        "driver.unattributed_s": med("driver.unattributed_s"),
        "trace.overhead_s": statistics.median(walls) - untraced_wall,
    }
    ck = run_metrics.get("checkpoint.bytes", 0.0)
    out["checkpoint.write_mb"] = ck / 2**20
    out["checkpoint.bytes_per_input_byte"] = ck / wl.input_bytes
    for layer in TASK_LAYERS:
        out[f"{layer}.gc_s"] = med(f"{layer}.gc_s")
        out[f"{layer}.spill_mb"] = med(f"{layer}.spill_mb")
    return out


def run_workload(args) -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    conditions = configure_env(work, args.trace)
    try:
        import fastqdedup_spark  # noqa: F401
        from fastqdedup_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        remove_work(work)
        return 2
    size = W.SIZES[args.workload]["smoke" if args.smoke else "full"]
    wl = W.WORKLOADS[args.workload](work, args.seed, size)
    conditions["load1m_at_start"] = os.getloadavg()[0]
    spark = None
    try:
        t0 = time.monotonic()
        spark = get_spark(master=conditions["master"])
        spark.sparkContext.setLogLevel("ERROR")
        t_session = time.monotonic() - t0
        t1 = time.monotonic()
        wl.build_inputs(os.path.join(work, "inputs"))
        t_inputs = time.monotonic() - t1
        t1 = time.monotonic()
        wl.prepare(spark)
        t_prepare = time.monotonic() - t1
        # JIT, codegen and Python-worker start-up happen in the first
        # iteration of a JVM (1.3-2x slower), so it is set-up
        warm_wall, checked = 0.0, []
        if wl.warmup:
            warm_wall, warm, _ = run_iteration(wl, spark)
            checked.append(warm)  # the warm-up's check counts too
        setup_s = time.monotonic() - t0
        conditions.update(
            workload=args.workload, seed=args.seed, trace=args.trace,
            records=wl.records, input_bytes=wl.input_bytes, sizes=size,
            setup_parts_s={"session": t_session, "inputs": t_inputs,
                           "prepare": t_prepare, "warmup": warm_wall},
        )
        walls, loads, roots, outcomes = [], [], [], []
        tracer = untraced_wall = None
        run_metrics: dict = {}
        stage_rows: dict = {}
        deadline = time.monotonic() + args.seconds
        # a traced run times one untraced iteration first, the base of
        # the tracing overhead, then at least one traced one
        untraced = 1 if args.trace else 0
        needed = untraced + 1 if args.trace else wl.timed_iterations
        while time.monotonic() < deadline or len(walls) < needed:
            if args.trace and len(walls) == untraced and tracer is None:
                untraced_wall = walls[-1]
                tracer = Tracer(spark)
                tracer.install()
            loads.append(os.getloadavg()[0])
            wall, outcome, root = run_iteration(wl, spark, tracer)
            walls.append(wall)
            outcomes.append(outcome)
            if outcome is not None:
                run_metrics = outcome.metrics
            if tracer:
                roots.append(root)
                stage_rows = tracer.count_stage_rows()
        if tracer:
            tracer.uninstall()
        conditions.update(load1m_before=loads, iterations=len(walls),
                          walls_s=walls)
        recalls = [o.recall for o in outcomes if o is not None]
        checked += outcomes
        failed = sum(1 for o in checked if o is None or not o.ok)
        for o in checked:
            if o is not None and not o.ok:
                print(f"perfbench: output check failed: {o.detail}", file=sys.stderr)
        attempted = len(checked)
        if args.trace:
            spark.stop()
            spark = None
            fold_event_log(event_log_file(os.path.join(work, "eventlog")), tracer)
            metrics = per_layer(wl, tracer, roots, walls[untraced:], untraced_wall,
                                run_metrics, stage_rows)
            units = PER_LAYER_UNITS
            t_first = tracer.spans[0].start
            print(json.dumps({"spans": [
                {"name": sp.name, "layer": sp.layer, "parent": sp.parent,
                 "start": sp.start - t_first, "end": sp.end - t_first,
                 "task_cpu_s": sp.task_cpu_s, "gc_s": sp.gc_s,
                 "shuffle_write_mb": sp.shuffle_write_mb, "spill_mb": sp.spill_mb}
                for sp in tracer.spans
            ]}))
        else:
            wall = statistics.median(walls)
            metrics = {
                "records_per_s": wl.records / wall,
                "wall_s": wall,
                "setup_s": setup_s,
                "peak_rss_mb": tree_peak_rss_mb(os.getpid()),
                "recall": min(recalls) if recalls else 0.0,
            }
            units = END_TO_END_UNITS
        conditions["error_rate"] = failed / attempted
        print(json.dumps({"conditions": conditions}))
        for k, v in metrics.items():
            print(f"{args.workload} {k} {v:.6g} {units[k]}")
        print(f"{args.workload} error_rate {failed / attempted:.6g} ratio "
              f"({failed} of {attempted} iterations failed)")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in metrics.items()},
        }))
        return 0
    finally:
        stop_jvm(spark)
        remove_work(work)


def run_all(args) -> int:
    """Every workload in declaration order, one child process each; the
    combined result names each metric <workload>.<metric>."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    print(json.dumps({"workload_order": list(W.WORKLOADS)}))
    for name in W.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(int(args.trace))] + (["--smoke"] if args.smoke else [])
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            print(f"perfbench: workload {name} exited {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        res = json.loads(lines[-1])
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = v
    print(json.dumps(combined))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=[*W.WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs, for the benchmark's own tests")
    args = p.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
