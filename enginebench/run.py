"""Engine benchmark: one workload, one seed, one JSON result line.

    python3 enginebench/run.py --workload curation --seed 1 --seconds 26 --trace 0

Generates the ten tables from the seed, then starts one fresh engine
process (engine.py) in a process group of its own with private TMPDIR,
SPARK_LOCAL_DIRS and java.io.tmpdir and at most ``MAX_SLOTS`` task slots.
The engine times its set-up and a cold pass, runs a fixed number of warm
passes (about ``--seconds`` of them on a 4-vCPU host) and checks its outputs
against the DuckDB oracles. When it is done, it is killed with its JVM and
Python workers, and run.py waits until they are all gone, so nothing
overlaps the next run.

Prints a context line (host load before and after, a host-speed probe,
nproc and task slots, source digest, seed, scale, pass counts), then the
result line ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``. Exits non-zero without a result if no engine run completes.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

ENGINE_TIMEOUT_S = 150.0
# Task slots: two leave the other cores of a 4-vCPU host to the JIT
# compiler threads, the garbage collector and the driver, instead of
# queueing them behind tasks.
MAX_SLOTS = 2
END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "warm_cpu_s": "s",
    "py_peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "registry.import_s": "s",
    "session.start_s": "s",
    "sources.load_table_calls": "count",
    "sources.probe_calls": "count",
    "sources.probe_s": "s",
    "sources.probe_files_read": "count",
    "sources.spread_calls": "count",
    "sources.spread_fanouts": "count",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.action_s": "s",
    "session.boundary_calls": "count",
    "session.persisted_rdds_live": "count",
    "session.persisted_bytes_live": "bytes",
    "spark.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.idle_slot_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.exchanges": "count",
    "spark.single_partition_exchanges": "count",
    "spark.python_nodes": "count",
    "spark.python_bytes": "bytes",
    "spark.jvm_peak_rss_mb": "MB",
    "spark.worker_peak_rss_mb": "MB",
    "plans.write_s": "s",
    "plans.bytes_written": "bytes",
    "plans.files_written": "count",
    "plans.tmp_bytes_left": "bytes",
    "plans.out_bytes_per_in_byte": "ratio",
    "trace.overhead_s": "s",
}


def host_speed_s() -> float:
    """Seconds for a fixed pure-Python loop: a yardstick for host speed."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def source_digest() -> str:
    """sha256 over the engine's Python sources, path and content."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "gvcf_hbase_spark")
    for root, dirs, names in os.walk(pkg):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(root, n)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_sha() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return "none"
    return out.stdout.strip() if out.returncode == 0 else "none"


def steal_s() -> float:
    """CPU-seconds the hypervisor has taken from this host's CPUs so far."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def run_engine(base: str, argv: list[str], deadline: float) -> dict | None:
    """Start the engine in its own process group, wait for its result, then
    kill it with its JVM and Python workers and wait until they are gone."""
    from enginebench import procstat

    dirs = {d: os.path.join(base, d) for d in ("tmp", "java_tmp", "spark_local", "work")}
    for d in dirs.values():
        os.makedirs(d)
    out = os.path.join(base, "result.json")
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["spark_local"],
        SPARK_GRAFT_CPUS=str(min(MAX_SLOTS, len(os.sched_getaffinity(0)))),
        # -XX:-UsePerfData: no hsperfdata file in /tmp, outside the checkout.
        PYSPARK_SUBMIT_ARGS="--driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={dirs['java_tmp']} -XX:-UsePerfData")
        + " pyspark-shell",
    )
    cmd = [sys.executable, os.path.join(HERE, "engine.py"), *argv,
           "--work-dir", dirs["work"], "--java-tmp", dirs["java_tmp"], "--out", out]
    with open(os.path.join(base, "engine.log"), "w") as log:
        spawn = time.monotonic()
        p = subprocess.Popen(cmd + ["--spawn", repr(spawn)], cwd=base, env=env,
                             stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            while p.poll() is None and not os.path.exists(out) and time.monotonic() < deadline:
                time.sleep(0.05)
        finally:
            procstat.kill_engine(p.pid)
            p.wait()
    if not os.path.exists(out):
        with open(os.path.join(base, "engine.log"), errors="replace") as f:
            sys.stderr.write(f"the engine gave no result; log tail:\n{f.read()[-3000:]}\n")
        return None
    with open(out) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description="gvcf_hbase_spark engine benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()
    # SIGTERM unwinds through the finally blocks, which stop the engine.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "gvcf_hbase_spark")):
        sys.stderr.write("gvcf_hbase_spark/ not found next to the benchmark\n")
        return 2
    from enginebench.datagen import write_tables
    from enginebench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        sys.stderr.write(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}\n")
        return 2
    wl = WORKLOADS[args.workload]
    deadline = time.monotonic() + ENGINE_TIMEOUT_S
    work = os.path.join(ROOT, ".bench_work")
    run_dir = os.path.join(work, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        ctx = {
            "load_before": os.getloadavg(),
            "host_speed_s": host_speed_s(),
            "nproc": len(os.sched_getaffinity(0)),
            "git_sha": git_sha(),
            "engine_digest": source_digest(),
            "workload": args.workload,
            "seed": args.seed,
            "sf": wl.sf,
            "docs": wl.docs,
            "doc_words": wl.doc_words,
            "keys": wl.keys,
        }
        data_dir = os.path.join(run_dir, "data")
        ctx["input_bytes"] = write_tables(data_dir, args.seed, wl.sf, wl.docs, wl.doc_words)
        spans = ""
        if args.trace:
            os.makedirs(os.path.join(work, "spans"), exist_ok=True)
            spans = os.path.join(work, "spans", f"{args.workload}-seed{args.seed}.json")
        argv = ["--workload", args.workload, "--data-dir", data_dir,
                "--seconds", str(args.seconds), "--trace", str(args.trace)]
        if spans:
            argv += ["--spans", spans]
        steal0 = steal_s()
        engine = run_engine(run_dir, argv, deadline)
        if engine is None:
            return 1
        ctx["steal_s"] = steal_s() - steal0
        ctx["load_after"] = os.getloadavg()
        correct, attempted, failed, metrics = summarize(engine, args.trace, ctx)
        if spans:
            ctx["spans"] = os.path.relpath(spans, ROOT)
        ctx["run_s"] = time.monotonic() - started
        print(json.dumps({"context": ctx}))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def summarize(engine: dict, trace: int, ctx: dict):
    """Fold the engine's raw numbers into the result line's fields."""
    warm = engine["warm"]
    later = warm[1:]  # the first warm pass is still well above the rest
    # warm_s and warm_cpu_s come from the later half of an untraced run's
    # warm passes, where pass times have levelled off.
    plain = [p for p in warm[len(warm) // 2:] if "layers" not in p]
    traced = [p for p in later if "layers" in p]
    # A traced run's later passes are adjacent (plain, traced) pairs.
    pairs = [sorted(later[i:i + 2], key=lambda p: "layers" in p) for i in range(0, len(later), 2)]
    ctx.update(
        slots=engine["slots"],
        warm_passes=len(warm),
        pass_s=[engine["cold"]["wall_s"]] + [p["wall_s"] for p in warm],
        warm_samples=len(plain),
        traced_samples=len(traced),
        checks=engine["checks"],
        check_s=engine["check_s"],
        errors=engine["first_error"],
    )
    # Every execution of a key counts, its check included; a key whose
    # checked output is wrong fails in all of them.
    attempted = failed = 0
    for key, verdict in engine["checks"].items():
        runs = engine["runs"].get(key, 0) + 1
        attempted += runs
        failed += runs if verdict.startswith("FAIL") else engine["errors"].get(key, 0)
    med = statistics.median
    if not trace:
        values = {
            "setup_s": engine["setup_s"],
            "cold_s": engine["cold"]["wall_s"],
            "warm_s": med(p["wall_s"] for p in plain),
            "warm_cpu_s": med(p["cpu_s"] for p in plain),
            "py_peak_rss_mb": engine["py_peak_rss_mb"],
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    else:
        values = {
            "registry.import_s": engine["registry.import_s"],
            "session.start_s": engine["session.start_s"],
            "spark.jvm_peak_rss_mb": engine["jvm_peak_rss_mb"],
            "spark.worker_peak_rss_mb": engine["worker_peak_rss_mb"],
            "trace.overhead_s": statistics.mean(t["wall_s"] - u["wall_s"] for u, t in pairs),
        }
        for name in PER_LAYER_UNITS:
            if name not in values:
                values[name] = med(p["layers"].get(name, 0.0) for p in traced)
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    return failed == 0, attempted, failed, metrics


if __name__ == "__main__":
    sys.exit(main())
