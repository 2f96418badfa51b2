"""The fresh engine process of a benchmark run.

run.py starts this file in a process group of its own. It times set-up
(from the spawn time it is given until the session is up, the registry is
loaded and the tables are registered), then runs passes of one workload:
one registry key at a time, build plus noop-sink action, each pass over a
fresh copy of the tables so path-keyed memos and plan caches miss. The
first pass is the cold one. A fixed number of warm passes follows, set by
``--seconds`` and the workload's nominal pass time (see ``warm_schedule``).
Then it reads peak memory
and, off the clock, checks the last pass's DataFrames against each key's
DuckDB oracle. It writes its measurements as one JSON document to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from enginebench import procstat  # noqa: E402
from enginebench.check import check_key  # noqa: E402
from enginebench.tracing import SparkStats, Tracer, dir_usage, plan_shape  # noqa: E402
from enginebench.workloads import WORKLOADS  # noqa: E402

MIN_WARM_PASSES = 3


def warm_schedule(n_warm: int, trace: int) -> list[bool]:
    """Which warm passes are traced. Untraced runs make ``n_warm`` plain
    passes and take warm_s from the later half. Traced runs make the first
    warm pass plain, then an even number of (plain, traced) pairs, at least
    as many as that later half, ordered plain-traced, traced-plain, ... so
    that a steady drift of pass times cancels out of the mean
    traced-minus-plain difference."""
    if not trace:
        return [False] * n_warm
    samples = n_warm - n_warm // 2
    pairs = samples + samples % 2
    sched = [False]
    for i in range(pairs):
        sched += [False, True] if i % 2 == 0 else [True, False]
    return sched


class Run:
    def __init__(self, args, spark, specs, tracer: Tracer) -> None:
        self.args = args
        self.spark = spark
        self.sc = spark.sparkContext
        self.specs = specs
        self.keys = WORKLOADS[args.workload].keys
        self.tracer = tracer
        self.stats = SparkStats(spark) if args.trace else None
        self.slots = self.sc.defaultParallelism
        self.worker_hwm_mb = 0.0
        self.runs: Counter = Counter()  # key -> executions
        self.errors: Counter = Counter()  # key -> executions that raised
        self.first_error: dict[str, str] = {}
        self.tmp_dirs = [os.environ["TMPDIR"], args.java_tmp]
        self.kept: tuple[str, dict] | None = None  # last pass: (table copy, DataFrames)

    def fresh_copy(self, idx: int) -> str:
        dst = os.path.join(self.args.work_dir, f"pass{idx}")
        shutil.copytree(self.args.data_dir, dst)
        return dst

    def tmp_bytes(self) -> int:
        return sum(dir_usage(d)[0] for d in self.tmp_dirs)

    def run_pass(self, idx: int, traced: bool) -> dict:
        """One closed-loop pass over the workload's keys. Returns the pass's
        wall and CPU time, and with ``traced`` its per-layer numbers. Its
        DataFrames and table copy are kept until the next pass."""
        self.drop_kept()
        src = self.fresh_copy(idx)
        dfs = {}
        tr = self.tracer
        tr.counts.clear()
        tr.active = traced
        tmp0 = 0
        if traced:
            tmp0 = self.tmp_bytes()
            self.stats.python_bytes_since_last()  # skip the untraced passes' executions
        shapes: dict[str, float] = {}
        phases: dict[str, dict] = {}
        cpu0 = procstat.engine_cpu_s(os.getpid())
        t0 = time.perf_counter()
        with tr.span("pass", idx=idx):
            for key in self.keys:
                self.runs[key] += 1
                group = f"p{idx}:{key}"
                try:
                    with tr.span("key", key=key):
                        self.sc.setJobGroup(group + ":build", key)
                        tb = time.perf_counter()
                        with tr.span("operators.build"):
                            df = self.specs[key].fn(self.spark, src)
                        ta = time.perf_counter()
                        if traced:
                            for k, v in plan_shape(df).items():
                                shapes[k] = shapes.get(k, 0) + v
                        self.sc.setJobGroup(group + ":action", key)
                        ts = time.perf_counter()
                        with tr.span("operators.action"), tr.bench_action():
                            df.write.format("noop").mode("overwrite").save()
                        te = time.perf_counter()
                    phases[key] = {"build_s": ta - tb, "action_s": te - ts}
                    dfs[key] = df
                except Exception as e:  # a failing key is counted, not fatal
                    self.errors[key] += 1
                    self.first_error.setdefault(key, f"{type(e).__name__}: {str(e)[:300]}")
                    phases[key] = {"failed": True}
        wall = time.perf_counter() - t0
        cpu = procstat.engine_cpu_s(os.getpid()) - cpu0
        tr.active = False
        self.poll_workers()
        out = {"wall_s": wall, "cpu_s": cpu, "keys": phases}
        if traced:
            out["layers"] = self.layer_numbers(idx, phases, shapes, tmp0)
        self.kept = (src, dfs)
        return out

    def drop_kept(self) -> None:
        if self.kept is not None:
            shutil.rmtree(self.kept[0], ignore_errors=True)
            self.kept = None

    def layer_numbers(self, idx: int, phases: dict, shapes: dict, tmp0: int) -> dict:
        st = self.stats
        st.drain()
        ok = [k for k in self.keys if not phases[k].get("failed")]
        build_groups = [f"p{idx}:{k}:build" for k in ok]
        action_groups = [f"p{idx}:{k}:action" for k in ok]
        layers = {k: float(v) for k, v in self.tracer.counts.items()}
        layers.update(st.stage_totals(build_groups + action_groups))
        layers["operators.build_jobs"] = sum(len(st.job_ids(g)) for g in build_groups)
        layers["operators.build_s"] = sum(phases[k]["build_s"] for k in ok)
        layers["operators.action_s"] = sum(phases[k]["action_s"] for k in ok)
        idle = 0.0
        for k in ok:
            run_s = st.stage_totals([f"p{idx}:{k}:action"]).get("spark.task_run_s", 0.0)
            idle += phases[k]["action_s"] * self.slots - run_s
        layers["spark.idle_slot_s"] = idle
        layers.update(shapes)
        layers["spark.python_bytes"] = st.python_bytes_since_last()
        layers.update(st.persisted())
        layers["plans.tmp_bytes_left"] = self.tmp_bytes() - tmp0
        sinks = [k for k in ok if "sink" in self.specs[k].tags]
        sink_in = st.stage_totals(
            [f"p{idx}:{k}:{p}" for k in sinks for p in ("build", "action")]
        ).get("spark.input_bytes", 0)
        written = layers.get("plans.bytes_written", 0.0)
        layers["plans.out_bytes_per_in_byte"] = written / sink_in if sink_in else 0.0
        return layers

    def poll_workers(self) -> None:
        for pid in procstat.roles(os.getpid())["worker"]:
            self.worker_hwm_mb = max(self.worker_hwm_mb, procstat.vm_hwm_mb(pid))

    def peak_rss(self) -> dict[str, float]:
        self.poll_workers()
        jvms = procstat.roles(os.getpid())["jvm"]
        return {
            "py_peak_rss_mb": procstat.vm_hwm_mb(os.getpid()),
            "jvm_peak_rss_mb": max((procstat.vm_hwm_mb(p) for p in jvms), default=0.0),
            "worker_peak_rss_mb": self.worker_hwm_mb,
        }

    def check(self) -> dict[str, str]:
        """The last pass's outputs against each key's oracle over the same
        table copy; a key that failed in that pass fails its check."""
        import duckdb

        from gvcf_hbase_spark.sources.tables import TABLES

        src, dfs = self.kept
        con = duckdb.connect()
        con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}/{t}.parquet')")
        out = {}
        for key in self.keys:
            if key not in dfs:
                out[key] = f"FAIL exec: {self.first_error.get(key, '')}"
                continue
            try:
                out[key] = check_key(dfs[key], self.specs[key].oracle, con)
            except Exception as e:  # reported as a failed check
                out[key] = f"FAIL check: {type(e).__name__}: {str(e)[:300]}"
        con.close()
        self.drop_kept()
        return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--java-tmp", required=True)
    ap.add_argument("--spawn", type=float, required=True, help="time.monotonic() at spawn")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--spans", default="")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    t0 = time.monotonic()
    from gvcf_hbase_spark import registry

    specs = registry.load_all()
    t1 = time.monotonic()
    from gvcf_hbase_spark.session import get_spark
    from gvcf_hbase_spark.sources.tables import TABLES, load_table

    spark = get_spark("enginebench")
    t2 = time.monotonic()
    for t in TABLES:
        load_table(spark, args.data_dir, t).createOrReplaceTempView(t)
    t3 = time.monotonic()
    res: dict = {
        "setup_s": t3 - args.spawn,
        "registry.import_s": t1 - t0,
        "session.start_s": t2 - t1,
    }
    tracer = Tracer()
    if args.trace:
        tracer.install()
    run = Run(args, spark, specs, tracer)
    res["slots"] = run.slots
    res["cold"] = run.run_pass(0, traced=False)
    wl = WORKLOADS[args.workload]
    n_warm = max(MIN_WARM_PASSES, math.ceil(args.seconds / wl.warm_pass_s))
    warm = [run.run_pass(i, traced) for i, traced in
            enumerate(warm_schedule(n_warm, args.trace), start=1)]
    res["warm"] = warm
    res.update(run.peak_rss())
    t_check = time.perf_counter()
    res["checks"] = run.check()
    res["check_s"] = time.perf_counter() - t_check
    if args.spans:
        tracer.dump(args.spans)
    res["runs"] = dict(run.runs)
    res["errors"] = dict(run.errors)
    res["first_error"] = run.first_error
    with open(args.out + ".tmp", "w") as f:
        json.dump(res, f)
    os.replace(args.out + ".tmp", args.out)
    # run.py now kills this process with the JVM and the Python workers, so
    # it finds them while they still descend from this one.
    time.sleep(60)
    os._exit(1)


if __name__ == "__main__":
    main()
