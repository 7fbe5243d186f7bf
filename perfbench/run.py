"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One process runs one workload in its
own ``get_spark()`` session at ``local[<cpus>]``:

1. set-up, three times: start a session with ``get_spark()``, generate the
   corpus or load it from the cache, derive the oracle, and make one
   checked warm-up run. The JVM and its SparkContext start in the first
   set-up; each later one builds a fresh SparkSession over them;
2. a closed loop for ``--seconds``: one client, each run starts when the
   previous one has returned and been checked, and only if it is expected
   to end inside the window. Untraced, the JVM heap left after full GCs
   is read once the loop ends.

With ``--trace 0`` every run is untraced and the end-to-end metrics are
printed. With ``--trace 1`` untraced and traced runs alternate; a traced
run opens a span (and a Spark job group) around each call into the
program, and the per-layer metrics are folded from Spark's status
stores. The last stdout line is one JSON object; a fuller record,
including host facts, adaptive decisions and every span, is written
under ``.perfbench/records``. See ``LAYERS.md`` for what each metric
means and which workload should move it.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 3
HEAP_SETTLE_ROUNDS = 4

END_TO_END_UNITS = {"job_s": "s", "mb_per_s": "MB/s", "setup_s": "s", "retained_heap_mb": "MB"}
LAYER_UNITS = {
    "session.start_s": "s", "session.jobs": "count", "session.driver_only_s": "s",
    "session.tasks": "count", "session.cpu_util": "ratio", "session.executor_cpu_s": "s",
    "session.gc_s": "s", "session.shuffle_write_mb": "MB", "session.shuffle_read_mb": "MB",
    "session.spill_mb": "MB", "session.peak_task_mem_mb": "MB", "session.task_skew": "ratio",
    "sources.input_mb": "MB", "sources.scan_tasks": "count", "plans.build_s": "s",
    "skew.collect_task_skew": "ratio", "skew.collect_stage_s": "s", "skew.shape_probe_s": "s",
    "compat.python_run_s": "s", "compat.python_start_s": "s", "compat.to_python_mb": "MB",
    "compat.from_python_mb": "MB", "dedup.minhash_call_s": "s", "dedup.simhash_call_s": "s",
    "dedup.cc_call_s": "s", "dedup.cc_jobs": "count", "dedup.python_run_s": "s",
    "dedup.pairs": "count", "dedup.hamming_rows_per_pair": "ratio", "trace.overhead_s": "s",
}


def configure_env(cpus: int) -> None:
    """Session sizing and scratch locations; read by the package at import
    and by the JVM at launch, so this runs before either."""
    tmp = os.path.join(WORK, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(2 * cpus),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        # no hsperfdata files in the system /tmp from either JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS":
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell",
    })
    tempfile.tempdir = None


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def forget_session(spark) -> None:
    """Clear the default and active SparkSession, as ``SparkSession.stop``
    does, but keep the SparkContext running, so the next ``get_spark()``
    builds a new session (state, catalog, conf) without relaunching the
    JVM or the Python workers."""
    from pyspark.sql import SparkSession

    cls = spark._jvm.org.apache.spark.sql.classic.SparkSession
    cls.clearDefaultSession()
    cls.clearActiveSession()
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None


class Bench:
    """One workload's session, corpus, oracle and run accounting."""

    def __init__(self, workload, seed: int, cpus: int):
        self.w, self.seed, self.cpus = workload, seed, cpus
        self.spark = None
        self.attempted = self.failed = 0
        self.digest: str | None = None
        self.setups: list[dict] = []
        self.decision: dict | None = None

    def setup(self) -> None:
        from distributed_computing_platform_mapreduce_spark.operators import skew
        from distributed_computing_platform_mapreduce_spark.session import get_spark
        from spans import NoTrace

        if self.spark is not None:
            forget_session(self.spark)
        t0 = time.perf_counter()
        self.spark = get_spark()
        t_session = time.perf_counter() - t0
        skew.clear_shape_cache()
        self.corpus = self.w.prepare(os.path.join(WORK, "corpus"), self.seed)
        self.expected = self.w.oracle(self.corpus, WORK)
        t_probe = time.perf_counter()
        if hasattr(self.w, "decision"):
            self.decision = self.w.decision(self.spark, self.corpus)
        t_probe = time.perf_counter() - t_probe
        warm = self.attempt(NoTrace())
        self.setups.append({"setup_s": time.perf_counter() - t0, "session_start_s": t_session,
                            "shape_probe_s": t_probe if self.decision else 0.0,
                            "generated": self.corpus.generated, "warm_up_s": warm})

    def attempt(self, tracer) -> float | None:
        """One checked run; its seconds, or None if it failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with tracer.span(self.w.name):
                digest = self.w.check(self.w.run(self.spark, self.corpus, tracer), self.expected)
            dt = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 — a failed run is counted, the loop goes on
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            print(f"{self.w.name}: output digest changed between runs", file=sys.stderr)
            self.failed += 1
            return None
        return dt

    def retained_heap_mb(self) -> float:
        """JVM heap in use after full GCs, outside any timer. Blocks of
        dead checkpoints and persists are released by
        Spark's cleaner only after a GC has found their handles dead, and
        each release can free more, so the heap is read after a few
        GC-and-wait rounds rather than after the first GC."""
        gc.collect()
        jvm = self.spark.sparkContext._jvm
        for _ in range(HEAP_SETTLE_ROUNDS):
            jvm.System.gc()
            time.sleep(0.15)
        jvm.System.gc()
        return jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
            .getHeapMemoryUsage().getUsed() / 1e6

    def host(self) -> dict:
        jvm = self.spark.sparkContext._jvm
        return {"cpus": self.cpus, "master": self.spark.sparkContext.master,
                "driver_mem": self.spark.conf.get("spark.driver.memory"),
                "driver_max_heap_mb": jvm.java.lang.Runtime.getRuntime().maxMemory() / 1e6,
                "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
                "spark": self.spark.version, "python": platform.python_version(),
                "git_sha": git_sha(), "seed": self.seed, "workload": self.w.name}

    def close(self) -> None:
        """Stop the session and the JVM it launched, and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self.spark = None


def closed_loop(seconds: float):
    """Iteration numbers for a loop that measures for ``seconds``: the first
    iteration always runs, and another starts only if, at the mean
    iteration time so far, it would end inside the window."""
    start = time.perf_counter()
    i = 0
    while True:
        yield i
        i += 1
        if (time.perf_counter() - start) * (i + 1) / i > seconds:
            return


def untraced_loop(b: Bench, seconds: float) -> dict:
    """Untraced runs for the window, then one heap reading: a full GC
    between runs slowed the next run by ~15% (rwlg, 4 cores), so the heap
    is read once, after the last run, not after each."""
    from spans import NoTrace

    times = []
    for _ in closed_loop(seconds):
        dt = b.attempt(NoTrace())
        if dt is not None:
            times.append(dt)
    return {"job_s": times, "retained_heap_mb": b.retained_heap_mb()}


def traced_loop(b: Bench, seconds: float) -> dict:
    """Untraced and traced runs alternate, which one goes first alternating
    too; each traced run is folded."""
    import spans

    stores = spans.StatusStores(b.spark)
    plain, traced, runs = [], [], []
    for i in closed_loop(seconds):
        tracer = spans.Tracer(b.spark.sparkContext, f"s{b.seed}-r{i}")
        for t in (spans.NoTrace(), tracer) if i % 2 == 0 else (tracer, spans.NoTrace()):
            first = stores.execution_count()
            dt = b.attempt(t)
            if dt is None:
                continue
            if t is tracer:
                traced.append(dt)
                snap = stores.snapshot(tracer.run_id, first)
                runs.append(spans.fold([s.as_dict() for s in tracer.spans], snap, b.cpus))
            else:
                plain.append(dt)
    return {"job_s": plain, "traced_job_s": traced, "runs": runs}


def layer_metrics(run: list[dict]) -> dict:
    """The per-layer metrics of one folded traced run (root span first)."""
    root = run[0]["metrics"]
    named: dict[str, list[dict]] = {}
    for s in run:
        named.setdefault(s["name"], []).append(s)

    def wall(*names: str) -> float:
        return sum(s["end"] - s["start"] for n in names for s in named.get(n, []))

    def total(key: str, *names: str) -> float:
        return sum(s["metrics"][key] for n in names for s in named.get(n, []))

    calls_skew = "rwlg_collect" in named
    # the collect stage is the longest post-shuffle stage of the rwlg run,
    # whether that is the whole run or the ``rwlg`` part of a longer one
    rwlg = named["rwlg"][0]["metrics"] if "rwlg" in named else root
    dedup_calls = ("minhash_lsh_pairs", "simhash_pairs", "dedup_survivors_cc")
    out = {f"session.{k}": root[k] for k in (
        "jobs", "driver_only_s", "tasks", "cpu_util", "executor_cpu_s", "gc_s",
        "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "peak_task_mem_mb", "task_skew")}
    out.update({
        "sources.input_mb": root["input_mb"],
        "sources.scan_tasks": root["scan_tasks"],
        "plans.build_s": wall("tokenize", "rwlg_collect"),
        "skew.collect_task_skew": rwlg["collect_task_skew"] if calls_skew else 0.0,
        "skew.collect_stage_s": rwlg["collect_stage_s"] if calls_skew else 0.0,
        "compat.python_run_s": root["compat_python_run_s"],
        "compat.python_start_s": root["compat_python_start_s"],
        "compat.to_python_mb": root["compat_to_python_mb"],
        "compat.from_python_mb": root["compat_from_python_mb"],
        "dedup.minhash_call_s": wall("minhash_lsh_pairs"),
        "dedup.simhash_call_s": wall("simhash_pairs"),
        "dedup.cc_call_s": wall("dedup_survivors_cc"),
        "dedup.cc_jobs": total("jobs", "dedup_survivors_cc"),
        "dedup.python_run_s": total("python_run_s", *dedup_calls),
        "hamming_join_rows": root["hamming_join_rows"],
    })
    return out


def median_of(dicts: list[dict], key: str) -> float:
    return statistics.median(d[key] for d in dicts) if dicts else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cpus = len(os.sched_getaffinity(0))
    configure_env(cpus)
    sys.path.insert(0, ROOT)
    # The program under test; outside a checkout this import fails and the
    # benchmark exits non-zero before writing anything.
    import distributed_computing_platform_mapreduce_spark  # noqa: F401

    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    for d in ("tmp", "spark-local", "corpus", "records"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)

    b = Bench(workloads.WORKLOADS[args.workload], args.seed, cpus)
    try:
        for _ in range(SETUPS):
            b.setup()
        loop = traced_loop(b, args.seconds) if args.trace else untraced_loop(b, args.seconds)
        record = {"host": b.host(), "decisions": b.decision, "setups": b.setups,
                  "input_mb": b.corpus.input_bytes / 1e6}
        if args.trace:
            record.update(finish_traced(b, loop))
        else:
            record.update(finish_untraced(b, loop))
    finally:
        b.close()

    record.update(attempted=b.attempted, failed=b.failed,
                  error_rate=b.failed / max(1, b.attempted))
    path = os.path.join(WORK, "records", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    metrics = record["metrics"]
    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} error_rate = {record['error_rate']:.6g} "
          f"({b.failed} of {b.attempted} runs failed); record: {os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": b.failed == 0 and b.attempted > 0, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0


def finish_untraced(b: Bench, loop: dict) -> dict:
    times = loop["job_s"]
    values = dict.fromkeys(END_TO_END_UNITS, 0.0)  # stays 0 only if every run failed
    values["setup_s"] = median_of(b.setups, "setup_s")
    values["retained_heap_mb"] = loop["retained_heap_mb"]
    if times:
        q1, values["job_s"], q3 = quartiles(times)
        values["mb_per_s"] = b.corpus.input_bytes / 1e6 / values["job_s"]
        print(f"{b.w.name} job_s n={len(times)} q1={q1:.4f} median={values['job_s']:.4f} "
              f"q3={q3:.4f}")
    return {"runs_s": times, "retained_heap_mb": loop["retained_heap_mb"],
            "metrics": {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}}


def finish_traced(b: Bench, loop: dict) -> dict:
    per_run = [layer_metrics(r) for r in loop["runs"]]
    values = dict.fromkeys(LAYER_UNITS, 0.0)  # a layer the workload never calls reads 0
    if per_run:
        values.update({k: median_of(per_run, k) for k in per_run[0] if k in values})
    counts = b.w.trace_counts(b.spark, b.corpus) if hasattr(b.w, "trace_counts") else {}
    if counts:
        values["dedup.pairs"] = counts["pairs"]
        if counts["simhash_pairs"]:
            values["dedup.hamming_rows_per_pair"] = (
                median_of(per_run, "hamming_join_rows") / counts["simhash_pairs"])
    values["session.start_s"] = median_of(b.setups, "session_start_s")
    values["skew.shape_probe_s"] = median_of(b.setups, "shape_probe_s")
    if loop["job_s"] and loop["traced_job_s"]:
        values["trace.overhead_s"] = (statistics.median(loop["traced_job_s"])
                                      - statistics.median(loop["job_s"]))
    return {"untraced_runs_s": loop["job_s"], "traced_runs_s": loop["traced_job_s"],
            "dedup_counts": counts, "spans": loop["runs"],
            "metrics": {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in values.items()}}


if __name__ == "__main__":
    sys.exit(main())
