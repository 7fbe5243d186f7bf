"""Core-count scalability worker: one Spark JVM at ``local[N]``, timing
the reference's two benchmark queries plus one shuffle-heavy extension
op, printing ONE JSON line.

Why this exists (r13): the reference publishes TWO benchmark axes — job
time vs data size AND phase time vs worker count
(``/root/reference/plots/plot-wc-scalability.py:7-10`` and
``plot-rwlg-scalability.py:7-10``, measured at 2/4/6/8 workers). The
repo benched only at one parallelism (local[32]); this worker produces
the missing strong-scaling curve. ``bench.py`` orchestrates it at
local[2/4/8/16/32] inside the canary-gated sweep, so the points land in
the round's BENCH record; it also runs standalone:

    python tools/bench_scalability.py --cores 4 [--sf-dir /root/testdata/sf0.1]

Design choices, pinned so the curve measures what it claims:

- **One subprocess per core count.** A SparkContext's master is fixed
  for the JVM's lifetime; in-process re-mastering is impossible, and a
  fresh JVM per point also makes every point pay identical JVM/codegen
  warmup (amortized by the untimed warm run, identically).
- **Strong scaling, fixed decomposition.** ``spark.sql.shuffle.
  partitions`` stays at the engine default (32) at EVERY core count —
  the work splits into the same tasks; only the executor thread pool
  varies. Varying partitions with cores would conflate scheduling
  granularity with parallelism (the reference's worker-count sweep
  holds its ⌊n/m⌋ chunking policy fixed the same way).
- **Identical plans.** wordcount/rwlg come from ``bench.wc_plan`` /
  ``bench.rwlg_uncapped_plan`` — the same module-level builders the
  BASELINE.md comparison points time — over the same materialized
  200 MB replica corpora; the third subject (r14) is the same
  ``dedup.remove_repeated_spans`` call the headline
  ``dedup_spans_k50_1gb`` point times, at a 200 MB unique-token
  corpus, materialized with the same hash-struct discipline. (r13's
  ``scal_minhash``@sf0.1 was below the measurement regime — ~0.3 s of
  compute inside ~2.5 s of fixed cost — and was replaced per VERDICT
  #5; the flat curve's lesson lives in SCALE.md.)
- **Warm + median.** Each query runs once untimed (Catalyst analysis +
  janino codegen + JIT are one-time per plan shape), then ``N_RUNS``
  (2) timed passes; the JSON carries median + min/max under ``times``
  and ``spread``, keyed ``scal_<q>_c<N>`` as the bench record files
  them.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

N_RUNS = 2


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    import bench
    from distributed_computing_platform_mapreduce_spark import get_spark
    from distributed_computing_platform_mapreduce_spark.operators import dedup
    from pyspark.sql import functions as F

    spark = get_spark(
        f"distributed-computing-platform-mapreduce-spark-scal-c{args.cores}",
        master=f"local[{args.cores}]",
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs_path, edges_path = bench._ensure_ref_corpora(
        spark, args.sf_dir, "200mb", bench.REF_SCALES["200mb"]
    )

    def run_wc():
        bench.wc_plan(spark, docs_path).write.format("noop").mode("overwrite").save()

    def run_rwlg():
        bench.rwlg_uncapped_plan(spark, edges_path).write.format("noop").mode(
            "overwrite"
        ).save()

    # r14 (VERDICT #5): the third subject is the 200 MB ExactSubstr spans
    # leg — real per-core work for the gram-hash/shuffle family
    # (`scal_minhash`@sf0.1 was honestly flat: ~0.3 s of compute inside
    # ~2.5 s of fixed cost, below the strong-scaling measurement regime —
    # the lesson is kept in SCALE.md). The unique-token corpus is cached
    # (first worker generates it once).
    spans_path = bench._ensure_unique_docs_corpus(spark, "200mb", 200 * 1024 * 1024)

    def run_spans():
        big = spark.read.parquet(spans_path)
        out = dedup.remove_repeated_spans(big, "doc_id", "text", k=50, min_count=2)
        assert out.agg(F.sum("n_tokens_removed")).collect()[0][0] is not None

    times: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for q, fn in (
        ("scal_wc200", run_wc),
        ("scal_rwlg200", run_rwlg),
        ("scal_spans200", run_spans),
    ):
        key = f"{q}_c{args.cores}"
        try:
            fn()  # untimed warm: plan analysis + codegen + JIT
            samples = []
            for _ in range(N_RUNS):
                t0 = time.perf_counter()
                fn()
                samples.append(time.perf_counter() - t0)
        except Exception as exc:  # noqa: BLE001 — isolate per query
            errors[key] = f"{type(exc).__name__}: {str(exc)[:200]}"
            continue
        times[key] = round(statistics.median(samples), 3)
        spread[key] = [round(min(samples), 3), round(max(samples), 3)]

    print(
        json.dumps(
            {
                "cores": args.cores,
                "times": times,
                "spread": spread,
                "errors": errors,
                "runs": N_RUNS,
                "sf_dir": args.sf_dir,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
