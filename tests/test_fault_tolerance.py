"""Fault-tolerance parity drills: failures must not change output.

The reference platform's headline claim is that worker failures do not
result in incorrect output — it re-schedules a failed worker's tasks on
the survivors (``/root/reference/src/MapReduceMaster.java:211-263``) and
proves it with a message-loss injection experiment
(``/root/reference/src/MembershipListMaintainer.java:64-65,170-177``;
``/root/reference/README.md:35-37``; SURVEY.md §5 item 4). This engine
delegates recovery to Spark's task retry + lineage re-execution; these
drills are the repo-side evidence: ``chaos.inject_task_failures`` makes
the FIRST attempt of chosen partitions raise, the session's scheduler
(``local[N,2]`` — retries on, see conftest) re-runs them, and the
recovered output must equal the failure-free run row-for-row.

Covered failure points:
- scan-side (pre-shuffle) failure on the flagship wordcount pipeline,
- post-shuffle failure (the retried reduce task must re-fetch shuffle
  blocks) on the same pipeline,
- scan-side failure under a shuffle-heavy pipeline (MinHash-LSH dedup —
  bucket join + dedup across two shuffles downstream of the drill),
- streaming: the incremental-dedup foreachBatch sink with failing first
  attempts in every micro-batch (survivors + committed index identical).

Each drill asserts the failure actually FIRED (marker files written by
the failing attempts) so a scheduler misconfiguration can't pass the
suite vacuously.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from distributed_computing_platform_mapreduce_spark.chaos import inject_task_failures
from distributed_computing_platform_mapreduce_spark.operators import dedup
from distributed_computing_platform_mapreduce_spark.plans.maplejuice import tokenize
from distributed_computing_platform_mapreduce_spark.sources.catalog import load_table


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _assert_fired(marker_dir: str) -> list[str]:
    fired = sorted(os.listdir(marker_dir))
    assert fired, "no injected failure fired — the drill was vacuous"
    # every marker is a FIRST attempt: retries (attempt >= 1) passed clean
    assert all(m.endswith("_a0") for m in fired), fired
    return fired


def test_wordcount_survives_scan_stage_failures(spark, sf_dir, tmp_path):
    """Pre-shuffle drill: every scan partition's first attempt dies;
    the retried attempts re-read the same input split, and the final
    counts are identical to the clean run's."""
    docs = load_table(spark, sf_dir, "documents").select("text").repartition(8)
    clean = _rows(tokenize(docs).groupBy("word").agg(F.count("*").alias("cnt")))

    marker_dir = str(tmp_path / "wc_scan")
    os.makedirs(marker_dir)
    chaotic = inject_task_failures(
        docs, every_nth_partition=1, marker_dir=marker_dir
    )
    survived = _rows(tokenize(chaotic).groupBy("word").agg(F.count("*").alias("cnt")))

    assert len(_assert_fired(marker_dir)) == 8  # all 8 partitions failed once
    assert survived == clean


def test_wordcount_survives_post_shuffle_failures(spark, sf_dir, tmp_path):
    """Post-shuffle drill: the failure point sits DOWNSTREAM of the
    exchange, so the retried reduce-side task must re-fetch its shuffle
    blocks (the map outputs survive the task failure) — the Spark analog
    of the reference re-running a Juice task on a survivor node."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    agg = tokenize(docs).groupBy("word").agg(F.count("*").alias("cnt"))
    clean = _rows(agg)

    marker_dir = str(tmp_path / "wc_reduce")
    os.makedirs(marker_dir)
    survived = _rows(
        inject_task_failures(agg, every_nth_partition=2, marker_dir=marker_dir)
    )

    _assert_fired(marker_dir)
    assert survived == clean


def test_minhash_lsh_dedup_survives_task_failures(spark, sf_dir, tmp_path):
    """Shuffle-heavy drill: the drill sits at the scan feeding
    MinHash-LSH near-dedup (signature explode → band-bucket shuffle →
    candidate join → pair dedup). Two shuffles and an Arrow-batched
    signature stage downstream of the failure all recover to the exact
    clean-run pair set."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").repartition(8)

    def pairs(d):
        return _rows(dedup.minhash_lsh_pairs(d, "doc_id", "text", threshold=0.5))

    clean = pairs(docs)
    assert clean, "fixture expectation: sf corpus has near-dup pairs"

    marker_dir = str(tmp_path / "lsh")
    os.makedirs(marker_dir)
    survived = pairs(
        inject_task_failures(docs, every_nth_partition=2, marker_dir=marker_dir)
    )

    _assert_fired(marker_dir)
    assert survived == clean


def test_injection_knob_validates(spark):
    import pytest

    df = spark.range(4)
    with pytest.raises(ValueError, match="every_nth_partition"):
        inject_task_failures(df, every_nth_partition=0)
    with pytest.raises(ValueError, match="attempts"):
        inject_task_failures(df, attempts=0)


def test_failure_beyond_retry_budget_fails_loudly(spark, tmp_path):
    """The inverse property: a failure the scheduler CANNOT absorb
    (attempts ≥ maxFailures) fails the job with the injected error —
    recovery never silently drops a partition's rows."""
    import pytest
    from pyspark.errors.exceptions.captured import PythonException

    df = spark.range(100).repartition(4)
    doomed = inject_task_failures(df, every_nth_partition=1, attempts=99)
    with pytest.raises(PythonException, match="chaos: injected task failure") as exc:
        doomed.count()
    # the scheduler exhausted its budget: the surfaced failure is the
    # RETRIED attempt, not the first
    assert "attempt=1" in str(exc.value)


def test_streaming_incremental_dedup_survives_task_failures(spark, tmp_path):
    """Streaming-side drill: the incremental-dedup foreachBatch sink
    (versioned signature index, crash-safe commits) fed batches whose
    FIRST task attempts die. Every Spark action inside the sink (the
    survivor write, the index version commit) replans over the chaos
    stage, so each one's first wave of tasks fails and retries; the
    final survivor set AND committed index must equal the clean run's —
    the streaming analog of the reference re-running a failed worker's
    tasks mid-job."""
    from distributed_computing_platform_mapreduce_spark.streaming.sinks import (
        incremental_dedup_sink,
        read_dedup_index,
    )

    schema = "doc_id long, text string"
    b0 = [
        (0, "the quick brown fox jumps over the lazy dog near the old river bank"),
        (1, "pack my box with five dozen liquor jugs before the long winter arrives"),
    ]
    b1 = [
        (10, b0[0][1]),  # exact dup of batch-0 doc -> dies
        (11, "entirely novel second wave content about distributed shuffle behavior"),
        (12, "entirely novel second wave content about distributed shuffle behavior"),
    ]
    b2 = [
        (20, b1[1][1]),  # dup of a batch-1 SURVIVOR -> dies
        (21, "third wave text sharing nothing with anything seen before now"),
    ]

    def drive(root, chaos_dir=None):
        sink = incremental_dedup_sink(str(root / "idx"), str(root / "out"))
        for bid, rows in enumerate((b0, b1, b2)):
            df = spark.createDataFrame(rows, schema).repartition(2)
            if chaos_dir is not None:
                df = inject_task_failures(
                    df, every_nth_partition=1, marker_dir=chaos_dir
                )
            sink(df, bid)
        out = sorted(
            r["doc_id"]
            for r in spark.read.parquet(str(root / "out")).select("doc_id").collect()
        )
        idx = sorted(
            (r["id"], tuple(r["signature"]))
            for r in read_dedup_index(spark, str(root / "idx")).collect()
        )
        return out, idx

    clean_root = tmp_path / "clean"
    chaos_root = tmp_path / "chaos"
    os.makedirs(clean_root); os.makedirs(chaos_root)
    marker_dir = str(tmp_path / "stream_markers")
    os.makedirs(marker_dir)

    clean = drive(clean_root)
    survived = drive(chaos_root, chaos_dir=marker_dir)

    _assert_fired(marker_dir)
    assert survived == clean
    assert clean[0] == [0, 1, 11, 21]
