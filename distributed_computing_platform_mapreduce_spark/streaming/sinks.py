"""Exactly-once streaming sinks via ``foreachBatch``.

Structured Streaming's file sinks are append-only; real pipelines need
upserts, partition overwrites, and multi-table fan-out — the documented
pattern for all three is ``foreachBatch`` + an IDEMPOTENT write keyed
by ``batch_id`` (Spark replays a batch after failure with the SAME id,
so "write if this batch_id hasn't landed" makes the sink effectively
exactly-once even though delivery is at-least-once).

This module implements that pattern with a parquet directory layout
partitioned by ``__batch_id``: a replayed batch overwrites its own
partition (dynamic partition overwrite) instead of appending
duplicates. At 100 TB the same shape holds — the idempotence unit is
the batch partition, commits are directory renames, and readers see
either the whole batch or none of it. A production deployment swaps
the parquet layout for a transactional table format (Delta/Iceberg)
with MERGE; the foreachBatch contract is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop FS API — the
    explicit existence probe the sinks use instead of catching blanket
    read exceptions (a transient/corrupt read must FAIL the micro-batch
    so streaming retries it; only genuine absence may be treated as
    'first trigger')."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def _has_committed_data(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` holds at least one COMMITTED data file (any
    file not named ``_*``/``.*``, at any partition depth). A crash
    during a sink's FIRST trigger can leave the directory present with
    only ``_temporary`` debris; a bare ``fs.exists`` probe then wedges
    the stream permanently (every retry reads an empty sink and
    throws), so 'exists but nothing committed' must be classified as
    first-trigger — the same committed-only rule ``_committed_ids``
    applies to the dedup index.

    A lone ``_SUCCESS`` marker with ZERO data files does NOT count:
    ``spark.read.parquet`` would still fail schema inference on it,
    which is the exact wedge this probe exists to eliminate — the
    marker only corroborates; a real data file must be present."""
    fs, jpath = _hadoop_path(spark, path)
    if not fs.exists(jpath):
        return False
    stack = [jpath]
    while stack:
        p = stack.pop()
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name.startswith("_") or name.startswith("."):
                continue  # _SUCCESS, _temporary, hidden committer files
            if st.isDirectory():
                stack.append(st.getPath())
            else:
                return True
    return False


def idempotent_parquet_sink(path: str):
    """Build a ``foreachBatch`` function writing each micro-batch to
    ``path`` under ``__batch_id=<id>`` with dynamic partition
    overwrite — replays of the same batch_id replace, never duplicate."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                batch_df.withColumn("__batch_id", F.lit(int(batch_id)).cast("long"))
                .write.mode("overwrite")
                .partitionBy("__batch_id")
                .parquet(path)
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    return write_batch



def run_foreach_batch(
    stream_df: DataFrame,
    checkpoint_dir: str,
    out_path: str,
    query_name: str = "fb_sink",
) -> None:
    """Drain ``stream_df`` with availableNow through the idempotent
    parquet sink; blocks until the trigger completes."""
    q = (
        stream_df.writeStream.foreachBatch(idempotent_parquet_sink(out_path))
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_sink(spark: SparkSession, out_path: str) -> DataFrame:
    """Read the sink back, dropping the bookkeeping column."""
    return spark.read.parquet(out_path).drop("__batch_id")


def topk_per_window_sink(
    path: str,
    k: int,
    window_col: str = "window_start",
    order_col: str = "n_events",
    plan_log: list | None = None,
):
    """``foreachBatch`` writer maintaining the TOP-``k`` rows per event
    window: streaming aggregations cannot rank in-query (no window
    functions over a streaming agg), so the documented pattern is
    update-mode counts → foreachBatch merge-and-rank → dynamic overwrite
    of just the affected windows' partitions.

    An update-mode micro-batch contains ONLY the ``(window, key)`` groups
    that changed in that trigger, so ranking the batch alone and
    overwriting the window partition would silently delete top-k rows
    whose keys did not update (batch 1 writes a=10, b=9; batch 2 updates
    only c=5 → the window must still hold a and b). The writer therefore
    reads the sink's existing rows for the batch's distinct windows
    (≤ k rows per window — the read is bounded by the sink's own output,
    and partition pruning keys it to the affected windows), keeps the
    batch's row wherever both sides have the same key (update-mode counts
    are cumulative, the batch is newer), re-ranks the union, and
    overwrites those windows. A replay of the same batch_id re-derives
    the identical merge, so the sink stays idempotent; at 100 TB the
    commit unit is one window directory and the merge traffic is
    O(k · windows-updated-per-trigger), independent of stream volume.

    Two scale/robustness guarantees are encoded explicitly:

    - the sink's existence is probed through the filesystem for
      COMMITTED data (at least one data file or ``_SUCCESS`` — a crash
      during the first trigger's write leaves the directory present
      with only ``_temporary`` debris, which must replay as
      first-trigger, not wedge every retry on an unreadable sink), NOT
      a blanket ``except`` around the read — a transient or corrupt
      read on a later trigger must abort the micro-batch (streaming
      retries it) instead of silently skipping the merge and letting
      the partition overwrite delete top-k keys that didn't update;
    - the merge read is STATICALLY partition-pruned: the batch's
      distinct windows (bounded: windows-updated-per-trigger, ≤ the
      trigger's group count) are collected and pushed as an ``isin``
      partition filter, so the per-trigger read never degrades into a
      full-sink scan no matter how many windows the sink has
      accumulated. ``plan_log`` (optional) receives the pruned read's
      formatted plan per trigger so tests can pin the PartitionFilters.
    """
    from pyspark.sql.window import Window

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        cols = list(batch_df.columns)
        key_cols = [c for c in cols if c not in (window_col, order_col)]
        merged = batch_df
        existing = (
            spark.read.parquet(path).select(*cols)
            if _has_committed_data(spark, path)
            else None  # first trigger: absent, or crash debris only
        )
        if existing is not None:
            # bounded collect: one value per window updated this trigger
            win_vals = [
                r[0] for r in batch_df.select(window_col).distinct().collect()
            ]
            prior = existing.filter(F.col(window_col).isin(win_vals))
            if plan_log is not None:
                from distributed_computing_platform_mapreduce_spark.operators.similarity import (
                    _plan_string,
                )

                plan_log.append(_plan_string(prior))
            # batch wins on key collision: update-mode counts are cumulative
            prior_only = prior.join(
                F.broadcast(batch_df.select(window_col, *key_cols)),
                on=[window_col, *key_cols],
                how="left_anti",
            )
            merged = batch_df.unionByName(prior_only)
        w = Window.partitionBy(window_col).orderBy(
            F.col(order_col).desc(), *[F.col(c) for c in key_cols]
        )
        top = (
            merged.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= k)
            .drop("__rk")
        )
        if existing is not None:
            # the write below overwrites partitions the plan also READS;
            # materialize the (bounded: ≤ k rows per affected window)
            # result first so no file-source lineage survives into the
            # overwrite job
            top = top.localCheckpoint(eager=True)
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            top.write.mode("overwrite").partitionBy(window_col).parquet(path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    return write_batch


def incremental_dedup_sink(
    index_path: str,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    compact_every: int = 8,
):
    """``foreachBatch`` writer running the production increment loop as
    a stream: each micro-batch near-dedups against the PERSISTED
    signature index (``dedup.incremental_dedup`` — historical text is
    never re-read, only ~300 B/doc signatures), survivors land under
    ``__batch_id=`` partitions (the idempotent-sink layout), and the
    index parquet is rewritten as history ∪ the batch's surviving
    signatures.

    Replay safety — the subtlety this sink exists to encode: the index
    update is NOT naively idempotent. After a crash-replay of batch N,
    the index already holds batch N's survivors, so deduping the replay
    against it would kill every doc as an exact dup OF ITSELF and lose
    the batch. The writer therefore excludes the batch's own ids from
    the history view before deduping (an anti-join on the id — correct
    in the normal path too, since a live batch's ids cannot already be
    history), making the whole step a pure function of (prior-batches
    index, batch): replays re-derive identical survivors AND an
    identical index. The index read is bounded by the index itself
    (signatures, not text); at 100 TB the index is the only state that
    ever rereads, exactly as in the batch-mode increment loop.

    Crash safety of the index itself: the index is NEVER rewritten in
    place (an in-place ``overwrite`` deletes the old files before the
    new ones commit, so a crash mid-write would destroy the whole
    history and the next batch would silently dedup against nothing).

    Index LAYOUT (r16 — the per-trigger full rewrite was the bench's
    worst scale shape: O(history) IO every trigger, serially
    driver-paced): a BASE directory ``{index_path}/v=<batch_id>`` plus
    DELTA segments ``{index_path}/d=<batch_id>``. The live index is
    the newest committed base ∪ every committed delta with a HIGHER
    batch id; stale deltas at or below the base are invisible. A
    normal trigger appends only its own survivors' signatures as
    ``d=<batch_id>`` — O(batch) IO, independent of history size. Every
    ``compact_every`` triggers (and on the first trigger) the full
    index is folded into a new base ``v=<batch_id>`` and older
    base/delta dirs are pruned strictly AFTER the new ``_SUCCESS``
    lands; a crash mid-prune leaves ignorable stale dirs, never a
    damaged index. The same prune deletes crash debris: uncommitted
    (no ``_SUCCESS``) ``v=``/``d=`` dirs with an id below the new base,
    which no later trigger can write again.

    Replay determinism: a replayed batch finds its OWN committed dir
    (``v=`` or ``d=`` — it is necessarily the newest) and re-derives
    the identical content: the live-index read minus the batch's own
    ids IS the pre-batch history (its own delta contains only its own
    ids; its own base minus its ids is exactly what the compaction
    folded), so the same decision (base vs delta) is re-taken and the
    same bytes rewritten. The history is eagerly pinned ONLY in that
    replay case — the rewrite would otherwise overwrite a directory
    its own plan is scanning; a normal trigger writes a brand-new dir
    and skips the pin (one full-history materialization job saved per
    trigger). Genuine read failures propagate and abort the
    micro-batch (streaming retries it); only a verifiably absent index
    directory means 'first trigger'."""
    from distributed_computing_platform_mapreduce_spark.operators.dedup import (
        incremental_dedup_delta,
        minhash_index,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        bid = int(batch_id)
        spark = batch_df.sparkSession
        base, deltas = _index_state(spark, index_path)
        live_parts = ([f"{index_path}/v={base}"] if base is not None else []) + [
            f"{index_path}/d={d}" for d in deltas
        ]
        if live_parts:
            hist = spark.read.parquet(*live_parts)
        else:
            hist = minhash_index(
                batch_df.filter(F.lit(False)), id_col, text_col, n, num_hashes
            )
        hist = hist.join(
            batch_df.select(F.col(id_col).alias("id")), "id", "left_anti"
        )
        replay = base == bid or bid in deltas
        if replay:
            # pin: the rewrite below overwrites a dir this plan scans
            hist = hist.localCheckpoint(eager=True)
        survivors, delta = incremental_dedup_delta(
            batch_df,
            hist,
            id_col=id_col,
            text_col=text_col,
            n=n,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
        )
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                survivors.withColumn("__batch_id", F.lit(bid).cast("long"))
                .write.mode("overwrite")
                .partitionBy("__batch_id")
                .parquet(out_path)
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        # base-vs-delta decision — a pure function of the committed
        # state, so a replay re-takes its first attempt's choice: its
        # own dir is the newest committed one and forces the same kind.
        if base == bid:
            compact = True
        elif bid in deltas:
            compact = False
        else:
            compact = base is None or len(deltas) + 1 >= compact_every
        # overwrite clobbers a partial dir left by a crashed attempt of
        # this SAME batch; pruning runs strictly after _SUCCESS exists
        if compact:
            hist.unionAll(delta).write.mode("overwrite").parquet(
                f"{index_path}/v={bid}"
            )
            # prune every other committed base and every committed delta
            # (all are folded into v=<bid>; none can postdate it), plus
            # uncommitted crash debris below the new base
            fs, _ = _hadoop_path(spark, index_path)
            jp = spark._jvm.org.apache.hadoop.fs.Path
            for prefix in ("v=", "d="):
                for i, committed in _index_dirs(spark, index_path, prefix):
                    stale = (prefix == "d=" or i != bid) if committed else i < bid
                    if stale:
                        fs.delete(jp(f"{index_path}/{prefix}{i}"), True)
        else:
            delta.write.mode("overwrite").parquet(f"{index_path}/d={bid}")

    return write_batch


def _index_dirs(
    spark: SparkSession, index_path: str, prefix: str
) -> list[tuple[int, bool]]:
    """Sorted ``(batch id, committed)`` for every index dir named
    ``<prefix><id>`` under ``index_path``; committed means its
    ``_SUCCESS`` marker is present."""
    fs, root = _hadoop_path(spark, index_path)
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not name.startswith(prefix):
            continue
        try:
            v = int(name[len(prefix):])
        except ValueError:
            continue
        ok = fs.exists(spark._jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS"))
        out.append((v, bool(ok)))
    return sorted(out)


def _committed_ids(spark: SparkSession, index_path: str, prefix: str) -> list[int]:
    """Sorted batch-ids of COMMITTED (``_SUCCESS`` present) index dirs
    named ``<prefix><id>`` under ``index_path`` — partial directories
    from crashed writes are invisible to readers."""
    return [v for v, ok in _index_dirs(spark, index_path, prefix) if ok]


def _index_state(spark: SparkSession, index_path: str) -> tuple[int | None, list[int]]:
    """``(newest committed base id | None, sorted committed delta ids
    NEWER than the base)`` — the live-index membership rule. Stale
    deltas at or below the base (crash-mid-prune leftovers) are
    invisible."""
    bases = _committed_ids(spark, index_path, "v=")
    base = bases[-1] if bases else None
    deltas = [
        d
        for d in _committed_ids(spark, index_path, "d=")
        if base is None or d > base
    ]
    return base, deltas


def read_dedup_index(spark: SparkSession, index_path: str) -> DataFrame:
    """The current signature index = the newest committed base ∪ every
    committed delta segment newer than it. Raises if nothing has ever
    committed (readers must not confuse 'index destroyed' with 'empty
    history')."""
    base, deltas = _index_state(spark, index_path)
    parts = ([f"{index_path}/v={base}"] if base is not None else []) + [
        f"{index_path}/d={d}" for d in deltas
    ]
    if not parts:
        raise FileNotFoundError(f"no committed dedup index under {index_path}")
    return spark.read.parquet(*parts)
