"""Self-tests of the benchmark's pure parts; no Spark session needed.

    python3 -m pytest perfbench/test_perfbench.py -q

The last test also checks the bypass predictions on whatever traced
records ``run.py --trace 1`` has left in ``.perfbench/records``.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


# --- generators -------------------------------------------------------------


def test_wc_file_is_deterministic_and_counts_its_words():
    data, counts = gen.wc_file(7, 3)
    again, _ = gen.wc_file(7, 3)
    assert data == again
    assert data != gen.wc_file(8, 3)[0]
    words = data.decode().split()
    assert len(words) == gen.WC_WORDS_PER_FILE
    assert all(len(line.split()) == gen.WC_WORDS_PER_LINE for line in data.decode().splitlines())
    by_word = {w: words.count(w) for w in set(words)}
    assert by_word == {gen.WC_VOCAB[i]: int(c) for i, c in enumerate(counts) if c}
    # half-normal skew: the first ten words far outnumber the last ten
    assert counts[:10].sum() > 10 * counts[-10:].sum()


def test_rwlg_file_is_deterministic_and_counts_its_edges():
    pool = gen.rwlg_pool(5)
    assert pool == gen.rwlg_pool(5) and len(set(pool)) == gen.VOCAB_SIZE
    data, counts = gen.rwlg_file(5, 0, pool)
    assert data == gen.rwlg_file(5, 0, pool)[0]
    lines = data.decode().splitlines()
    assert len(lines) == gen.RWLG_EDGES_PER_FILE
    src, dst = zip(*(ln.split(",") for ln in lines))
    assert all(len(s) == 10 and s.isalnum() for s in src)
    assert {d: dst.count(d) for d in set(dst)} == {
        pool[i]: int(c) for i, c in enumerate(counts) if c}
    assert 0.015 < counts.max() / len(lines) < 0.035  # the hot key holds ~2.4%


def _shingles(text: str, n: int = 3) -> set:
    toks = text.split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def test_neardup_docs_plant_chains_of_near_copies():
    docs, clusters = gen.neardup_docs(3, 300, 20)
    assert (docs, clusters) == gen.neardup_docs(3, 300, 20)
    members = [m for c in clusters for m in c]
    assert len(members) == len(set(members))
    assert all(3 <= len(c) <= 6 for c in clusters)
    for c in clusters:
        sims = sorted(
            len(_shingles(docs[a]) & _shingles(docs[b])) / len(_shingles(docs[a]) | _shingles(docs[b]))
            for i, a in enumerate(c) for b in c[i + 1:])
        assert sims[-1] > 0.5  # every cluster holds a detectable pair
    outsider = next(i for i in range(300) if i not in set(members))
    other = next(i for i in range(300) if i not in set(members) and i != outsider)
    assert not _shingles(docs[outsider]) & _shingles(docs[other])


def test_corpus_cache_is_reused():
    os.makedirs(os.path.join(run.WORK, "tmp"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(run.WORK, "tmp")) as cache:
        d1, f1, made1 = gen.wc_corpus(cache, 1, 2)
        d2, f2, made2 = gen.wc_corpus(cache, 1, 2)
        assert (d1, f1, made1, made2) == (d2, f2, True, False)
        assert sorted(os.listdir(cache)) == [os.path.basename(d1)]


# --- the fold ---------------------------------------------------------------

T0 = 1_000.0


def _spans() -> list[dict]:
    def s(i, name, parent, a, b):
        return {"id": i, "name": name, "parent": parent, "run_id": "r", "start": T0 + a,
                "end": T0 + b, "group": f"perfbench:r:{i}"}

    return [s(0, "wordcount", None, 0.0, 10.0), s(1, "tokenize", 0, 1.0, 2.0),
            s(2, "collect", 0, 3.0, 9.0)]


def _stage(sid, cpu_ns, tasks, shuffle_r=0, shuffle_w=0, inp=0, sub=0.0, end=1.0,
           quant=(10.0, 40.0), peak=(0.0, 5e6)):
    return {"stageId": sid, "status": "COMPLETE", "numCompleteTasks": tasks,
            "submissionTime": (T0 + sub) * 1e3, "completionTime": (T0 + end) * 1e3,
            "executorCpuTime": cpu_ns, "jvmGcTime": 500, "inputBytes": inp,
            "shuffleReadBytes": shuffle_r, "shuffleWriteBytes": shuffle_w, "diskBytesSpilled": 0,
            "quantiles": {"quantiles": [0.5, 1.0], "executorRunTime": list(quant),
                          "peakExecutionMemory": list(peak)}}


def _snapshot() -> dict:
    jobs = [
        {"jobId": 1, "jobGroup": "perfbench:r:1", "submissionTime": (T0 + 1.2) * 1e3,
         "completionTime": (T0 + 1.8) * 1e3, "stageIds": [1], "status": "SUCCEEDED"},
        {"jobId": 2, "jobGroup": "perfbench:r:2", "submissionTime": (T0 + 4.0) * 1e3,
         "completionTime": (T0 + 8.0) * 1e3, "stageIds": [2, 3], "status": "SUCCEEDED"},
        # reuses stage 2's shuffle: stage 2 stays with job 2
        {"jobId": 3, "jobGroup": "perfbench:r:2", "submissionTime": (T0 + 7.0) * 1e3,
         "completionTime": (T0 + 8.5) * 1e3, "stageIds": [2, 4], "status": "SUCCEEDED"},
    ]
    stages = [
        _stage(1, 4e8, 4, inp=3e6, sub=1.2, end=1.8),
        _stage(2, 2e9, 8, inp=5e6, shuffle_w=2e6, sub=4.0, end=6.0),
        _stage(3, 1e9, 8, shuffle_r=2e6, sub=6.0, end=7.9, quant=(100.0, 800.0)),
        _stage(4, 1e8, 1, shuffle_r=1e3, sub=7.5, end=8.5),
    ]
    executions = [{
        "id": 9, "jobs": [2, 3],
        "nodes": [
            {"name": "MapInPandas", "desc": "MapInPandas run(value)",
             "metrics": {spans.PY_RUN: 11, spans.PY_START: 12, spans.PY_SENT: 13,
                         spans.PY_RETURNED: 14}},
            {"name": "ArrowEvalPython", "desc": "ArrowEvalPython [sh(text)]",
             "metrics": {spans.PY_RUN: 15}},
            {"name": "BroadcastHashJoin", "desc": "BroadcastHashJoin [blk#1, blkval#2L], ...",
             "metrics": {spans.OUTPUT_ROWS: 16}},
        ],
        "values": {"11": "total (min, med, max (stageId: taskId))\n2.5 s (1 ms, 2 ms, 3 ms (stage 2.0: task 1))",
                   "12": "120 ms", "13": "1.5 MiB", "14": "512.0 KiB", "15": "1.0 m",
                   "16": "1,234"},
    }]
    return {"jobs": jobs, "stages": stages, "executions": executions}


def test_parse_metric_reads_every_store_format():
    assert spans.parse_metric("100,000") == 100000
    assert spans.parse_metric("0 ms") == 0
    assert spans.parse_metric("236.0 B") == 236
    assert spans.parse_metric("1.5 MiB") == 1.5 * 2**20
    assert spans.parse_metric(
        "total (min, med, max (stageId: taskId))\n2.8 s (674 ms, 702 ms, 702 ms (stage 3.0: task 5))"
    ) == pytest.approx(2.8)
    assert spans.parse_metric(None) == 0
    with pytest.raises(ValueError):
        spans.parse_metric("n/a")


def test_self_time_subtracts_children():
    st = spans.self_time(_spans())
    assert st == {0: pytest.approx(3.0), 1: pytest.approx(1.0), 2: pytest.approx(6.0)}
    overlapping = _spans() + [{**_spans()[2], "id": 3, "start": T0 + 8.0, "end": T0 + 12.0}]
    assert spans.self_time(overlapping)[0] == pytest.approx(10.0 - 1.0 - 7.0)


def test_fold_attributes_jobs_stages_and_sql_metrics_to_spans():
    folded = {s["id"]: s for s in spans.fold(_spans(), _snapshot(), cores=4)}
    root = folded[0]["metrics"]
    assert root["jobs"] == 3
    assert root["tasks"] == 4 + 8 + 8 + 1
    assert root["driver_only_s"] == pytest.approx(10.0 - 0.6 - 4.5)
    assert root["executor_cpu_s"] == pytest.approx(3.5)
    assert root["cpu_util"] == pytest.approx(3.5 / (10.0 * 4))
    assert root["gc_s"] == pytest.approx(2.0)
    assert root["shuffle_write_mb"] == pytest.approx(2.0)
    assert root["shuffle_read_mb"] == pytest.approx(2.001)
    assert root["input_mb"] == pytest.approx(8.0)
    assert root["scan_tasks"] == 12
    assert root["peak_task_mem_mb"] == pytest.approx(5.0)
    assert root["task_skew"] == pytest.approx(4.0)  # stage 2 (2 s) is the longest
    assert root["collect_stage_s"] == pytest.approx(1.9)  # stage 3 reads the shuffle
    assert root["collect_task_skew"] == pytest.approx(8.0)
    assert root["python_run_s"] == pytest.approx(62.5)
    assert root["compat_python_run_s"] == pytest.approx(2.5)
    assert root["compat_python_start_s"] == pytest.approx(0.12)
    assert root["compat_to_python_mb"] == pytest.approx(1.5 * 2**20 / 1e6)
    assert root["compat_from_python_mb"] == pytest.approx(512 * 2**10 / 1e6)
    assert root["hamming_join_rows"] == 1234
    tok, col = folded[1]["metrics"], folded[2]["metrics"]
    assert (tok["jobs"], col["jobs"]) == (1, 2)
    assert tok["driver_only_s"] == pytest.approx(1.0 - 0.6)
    assert col["tasks"] == 17 and col["python_run_s"] == pytest.approx(62.5)
    assert folded[0]["self_s"] == pytest.approx(3.0)


# --- bypass predictions ------------------------------------------------------

COMPAT = ("compat.python_run_s", "compat.python_start_s", "compat.to_python_mb",
          "compat.from_python_mb")
DEDUP = ("dedup.minhash_call_s", "dedup.simhash_call_s", "dedup.cc_call_s", "dedup.cc_jobs",
         "dedup.python_run_s", "dedup.pairs", "dedup.hamming_rows_per_pair")


def bypass_violations(metrics: dict[str, dict]) -> list[str]:
    """Broken predictions, given ``{workload: {metric: value}}`` of traced
    runs: compat.* is 0 on wordcount and rwlg, dedup.* is nonzero only on
    neardup, and wordcount shuffles far less than rwlg."""
    bad = []
    for w in ("wordcount", "rwlg"):
        bad += [f"{w} {k}" for k in COMPAT if w in metrics and metrics[w][k] != 0]
    for w, m in metrics.items():
        bad += [f"{w} {k}" for k in DEDUP if (m[k] != 0) != (w == "neardup")]
    if "wordcount" in metrics and "rwlg" in metrics:
        if metrics["wordcount"]["session.shuffle_write_mb"] * 20 > metrics["rwlg"]["session.shuffle_write_mb"]:
            bad.append("wordcount shuffle_write_mb not far below rwlg's")
    return bad


def test_layer_metrics_follow_the_calls_a_run_makes():
    folded = spans.fold(_spans(), _snapshot(), cores=4)
    m = run.layer_metrics(folded)
    assert set(run.LAYER_UNITS) - set(m) <= {
        "session.start_s", "skew.shape_probe_s", "dedup.pairs", "dedup.hamming_rows_per_pair",
        "trace.overhead_s"}
    assert m["plans.build_s"] == pytest.approx(1.0)
    assert m["skew.collect_stage_s"] == 0  # no rwlg_collect call in this run
    assert m["compat.python_run_s"] == pytest.approx(2.5)
    assert all(m[k] == 0 for k in DEDUP if k in m)


def test_skew_metrics_come_from_the_rwlg_part_of_a_mixed_run():
    sp = _spans()
    sp[0]["name"], sp[1]["name"], sp[2]["name"] = "maplejuice", "rwlg_collect", "rwlg"
    sp.append({**sp[2], "id": 3, "name": "juice", "start": T0 + 9.0, "end": T0 + 10.0,
               "group": "perfbench:r:3"})
    snap = _snapshot()
    snap["jobs"].append({"jobId": 4, "jobGroup": "perfbench:r:3", "submissionTime": (T0 + 9.0) * 1e3,
                         "completionTime": (T0 + 10.0) * 1e3, "stageIds": [5],
                         "status": "SUCCEEDED"})
    # a longer post-shuffle stage outside the rwlg part
    snap["stages"].append(_stage(5, 1e8, 2, shuffle_r=1e6, sub=7.0, end=10.0))
    folded = spans.fold(sp, snap, cores=4)
    assert folded[0]["metrics"]["collect_stage_s"] == pytest.approx(3.0)
    m = run.layer_metrics(folded)
    assert m["skew.collect_stage_s"] == pytest.approx(1.9)
    assert m["skew.collect_task_skew"] == pytest.approx(8.0)


def test_bypass_predictions_on_canned_and_recorded_runs():
    zero = dict.fromkeys(run.LAYER_UNITS, 0.0)
    canned = {
        "wordcount": {**zero, "session.shuffle_write_mb": 0.01},
        "rwlg": {**zero, "session.shuffle_write_mb": 20.0},
        "neardup": {**zero, **dict.fromkeys(DEDUP, 1.0)},
    }
    assert bypass_violations(canned) == []
    assert bypass_violations({**canned, "rwlg": {**canned["rwlg"], "compat.python_run_s": 0.1}})
    recorded = {}
    for path in glob.glob(os.path.join(run.WORK, "records", "*-trace1.json")):
        with open(path) as f:
            rec = json.load(f)
        recorded[rec["host"]["workload"]] = {k: v["value"] for k, v in rec["metrics"].items()}
    assert bypass_violations(recorded) == []
