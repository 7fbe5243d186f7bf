"""Bench deadline/shedding/compact-record rehearsal (r15, VERDICT r14
stretch #8): the bench pipeline's failure mode WAS the r14 round's
failure mode (rc=124, parsed=null, an empty official record), so its
decision procedures are tested like an operator — without Spark jobs.

What is pinned:
- the shed planner runs/sheds sections in the declared priority order
  (4 GB scale evidence last to shed, scalability first among the
  post-sweep sections);
- the compact line fits the driver's measured 2000-char tail window at
  EVERY shed depth and query-set size, stays parseable, and keeps the
  BASELINE.md ratio points longest when it must drop keys.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def test_plan_sections_shed_order():
    """Sections shed strictly from the back of the declared plan as the
    remaining budget shrinks — the 4 GB point (headline scale evidence,
    VERDICT r14 #3) is the last post-sweep section standing."""
    names = [n for n, _ in bench.SECTION_PLAN]
    assert names == ["rwlg_4gb", "skew_1gb", "scalability"]

    def decisions(remaining):
        return dict(bench.plan_sections(remaining))

    all_run = decisions(10_000)
    assert set(all_run.values()) == {"run"}
    # shrink until only the 4 GB section fits, then nothing
    mid = decisions(sum(e for _, e in bench.SECTION_PLAN[:2]) + 2 * 90 + 1)
    assert mid["rwlg_4gb"] == "run" and mid["skew_1gb"] == "run"
    assert mid["scalability"] == "shed"
    tight = decisions(bench.SECTION_PLAN[0][1] + 90 + 1)
    assert tight["rwlg_4gb"] == "run"
    assert tight["skew_1gb"] == "shed" and tight["scalability"] == "shed"
    none = decisions(50)
    assert set(none.values()) == {"shed"}
    # greedy-by-priority: when the top section does NOT fit, a cheaper
    # lower-priority one that does fit still runs (use the budget, don't
    # idle it away) — the live main() gate behaves identically
    partial = decisions(bench.SECTION_PLAN[1][1] + 90 + 1)
    assert partial["rwlg_4gb"] == "shed" and partial["skew_1gb"] == "run"


def _fake_record(n_queries: int, partial, shed, kills, n_errors=3):
    """A record shaped like a real late-round sweep: long key names,
    3-decimal times, canary block, discarded-attempt history."""
    # realistic long names — the r14 compact line overflowed on exactly
    # this class of key (incremental_small_increment_1gb_bloom etc.)
    qs = {}
    for k in bench.COMPACT_PRIORITY[: min(n_queries, len(bench.COMPACT_PRIORITY))]:
        qs[k] = 12.345
    i = 0
    while len(qs) < n_queries:
        qs[f"extra_operator_family_point_with_long_name_{i:03d}"] = 3.141
        i += 1
    return {
        "metric": "headline_queries_total_time",
        "value": round(sum(qs.values()), 3),
        "unit": "sec",
        "queries": qs,
        "errors": {f"err_{j}": "SomeError: boom" for j in range(n_errors)},
        "spread_min_max": {k: [v, v * 1.6] for k, v in qs.items()},
        "sf": 0.1,
        "canary": {
            "drift_pct": {"gemm_sec": 2.3, "spark_range_sum_sec": 9.6,
                          "spark_scan_sec": 11.4},
            "load_contaminated": False,
            "abs_gate_exceeded": False,
        },
        "budget_kills": {k: {"killed": "straggler_budget"} for k in kills},
        "worker_meta": {"rwlg_4gb": {"layout_chosen": "grouped"}},
        "shed": {s: "deadline" for s in shed},
        "attempt": 2,
        "discarded_attempts": [{"attempt": 1, "reason": "pre_gate"}],
        "idle_wait_sec": 120.0,
        "deadline_sec": 2700.0,
        "elapsed_sec": 1234.5,
        "partial": partial,
    }


def test_compact_record_fits_tail_window_at_every_shed_depth():
    """The r14 failure: the 'compact' line grew to ~2.3 KB against a
    measured 2000-char driver tail. Rehearse every emission the new
    main() can produce — post-sweep, each shed marker, each section
    completion, final — at full query-set size, and assert every line
    fits with margin and parses back with the markers intact."""
    stages = [
        ("main_sweep", [], []),
        ("shed_rwlg_4gb", ["rwlg_4gb"], []),
        ("after_rwlg_4gb", [], ["rwlg_4gb_uniform_window"]),
        ("after_skew_1gb", [], []),
        ("shed_scalability", ["scalability"], []),
        (None, ["scalability"], ["rwlg_4gb_uniform_window"]),
    ]
    for n_queries in (0, 15, 54, 80, 120):
        for partial, shed, kills in stages:
            rec = _fake_record(n_queries, partial, shed, kills)
            line = bench._compact_record(rec)
            assert len(line) <= bench.COMPACT_TAIL_LIMIT <= 1900
            back = json.loads(line)
            assert back["compact"] is True
            assert back["partial"] == partial
            assert back["shed"] == sorted(shed)
            assert back["budget_kills"] == sorted(kills)
            assert back["full_record"] == bench.FULL_RECORD_REL
            assert back["n_errors"] == 3
            # every kept value is 2 dp and every kept key is real
            for k, v in back["queries"].items():
                assert k in rec["queries"]
                assert v == round(rec["queries"][k], 2)
            assert back["q_omitted"] == len(rec["queries"]) - len(back["queries"])


def test_compact_record_keeps_baseline_points_longest():
    """When the line must drop keys, the BASELINE.md ratio points and
    the 4 GB adaptive point survive: they are the judge's primary
    evidence (the old line dropped NOTHING and therefore everything)."""
    rec = _fake_record(120, None, [], [])
    line = bench._compact_record(rec, limit=700)
    assert len(line) <= 700
    kept = list(json.loads(line)["queries"])
    # kept set is a PREFIX of the declared priority order
    assert kept == bench.COMPACT_PRIORITY[: len(kept)]
    assert len(kept) >= 4, "a 700-char line still carries the baseline points"
    assert kept[:4] == [
        "wordcount_50mb", "wordcount_200mb", "rwlg_50mb", "rwlg_200mb"
    ]


def test_compact_record_zero_queries_floor():
    """keep==0 is the floor: even a pathologically small limit returns
    a parseable line rather than looping or raising. At a limit the
    counts-collapsed base fits, the metadata lists collapse to counts;
    below even that, the MINIMAL record (metric/value/sf/q_omitted) is
    returned so the documented ≤ limit guarantee holds as far down as a
    record can shrink (r15 review: the old floor returned an over-limit
    line while the docstring claimed ≤ limit unconditionally)."""
    # 30 shed markers make the full-list base overflow a 600-char limit
    # while the counts-collapsed base fits: the collapse regime exactly
    rec = _fake_record(
        80, "main_sweep", [f"query_longname_{i}" for i in range(30)], ["rwlg_4gb"]
    )
    line = bench._compact_record(rec, limit=600)
    back = json.loads(line)
    assert len(line) <= 600
    assert back["queries"] == {} and back["q_omitted"] == 80
    # lists collapsed to counts at the floor (r15 review)
    assert back["shed"] == 30 and back["budget_kills"] == 1
    # minimal-record regime: the base itself cannot fit — the line is
    # still parseable and carries the headline value
    tiny = json.loads(bench._compact_record(rec, limit=10))
    assert tiny["q_omitted"] == 80 and tiny["compact"] is True
    assert tiny["value"] == back["value"]
    # and the documented bound holds at any limit the minimal record fits
    assert len(bench._compact_record(rec, limit=150)) <= 150


def test_compact_record_bounds_heavy_shed_lists():
    """A deadline that expires early in the sweep produces dozens of
    shed markers; the compact line must fit the tail window anyway
    (r15 review: the lists were the one unbounded term left)."""
    shed = (
        [p.name for p in bench.POINTS]
        + [f"scal_c{c}" for c in (2, 4, 8, 16, 32)]
        + ["rwlg_4gb", "skew_1gb", "scalability", "canary_rerun"]
        + [f"rwlg_1gb_extra_marker_{i}_second_run" for i in range(6)]
    )
    rec = _fake_record(4, "main_sweep", shed, ["skew_1gb", "rwlg_4gb"])
    line = bench._compact_record(rec)
    assert len(line) <= bench.COMPACT_TAIL_LIMIT
    back = json.loads(line)
    # either the full list fit, or it collapsed to a count — both parse
    assert back["shed"] == sorted(rec["shed"]) or back["shed"] == len(shed)


def test_compact_record_carries_policy_markers():
    """The measurement-policy markers ride the parsed tail record (r15
    review): cross-round deltas are read from the compact line, and
    materialization/canary_scope are what mark them as policy."""
    rec = _fake_record(54, None, [], [])
    rec["materialization"] = "hash_struct_v2"
    rec["canary_scope"] = "main_sweep"
    back = json.loads(bench._compact_record(rec))
    assert back["materialization"] == "hash_struct_v2"
    assert back["canary_scope"] == "main_sweep"


def test_gate_and_shed_marker_contract():
    """_gate respects the margin; _shed records {'skipped-reason'} the
    record surfaces as {"skipped": "deadline"} markers (VERDICT #1)."""
    assert bench._gate(10.0, margin=0.0) == (bench._remaining_sec() > 10.0)
    bench._SHED.clear()
    bench._shed("scal_c4")
    bench._shed("slope_1gb", "deadline")
    assert bench._SHED == {"scal_c4": "deadline", "slope_1gb": "deadline"}
    bench._SHED.clear()


def test_progress_dict_fires_and_never_raises():
    """`_ProgressDict` backs the mid-sweep partial emission (r15
    review): every point insertion fires the callback, a callback
    failure never fails the measurement that triggered it, and
    `dict.update` (the post-sweep section merges) bypasses the
    callback by design — sections emit their own records."""
    fired = []
    d = bench._ProgressDict(lambda: fired.append(len(d)))
    d["a"] = 1.0
    d["b"] = 2.0
    assert fired == [1, 2] and dict(d) == {"a": 1.0, "b": 2.0}

    def boom():
        raise RuntimeError("emission failed")

    e = bench._ProgressDict(boom)
    e["x"] = 3.0  # must not raise
    assert e["x"] == 3.0
    # C-level dict.update does not reroute through __setitem__: section
    # merges after the sweep stay silent (each section emits its own
    # full record already)
    d.update({"c": 4.0})
    assert fired == [1, 2] and d["c"] == 4.0


def test_should_restore_discarded_decision():
    """r15: after a mid-retry context death, a discarded-but-complete
    flagged attempt ships over the broken final attempt — but ONLY
    under both conditions (fewer points AND death-marked errors), so a
    merely-smaller clean attempt never silently swaps."""
    full = {"times": {f"q{i}": 1.0 for i in range(40)}, "attempt": 1}
    crippled = {f"q{i}": 1.0 for i in range(20)}
    death = {
        "rwlg_1gb": "SparkException: ... SparkContext was shut down ...",
        "skew": "IllegalStateException: Cannot call methods on a stopped SparkContext",
        "canary_post": "ConnectionRefusedError: [Errno 111] Connection refused",
    }
    assert bench._should_restore_discarded(crippled, death, full)
    # no discarded attempt -> never
    assert not bench._should_restore_discarded(crippled, death, None)
    # final attempt has >= points -> never (even with death marks)
    assert not bench._should_restore_discarded(
        {f"q{i}": 1.0 for i in range(40)}, death, full
    )
    # fewer points but CLEAN errors (ordinary query failures) -> ship as-is
    clean_err = {"bpe_train": "AnalysisException: column not found"}
    assert not bench._should_restore_discarded(crippled, clean_err, full)
    assert not bench._should_restore_discarded(crippled, {}, full)
    # fewer points from deadline sheds plus ONE residual death row: a
    # 95%-clean green attempt ships as-is (the threshold is >= 3 death
    # rows — a real JVM halt produces many; r15 review)
    one_death = {"qX": "stopped SparkContext mid-flight"}
    assert not bench._should_restore_discarded(crippled, one_death, full)


def test_compact_record_carries_restored_marker():
    """The restored-attempt marker must survive into the compact tail
    line — it is the flag telling a cross-round reader these numbers
    came from a canary-flagged attempt."""
    rec = _fake_record(10, None, [], [])
    rec["restored_attempt"] = 1
    back = json.loads(bench._compact_record(rec, limit=1900))
    assert back["restored_attempt"] == 1


#: Every point the main sweep records, by the block of the old sweep that
#: timed it: the registry queries, the reference-scale rows, the skew A/B,
#: the media rows, and the two operator crops (the second ends with the
#: 1 GB slope rows).
SWEEP_POINTS = [
    "wordcount", "rwlg", "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6",
    "window_ranking_suite", "window_session", "dedup_minhash_lsh",
    "similarity_topk_suite", "ranking_bm25", "text_ngram_lm", "interval_join",
    "dedup_cc_survivors", "sequence_packing",
    "wordcount_50mb", "rwlg_50mb", "wordcount_200mb", "rwlg_200mb",
    "wordcount_1gb", "rwlg_1gb", "rwlg_1gb_capped",
    "rwlg_skew_naive", "rwlg_skew_salted",
    "image_neardup", "video_neardup", "audio_neardup",
    "dedup_spans_k50", "cluster_sample", "pack_bins_bfd",
    "incremental_index_build", "incremental_dedup_increment",
    "bpe_train", "bpe_encode_ids", "cosine_topk_exact_scan",
    "cosine_topk_int8_scan", "cosine_topk_int8_rerank",
    "stream_incr_dedup_3batch", "semdedup", "training_order_rank",
    "dedup_spans_k50_1gb", "incremental_increment_1gb",
    "incremental_small_increment_1gb", "incremental_small_increment_1gb_bloom",
    "incremental_small_increment_1gb_bcast", "bpe_train_incr_30k_1gb",
]
SLOPE_1GB = SWEEP_POINTS[-6:]
REF_1GB = ["wordcount_1gb", "rwlg_1gb", "rwlg_1gb_capped"]


def test_points_table_pins_the_sweep():
    """The main sweep is one table: exactly the 46 points the sweep
    records, each once, in one of six operator families, with the
    registry rows equal to BENCH_QUERIES, the 1 GB slope rows last, and
    every row's sample policy and deadline gate as declared."""
    names = [p.name for p in bench.POINTS]
    assert len(SWEEP_POINTS) == 46
    assert len(names) == len(set(names))
    assert sorted(names) == sorted(SWEEP_POINTS)
    assert {p.family for p in bench.POINTS} <= {
        "maplejuice", "relational", "dedup", "similarity", "text", "media"
    }
    assert sorted(p.name for p in bench.POINTS if p.plan) == sorted(bench.BENCH_QUERIES)
    assert names[-6:] == SLOPE_1GB
    assert {p.setup for p in bench.POINTS} - {None} == set(bench.SETUPS)
    for p in bench.POINTS:
        if p.name in SLOPE_1GB:
            assert (p.samples, p.pick) == (2, statistics.median), p.name
            assert p.gate == (1500.0 if "small_increment" in p.name else 300.0), p.name
        elif p.name in REF_1GB:
            assert (p.samples, p.pick, p.gate) == (2, min, 240.0), p.name
        else:
            assert (p.samples, p.pick) == (None, statistics.median), p.name
        if p.name in bench.BENCH_QUERIES:
            assert p.gate == 45.0, p.name
        elif p.name.startswith("rwlg_skew_"):
            assert p.gate == 180.0, p.name
