"""Differential tests: the engine vs straight-line Python on generated
inputs (hypothesis supplies the corpora; one Spark round-trip per
example keeps runtime sane — examples are small and few, the point is
the generator's edge cases: empty lines, repeated tokens, unicode,
single-token docs).
"""

from __future__ import annotations

import collections

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from distributed_computing_platform_mapreduce_spark.compat.maplejuice import juice, maple, wc_juice, wc_maple
from distributed_computing_platform_mapreduce_spark.operators import dedup
from cc_branches import twostar_both_branches

# Words over a small alphabet (plus a unicode letter) force collisions
# and repeated keys; lines of 0..6 words include empties.
_word = st.text(alphabet="abcé", min_size=1, max_size=3)
_line = st.lists(_word, min_size=0, max_size=6).map(" ".join)
_corpus = st.lists(_line, min_size=1, max_size=8)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_corpus)
def test_compat_wordcount_matches_python(spark, corpus):
    expected = collections.Counter(w for line in corpus for w in line.split())
    lines = spark.createDataFrame([(ln,) for ln in corpus], ["value"])
    kv = maple(spark, wc_maple, lines)
    out = juice(kv, wc_juice, sort=True).collect()
    got = {r["key"]: int(r["value"]) for r in out}
    assert got == dict(expected)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_corpus)
def test_word_shingles_match_python(spark, corpus):
    def py_shingles(text: str, n: int = 3) -> list[str]:
        toks = [t for t in text.split() if t]
        seen: dict[str, None] = {}
        for i in range(max(len(toks) - n + 1, 0)):
            seen.setdefault(" ".join(toks[i : i + n]), None)
        return list(seen)

    df = spark.createDataFrame(list(enumerate(corpus)), ["doc_id", "text"])
    rows = df.select(
        "doc_id", dedup.word_shingles(F.col("text"), 3).alias("sh")
    ).collect()
    got = {r["doc_id"]: list(r["sh"]) for r in rows}
    want = {i: py_shingles(t) for i, t in enumerate(corpus)}
    assert got == want


# Relational properties: tiny keys (0..3) force duplicate keys on both
# sides (multiset join semantics), missing keys (outer/anti paths), and
# ties (window determinism); values include negatives.
_key = st.integers(min_value=0, max_value=3)
_val = st.integers(min_value=-5, max_value=5)
_rows = st.lists(st.tuples(_key, _val), min_size=0, max_size=8)


def _mk(spark, rows, cols):
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType([StructField(c, IntegerType()) for c in cols])
    return spark.createDataFrame(rows, schema)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_rows, _rows)
def test_inner_join_matches_python(spark, left, right):
    got = collections.Counter(
        (r["k"], r["lv"], r["rv"])
        for r in _mk(spark, left, ["k", "lv"]).join(_mk(spark, right, ["k", "rv"]), "k").collect()
    )
    want = collections.Counter(
        (lk, lv, rv) for lk, lv in left for rk, rv in right if lk == rk
    )
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_rows, _rows)
def test_left_outer_join_matches_python(spark, left, right):
    got = collections.Counter(
        (r["k"], r["lv"], r["rv"])
        for r in _mk(spark, left, ["k", "lv"])
        .join(_mk(spark, right, ["k", "rv"]), "k", "left")
        .collect()
    )
    want: collections.Counter = collections.Counter()
    for lk, lv in left:
        matches = [rv for rk, rv in right if rk == lk]
        if matches:
            want.update((lk, lv, rv) for rv in matches)
        else:
            want[(lk, lv, None)] += 1
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_rows, _rows)
def test_anti_join_matches_python(spark, left, right):
    got = collections.Counter(
        (r["k"], r["lv"])
        for r in _mk(spark, left, ["k", "lv"])
        .join(_mk(spark, right, ["k", "rv"]), "k", "left_anti")
        .collect()
    )
    rkeys = {rk for rk, _ in right}
    want = collections.Counter((lk, lv) for lk, lv in left if lk not in rkeys)
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_rows)
def test_groupby_agg_matches_python(spark, rows):
    got = {
        r["k"]: (r["s"], r["c"], r["mn"], r["mx"])
        for r in _mk(spark, rows, ["k", "v"])
        .groupBy("k")
        .agg(
            F.sum("v").alias("s"),
            F.count("v").alias("c"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    by_key: dict[int, list[int]] = collections.defaultdict(list)
    for k, v in rows:
        by_key[k].append(v)
    want = {k: (sum(vs), len(vs), min(vs), max(vs)) for k, vs in by_key.items()}
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.tuples(_key, _val, st.integers(0, 100)), min_size=0, max_size=8, unique_by=lambda t: t[2]))
def test_window_row_number_matches_python(spark, rows):
    """row_number over (partition k, order v then unique id) — the
    tie-broken total order makes the rank deterministic, so Spark's
    window must equal a Python sort exactly."""
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy("v", "id")
    got = {
        r["id"]: r["rn"]
        for r in _mk(spark, rows, ["k", "v", "id"])
        .withColumn("rn", F.row_number().over(w))
        .collect()
    }
    want: dict[int, int] = {}
    by_key: dict[int, list[tuple[int, int]]] = collections.defaultdict(list)
    for k, v, i in rows:
        by_key[k].append((v, i))
    for vs in by_key.values():
        for rank, (_, i) in enumerate(sorted(vs), start=1):
            want[i] = rank
    assert got == want


# Intervals with small coordinates (incl. negatives, zero-length, and
# boundary-straddling spans) exercise the banded join's bucket edges;
# widths 1/3/7 force single-bucket, partial, and multi-bucket explodes.
_iv = st.tuples(st.integers(-12, 12), st.integers(0, 10)).map(lambda t: (t[0], t[0] + t[1]))
_ivs = st.lists(_iv, min_size=0, max_size=6)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_ivs, _ivs, st.sampled_from([1, 3, 7]))
def test_interval_join_matches_python(spark, left, right, width):
    """Banded interval join == quadratic Python overlap scan: exact pair
    multiset (each overlapping pair exactly once, no boundary dupes)."""
    from distributed_computing_platform_mapreduce_spark.operators.intervals import interval_join

    l = _mk(spark, [(i, s, e) for i, (s, e) in enumerate(left)], ["l_id", "l_s", "l_e"])
    r = _mk(spark, [(i, s, e) for i, (s, e) in enumerate(right)], ["r_id", "r_s", "r_e"])
    got = collections.Counter(
        (row["l_id"], row["r_id"])
        for row in interval_join(l, r, "l_s", "l_e", "r_s", "r_e", bucket_width=width).collect()
    )
    want = collections.Counter(
        (li, ri)
        for li, (ls, le) in enumerate(left)
        for ri, (rs, re) in enumerate(right)
        if ls <= re and rs <= le
    )
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_corpus)
def test_shingle_rows_equal_expression_form(spark, corpus):
    """The Arrow-batched shingle builder (hot path) must emit exactly the
    rows of the word_shingles expression form — same distinct n-grams,
    same multiset."""
    df = spark.createDataFrame(list(enumerate(corpus)), ["doc_id", "text"])
    fast = collections.Counter(
        (r["id"], r["shingle"]) for r in dedup.shingle_rows(df, "doc_id", "text", 3).collect()
    )
    expr = collections.Counter(
        (r["doc_id"], r["sh"])
        for r in df.select(
            "doc_id", F.explode(dedup.word_shingles(F.col("text"), 3)).alias("sh")
        ).collect()
    )
    assert fast == expr


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=0, max_size=10))
def test_twostar_cc_equals_label_propagation(spark, edge_list):
    """Two independent CC algorithms (alternating large/small-star vs
    min-label propagation) must produce identical (id, component) maps
    on arbitrary small graphs — self-loops, duplicate and reversed
    edges, multiple components, chains and cliques all arise from the
    generator."""
    pairs = spark.createDataFrame(edge_list or [(0, 0)], ["id_a", "id_b"])
    if not edge_list:
        pairs = pairs.limit(0)
    label = {
        (r["id"], r["component"])
        for r in dedup.connected_components(pairs).collect()
    }
    # label propagation labels self-loop-only nodes too; twostar drops
    # self-loops up front, so compare on the union contract: every node
    # in any NON-self pair must agree, on both branches (the driver
    # union-find and the star loop), and each branch must label exactly
    # those nodes.
    nonself = {n for a, b in edge_list if a != b for n in (a, b)}
    star = twostar_both_branches(pairs)
    assert {p for p in star if p[0] in nonself} == {
        p for p in label if p[0] in nonself
    }
    assert {p[0] for p in star} == nonself


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 20)), min_size=1, max_size=6),
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 20), st.integers(-5, 5)), min_size=0, max_size=6),
)
def test_asof_join_matches_python(spark, left, right):
    """Backward as-of join == Python scan: per left row, the value of the
    LATEST right row with right_ts <= left_ts on the same key (ties on
    right_ts broken identically by taking the max-ts row's value, made
    unambiguous by deduplicating right on (key, ts))."""
    from distributed_computing_platform_mapreduce_spark.operators.asof import asof_join_backward

    # one right row per (key, ts) keeps "latest value" well-defined
    right = list({(k, ts): v for k, ts, v in right}.items())
    right = [(k, ts, v) for (k, ts), v in right]
    l = _mk(spark, [(i, k, ts) for i, (k, ts) in enumerate(left)], ["event_id", "k", "ts"])
    r = _mk(spark, right, ["k", "rts", "v"])
    got = {
        r_["event_id"]: r_["last_v"]
        for r_ in asof_join_backward(
            l, r, on="k", left_ts="ts", right_ts="rts", value_col="v", out_col="last_v"
        ).collect()
    }
    want = {}
    for i, (k, ts) in enumerate(left):
        prior = [(rts, v) for rk, rts, v in right if rk == k and rts <= ts]
        want[i] = max(prior)[1] if prior else None
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(st.tuples(st.integers(0, 50), st.integers(0, 2)), min_size=1, max_size=12, unique_by=lambda t: t[0]),
    st.integers(1, 3),
    st.integers(0, 5),
)
def test_stratified_sample_matches_python(spark, rows, n, seed):
    """Exact stratified sampling == Python twin running the same affine
    priority hash: identical SET per stratum, not just identical size."""
    from distributed_computing_platform_mapreduce_spark.operators import sampling

    df = _mk(spark, rows, ["id", "stratum"])
    got = {r["id"] for r in sampling.stratified_sample_exact(df, ["stratum"], "id", n, seed=seed).collect()}
    P = (1 << 31) - 1
    a = (seed * 6364136223846793005 + 1442695040888963407) % P or 1
    b = (seed * 2862933555777941757 + 3037000493) % P
    by_stratum: dict[int, list[tuple[int, int]]] = collections.defaultdict(list)
    for i, s in rows:
        by_stratum[s].append(((a * (i % P) + b) % P, i))
    want = {i for vs in by_stratum.values() for _, i in sorted(vs)[:n]}
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_rows, _rows)
def test_set_ops_match_python(spark, left, right):
    """UNION ALL / INTERSECT (distinct) / EXCEPT (distinct) multiset and
    set semantics vs Python on generated row lists."""
    l = _mk(spark, left, ["k", "v"])
    r = _mk(spark, right, ["k", "v"])
    union_all = collections.Counter((x["k"], x["v"]) for x in l.unionAll(r).collect())
    assert union_all == collections.Counter(left) + collections.Counter(right)
    intersect = {(x["k"], x["v"]) for x in l.intersect(r).collect()}
    assert intersect == set(left) & set(right)
    except_ = {(x["k"], x["v"]) for x in l.exceptAll(r).collect()}
    want_except = collections.Counter(left) - collections.Counter(right)
    assert collections.Counter((x["k"], x["v"]) for x in l.exceptAll(r).collect()) == want_except
    assert except_ == set(want_except)
    distinct = {(x["k"], x["v"]) for x in l.distinct().collect()}
    assert distinct == set(left)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
    st.booleans(),
    st.integers(min_value=0, max_value=4),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_png_roundtrip_matches_identity(h, w, rgb, filter_type, seed):
    """encode_png ∘ decode_png == id for arbitrary dims (incl. 1-pixel
    rows/columns, where the Sub/Up/Paeth left/up neighbors vanish),
    both color modes, and every row filter. No Spark session — the
    codec is plain numpy, so the property can afford many examples."""
    import numpy as np

    from distributed_computing_platform_mapreduce_spark.operators import multimodal as mm

    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if rgb else (h, w)
    px = rng.integers(0, 256, size=shape, dtype=np.uint8)
    assert np.array_equal(mm.decode_png(mm.encode_png(px, filter_type=filter_type)), px)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_corpus)
def test_bigram_lm_matches_python_generated(spark, corpus):
    """bigram_lm_scores vs straight-line Python on generated corpora —
    the generator supplies the edge cases the real-corpus twin can't:
    empty docs, single tokens, one repeated token (degenerate vocab),
    unicode."""
    import math
    from collections import Counter

    from distributed_computing_platform_mapreduce_spark.operators import text as T

    toks = {i: line.split() for i, line in enumerate(corpus)}
    bi = Counter()
    uni = Counter()
    vocab = set()
    for ts in toks.values():
        vocab.update(ts)
        for a, b in zip(ts, ts[1:]):
            bi[(a, b)] += 1
            uni[a] += 1
    v = len(vocab)
    want = {}
    for i, ts in toks.items():
        pairs = list(zip(ts, ts[1:]))
        if pairs:
            lp = [math.log((bi[p] + 1.0) / (uni[p[0]] + v)) for p in pairs]
            want[i] = (len(pairs), sum(lp) / len(lp))

    df = spark.createDataFrame(list(enumerate(corpus)), ["doc_id", "text"])
    got = {
        r["id"]: (r["n_bigrams"], r["avg_logp"])
        for r in T.bigram_lm_scores(df, "doc_id", "text").collect()
    }
    assert set(got) == set(want)
    for i in want:
        assert got[i][0] == want[i][0]
        assert abs(got[i][1] - want[i][1]) <= 1e-9 * max(1.0, abs(want[i][1]))


_para = st.lists(_word, min_size=0, max_size=4).map(" ".join)
_doc = st.lists(_para, min_size=0, max_size=5).map("\n".join)
_pdocs = st.lists(_doc, min_size=1, max_size=6)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_pdocs, st.integers(min_value=1, max_value=2))
def test_remove_repeated_paragraphs_matches_python(spark, docs, max_docs):
    """Paragraph dedup vs a straight-line Python twin: same drop
    decisions (trimmed-text identity, cross-doc distinct counts), same
    order-preserving rebuild — generated corpora supply empty docs,
    empty paragraphs, and whitespace-only variants."""

    def py_twin(all_docs: list[str]) -> list[str]:
        from collections import Counter

        ndocs = Counter()
        for d in all_docs:
            for p in {p.strip() for p in d.split("\n") if p.strip()}:
                ndocs[p] += 1
        out = []
        for d in all_docs:
            kept = [
                p for p in d.split("\n")
                if not p.strip() or ndocs[p.strip()] <= max_docs
            ]
            out.append("\n".join(kept))
        return out

    expected = py_twin(docs)
    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    got = {
        r["doc_id"]: r["text"]
        for r in dedup.remove_repeated_paragraphs(
            df, "doc_id", "text", max_docs=max_docs
        ).collect()
    }
    assert got == {i: t for i, t in enumerate(expected)}


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.tuples(st.integers(0, 7), st.integers(0, 7)), min_size=1, max_size=12))
def test_pagerank_matches_power_iteration(spark, edge_list):
    """PageRank (operators/graph.py) vs a numpy power-iteration twin on
    arbitrary small digraphs — self-loops, parallel edges, dangling
    nodes and cycles all arise from the generator. Also pins the
    rank-conservation invariant (ranks sum to exactly 1 with dangling
    redistribution)."""
    import numpy as np

    from distributed_computing_platform_mapreduce_spark.operators.graph import pagerank

    df = spark.createDataFrame(edge_list, ["src", "dst"])
    got = {r["id"]: r["rank"] for r in pagerank(df, n_iter=8).collect()}

    dedup_edges = sorted(set(edge_list))
    ids = sorted({x for e in dedup_edges for x in e})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    out: dict[int, set] = {}
    for s, d in dedup_edges:
        out.setdefault(s, set()).add(d)
    r = np.full(n, 1.0 / n)
    damp = 0.85
    for _ in range(8):
        nxt = np.zeros(n)
        dangling = 0.0
        for v in ids:
            if v in out:
                for d in out[v]:
                    nxt[idx[d]] += r[idx[v]] / len(out[v])
            else:
                dangling += r[idx[v]]
        r = (1 - damp) / n + damp * (nxt + dangling / n)

    assert set(got) == set(ids)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    for v in ids:
        assert got[v] == pytest.approx(r[idx[v]], abs=1e-9), v


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.booleans(),
    st.integers(min_value=70, max_value=95),
    st.booleans(),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_jpeg_roundtrip_psnr_property(h, w, rgb, quality, subsample, seed):
    """decode_jpeg ∘ encode_jpeg stays within a lossy-codec PSNR floor
    for arbitrary dims (incl. 1-pixel rows/columns and non-MCU-aligned
    edges), both color modes, the 70–95 quality range and both chroma
    geometries — and encoding is deterministic. Random noise is the
    WORST case for DCT coding, so the floor is intentionally modest;
    smooth-content floors are pinned higher in the operator tests. No
    Spark session — plain numpy, so the property affords many examples."""
    import numpy as np

    from distributed_computing_platform_mapreduce_spark.operators import jpeg as J

    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if rgb else (h, w)
    # low-frequency content: random per-8x8-block base + mild gradient,
    # the realistic photographic profile rather than white noise
    blocks = rng.integers(32, 224, size=((h + 7) // 8, (w + 7) // 8, 3 if rgb else 1))
    px = np.kron(blocks, np.ones((8, 8, 1), dtype=np.int64))[:h, :w]
    px = px.reshape(shape).astype(np.uint8)

    enc = J.encode_jpeg(px, quality=quality, subsample=subsample and rgb)
    assert enc == J.encode_jpeg(px, quality=quality, subsample=subsample and rgb)
    dec = J.decode_jpeg(enc)
    assert dec.shape == px.shape and dec.dtype == np.uint8
    mse = np.mean((dec.astype(np.float64) - px.astype(np.float64)) ** 2)
    psnr = 99.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)
    # 4:2:0 pools chroma 2x2 — on saturated random block colors that
    # information is genuinely gone, and tiny images are edge-dominated,
    # so the subsampled floor is necessarily lower
    floor = 22.0 if (subsample and rgb) else 30.0
    assert psnr > floor, (h, w, rgb, quality, subsample, psnr)


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.integers(min_value=0, max_value=2**32 - 1),
    st.lists(
        st.tuples(st.integers(min_value=2, max_value=10_000), st.integers(0, 255)),
        min_size=1,
        max_size=6,
    ),
)
def test_jpeg_decoder_survives_corruption(seed, flips):
    """Byte-corrupted JPEG streams must either decode to SOME uint8
    image or raise ValueError/NotImplementedError — never struct/Index/
    ZeroDivision errors, runaway allocations, or hangs. This is the
    contract the mapInPandas feature extractors rely on for their
    schema-stable fallback (a corrupt payload in a 100 TB corpus is a
    certainty, and one escaping exception fails the whole task)."""
    import numpy as np

    from distributed_computing_platform_mapreduce_spark.operators import jpeg as J

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    payload = bytearray(J.encode_jpeg(px, quality=85, subsample=bool(seed % 2)))
    for pos, val in flips:
        payload[pos % len(payload)] = val
    try:
        out = J.decode_jpeg(bytes(payload))
    except (ValueError, NotImplementedError):
        pass
    else:
        assert isinstance(out, np.ndarray) and out.dtype == np.uint8


@settings(max_examples=80, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.sampled_from(
        [b"", b"RIFF", b"RIFFxxxxWAVE", b"YUV4MPEG2 ", b"P6\n", b"P5\n",
         b"\x89PNG\r\n\x1a\n", b"\xff\xd8", b"\xff\xd8\xff\xe0"]
    ),
    st.binary(min_size=0, max_size=160),
)
def test_feature_extractor_never_raises_on_garbage(prefix, tail):
    """_features_one is the closure inside the mapInPandas extractors:
    on a 100 TB corpus it WILL meet arbitrary bytes behind every magic
    prefix, and one escaping exception (ZeroDivisionError from a
    zero-rate WAV header, struct errors, negative-dimension headers)
    fails the whole task. It must return a schema-shaped tuple for any
    input — decode errors all funnel to the byte-stats fallback."""
    from distributed_computing_platform_mapreduce_spark.operators.multimodal import (
        FEATURE_SCHEMA,
        _features_one,
    )

    out = _features_one(prefix + tail)
    assert len(out) == len(FEATURE_SCHEMA.fields) - 2  # media_id/kind prepended later


def test_decoder_corrupt_header_regressions():
    """Pinned corrupt-header cases that previously escaped the
    ValueError contract: zero-sample-rate WAV (ZeroDivisionError in the
    duration feature), zero-denominator y4m frame rate, non-positive
    y4m dimensions."""
    import struct

    import pytest as _pytest

    from distributed_computing_platform_mapreduce_spark.operators import multimodal as mm

    # WAV with rate=0 in fmt
    fmt = struct.pack("<HHIIHH", 1, 1, 0, 0, 2, 16)
    wav = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", 4) + b"\x00\x00\x00\x00"
    )
    with _pytest.raises(ValueError, match="sample rate"):
        mm.decode_wav(wav)

    with _pytest.raises(ValueError, match="frame rate"):
        mm.decode_y4m(b"YUV4MPEG2 W2 H2 F30:0 Cmono\nFRAME\n\x00\x00\x00\x00")
    with _pytest.raises(ValueError, match="dimensions"):
        mm.decode_y4m(b"YUV4MPEG2 W-2 H2 Cmono\nFRAME\n")

    # and the distributed-contract view: all three fall back cleanly
    for payload in (
        wav,
        b"YUV4MPEG2 W2 H2 F30:0 Cmono\nFRAME\n\x00\x00\x00\x00",
        b"YUV4MPEG2 W-2 H2 Cmono\nFRAME\n",
    ):
        out = mm._features_one(payload)
        assert out[4] == "fallback"


def test_jpeg_hostile_dht_category_falls_back():
    """A DHT-supplied DC category symbol above the spec cap (11; 15 is
    the hard int64-safety line) must raise ValueError, not overflow the
    int64 block buffer — the r6 code-review repro where an OverflowError
    escaped both the decode wrapper and the feature-extractor fallback."""
    import numpy as np
    import pytest as _pytest

    from distributed_computing_platform_mapreduce_spark.operators import jpeg as J
    from distributed_computing_platform_mapreduce_spark.operators.multimodal import (
        _features_one,
    )

    px = np.full((8, 8), 77, dtype=np.uint8)
    stream = bytearray(J.encode_jpeg(px, quality=85))
    # DC luma DHT: FF C4, len(2), class/id byte 0x00, 16 bits counts,
    # then the value bytes — patch the first value symbol to 100
    i = stream.find(b"\xff\xc4")
    vals_at = i + 4 + 1 + 16
    # patch one nonzero-category slot at a time (vals are 0..11 in
    # order). A patched slot whose code never appears in the stream
    # decodes unchanged — fine; the slot the DC diff actually uses must
    # hit the category guard as ValueError (previously: OverflowError
    # crashing the extractor), and no variant may raise anything else.
    assert list(stream[vals_at : vals_at + 12]) == list(range(12))
    category_guard_hit = False
    for off in range(1, 12):
        patched = bytes(
            stream[: vals_at + off] + bytes([100]) + stream[vals_at + off + 1 :]
        )
        try:
            out = J.decode_jpeg(patched)
            assert out.dtype == np.uint8
        except ValueError as exc:
            if "DC category" in str(exc):
                category_guard_hit = True
            assert _features_one(patched)[4] == "fallback"
    assert category_guard_hit


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_corpus)
def test_bpe_incremental_trainer_matches_python(corpus):
    """r11: the in-memory incremental trainer (pair-delta inverted
    index + lazy-deletion heap) vs the straight-line full-recount twin,
    run to EXHAUSTION (merge count past where every word is one symbol)
    so the heap's stale-entry and decrement paths all fire. Pure
    Python — no Spark — so it affords 60 generated corpora."""
    from distributed_computing_platform_mapreduce_spark.operators.bpe import (
        _train_incremental_from_counts,
    )
    from tests.test_operators import _twin_bpe_train

    counts = collections.Counter(w for line in corpus for w in line.split())
    for min_pair in (1, 2, 3):
        got = _train_incremental_from_counts(sorted(counts.items()), 500, min_pair)
        want = _twin_bpe_train(counts, 500, min_pair_count=min_pair)
        assert got == want, (min_pair, got, want)


@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_corpus)
def test_bpe_train_and_encode_match_python(spark, corpus):
    """Distributed BPE (word-count table on the cluster, driver-local
    incremental trainer, mapInPandas greedy encode) vs the
    straight-line Python trainer on generated corpora — unicode chars,
    repeated words, empty lines."""
    from distributed_computing_platform_mapreduce_spark.operators import bpe
    from tests.test_operators import _twin_bpe_train

    counts = collections.Counter(w for line in corpus for w in line.split())
    df = spark.createDataFrame(
        [(i, ln) for i, ln in enumerate(corpus)], "doc_id int, text string"
    )
    got = bpe.bpe_train(df, n_merges=5, min_pair_count=1)
    want = _twin_bpe_train(counts, 5, min_pair_count=1)
    assert got == want
    ranks = {p: r for r, p in enumerate(want)}
    cache: dict = {}
    enc = {r["doc_id"]: list(r["bpe_tokens"]) for r in bpe.bpe_encode(df, want).collect()}
    for i, line in enumerate(corpus):
        assert enc[i] == [s for w in line.split() for s in bpe._encode_word(w, ranks, cache)]


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=0,
        max_size=40,
        unique=True,
    ),
    st.integers(min_value=0, max_value=3),
    st.sampled_from([4, 8, 16]),
)
def test_hamming_pairs_match_bruteforce(spark, prints, max_hamming, blocks):
    """dedup.hamming_pairs (the pigeonhole block join behind text
    SimHash AND image/video/audio perceptual dedup since r7) vs the
    brute-force all-pairs popcount on arbitrary 64-bit prints: exactly
    the pairs within max_hamming, each with the exact distance —
    pigeonhole recall is a theorem (blocks ≥ max_hamming+1), this pins
    the implementation to it. Each pair comes back as exactly ONE row,
    however many blocks it matches in."""
    if blocks < max_hamming + 1:
        blocks = 8 if max_hamming < 8 else 16
    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(prints)], "id long, h long"
    )
    rows = dedup.hamming_pairs(
        df, id_col="id", hash_col="h", max_hamming=max_hamming, blocks=blocks
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in rows}
    assert len(rows) == len(got)
    want = {}
    for i, a in enumerate(prints):
        for j in range(i + 1, len(prints)):
            d = bin((a ^ prints[j]) & 0xFFFFFFFFFFFFFFFF).count("1")
            if d <= max_hamming:
                want[(i, j)] = d
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.text("abcdef", min_size=1, max_size=4)),
        min_size=0,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=6),
)
def test_capped_collect_matches_python(spark, rows, cap):
    """capped_collect_sorted == per-key sorted-prefix in plain Python on
    arbitrary (key, value) multisets — including duplicate values and
    keys at/over/under the cap."""
    from distributed_computing_platform_mapreduce_spark.operators.skew import capped_collect_sorted

    df = spark.createDataFrame(
        [(f"k{k}", v) for k, v in rows] or [("never", "x")], "k string, v string"
    )
    if not rows:
        df = df.filter("k <> 'never'")
    got = {
        r["k"]: list(r["vals"])
        for r in capped_collect_sorted(df, "k", "v", max_values=cap, out_col="vals", as_string=False).collect()
    }
    want: dict = {}
    for k, v in rows:
        want.setdefault(f"k{k}", []).append(v)
    want = {k: sorted(vs)[:cap] for k, vs in want.items()}
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(st.integers(min_value=-3, max_value=3), min_size=0, max_size=120),
    st.integers(min_value=1, max_value=8),
)
def test_heavy_hitters_guarantee_property(spark, values, k):
    """Misra–Gries + recount property: every value with frequency >
    n/(k+1) is present, and every reported count equals the exact
    count — on arbitrary generated multisets and any k."""
    from distributed_computing_platform_mapreduce_spark.operators.frequent import heavy_hitters

    df = spark.createDataFrame([(v,) for v in values] or [(99,)], "v int")
    if not values:
        df = df.filter("v <> 99")
    got = {r["v"]: r["count"] for r in heavy_hitters(df, "v", k=k).collect()}
    exact = collections.Counter(values)
    n = len(values)
    for v, c in exact.items():
        if c > n / (k + 1):
            assert v in got, (v, c, n, k)
    for v, c in got.items():
        assert c == exact[v], (v, c, exact[v])


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.text(min_size=0, max_size=30), min_size=1, max_size=20))
def test_normalize_text_idempotent_property(spark, texts):
    """normalize_text is idempotent under every flag combination tested
    (Unicode normal forms are projections; strip/lower/collapse are
    too) — normalizing twice equals normalizing once, on arbitrary
    Unicode input including surrogate-adjacent and combining chars."""
    from distributed_computing_platform_mapreduce_spark.operators.text import normalize_text

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    once = normalize_text(df, lower=True, strip_accents=True, collapse_whitespace=True)
    twice = normalize_text(once, lower=True, strip_accents=True, collapse_whitespace=True)
    a = {r["id"]: r["text"] for r in once.collect()}
    b = {r["id"]: r["text"] for r in twice.collect()}
    assert a == b


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)), min_size=0, max_size=50
    )
)
def test_triangle_count_matches_python(spark, edge_list):
    """triangle_count vs a straight-line Python enumerator on arbitrary
    generated graphs — self-loops, parallel and reversed duplicate
    edges must not double-count."""
    from distributed_computing_platform_mapreduce_spark.operators.graph import triangle_count

    df = spark.createDataFrame(edge_list or [(99, 99)], "src int, dst int")
    if not edge_list:
        df = df.filter("src <> 99")
    got = {r["id"]: r["triangles"] for r in triangle_count(df).collect()}

    adj: dict = {}
    for s, d in edge_list:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    want: dict = {}
    nodes = sorted(adj)
    for i, u in enumerate(nodes):
        for v in adj[u]:
            if v <= u:
                continue
            for w in adj[u] & adj[v]:
                if w > v:
                    for x in (u, v, w):
                        want[x] = want.get(x, 0) + 1
    assert got == want


def _py_remove_spans(docs, k, min_count=2):
    """Straight-line twin of dedup.remove_repeated_spans: count every
    token k-gram, mark covered positions, rebuild."""
    toks = {i: t.split() for i, t in docs.items()}
    counts = collections.Counter(
        tuple(ts[s : s + k]) for ts in toks.values() for s in range(len(ts) - k + 1)
    )
    out = {}
    for i, ts in toks.items():
        cov = [False] * len(ts)
        for s in range(len(ts) - k + 1):
            if counts[tuple(ts[s : s + k])] >= min_count:
                for j in range(s, s + k):
                    cov[j] = True
        kept = [t for t, c in zip(ts, cov) if not c]
        out[i] = (" ".join(kept), len(ts) - len(kept))
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.lists(st.text(alphabet="abc", min_size=1, max_size=1), min_size=0, max_size=12).map(" ".join),
        min_size=1,
        max_size=6,
    ),
    st.sampled_from([2, 3]),
)
def test_remove_repeated_spans_matches_python(spark, texts, k):
    """ExactSubstr span removal vs the straight-line twin: tiny alphabet
    + short docs force heavy k-gram repetition (within AND across docs),
    so coverage merging, whole-doc erasure and under-k docs all occur
    across examples."""
    docs = {i: t for i, t in enumerate(texts)}
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_tokens_removed"])
        for r in dedup.remove_repeated_spans(df, "doc_id", "text", k=k).collect()
    }
    assert got == _py_remove_spans(docs, k)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.lists(
            st.floats(min_value=-4, max_value=4, allow_nan=False, width=32),
            min_size=6,
            max_size=6,
        ),
        min_size=2,
        max_size=24,
    ),
    st.integers(min_value=1, max_value=5),
    st.sampled_from([0.2, 0.6, 0.9]),
)
def test_semdedup_pairs_equal_bruteforce(spark, vecs, block_rows, threshold):
    """SemDeDup within-cell pairs == brute-force numpy on arbitrary
    float corpora, across block sizes that split cells mid-GEMM —
    exercises the block loop's boundary arithmetic, zero vectors, and
    cells of size 1."""
    import numpy as np

    from distributed_computing_platform_mapreduce_spark.operators import semdedup as sd

    cmat = np.array(
        [[1.0, 0, 0, 0, 0, 0], [0, 1.0, 0, 0, 0, 0], [0, 0, 1.0, 0, 0, 0]]
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in sd.semdedup_pairs(
            df, threshold=threshold, centroids=cmat, block_rows=block_rows
        ).collect()
    }
    mat = np.array(vecs, dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    unit = mat / norms
    cells = np.argmax(unit @ cmat.T, axis=1)
    want = set()
    for c in np.unique(cells):
        idx = np.nonzero(cells == c)[0]
        sims = unit[idx] @ unit[idx].T
        for i in range(len(idx)):
            for j in range(i + 1, len(idx)):
                if sims[i, j] >= threshold:
                    want.add((int(min(idx[i], idx[j])), int(max(idx[i], idx[j]))))
    assert got == want


# --- SQL-text aggregates vs their Python twins -------------------------------
# simhash, _signature_agg and _index_band_buckets each build their wide
# per-index expression as one SQL string; these pin the strings bit for
# bit on tiny inputs.


def test_signature_agg_matches_python(spark):
    """Every component is min over the doc's h of (a·h + b) mod P, for
    the (a, b) of _lcg_params; sz counts the rows. h = 0 and h = P−1
    are the ends of the pmod range minhash feeds in."""
    P = dedup._P
    hs = {1: [0, P - 1, 12345], 2: [P - 1], 3: [0], 4: [7, 7, 2**30]}
    df = spark.createDataFrame(
        [(i, h) for i, vals in hs.items() for h in vals], "id long, h long"
    )
    got = {
        r["id"]: (list(r["signature"]), r["sz"])
        for r in dedup._signature_agg(df, 16).collect()
    }
    params = dedup._lcg_params(16)
    want = {
        i: ([min((a * h + b) % P for h in vals) for a, b in params], len(vals))
        for i, vals in hs.items()
    }
    assert got == want


def test_simhash_fnv_matches_python(spark):
    """simhash(hash_fn="fnv1a64") vs a vote-and-sign fold over
    fnv1a64_codepoints: bit i is set iff more distinct tokens have bit
    i set than not (a tie clears it). A one-token doc's print is its
    token's hash, and "a" hashes with bit 63 set."""
    import pandas as pd

    texts = {1: "a", 2: "the quick  brown fox", 3: " b b c ", 4: "zz quick", 5: "a b c d e"}
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r["id"]: r["simhash"] for r in dedup.simhash(df, "doc_id", "text", hash_fn="fnv1a64").collect()}

    def fold(text: str) -> int:
        hs = dedup.fnv1a64_codepoints(pd.Series(list(dict.fromkeys(text.split())))).tolist()
        out = 0
        for i in range(64):
            if sum(1 if (h >> i) & 1 else -1 for h in hs) > 0:
                out |= 1 << i
        return out - (1 << 64) if out >= 1 << 63 else out

    want = {i: fold(t) for i, t in texts.items()}
    assert got == want
    assert got[1] < 0  # bit 63 set: the sign bit round-trips


# Bucket values the Column-built banding produced before the SQL-text
# rewrite: indexes persisted by earlier code (the streaming sink's v=/d=
# segments) must keep colliding with newly built ones.
_GOLDEN_SIG_BANDS_32_8 = {
    1: [81754143194575335, -6221688678431274738, -5033542996142490641, -1976936207843254060,
        -577576284927945153, 3385888322508023912, -4745563103444778796, 1473652132231953261],
    2: [2948331192086336258] * 8,
    3: [-4970404290990080857] * 4
    + [-8604653565363336042, 4550260470511247596, -7164188866690225774, -1856998271061545395],
}
_GOLDEN_SIG_BANDS_8_4 = {
    1: [5451996740002513371, 3484476116943252211, -1935460195555169431, 5818326966740498402],
    2: [-855227045086280000] * 4,
    3: [-4906328335854845112] * 4,
}
_GOLDEN_TEXT_BANDS = {
    10: [1839666281728399621, 3226157250527009293, 767234468413856209, -1918258973481191292,
         -352625247312750055, -6899400906418718437, 3320087430239532275, -8239494667440400216],
    11: [6228962487150754197, -3708077251630169904, 3257404160722586041, 444888042781029784,
         -5532836451632237417, 4844299826832293270, 7162511983402816599, 3137822730014654832],
    12: [7683213709568795902, -938775933239862559, 4641871165125895231, -1294922279909965577,
         7028285467517311538, -1374699341239096769, 525766200304912001, -3867753188707432962],
}


def test_index_band_buckets_golden(spark):
    """_index_band_buckets (and, through minhash_index, _signature_agg)
    reproduce the recorded buckets: hand-made signatures at 32 hashes /
    8 bands and 8 / 4, plus the index of two near-copies and a short
    (sentinel) doc."""

    def bands(df, num_hashes, n_bands):
        out = dedup._index_band_buckets(df, num_hashes, n_bands)
        assert [(f.name, f.dataType.simpleString(), f.nullable) for f in out.schema.fields[1:]] == [
            ("band", "int", False),
            ("bucket", "bigint", False),
        ]
        got: dict = {}
        for r in out.orderBy("id", "band").collect():
            got.setdefault(r["id"], []).append(r["bucket"])
        return got

    P = dedup._P
    sigs = spark.createDataFrame(
        [
            (1, [(7919 * i + 1) % P for i in range(32)]),
            (2, [P - 1] * 32),
            (3, [0] * 16 + [P - 1 - i for i in range(16)]),
        ],
        "id long, signature array<long>",
    )
    assert bands(sigs, 32, 8) == _GOLDEN_SIG_BANDS_32_8
    assert bands(sigs.selectExpr("id", "slice(signature, 1, 8) AS signature"), 8, 4) == _GOLDEN_SIG_BANDS_8_4
    texts = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),
            (11, "the quick brown fox jumps over a lazy dog"),
            (12, "short"),
        ],
        "doc_id long, text string",
    )
    assert bands(dedup.minhash_index(texts, "doc_id", "text"), 32, 8) == _GOLDEN_TEXT_BANDS
