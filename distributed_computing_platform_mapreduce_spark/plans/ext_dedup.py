"""Dedup extension queries: exact / MinHash-LSH / SimHash pair
detection, survivor policies (+SemDeDup/incremental legs), and
ExactSubstr span dedup with decontamination (split out of the
former plans/extensions.py in r12; registry names unchanged)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_computing_platform_mapreduce_spark.operators import (
    dedup,
    packing,
    text,
)
from distributed_computing_platform_mapreduce_spark.plans.ext_common import _pinned_cluster_codebook
from distributed_computing_platform_mapreduce_spark.plans.registry import query
from distributed_computing_platform_mapreduce_spark.sources.catalog import load_table

@query(
    "dedup_exact",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
    """,
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup, deterministic min-id survivor."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_exact(docs, ["text"], "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


@query(
    "dedup_minhash_lsh",
    # One exact-Jaccard CTE feeds BOTH legs: the two operators are
    # contractually equal on this corpus (LSH recall 100% at the
    # operating point), so the oracle is the same pair set tagged twice.
    oracle="""
    WITH sh AS MATERIALIZED (
      SELECT doc_id,
             list_distinct([array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t)-1)]) AS s
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents)
    ),
    -- r10 oracle-scaling rewrite (identical results, same IEEE
    -- division): |A∩B| comes off the shingle inverted index instead
    -- of 12.5M list_intersect evaluations, and MATERIALIZED stops the
    -- two legs re-deriving the pipeline — sf0.1 went from >180 s to
    -- seconds, so the full parity suite runs at sf0.1 too
    sizes AS MATERIALIZED (SELECT doc_id, len(s) AS sz FROM sh),
    shx AS (SELECT doc_id, unnest(s) AS sg FROM sh),
    cand AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM shx a JOIN shx b ON a.sg = b.sg AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    exact AS MATERIALIZED (
      SELECT id_a, id_b,
             inter::DOUBLE / (za.sz + zb.sz - inter)::DOUBLE AS jaccard
      FROM cand
      JOIN sizes za ON za.doc_id = cand.id_a
      JOIN sizes zb ON zb.doc_id = cand.id_b
      WHERE inter::DOUBLE / (za.sz + zb.sz - inter)::DOUBLE >= 0.5
    )
    SELECT 'lsh' AS leg, id_a, id_b, jaccard FROM exact
    UNION ALL
    SELECT 'ngram' AS leg, id_a, id_b, jaccard FROM exact
    """,
)
def dedup_minhash_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs ≥ 0.5 Jaccard, two tagged legs (r8 fold — one
    registry row, both operators still hash-checked):

    - ``lsh``: MinHash(32)+LSH(8 bands), banded candidates, exact
      verify — the scale path (O(n·bands) shuffle, never all-pairs).
    - ``ngram``: exact all-pairs 3-gram Jaccard via the shingle
      inverted index — the verify arithmetic the LSH leg reuses,
      formerly registered as ``dedup_ngram_jaccard``.

    Oracle-backed since r4: every LSH-emitted pair is exact-verified
    (precision 1.0 by construction) and candidate recall is 100% on
    this corpus (dup groups sit far above the j=0.5 S-curve knee —
    pinned by ``test_minhash_lsh_equals_exact_jaccard``), so BOTH legs
    equal the exact all-pairs Jaccard twin, jaccard doubles included
    (count/(a+b-c) is the same IEEE division on both engines). On
    adversarial corpora with mass exactly at the threshold the
    equality would be probabilistic — that's a property of the corpus,
    not the operator; the LSH plan itself stays O(n·bands).

    bench.py times ``filter(leg = 'lsh')`` — Catalyst prunes the other
    union branch entirely, so the headline number still measures the
    scale path alone.
    """
    docs = load_table(spark, sf_dir, "documents")
    lsh = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=32, bands=8, threshold=0.5
    ).select(F.lit("lsh").alias("leg"), "id_a", "id_b", "jaccard")
    ng = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5
    ).select(F.lit("ngram").alias("leg"), "id_a", "id_b", "jaccard")
    return lsh.unionAll(ng)


@query(
    "dedup_simhash",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_distinct(
               list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')
             )) AS tok
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, list_reduce(
        list_prepend(CAST('14695981039346656037' AS HUGEINT),
          [CAST(unicode(tok[i]) AS HUGEINT) FOR i IN range(1, len(tok)+1)]),
        (acc, cp) -> ((acc - acc % 2097152
                       + CAST(xor(CAST(acc % 2097152 AS BIGINT), CAST(cp AS BIGINT)) AS HUGEINT))
                      * CAST(1099511628211 AS HUGEINT))
                     % CAST('18446744073709551616' AS HUGEINT)
      ) AS h
      FROM toks
    ),
    votes AS (
      SELECT doc_id, i,
             sum(CASE WHEN (h // CAST(power(2, i) AS HUGEINT)) % 2 = 1 THEN 1 ELSE -1 END) AS v
      FROM hashed, range(64) t(i)
      GROUP BY doc_id, i
    ),
    prints AS (
      SELECT doc_id,
             sum(CASE WHEN v > 0 THEN CAST(power(2, i) AS HUGEINT)
                      ELSE CAST(0 AS HUGEINT) END) AS fp
      FROM votes GROUP BY doc_id
    ),
    signed AS (
      SELECT doc_id,
             CAST(fp - CASE WHEN fp >= CAST(power(2, 63) AS HUGEINT)
                            THEN CAST('18446744073709551616' AS HUGEINT)
                            ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS s
      FROM prints
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming
    FROM signed a JOIN signed b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.s, b.s)) <= 3
    """,
)
def dedup_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3 of 64 bits, block-LSH).

    Parameters satisfy the pigeonhole recall guarantee blocks ≥
    max_hamming + 1 (4 ≥ 3+1): any pair within hamming 3 must agree on
    at least one 16-bit block, so candidate recall is 100% — asserted
    against a brute-force hamming scan in tests.

    Oracle-backed since r6 by making the fingerprint
    CROSS-ENGINE-REPLAYABLE: the registered query hashes tokens with
    ``hash_fn="fnv1a64"`` — an FNV-1a-style integer fold over code
    points (``dedup.fnv1a64_codepoints``) that DuckDB replays exactly
    in HUGEINT arithmetic mod 2⁶⁴ (the ``sample_stratified`` GF(2³¹−1)
    replay trick widened to 64 bits; XOR touches only the low 21 bits,
    so it is expressible as subtract-low + BIGINT xor). The oracle
    rebuilds prints bit by bit (vote sums → sign → power-of-two
    recompose → two's-complement BIGINT) and emits brute-force
    all-pairs hamming ≤ 3 — equal to the block-LSH output because
    blocking is lossless by pigeonhole. Round 5 called this row
    "permanently rows-only" because DuckDB lacks xxhash64; the token
    hash was an implementation choice, not physics — the default
    operator still uses xxhash64 (JVM codegen, fastest), and the
    block-LSH-vs-brute-force property stays pinned for BOTH hash
    families in ``test_simhash_blocking_is_lossless``."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_pairs(
        docs, "doc_id", "text", max_hamming=3, blocks=4, hash_fn="fnv1a64"
    )


@query(
    "dedup_survivors_suite",
    # r8 fold of dedup_survivors + dedup_cc_survivors (slot freed for the
    # r8 registry additions; both policies' oracles intact, tagged).
    # r9 adds the 'incr'/'incr_index' legs — the previously pytest-only
    # nightly incremental-dedup chain, replayed with the SAME exact-
    # Jaccard graph restricted by wave (doc_id % 3): wave 0 seeds the
    # index, waves 1 and 2 are successive increments. The MinHash
    # component-match estimator's kill decisions were measured equal to
    # exact Jaccard at sf0.001/0.01/0.1 (313/312/3115 survivors, zero
    # diffs), so the exact replay is the estimator's oracle at this
    # corpus' operating point.
    oracle="""
    WITH RECURSIVE sh AS MATERIALIZED (
      SELECT doc_id,
             list_distinct([array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t)-1)]) AS s
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents)
    ),
    -- exact Jaccard via a shingle INVERTED INDEX (r10 oracle-scaling
    -- rewrite; identical results, pinned 256 pairs / 477 component
    -- rows at sf0.1 against the old form): |A∩B| is the shared-
    -- shingle count straight off the index self-join (shingle lists
    -- are distinct), so J >= 0.5 needs no list_intersect and only
    -- candidate pairs are priced (~1.1M at sf0.1, not all ~12.5M);
    -- MATERIALIZED stops DuckDB re-deriving the whole pipeline at
    -- every reference (the legs reference pairs/comp repeatedly —
    -- inlined, the sf0.1 oracle took >10 min; materialized, seconds).
    -- Same candidates-then-verify algebra the Spark side runs.
    sizes AS MATERIALIZED (SELECT doc_id, len(s) AS sz FROM sh),
    shx AS (SELECT doc_id, unnest(s) AS sg FROM sh),
    cand AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM shx a JOIN shx b ON a.sg = b.sg AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS MATERIALIZED (
      SELECT id_a, id_b
      FROM cand
      JOIN sizes za ON za.doc_id = cand.id_a
      JOIN sizes zb ON zb.doc_id = cand.id_b
      WHERE inter::DOUBLE / (za.sz + zb.sz - inter)::DOUBLE >= 0.5
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS MATERIALIZED (
      SELECT src AS id, least(src, min(dst)) AS component FROM reach GROUP BY src
    ),
    sh3 AS MATERIALIZED (
      SELECT doc_id, doc_id % 3 AS wave,
             list_distinct([array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t)-1)]) AS s
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
            FROM documents)
    ),
    -- same inverted-index rewrite for the incremental legs: a kill
    -- decision needs j >= 0.5 > 0, so no-shared-shingle pairs (j = 0)
    -- can never appear in idead1/idead2, and |A∩B| is the shared-
    -- shingle count off the index
    sizes3 AS MATERIALIZED (SELECT doc_id, len(s) AS sz FROM sh3),
    shx3 AS (SELECT doc_id, wave, unnest(s) AS sg FROM sh3),
    cand3 AS MATERIALIZED (
      SELECT a.doc_id AS new_id, b.doc_id AS other_id,
             a.wave AS wa, b.wave AS wb, count(*) AS inter
      FROM shx3 a JOIN shx3 b ON a.sg = b.sg AND a.doc_id <> b.doc_id
      WHERE a.wave > 0
      GROUP BY 1, 2, 3, 4
    ),
    jac AS MATERIALIZED (
      SELECT new_id, other_id, wa, wb,
             inter::DOUBLE
               / greatest(za.sz + zb.sz - inter, 1)::DOUBLE AS j
      FROM cand3
      JOIN sizes3 za ON za.doc_id = cand3.new_id
      JOIN sizes3 zb ON zb.doc_id = cand3.other_id
    ),
    idead1 AS MATERIALIZED (
      SELECT DISTINCT new_id FROM jac
      WHERE wa = 1 AND j >= 0.5 AND (wb = 0 OR (wb = 1 AND other_id < new_id))
    ),
    idead2 AS MATERIALIZED (
      SELECT DISTINCT new_id FROM jac
      WHERE wa = 2 AND j >= 0.5 AND (
        wb = 0 OR (wb = 1 AND other_id NOT IN (SELECT new_id FROM idead1))
        OR (wb = 2 AND other_id < new_id))
    ),
    isurv AS MATERIALIZED (
      SELECT doc_id FROM sh3 WHERE wave > 0
        AND doc_id NOT IN (SELECT new_id FROM idead1)
        AND doc_id NOT IN (SELECT new_id FROM idead2)
    ),
    qual AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS ntok
      FROM documents
    ),
    winners AS (
      SELECT id FROM (
        SELECT c.id,
               row_number() OVER (
                 PARTITION BY c.component ORDER BY q.ntok DESC, c.id ASC
               ) AS rk
        FROM comp c JOIN qual q ON q.doc_id = c.id
      ) WHERE rk = 1
    ),
    scents AS (
      SELECT c, list_transform(range(0, 64), d -> ((((c*73 + d*37) % 19) - 9))::DOUBLE) AS cv
      FROM (SELECT unnest(range(0, 16)) AS c)
    ),
    sev AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
    ssims AS (
      SELECT sev.vec_id, scents.c,
             list_dot_product(sev.ev, scents.cv)
               / (sqrt(list_dot_product(sev.ev, sev.ev))
                  * sqrt(list_dot_product(scents.cv, scents.cv))) AS cos
      FROM sev CROSS JOIN scents
    ),
    sbest AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, c AS cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c) AS rk
        FROM ssims) WHERE rk = 1
    ),
    scellv AS MATERIALIZED (SELECT b.vec_id, b.cell, e.ev FROM sbest b JOIN sev e ON e.vec_id = b.vec_id),
    spairs AS MATERIALIZED (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM scellv a JOIN scellv b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.ev, b.ev)
              / (sqrt(list_dot_product(a.ev, a.ev))
                 * sqrt(list_dot_product(b.ev, b.ev))) >= 0.35
    ),
    sedges AS (
      SELECT id_a AS src, id_b AS dst FROM spairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM spairs
    ),
    sreach(src, dst) AS (
      SELECT src, dst FROM sedges
      UNION
      SELECT r.src, e.dst FROM sreach r JOIN sedges e ON r.dst = e.src
    ),
    scomp AS MATERIALIZED (
      SELECT src AS id, least(src, min(dst)) AS component FROM sreach GROUP BY src
    )
    SELECT 'semdedup' AS policy, vec_id AS doc_id,
           CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS VARCHAR) AS source
    FROM embeddings
    WHERE vec_id NOT IN (SELECT id FROM scomp WHERE id <> component)
    UNION ALL
    SELECT 'pair' AS policy, d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT id_b FROM pairs)
    UNION ALL
    SELECT 'cc', d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT id FROM comp WHERE id <> component)
    UNION ALL
    SELECT 'cc_quality', d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT id FROM comp)
       OR d.doc_id IN (SELECT id FROM winners)
    UNION ALL
    SELECT 'incr', d.doc_id, d.lang, d.source
    FROM documents d WHERE d.doc_id IN (SELECT doc_id FROM isurv)
    UNION ALL
    SELECT 'incr_index', d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id % 3 = 0 OR d.doc_id IN (SELECT doc_id FROM isurv)
    """,
)
def dedup_survivors_suite_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both near-dedup survivor POLICIES over the same LSH pair set,
    tagged legs under one registry row (r8 fold of ``dedup_survivors``
    and ``dedup_cc_survivors``):

    - ``pair`` (pair-dominated): a document survives iff it is not the
      higher-id member of any ≥θ near-dup pair. Deliberately NOT
      transitive — in a chain A~B~C with no (A,C) pair, C drops via
      (B,C) even though B drops too; a doc whose only near-dups have
      higher ids always survives.
    - ``cc`` (transitive closure — the composition a real LLM data
      pipeline runs): ``minhash_lsh_pairs`` (banded candidates, exact
      verify, no all-pairs self-join) →
      ``connected_components_twostar`` (driver union-find up to 200k
      edges, else alternating large/small-star, O(log n) rounds, per-round
      localCheckpoint) → one min-id survivor
      per component; in the A~B~C chain the whole cluster collapses to
      A. Oracle: DuckDB ``WITH RECURSIVE`` transitive closure over the
      exact-Jaccard graph. Semantics anchor: the reference's only dedup
      is the E9 last-write race
      (``/root/reference/src/MapReduceMaster.java:371-374``); these are
      the policy surface a corpus pipeline actually needs.

    The pair set is computed ONCE and shared by both legs (the CC leg's
    iterative rounds run at plan-build time against it). Exact-Jaccard
    oracles apply because LSH candidate recall is 100% on this corpus
    (pinned by ``test_minhash_lsh_equals_exact_jaccard``). bench.py's
    ``dedup_cc_survivors`` point times ``filter(policy = 'cc')`` — the
    pair leg's branch prunes under the literal filter.

    r9 adds ``cc_quality`` — the max-QUALITY survivor policy
    (``dedup.dedup_survivors_cc_best``): within each component keep the
    highest-token-count doc (min id on ties) instead of the min id —
    the policy production curation actually wants, since copies in a
    near-dup cluster differ (truncations, boilerplate variants) and
    min-id keeps whichever was crawled first, not the fullest copy.
    The CC solve is computed ONCE and shared with the ``cc`` leg; the
    ranking window runs over component members only (bounded by
    2·pairs), never the corpus. The oracle replays the argmax with the
    same token-count expression the text_stats oracle uses.

    r9 also adds the nightly-increment legs (the last major dedup
    family without a SQL twin):

    - ``incr``: documents in waves 1 and 2 (``doc_id % 3``) that
      survive two successive ``dedup.incremental_dedup`` increments
      against the persisted signature index seeded by wave 0 —
      history TEXT is never re-read, only ~300 B/doc signatures; a new
      doc dies on any component-match-estimate ≥ θ vs the index or vs
      a lower-id doc of its own increment.
    - ``incr_index``: membership of the FINAL updated index (wave 0 ∪
      both increments' survivors) — the artifact a production pipeline
      writes back nightly; verifying it pins the index-update algebra,
      not just the survivor set.

    The oracle replays both increments with exact Jaccard; the
    estimator's decisions were MEASURED equal to exact at all three sf
    dirs (zero survivor diffs), the same operating-point argument the
    LSH legs use. Bench evidence: ``incremental_index_build`` /
    ``incremental_dedup_increment`` points (r9).

    r10 adds the ``semdedup`` leg (``operators/semdedup.py``) — the
    SEMANTIC member of the survivor family, over the embeddings table:
    pinned-codebook k-means cells (the ``_pinned_cluster_codebook``
    replay) bound the pair search, within-cell exact-cosine pairs at
    θ=0.35 feed the same CC → min-id machinery, and DuckDB replays
    the whole chain (argmax-cosine cells, cell-join cosine pairs,
    WITH RECURSIVE closure). Promotion argument: the θ gate's measured
    min |cos − θ| margin is 6.7e-4 / 2.5e-4 / 1.2e-6 at
    sf0.001/0.01/0.1 — ≥6 orders above cross-engine float64 summation
    jitter — and the survivor policy is integer-exact; 725 within-cell
    pairs collapse at sf0.1 (non-vacuous). The Lloyd-trained codebook
    path and the paper's centroid_far policy keep their pytest
    differentials."""
    docs = load_table(spark, sf_dir, "documents")
    # the LSH banded join + verify feeds BOTH legs; a lazy checkpoint
    # (materialized once by the CC leg's plan-build rounds) keeps the
    # pair leg from re-running the whole candidate/verify pipeline —
    # the checkpoint is bounded at the near-dup pair count
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=32, bands=8, threshold=0.5
    ).localCheckpoint(eager=False)
    losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    pair_leg = docs.join(losers, "doc_id", "left_anti").select(
        F.lit("pair").alias("policy"), "doc_id", "lang", "source"
    )
    # ONE CC solve shared by the min-id and max-quality policies (the
    # lazy checkpoint materializes with the first leg's rounds)
    comps = dedup.connected_components_twostar(pairs).localCheckpoint(eager=False)
    cc_leg = dedup.dedup_survivors_cc(docs, pairs, "doc_id", comps=comps).select(
        F.lit("cc").alias("policy"), "doc_id", "lang", "source"
    )
    from distributed_computing_platform_mapreduce_spark.operators.text import token_count_ws

    ccq_leg = dedup.dedup_survivors_cc_best(
        docs.withColumn("__ntok", token_count_ws(F.col("text"))),
        pairs,
        "doc_id",
        quality_col="__ntok",
        comps=comps,
    ).select(F.lit("cc_quality").alias("policy"), "doc_id", "lang", "source")

    w0 = docs.filter(F.pmod("doc_id", F.lit(3)) == 0)
    w1 = docs.filter(F.pmod("doc_id", F.lit(3)) == 1)
    w2 = docs.filter(F.pmod("doc_id", F.lit(3)) == 2)
    # lazy checkpoints pin each chain stage the way the nightly job's
    # parquet writes would — the second increment must read the UPDATED
    # index, never re-derive wave 1's work
    idx0 = dedup.minhash_index(w0, "doc_id", "text").localCheckpoint(eager=False)
    s1, u1 = dedup.incremental_dedup(w1, idx0)
    s2, u2 = dedup.incremental_dedup(w2, u1.localCheckpoint(eager=False))
    incr_leg = s1.unionAll(s2).select(
        F.lit("incr").alias("policy"), "doc_id", "lang", "source"
    )
    idx_leg = (
        u2.select(F.col("id").alias("doc_id"))
        .join(docs, "doc_id")
        .select(F.lit("incr_index").alias("policy"), "doc_id", "lang", "source")
    )
    from distributed_computing_platform_mapreduce_spark.operators import semdedup as sd

    emb = load_table(spark, sf_dir, "embeddings")
    sem_leg = sd.semdedup(
        emb, threshold=0.35, centroids=_pinned_cluster_codebook()
    ).select(
        F.lit("semdedup").alias("policy"),
        F.col("vec_id").alias("doc_id"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("source"),
    )
    return (
        sem_leg.unionAll(pair_leg)
        .unionAll(cc_leg)
        .unionAll(ccq_leg)
        .unionAll(incr_leg)
        .unionAll(idx_leg)
    )


@query(
    "dedup_spans",
    # The oracle recomputes ExactSubstr from first principles: token
    # lists, every k-gram materialized as its STRING (the Spark side
    # matches 61-bit rolling hashes — equivalence is exact up to a
    # ~n²/2⁶² collision probability, deterministic per corpus), repeat
    # counts, covered positions, per-doc rebuild via ordered string_agg.
    # r9 fold: the 'decontam' leg replays decontaminate_spans with the
    # IDENTICAL gram-string machinery — eval grams (doc_id % 10 = 7)
    # semi-select the training side's (doc_id % 10 <> 7) cut starts.
    # r10 fold: the 'para' leg promotes remove_repeated_paragraphs —
    # the corpus has no newlines, so BOTH engines first synthesize the
    # same paragraph structure (tokens chunked in 6s, chunks joined by
    # \\n; DuckDB list slices are INCLUSIVE: ts[p : p+5] is 6 tokens),
    # then drop every paragraph appearing in >1 DISTINCT documents and
    # rebuild in original order (non-vacuous: 124 of 500 docs lose a
    # paragraph at sf0.01, 1711 of 5000 at sf0.1).
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS ts
      FROM documents
    ),
    positions AS (
      SELECT doc_id, ts, unnest(range(1, greatest(len(ts) - 4 + 2, 1))) AS pos FROM toks
    ),
    grams AS (
      SELECT doc_id, pos, array_to_string(ts[pos : pos + 4 - 1], ' ') AS g FROM positions
    ),
    rep AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
    eval_g AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 7),
    starts AS (
      SELECT 'repeat' AS leg, doc_id, pos FROM grams WHERE g IN (SELECT g FROM rep)
      UNION ALL
      SELECT 'decontam', doc_id, pos FROM grams
      WHERE doc_id % 10 <> 7 AND g IN (SELECT g FROM eval_g)
    ),
    covered AS (
      SELECT DISTINCT leg, doc_id, pos + unnest(range(0, 4)) AS p FROM starts
    ),
    tokpos AS (
      SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS p FROM toks
    ),
    tokrows AS (SELECT doc_id, p, ts[p] AS tok FROM tokpos),
    legdocs AS (
      SELECT 'repeat' AS leg, doc_id, ts FROM toks
      UNION ALL
      SELECT 'decontam', doc_id, ts FROM toks WHERE doc_id % 10 <> 7
    ),
    kept AS (
      SELECT ld.leg, tr.doc_id, tr.p, tr.tok
      FROM legdocs ld
      JOIN tokrows tr ON ld.doc_id = tr.doc_id
      LEFT JOIN covered c
        ON c.leg = ld.leg AND tr.doc_id = c.doc_id AND tr.p = c.p
      WHERE c.p IS NULL
    )
    SELECT ld.leg, ld.doc_id,
           coalesce(ka.txt, '') AS text,
           len(ld.ts) - coalesce(ka.n, 0) AS n_tokens_removed
    FROM legdocs ld LEFT JOIN (
      SELECT leg, doc_id, string_agg(tok, ' ' ORDER BY p) AS txt, count(*) AS n
      FROM kept GROUP BY leg, doc_id
    ) ka ON ld.leg = ka.leg AND ld.doc_id = ka.doc_id
    UNION ALL
    SELECT 'para', t.doc_id,
           coalesce(pk.txt, '') AS text,
           CAST(len(t.ts) - coalesce(pk.ntok, 0) AS BIGINT) AS n_tokens_removed
    FROM toks t LEFT JOIN (
      SELECT doc_id,
             string_agg(para, chr(10) ORDER BY p) AS txt,
             -- CAST: DuckDB types sum(BIGINT) as HUGEINT, which the driver's
             -- pandas conversion renders as float64 and hash-mismatches
             -- against Spark's bigint even when values are identical
             -- (the one red row of CORRECTNESS_r10.json).
             CAST(sum(least(p + 5, lents) - p + 1) AS BIGINT) AS ntok
      FROM (
        SELECT doc_id, p, lents,
               array_to_string(ts[p : least(p + 5, lents)], ' ') AS para
        FROM (
          SELECT doc_id, ts, len(ts) AS lents,
                 unnest(range(1, len(ts) + 1, 6)) AS p
          FROM toks)
      )
      WHERE para NOT IN (
        SELECT para FROM (
          SELECT array_to_string(ts[p : least(p + 5, len(ts))], ' ') AS para,
                 doc_id
          FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1, 6)) AS p
                FROM toks))
        GROUP BY para HAVING count(DISTINCT doc_id) > 1)
      GROUP BY doc_id
    ) pk ON t.doc_id = pk.doc_id
    """,
)
def dedup_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-surgery suite, tagged legs (r9 fold promotes the previously
    pytest-only decontamination path to a full driver oracle):

    - **repeat**: exact repeated-substring removal (ExactSubstr, Lee et
      al. ACL'22) — every 4-token run occurring ≥ 2 times anywhere in
      the corpus is cut from EVERY occurrence and the documents are
      rebuilt. On this corpus the operating point is richly non-vacuous
      — 369 of 500 docs lose at least one span at sf0.01 (birthday
      collisions over the small synthetic vocabulary), so the rebuilt
      texts AND the per-document removal counts both carry signal.
    - **decontam**: GPT-3-style span decontamination
      (``dedup.decontaminate_spans``) — docs with ``doc_id % 10 = 7``
      stand in as the EVAL corpus, the rest as training data; every
      training-side 4-token run that also appears anywhere in the eval
      slice is cut, the document's clean remainder survives. Production
      k is 13 (GPT-3's n-gram); k=4 here so the tiny driver corpus
      exercises real overlaps through the same machinery.

    Both legs match grams by 61-bit rolling polynomial hash — 8-byte
    shuffle keys, never text — while the oracle compares gram STRINGS;
    agreement therefore also certifies the rolling hash's injectivity
    on this corpus (a collision would cut a span the oracle keeps and
    hash-mismatch). Production k for the repeat leg is ~50 (the paper's
    operating point) — that cost is the bench's ``dedup_spans_k50``
    point.

    - **para** (r10 fold, ``dedup.remove_repeated_paragraphs``):
      boilerplate removal at paragraph granularity — every paragraph
      whose exact text appears in more than one DISTINCT document is
      dropped from all of them, survivors rebuild in original order
      (Dolma/RefinedWeb recipe). The corpus carries no newlines, so
      the leg first synthesizes a deterministic paragraph structure
      both engines reproduce (tokens chunked in 6s, '\\n'-joined);
      the operator itself shuffles 8-byte xxhash64 paragraph keys,
      the oracle compares paragraph STRINGS — so like the gram legs,
      agreement also certifies hash injectivity on this corpus."""
    docs = load_table(spark, sf_dir, "documents")
    rep = dedup.remove_repeated_spans(docs, "doc_id", "text", k=4).select(
        F.lit("repeat").alias("leg"), "doc_id", "text", "n_tokens_removed"
    )
    train = docs.filter(F.pmod("doc_id", F.lit(10)) != 7)
    eval_df = docs.filter(F.pmod("doc_id", F.lit(10)) == 7)
    # eval_broadcast: the eval corpus is tiny by construction (10% of docs),
    # so the registered leg exercises the 100 TB shuffle lever it documents —
    # broadcast-semi the eval gram set instead of sort-merge-shuffling every
    # training gram (plan pinned by tests/test_plan_lint.py).
    dec = dedup.decontaminate_spans(
        train, eval_df, "doc_id", "text", "doc_id", "text", k=4, eval_broadcast=True
    ).select(F.lit("decontam").alias("leg"), "doc_id", "text", "n_tokens_removed")

    toks = text.tokens(F.col("text"))
    n_chunk_hi = F.floor((F.size(toks) - F.lit(1)) / F.lit(6)).cast("int")
    # Empty/whitespace-only docs make n_chunk_hi = -1 and F.sequence(0, -1)
    # DESCENDS to [0, -1], synthesizing two phantom empty paragraphs; gate
    # the synthesis so such docs pass through as '' like the oracle.
    para_text = F.when(
        F.size(toks) > 0,
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), n_chunk_hi),
                lambda i: F.array_join(F.slice(toks, i * F.lit(6) + F.lit(1), 6), " "),
            ),
            "\n",
        ),
    ).otherwise(F.lit(""))
    para_docs = docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("__orig_n"),
        para_text.alias("text"),
    )
    para = dedup.remove_repeated_paragraphs(
        para_docs, "doc_id", "text", sep="\n", max_docs=1
    ).select(
        F.lit("para").alias("leg"),
        "doc_id",
        "text",
        (
            F.col("__orig_n")
            - packing.whitespace_token_count(F.col("text")).cast("bigint")
        ).alias("n_tokens_removed"),
    )
    return rep.unionAll(dec).unionAll(para)
