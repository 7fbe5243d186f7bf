"""Distributed byte-pair-encoding tokenizer: train + encode.

Upgrades the package's token accounting from the BPE-ish regex
(``text.token_count_bpe``) to a REAL learned subword tokenizer — the
thing an LLM data pipeline actually runs to size and pack its corpus.
Algorithm per Sennrich, Haddow & Birch, "Neural Machine Translation of
Rare Words with Subword Units" (ACL 2016); greedy encode per the
merge-rank loop popularized by GPT-2's public ``bpe()`` reference.

Scale shape
-----------
The classical trick IS the 100 TB story: merges are learned on the
**distinct-word frequency table**, not the corpus. One distributed
corpus scan builds ``(word, count)`` (vocab-bounded — ~10⁷–10⁸ rows
for web text, vs ~10¹² corpus tokens); the table is collected once,
behind a row gate, and merge learning runs driver-local:

- pair counts live in a dict, a pair→words inverted index restricts
  each round's recount to the words the merge touched, and a
  lazy-deletion max-heap serves the argmax — O(touched words) per
  merge, so 32k merges are seconds, with no Spark job per merge;
- ``max_words`` caps the working set by frequency when even the word
  table is too large for the driver; above ``max_word_table_rows``
  training fails loudly instead of collecting.

Merge learning is inherently sequential (merge r+1's counts depend on
merge r) — no engine parallelizes ACROSS rounds. Encoding is
embarrassingly parallel: merge ranks ride to executors as a
closure-captured list (n_merges entries, KBs), and each Arrow batch
memoizes per distinct word.

Determinism: pair argmax tie-breaks by (count desc, left asc, right
asc); training is a pure function of the word-count table, and
encoding a pure function of (text, merges) — pinned by the
differential twin in tests.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: End-of-word sentinel symbol (its own array element, never glued to a
#: character — keeps round-tripping trivial and matches the twin).
EOW = "</w>"


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One corpus scan → the distinct-word frequency table
    ``(word string, count long)`` — BPE's working set.

    Word splitting runs through Arrow with PYTHON ``str.split()``
    semantics (Unicode whitespace, codepoint strings) so the training
    working set is defined by EXACTLY the same function
    :func:`bpe_encode` applies at encode time. A JVM-side ``\\s+``
    split (Java ASCII whitespace, UTF-16 code units) silently disagrees
    on NBSP / ideographic space / non-BMP text — learned merges would
    then never match encode-side symbols (round-6 advisory).

    r16 (guide §2.3, aggregate before you shuffle): the Python pass
    PRE-AGGREGATES with one ``Counter`` per task and emits
    ``(word, partial count)`` rows, so the exchange carries one row per
    distinct word per task (vocab-bounded) instead of one row per word
    OCCURRENCE (corpus-bounded) — at 1 GB that is ~30k rows/task
    shuffled instead of ~10⁸. The downstream ``sum`` of partials equals
    the old global ``count(*)`` exactly. Per-task memory is bounded by
    the task's distinct vocabulary (the same vocab-bounded argument
    :func:`bpe_train` documents); output batches are
    chunked so one giant vocabulary can't produce an oversized Arrow
    batch."""
    from collections import Counter

    from distributed_computing_platform_mapreduce_spark.shipping import ensure_shipped

    ensure_shipped(df.sparkSession)
    schema = T.StructType(
        [T.StructField("word", T.StringType()), T.StructField("count", T.LongType())]
    )

    def count_words(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c: Counter = Counter()
        for pdf in batches:
            for text in pdf[text_col].fillna(""):
                c.update(text.split())
        words = list(c.keys())
        chunk = 1 << 20
        for i in range(0, len(words), chunk):
            part = words[i : i + chunk]
            yield pd.DataFrame(
                {"word": pd.Series(part, dtype=object),
                 "count": pd.Series([c[w] for w in part], dtype="int64")}
            )

    return (
        df.select(text_col)
        .mapInPandas(count_words, schema)
        .groupBy("word")
        .agg(F.sum("count").alias("count"))
    )


def _merge_once(syms: list, left: str, right: str, glued: str) -> list:
    """Greedy left-to-right merge of every (left, right) occurrence."""
    out = []
    i, n = 0, len(syms)
    while i < n:
        if i < n - 1 and syms[i] == left and syms[i + 1] == right:
            out.append(glued)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 100,
    min_pair_count: int = 2,
    max_words: int | None = None,
    max_word_table_rows: int = 5_000_000,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from a document corpus.

    Returns the ordered merge list ``[(left, right), ...]`` — the
    entire trained artifact (apply with :func:`bpe_encode`). Stops
    early when the best remaining pair's weighted count falls below
    ``min_pair_count`` (merging singletons is pure overfit).

    The CORPUS scan is the distributed part (:func:`word_counts`);
    merge learning runs driver-local over the aggregated distinct-word
    table with :func:`_train_incremental_from_counts`. That table is
    vocab-bounded (~10⁷–10⁸ rows for web text — it does not grow with
    corpus size), and a per-merge Spark loop would cost ≥1 job per
    merge (hours at 32k merges).

    ``max_words`` keeps only the most frequent words (count desc, word
    asc tie-break) — the standard working-set cap when even the
    distinct-word table is large; at web scale the dropped tail is
    singleton noise that cannot win a merge anyway. The collect is
    gated by ``max_word_table_rows`` and fails LOUDLY above it (the
    bounded-collect rule every driver-side gather in this repo
    follows)."""
    words = word_counts(df, text_col)
    if max_words is not None:
        words = words.orderBy(F.desc("count"), F.asc("word")).limit(max_words)
    # checkpoint before the gate probe: count() and collect() otherwise
    # each pay a full corpus scan
    words = words.localCheckpoint(eager=False)
    n_rows = words.count()
    if n_rows > max_word_table_rows:
        raise ValueError(
            f"distinct-word table holds {n_rows} rows >"
            f" max_word_table_rows={max_word_table_rows}; cap the working"
            " set with max_words (frequency tail can't win merges) or"
            " raise the gate if the driver has the memory"
        )
    rows = words.collect()
    return _train_incremental_from_counts(
        [(r["word"], r["count"]) for r in rows], n_merges, min_pair_count
    )


def _train_incremental_from_counts(
    word_counts: list[tuple[str, int]],
    n_merges: int,
    min_pair_count: int,
) -> list[tuple[str, str]]:
    """Classical incremental BPE over an in-memory ``(word, count)``
    table: pair counts live in a dict, a pair→words inverted index
    restricts each round's recount to the words the merge actually
    touched, and a lazy-deletion max-heap serves the argmax. Exactly
    the merge sequence a full recount per round produces (same (count
    desc, left asc, right asc) tie-break, same ``min_pair_count`` stop)
    — pinned by the twin tests — at O(touched words) per round instead
    of O(all words)."""
    import heapq

    syms_list = [list(w) + [EOW] for w, _ in word_counts]
    counts = [c for _, c in word_counts]
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    heap: list[tuple[int, str, str]] = []

    def bump(pair: tuple[str, str], delta: int, idx: int | None = None) -> None:
        n = pair_counts.get(pair, 0) + delta
        if n <= 0:
            pair_counts.pop(pair, None)
            return
        pair_counts[pair] = n
        if idx is not None:
            pair_words.setdefault(pair, set()).add(idx)
        # push on EVERY change (including decrements) so an entry
        # matching the live count always exists; stale ones skip lazily
        heapq.heappush(heap, (-n, pair[0], pair[1]))

    for idx, syms in enumerate(syms_list):
        c = counts[idx]
        for a, b in zip(syms, syms[1:]):
            bump((a, b), c, idx)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        # lazy-deletion argmax: pop until the heap head matches the live
        # count (stale entries are leftovers from earlier bumps)
        while heap:
            negn, left, right = heap[0]
            if pair_counts.get((left, right), 0) == -negn:
                break
            heapq.heappop(heap)
        if not heap:
            break
        negn, left, right = heapq.heappop(heap)
        if -negn < min_pair_count:
            break
        merges.append((left, right))
        glued = left + right
        pair = (left, right)
        # the inverted index is a SUPERSET (never purged on rewrite);
        # stale members no-op via the length check
        for idx in sorted(pair_words.pop(pair, ())):
            syms = syms_list[idx]
            new = _merge_once(syms, left, right, glued)
            if len(new) == len(syms):
                continue  # stale index entry — pair no longer adjacent here
            c = counts[idx]
            for a, b in zip(syms, syms[1:]):
                bump((a, b), -c)
            syms_list[idx] = new
            for a, b in zip(new, new[1:]):
                bump((a, b), c, idx)
        pair_counts.pop(pair, None)
    return merges


def _encode_word(word: str, ranks: dict, cache: dict) -> list:
    """GPT-2-style greedy encode: repeatedly merge the lowest-rank pair
    present — provably equivalent to applying the merge list in order."""
    hit = cache.get(word)
    if hit is not None:
        return hit
    syms = list(word) + [EOW]
    while len(syms) > 1:
        best_rank, best = None, None
        for i in range(len(syms) - 1):
            rk = ranks.get((syms[i], syms[i + 1]))
            if rk is not None and (best_rank is None or rk < best_rank):
                best_rank, best = rk, (syms[i], syms[i + 1])
        if best is None:
            break
        syms = _merge_once(syms, best[0], best[1], best[0] + best[1])
    cache[word] = syms
    return syms


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize ``text_col`` with a trained merge list → ``(id_col,
    out_col array<string>, n_{out_col} int)``.

    One ``mapInPandas`` scan; the rank table is closure-captured
    (n_merges entries — KBs, not a broadcast-join problem) and each
    partition memoizes encodings per distinct word, so hot words cost
    one dict hit. Embarrassingly parallel — no shuffle at all."""
    from distributed_computing_platform_mapreduce_spark.shipping import ensure_shipped

    ensure_shipped(df.sparkSession)
    ranks = {pair: r for r, pair in enumerate(merges)}
    schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField(out_col, T.ArrayType(T.StringType())),
            T.StructField(f"n_{out_col}", T.IntegerType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in batches:
            toks = [
                [s for w in text.split() for s in _encode_word(w, ranks, cache)]
                for text in pdf[text_col].fillna("")
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    out_col: toks,
                    f"n_{out_col}": [len(t) for t in toks],
                }
            )

    return df.select(id_col, text_col).mapInPandas(run, schema)


def bpe_vocab(merges: list[tuple[str, str]]) -> list[str]:
    """The merged-symbol vocabulary a trainer's tokenizer config wants:
    every glued symbol, in merge order (base characters are implicit)."""
    return [left + right for left, right in merges]


def corpus_chars(df: DataFrame, text_col: str = "text") -> str:
    """The corpus's distinct non-whitespace characters as one string —
    the ``extra_chars`` a complete :func:`bpe_vocab_map` wants (chars
    that never win a merge still need base-vocab ids). One distributed
    distinct over exploded characters; the collect is bounded by the
    alphabet, not the corpus. Python codepoint/whitespace semantics —
    the same alphabet :func:`bpe_encode` emits."""
    from distributed_computing_platform_mapreduce_spark.shipping import ensure_shipped

    ensure_shipped(df.sparkSession)
    schema = T.StructType([T.StructField("c", T.StringType())])

    def split_chars(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            chars = {
                c
                for text in pdf[text_col].fillna("")
                for w in text.split()
                for c in w
            }
            yield pd.DataFrame({"c": sorted(chars)}, dtype=object)

    rows = df.select(text_col).mapInPandas(split_chars, schema).distinct().collect()
    return "".join(sorted(r["c"] for r in rows))


def bpe_vocab_map(
    merges: list[tuple[str, str]], extra_chars: str = ""
) -> dict[str, int]:
    """Deterministic symbol → integer-id table in the standard BPE
    layout: EOW, then the sorted base characters (every character
    occurring in a merge side, plus ``extra_chars`` for coverage of
    characters the training corpus happened to exhaust into merges),
    then the merged symbols in merge order. Pure function of the merge
    list — two workers, or two runs, always agree."""
    base = {c for left, right in merges for c in left + right} | set(extra_chars)
    vocab = [EOW] + sorted(base)
    seen = set(vocab)
    for left, right in merges:
        glued = left + right
        if glued not in seen:
            vocab.append(glued)
            seen.add(glued)
    return {s: i for i, s in enumerate(vocab)}


def bpe_encode_ids(
    df: DataFrame,
    merges: list[tuple[str, str]],
    vocab: dict[str, int] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "token_ids",
) -> DataFrame:
    """Tokenize straight to trainer-ready integer ids →
    ``(id_col, out_col array<int>, n_{out_col} int)``. Unknown symbols
    (characters never seen at training) map to ``len(vocab)`` — the
    single reserved UNK id, so the embedding-table size is
    ``len(vocab) + 1``. Same zero-shuffle mapInPandas shape as
    :func:`bpe_encode`; the vocab dict rides in the closure."""
    from distributed_computing_platform_mapreduce_spark.shipping import ensure_shipped

    ensure_shipped(df.sparkSession)
    vocab = bpe_vocab_map(merges) if vocab is None else vocab
    unk = len(vocab)
    ranks = {pair: r for r, pair in enumerate(merges)}
    schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField(out_col, T.ArrayType(T.IntegerType())),
            T.StructField(f"n_{out_col}", T.IntegerType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in batches:
            ids = [
                [
                    vocab.get(s, unk)
                    for w in text.split()
                    for s in _encode_word(w, ranks, cache)
                ]
                for text in pdf[text_col].fillna("")
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    out_col: ids,
                    f"n_{out_col}": [len(t) for t in ids],
                }
            )

    return df.select(id_col, text_col).mapInPandas(run, schema)


def save_merges(merges: list[tuple[str, str]], path: str) -> None:
    """Write the merge list in the interchange format GPT-2 made
    standard (``#version`` header + one space-separated pair per line)
    — what tokenizer libraries' ``merges.txt`` loaders read."""
    with open(path, "w", encoding="utf-8") as f:
        f.write("#version: 0.2\n")
        for left, right in merges:
            f.write(f"{left} {right}\n")


def load_merges(path: str) -> list[tuple[str, str]]:
    """Read a ``merges.txt``-format merge list (inverse of
    :func:`save_merges`; ``#``-prefixed header lines skipped)."""
    out: list[tuple[str, str]] = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\n")
            if not line or line.startswith("#"):
                continue
            left, sep, right = line.partition(" ")
            if not sep or not right:
                # fail fast — a silently-accepted ('token', '') merge
                # would corrupt every rank below it (round-6 advisory)
                raise ValueError(f"malformed merges line (no pair): {line!r}")
            out.append((left, right))
    return out
