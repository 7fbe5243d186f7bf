"""Seeded single-process corpus generators with their exact expected facts.

Each generator writes only input files and returns the facts the checks
compare against; the program under test never sees the facts.

- ``wc``: the reference word-count corpus (FIXTURES F1) — about 20 words
  per line, each word taken from a 100-word vocabulary at index
  ``int(abs(gauss(0, 1)) / 3 * 100)`` with draws >= 100 discarded, 150,000
  kept draws per file. Facts: the word counts of every file.
- ``rwlg``: the reference web-link corpus (F2) — ``src,dst`` lines with a
  10-character random ``src`` and ``dst`` taken from a pool of 100 page
  ids at the same Gaussian index. Facts: the source count of every
  ``dst``.
- ``neardup``: documents over a 20,000-word vocabulary with planted
  near-copy clusters. Each cluster is a chain base -> copy1 -> copy2 ...
  where every copy substitutes a few words of its predecessor, so the
  far end of a chain can sit below the detectors' thresholds and only the
  transitive closure joins it. Facts: the members of every cluster.

The same seed gives byte-identical files. Corpora are cached under the
checkout's ``.perfbench_cache`` directory, written to a temporary
directory first and renamed into place, so an interrupted run never
leaves a half-written corpus behind.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

# Bump when a generator's output changes, so stale caches are not reused.
GEN_VERSION = 1

WC_WORDS_PER_FILE = 150_000
WC_WORDS_PER_LINE = 20
RWLG_EDGES_PER_FILE = 116_000
VOCAB_SIZE = 100

# 100 distinct short words: ten onsets times ten codas.
WC_VOCAB = [
    a + b
    for a in ("ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "de", "fu")
    for b in ("n", "ra", "lis", "to", "ve", "m", "sha", "k", "dor", "pel")
]
_ALNUM = np.frombuffer(
    b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789", dtype=np.uint8
)


def gauss_index(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` vocabulary indexes drawn as ``int(abs(gauss)/3*100)``, draws
    >= 100 discarded and redrawn: the lowest indexes are the hot keys,
    about 2.4% of the draws each, the highest well under 0.1%."""
    out = np.empty(0, dtype=np.int64)
    while out.size < n:
        idx = (np.abs(rng.standard_normal(n)) / 3 * VOCAB_SIZE).astype(np.int64)
        out = np.concatenate([out, idx[idx < VOCAB_SIZE]])
    return out[:n]


def wc_file(seed: int, file_idx: int) -> tuple[bytes, np.ndarray]:
    """One WC file's bytes and its per-vocabulary-index word counts."""
    rng = np.random.default_rng([seed, 1, file_idx])
    idx = gauss_index(rng, WC_WORDS_PER_FILE)
    words = np.asarray(WC_VOCAB, dtype=object)[idx].reshape(-1, WC_WORDS_PER_LINE)
    text = "".join(" ".join(row) + "\n" for row in words)
    return text.encode("ascii"), np.bincount(idx, minlength=VOCAB_SIZE)


def rwlg_pool(seed: int) -> list[str]:
    """The 100 seven-digit destination page ids of a seed."""
    rng = np.random.default_rng([seed, 2])
    ids = rng.choice(9_000_000, size=VOCAB_SIZE, replace=False) + 1_000_000
    return [str(int(i)) for i in ids]


def rwlg_file(seed: int, file_idx: int, pool: list[str]) -> tuple[bytes, np.ndarray]:
    """One RWLG file's bytes (``src,dst`` lines) and its per-pool-index
    edge counts."""
    rng = np.random.default_rng([seed, 3, file_idx])
    n = RWLG_EDGES_PER_FILE
    dst_idx = gauss_index(rng, n)
    src = _ALNUM[rng.integers(0, _ALNUM.size, size=(n, 10))]
    dst = np.frombuffer("".join(pool).encode("ascii"), dtype=np.uint8).reshape(VOCAB_SIZE, 7)
    lines = np.empty((n, 19), dtype=np.uint8)
    lines[:, :10] = src
    lines[:, 10] = ord(",")
    lines[:, 11:18] = dst[dst_idx]
    lines[:, 18] = ord("\n")
    return lines.tobytes(), np.bincount(dst_idx, minlength=VOCAB_SIZE)


def _neardup_vocab(rng: np.random.Generator, size: int = 20_000) -> list[str]:
    lens = rng.integers(3, 10, size=size)
    letters = rng.integers(ord("a"), ord("z") + 1, size=(size, 9)).astype(np.uint8)
    words = {bytes(letters[i, : lens[i]]).decode("ascii") for i in range(size)}
    return sorted(words)


def neardup_docs(
    seed: int, n_docs: int, n_clusters: int, chain_len: tuple[int, int] = (3, 6),
    edits: tuple[int, int] = (1, 8),
) -> tuple[list[str], list[list[int]]]:
    """``n_docs`` documents (index = doc id) and the planted clusters, each
    a sorted list of member ids. A cluster is a chain: copy k substitutes
    ``edits`` random words of copy k-1. Ids are a random permutation, so
    a cluster's minimum id is any of its members."""
    rng = np.random.default_rng([seed, 4])
    vocab = np.asarray(_neardup_vocab(rng), dtype=object)
    lengths = rng.integers(80, 200, size=n_docs)
    order = rng.permutation(n_docs)
    docs: list[list[str] | None] = [None] * n_docs
    clusters: list[list[int]] = []
    pos = 0
    for _ in range(n_clusters):
        size = int(rng.integers(chain_len[0], chain_len[1] + 1))
        members = [int(i) for i in order[pos : pos + size]]
        pos += size
        words = list(vocab[rng.integers(0, vocab.size, size=int(lengths[members[0]]))])
        for m in members:
            docs[m] = words
            words = list(words)
            k = int(rng.integers(edits[0], edits[1] + 1))
            at = rng.choice(len(words), size=k, replace=False)
            for i, w in zip(at, vocab[rng.integers(0, vocab.size, size=k)]):
                words[int(i)] = w
        clusters.append(sorted(members))
    for i in order[pos:]:
        docs[int(i)] = list(vocab[rng.integers(0, vocab.size, size=int(lengths[i]))])
    return [" ".join(d) for d in docs], clusters


# --- cache -----------------------------------------------------------------


def _publish(tmp: str, final: str) -> None:
    try:
        os.rename(tmp, final)
    except OSError:
        # another run published the same corpus first; theirs is identical
        shutil.rmtree(tmp, ignore_errors=True)


def _cached(cache_dir: str, name: str, build) -> tuple[str, dict, bool]:
    """Return ``(dir, facts, generated)`` for corpus ``name``; ``build(dir)``
    writes the files into ``dir`` and returns the facts."""
    final = os.path.join(cache_dir, name)
    facts_path = os.path.join(final, "facts.json")
    if os.path.exists(facts_path):
        with open(facts_path) as f:
            return final, json.load(f), False
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    facts = build(tmp)
    with open(os.path.join(tmp, "facts.json"), "w") as f:
        json.dump(facts, f)
    _publish(tmp, final)
    with open(facts_path) as f:
        return final, json.load(f), True


def wc_corpus(cache_dir: str, seed: int, n_files: int) -> tuple[str, dict, bool]:
    """WC corpus as ``<dir>/text/part-NNNNN.txt``; facts hold the size and
    the word counts of every file, so any prefix of the files is known."""

    def build(d: str) -> dict:
        os.makedirs(os.path.join(d, "text"))
        per_file, sizes = [], []
        for i in range(n_files):
            data, counts = wc_file(seed, i)
            with open(os.path.join(d, "text", f"part-{i:05d}.txt"), "wb") as f:
                f.write(data)
            sizes.append(len(data))
            per_file.append({WC_VOCAB[w]: int(c) for w, c in enumerate(counts) if c})
        return {"files": [f"part-{i:05d}.txt" for i in range(n_files)],
                "file_bytes": sizes, "file_counts": per_file}

    return _cached(cache_dir, f"wc-v{GEN_VERSION}-s{seed}-f{n_files}", build)


def rwlg_corpus(cache_dir: str, seed: int, n_files: int) -> tuple[str, dict, bool]:
    """RWLG corpus as ``<dir>/text/part-NNNNN.txt``; facts hold the source
    count of every ``dst``."""

    def build(d: str) -> dict:
        os.makedirs(os.path.join(d, "text"))
        pool = rwlg_pool(seed)
        total, size = np.zeros(VOCAB_SIZE, dtype=np.int64), 0
        for i in range(n_files):
            data, counts = rwlg_file(seed, i, pool)
            with open(os.path.join(d, "text", f"part-{i:05d}.txt"), "wb") as f:
                f.write(data)
            size += len(data)
            total += counts
        return {"dst_counts": {pool[i]: int(c) for i, c in enumerate(total) if c},
                "input_bytes": size}

    return _cached(cache_dir, f"rwlg-v{GEN_VERSION}-s{seed}-f{n_files}", build)


def neardup_corpus(
    cache_dir: str, seed: int, n_docs: int, n_clusters: int, n_files: int
) -> tuple[str, dict, bool]:
    """Documents as a ``<dir>/documents.parquet`` directory of ``n_files``
    parts with columns ``doc_id bigint, text string``; facts hold the
    planted clusters."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(d: str) -> dict:
        texts, clusters = neardup_docs(seed, n_docs, n_clusters)
        out = os.path.join(d, "documents.parquet")
        os.makedirs(out)
        size = 0
        for part, ids in enumerate(np.array_split(np.arange(n_docs), n_files)):
            table = pa.table({"doc_id": pa.array(ids, pa.int64()),
                              "text": pa.array([texts[i] for i in ids], pa.string())})
            path = os.path.join(out, f"part-{part:05d}.parquet")
            pq.write_table(table, path, compression="none")
            size += os.path.getsize(path)
        return {"n_docs": n_docs, "clusters": clusters, "input_bytes": size}

    return _cached(
        cache_dir, f"neardup-v{GEN_VERSION}-s{seed}-d{n_docs}-c{n_clusters}-f{n_files}", build
    )
