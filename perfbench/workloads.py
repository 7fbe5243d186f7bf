"""The workloads: inputs, oracle, one run, and its check.

A workload turns a seed into input files plus expected facts
(``prepare``), derives anything else it checks against (``oracle``),
runs the program's public calls once inside spans (``run``) and checks
what the run returned (``check``). ``run`` returns a small Python value:
the output is materialised by the run's last action, inside its span.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os

import gen
from spans import NoTrace

# Input sizes: on 4 cores a timed run takes about a second (neardup about
# 8 s, almost all of it per-job and planning overhead that does not shrink
# with the input), so a full benchmark pass — many processes, three
# set-ups each — fits its time limit.
WC_FILES = 24          # ~18 MB of F1 text
RWLG_FILES = 6         # ~13 MB of F2 edges
MJ_UDF_FILES = 2       # the first 2 WC files, ~1.5 MB
NEARDUP_DOCS = 2000    # ~1.3 MB
NEARDUP_CLUSTERS = 80
NEARDUP_FILES = 4
# Share of the planted copies (members beyond one per cluster) that the
# MinHash ∪ SimHash -> CC pipeline must remove.
NEARDUP_RECALL_FLOOR = 0.9


class CheckFailed(Exception):
    """A run's output disagrees with the oracle."""


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


@dataclasses.dataclass
class Corpus:
    path: str
    facts: dict
    input_bytes: int
    generated: bool
    parts: list["Corpus"] = dataclasses.field(default_factory=list)


class WordCount:
    name = "wordcount"
    n_files = WC_FILES

    def prepare(self, cache: str, seed: int) -> Corpus:
        path, facts, made = gen.wc_corpus(cache, seed, self.n_files)
        return Corpus(path, facts, sum(facts["file_bytes"][: self.n_files]), made)

    def _paths(self, c: Corpus) -> list[str]:
        return [os.path.join(c.path, "text", f) for f in c.facts["files"][: self.n_files]]

    def oracle(self, c: Corpus, cache: str) -> dict:
        total: dict[str, int] = {}
        for counts in c.facts["file_counts"][: self.n_files]:
            for w, n in counts.items():
                total[w] = total.get(w, 0) + n
        return total

    def run(self, spark, c: Corpus, t) -> list:
        from pyspark.sql import functions as F

        from distributed_computing_platform_mapreduce_spark.plans import maplejuice
        from distributed_computing_platform_mapreduce_spark.sources import catalog

        with t.span("load_text_dir"):
            lines = catalog.load_text_dir(spark, self._paths(c))
        with t.span("tokenize"):
            words = maplejuice.tokenize(lines, "value")
        out = words.groupBy("word").agg(F.count("*").alias("cnt")).orderBy("word")
        with t.span("collect"):
            return [(r["word"], r["cnt"]) for r in out.collect()]

    def check(self, rows: list, expected: dict) -> str:
        _require([k for k, _ in rows] == sorted(expected), "keys not sorted or not the vocabulary")
        _require(dict(rows) == expected, "word counts differ from the generator's")
        return _digest(rows)


class MjUdf(WordCount):
    """The WC prefix through the MapleJuice user contract."""

    name = "mj_udf"
    n_files = MJ_UDF_FILES

    def run(self, spark, c: Corpus, t) -> list:
        from distributed_computing_platform_mapreduce_spark.compat import maplejuice as mj
        from distributed_computing_platform_mapreduce_spark.sources import catalog

        with t.span("load_text_dir"):
            lines = catalog.load_text_dir(spark, self._paths(c))
        with t.span("maple"):
            kv = mj.maple(spark, mj.wc_maple, lines)
        with t.span("juice"):
            out = mj.juice(kv, mj.wc_juice)
        with t.span("collect"):
            return [(r["key"], int(r["value"])) for r in out.collect()]


class Rwlg:
    name = "rwlg"

    def prepare(self, cache: str, seed: int) -> Corpus:
        path, facts, made = gen.rwlg_corpus(cache, seed, RWLG_FILES)
        return Corpus(path, facts, facts["input_bytes"], made)

    def oracle(self, c: Corpus, cache: str) -> dict:
        """``{dst: md5 of the sorted, comma-joined sources}`` from DuckDB over
        the same text files, cross-checked against the generator's counts
        and cached beside the corpus."""
        path = os.path.join(c.path, "duckdb_oracle.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory='{os.path.join(cache, 'duckdb_tmp')}'")
            rows = con.execute(
                """
                SELECT dst, count(*) AS n, md5(string_agg(src, ',' ORDER BY src)) AS h
                FROM read_csv(?, delim=',', header=false, quote='', escape='',
                              columns={'src': 'VARCHAR', 'dst': 'VARCHAR'})
                GROUP BY dst
                """,
                [os.path.join(c.path, "text", "*.txt")],
            ).fetchall()
        finally:
            con.close()
        _require({d: n for d, n, _ in rows} == c.facts["dst_counts"],
                 "DuckDB per-dst counts differ from the generator's")
        expected = {d: h for d, _, h in rows}
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(expected, f)
        os.replace(tmp, path)
        return expected

    def edges(self, spark, c: Corpus, t):
        from pyspark.sql import functions as F

        from distributed_computing_platform_mapreduce_spark.sources import catalog

        with t.span("load_text_dir"):
            lines = catalog.load_text_dir(spark, os.path.join(c.path, "text"))
        parts = F.split(F.col("value"), ",")
        return lines.select(parts.getItem(1).alias("dst"), parts.getItem(0).alias("src"))

    def run(self, spark, c: Corpus, t) -> list:
        from pyspark.sql import functions as F

        from distributed_computing_platform_mapreduce_spark.plans import maplejuice

        edges = self.edges(spark, c, t)
        with t.span("rwlg_collect"):
            out = maplejuice.rwlg_collect(edges, max_values=None)
        # The concatenated rows are MB wide: hash them in the JVM and bring
        # back 100 short rows; md5 over every byte keeps the check exact.
        with t.span("collect"):
            return [(r["dst"], r["h"])
                    for r in out.select("dst", F.md5(F.col("sources")).alias("h")).collect()]

    def check(self, rows: list, expected: dict) -> str:
        _require(len(rows) == len(expected) and dict(rows) == expected,
                 "rwlg rows differ from the DuckDB oracle")
        return _digest(sorted(rows))

    def decision(self, spark, c: Corpus) -> dict:
        """The collect layout the program picks for this corpus: the same
        shape probe and chooser ``rwlg_collect`` uses."""
        from distributed_computing_platform_mapreduce_spark.operators import skew

        edges = self.edges(spark, c, NoTrace())
        shape = skew.estimate_collect_shape(edges, "dst", value_col="src")
        layout = skew.choose_collect_layout(shape["est_max_fanin"], shape["n_partitions"], None)
        width = None
        if layout == "grouped":
            width = skew.grouped_shuffle_partitions(
                shape["est_value_bytes"],
                int(spark.conf.get("spark.sql.shuffle.partitions")),
                task_value_bytes=skew.grouped_task_value_bytes(spark),
            )
        return {"rwlg_layout": layout, "shape": shape, "grouped_partitions": width}


class NearDup:
    name = "neardup"

    def prepare(self, cache: str, seed: int) -> Corpus:
        path, facts, made = gen.neardup_corpus(
            cache, seed, NEARDUP_DOCS, NEARDUP_CLUSTERS, NEARDUP_FILES
        )
        return Corpus(path, facts, facts["input_bytes"], made)

    def oracle(self, c: Corpus, cache: str) -> dict:
        member = {m: i for i, cl in enumerate(c.facts["clusters"]) for m in cl}
        copies = sum(len(cl) - 1 for cl in c.facts["clusters"])
        return {"member": member, "copies": copies, "n_docs": c.facts["n_docs"],
                "n_clusters": len(c.facts["clusters"])}

    def pairs(self, spark, c: Corpus, t):
        """The two detectors: MinHash-LSH (Jaccard >= 0.5) and SimHash
        (hamming <= 3) over the same documents."""
        from distributed_computing_platform_mapreduce_spark.operators import dedup
        from distributed_computing_platform_mapreduce_spark.sources import catalog

        with t.span("load_table"):
            docs = catalog.load_table(spark, c.path, "documents")
        with t.span("minhash_lsh_pairs"):
            mh = dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
        with t.span("simhash_pairs"):
            sh = dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=3)
        return docs, mh.select("id_a", "id_b"), sh.select("id_a", "id_b")

    def run(self, spark, c: Corpus, t) -> list:
        """Both detectors' pairs into one CC — the multi-detector shape of
        the curation recipes."""
        from distributed_computing_platform_mapreduce_spark.operators import dedup

        docs, mh, sh = self.pairs(spark, c, t)
        with t.span("dedup_survivors_cc"):
            kept = dedup.dedup_survivors_cc(docs, mh.unionAll(sh), "doc_id")
        with t.span("collect"):
            return sorted(r[0] for r in kept.select("doc_id").collect())

    def trace_counts(self, spark, c: Corpus) -> dict:
        """Verified pair counts, read once after the traced runs:
        ``dedup.pairs`` and the denominator of
        ``dedup.hamming_rows_per_pair``."""
        _, mh, sh = self.pairs(spark, c, NoTrace())
        return {"simhash_pairs": sh.count(), "pairs": mh.union(sh).distinct().count()}

    def check(self, kept: list, expected: dict) -> str:
        removed = set(range(expected["n_docs"])) - set(kept)
        _require(len(kept) == len(set(kept)), "duplicate survivors")
        member = expected["member"]
        stray = [d for d in removed if d not in member]
        _require(not stray, f"{len(stray)} removed docs belong to no planted cluster")
        survivors_per_cluster = {member[d] for d in kept if d in member}
        _require(len(survivors_per_cluster) == expected["n_clusters"],
                 "a planted cluster lost every member")
        recall = len(removed) / expected["copies"]
        _require(recall >= NEARDUP_RECALL_FLOOR,
                 f"recall {recall:.3f} on planted copies is below {NEARDUP_RECALL_FLOOR}")
        return _digest(kept)


class MapleJuice:
    """The paper's two MapleJuice jobs back to back in every run: ``rwlg``
    (shuffle, skew, memory; no Python) then ``mj_udf`` (the JVM-Python
    boundary). Each part runs inside a span named after it."""

    name = "maplejuice"
    parts = (Rwlg(), MjUdf())

    def prepare(self, cache: str, seed: int) -> Corpus:
        cs = [w.prepare(cache, seed) for w in self.parts]
        return Corpus(cache, {}, sum(c.input_bytes for c in cs), any(c.generated for c in cs), cs)

    def oracle(self, c: Corpus, cache: str) -> list:
        return [w.oracle(pc, cache) for w, pc in zip(self.parts, c.parts)]

    def run(self, spark, c: Corpus, t) -> list:
        out = []
        for w, pc in zip(self.parts, c.parts):
            with t.span(w.name):
                out.append(w.run(spark, pc, t))
        return out

    def check(self, outs: list, expected: list) -> str:
        return _digest([w.check(o, e) for w, o, e in zip(self.parts, outs, expected)])

    def decision(self, spark, c: Corpus) -> dict:
        return self.parts[0].decision(spark, c.parts[0])


def _digest(value) -> str:
    return hashlib.sha256(json.dumps(value).encode()).hexdigest()


WORKLOADS = {w.name: w for w in (WordCount(), Rwlg(), MjUdf(), NearDup(), MapleJuice())}
