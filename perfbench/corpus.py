"""``corpus_pretrain``: pretraining-corpus assembly on a clean replica corpus.

Inputs: a ``documents`` table with the repo's testdata documents schema
(doc_id, text, lang, source, n_chars; 10-100 tokens per doc,
near-duplicates that repeat another document's text plus " dup").
The vocabulary has 4,000 pseudo-words where the testdata has 30: with
30 words nearly every pair of documents shares a MinHash band (62k
candidate pairs among 2,000 documents) and dedup collapses the corpus to
a few dozen documents.  With 4,000 words the candidate pairs are mostly
the true duplicates, which is what a clean corpus means.  Every value is
a hash of the doc id.  Replicas follow the clean-10x soak recipe of
``bench.py``: replica ``r`` of doc ``d`` gets id ``d * R + r`` and its
text with the 26-letter alphabet rotated (replica 0 keeps the original),
so duplicate density stays per replica and cross-replica pairs are about
zero.

The base documents are one fixed id window and the seed picks the
rotation of the replicas.  The window is fixed because the rest of the
candidate pairs are chance band collisions, and they decide how many
rounds ``connected_components`` runs.  The rounds follow the label
depth, the largest distance from a component's smallest id to another of
its documents, and over windows it varied from 1 to 3 (61, 69 or 77
Spark jobs a pass).  With 750 base documents and 2 replicas, window
``BASE_WINDOW`` has a label depth of 3 in replica 0 alone, and with each
of the 25 rotations the whole graph has depth 3 (checked with the LSH
oracle), so every seed runs the same rounds: 77 jobs a pass.

One pass is ``plans.training.pipeline_pretrain_corpus_e2e``.  The traced
pass first calls the layers it is built from, each on its own with its
input computed outside its span (gopher gate, minhash signatures, LSH
pairs, connected components, contamination screen), then the whole
pipeline; the extra calls are part of the tracing overhead.

Oracle: the audit rows must equal the query's registry DuckDB oracle run
on the same generated corpus.  The oracle runs with its top-level CTEs
marked MATERIALIZED, an evaluation hint that leaves the result unchanged:
inlined, DuckDB re-evaluates the quality-gate CTE at every reference and
takes 29 s for 800 documents instead of 1.6 s, with identical rows.
"""

from __future__ import annotations

import os
import re
import shutil

import numpy as np

VOCAB_SIZE = 4000
MARKERS = {"en": ("the", "a"), "es": ("el", "la"), "de": ("der", "die"),
           "fr": ("le", "la"), "zh": ()}
LANG_CUM = np.cumsum([0.41, 0.15, 0.15, 0.15, 0.14])
MARKER_RATE = 0.04
N_SOURCES = 20
DUP_RATE = 0.08
ALPHABET = "abcdefghijklmnopqrstuvwxyz"
BASE_WINDOW = 13  # base doc ids start at BASE_WINDOW * n_base; see above


def _uniform(ids: np.ndarray, salt: int) -> np.ndarray:
    """splitmix64 of (id, salt) as a uniform in [0, 1)."""
    with np.errstate(over="ignore"):
        x = ids.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15) + np.uint64(salt)
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
    return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _vocabulary() -> list[str]:
    """VOCAB_SIZE pseudo-words of 3-9 letters (fixed, seed-independent)."""
    ids = np.arange(VOCAB_SIZE, dtype=np.int64)
    lengths = 3 + np.floor(_uniform(ids, 11) * 7).astype(np.int64)
    words = []
    for w, n in zip(ids, lengths):
        letters = np.floor(_uniform(w * 16 + np.arange(n), 12) * 26).astype(np.int64)
        words.append("".join(ALPHABET[c] for c in letters))
    return words


def base_documents(lo: int, n: int) -> dict[str, list]:
    """Docs ``lo .. lo+n-1``: 10-100 tokens drawn uniformly from the
    vocabulary, with the language's marker words mixed in (language ID
    routes on them), and DUP_RATE near-duplicates that repeat another
    doc's original text plus " dup"."""
    vocab = _vocabulary()
    ids = np.arange(lo, lo + n, dtype=np.int64)
    n_tok = 10 + np.floor(_uniform(ids, 1) * 91).astype(np.int64)
    lang_idx = np.minimum(
        np.searchsorted(LANG_CUM, _uniform(ids, 5) * LANG_CUM[-1], side="right"),
        len(MARKERS) - 1,
    )
    langs = [list(MARKERS)[i] for i in lang_idx]
    texts: list[str] = []
    for doc, k, lang in zip(ids, n_tok, langs):
        pos = doc * 128 + np.arange(k, dtype=np.int64)
        words = [vocab[w] for w in np.floor(_uniform(pos, 2) * VOCAB_SIZE).astype(np.int64)]
        markers = MARKERS[lang]
        if markers:
            um = _uniform(pos, 6)
            for j in np.nonzero(um < MARKER_RATE)[0]:
                words[j] = markers[int(um[j] / MARKER_RATE * len(markers))]
        texts.append(" ".join(words))
    is_dup = _uniform(ids, 3) < DUP_RATE
    src = np.floor(_uniform(ids, 4) * n).astype(np.int64)
    texts = [texts[s] + " dup" if d else t for t, d, s in zip(texts, is_dup, src)]
    return {
        "doc_id": ids.tolist(),
        "text": texts,
        "lang": langs,
        "source": [f"src{d % N_SOURCES}" for d in ids],
    }


def rotations(seed: int, replicas: int) -> list[int]:
    """Replica 0 keeps the text; the others get distinct non-zero shifts."""
    if replicas > 26:
        raise ValueError("at most 26 distinct Caesar rotations")
    return [0] + [((seed % 25) + r - 1) % 25 + 1 for r in range(1, replicas)]


def replica_documents(base: dict[str, list], shifts: list[int]) -> dict[str, list]:
    reps = len(shifts)
    out: dict[str, list] = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for r, s in enumerate(shifts):
        table = str.maketrans(ALPHABET, ALPHABET[s:] + ALPHABET[:s])
        for d, t, lang, src in zip(base["doc_id"], base["text"], base["lang"], base["source"]):
            text = t.translate(table)
            out["doc_id"].append(d * reps + r)
            out["text"].append(text)
            out["lang"].append(lang)
            out["source"].append(src)
            out["n_chars"].append(len(text))
    return out


class CorpusPretrain:
    items = "docs"  # what items_per_s counts
    # a pass compiles ~140 generated classes, more than Spark's codegen
    # cache keeps (100), so every pass compiles them again and the JIT keeps
    # working on the new classes: passes get faster for many passes, at a
    # pace that differs between runs.  Two warm-up passes, then the median
    # of two timed passes at least.
    warmup_passes = 2
    min_timed_passes = 2

    def __init__(self, n_base: int, replicas: int, workdir: str, seed: int):
        self.n_base = n_base
        self.lo = BASE_WINDOW * n_base
        self.shifts = rotations(seed, replicas)
        self.workdir = workdir
        self.dir = ""
        self.sizes = {
            "docs": n_base * replicas,
            "base_docs": n_base,
            "doc_id_lo": self.lo,
            "replicas": replicas,
            "rotations": self.shifts,
        }

    def make_inputs(self, spark) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        d = os.path.join(self.workdir, "corpus")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        docs = replica_documents(base_documents(self.lo, self.n_base), self.shifts)
        pq.write_table(
            pa.table({
                "doc_id": pa.array(docs["doc_id"], pa.int64()),
                "text": pa.array(docs["text"], pa.string()),
                "lang": pa.array(docs["lang"], pa.string()),
                "source": pa.array(docs["source"], pa.string()),
                "n_chars": pa.array(docs["n_chars"], pa.int64()),
            }),
            os.path.join(d, "documents.parquet"),
        )
        self.dir = d
        self.sizes["input_bytes"] = os.path.getsize(os.path.join(d, "documents.parquet"))

    def _query(self):
        from copperhead_spark.plans.registry import all_queries

        return all_queries()["pipeline_pretrain_corpus_e2e"]

    def oracle(self) -> dict:
        from copperhead_spark.testing import make_duckdb

        sql, n = re.subn(r"(?m)^(\w+) AS \(", r"\1 AS MATERIALIZED (", self._query().oracle)
        if n == 0:
            raise RuntimeError("pretrain oracle has no top-level CTEs to materialize")
        con = make_duckdb(self.dir)
        try:
            return {"audit": con.execute(sql).df()}
        finally:
            con.close()

    def run_pass(self, spark, tr) -> dict:
        from copperhead_spark.catalog import table
        from copperhead_spark.operators.graph import connected_components
        from copperhead_spark.plans.dedup import (
            dedup_minhash_lsh_pairs,
            dedup_minhash_signatures,
        )
        from copperhead_spark.plans.text import text_gopher_filter
        from copperhead_spark.plans.training import text_contamination_screen

        if tr.enabled:
            with tr.span("text.gopher_filter") as sp:
                rows = text_gopher_filter(spark, self.dir).collect()
                sp["docs_out"] = sum(r["n_pass"] for r in rows)
            with tr.span("dedup.minhash_signatures"):
                dedup_minhash_signatures(spark, self.dir).write.format("noop").mode("overwrite").save()
            with tr.span("dedup.lsh_pairs") as sp:
                pairs = tr.materialize(dedup_minhash_lsh_pairs(spark, self.dir).select("doc1", "doc2"))
                sp["pairs"] = pairs.count()
            nodes = tr.materialize(table(spark, self.dir, "documents").select("doc_id"))
            with tr.span("graph.connected_components") as sp:
                cc = tr.materialize(connected_components(
                    nodes, pairs, node_col="doc_id", src_col="doc1", dst_col="doc2"
                ))
                sp["clusters"] = cc.select("component").distinct().count()
            with tr.span("training.contamination_screen"):
                text_contamination_screen(spark, self.dir).write.format("noop").mode("overwrite").save()
        with tr.span("training.pretrain_e2e") as sp:
            audit = self._query().builder(spark, self.dir).toPandas()
            sp["docs_out"] = int(audit["n_docs"].sum())
        return {"audit": audit}

    def check(self, out: dict, expected: dict) -> str:
        from copperhead_spark.testing import compare_frames

        rep = compare_frames("corpus_pretrain.audit", out["audit"], expected["audit"])
        return "" if rep.ok else str(rep)
