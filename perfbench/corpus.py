"""corpus_dedup_search: text analytics over review comments.

Each timed operation is one pass over a seeded corpus of
review-comment documents: drop junk with ``functions.text.
quality_score``, remove near-duplicates with ``operators.dedup.
minhash_dedup``, then index the survivors and answer a batch of BM25
queries with ``operators.retrieval``.  The corpus plants near-duplicate
clusters, junk documents and "needle" documents whose rare terms form
the queries, so every pass can be scored against known truth.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import StorageLevel

from etl_tiki_webscraping_spark.functions import text
from etl_tiki_webscraping_spark.operators import dedup, retrieval

from perfbench.gen import Corpus, corpus
from perfbench.measure import OpResult
from perfbench.trace import maybe_span

DOCS = 2_000
QUERIES = 200
QUALITY_MIN = 0.5
# a pass fails its checks below these; the planted truth gives ~0.98-1.0
MIN_RECALL = 0.9
MIN_PRECISION = 0.9


def score_pass(c: Corpus, survivors: set[int], top1: dict[int, int]) -> tuple[list[str], float, float]:
    """Failures, recall and precision of one pass.  ``survivors`` are
    the doc ids left after quality filter and dedup; ``top1`` maps each
    query id to its rank-1 doc id."""
    failures = []
    junk_left = survivors & c.junk
    if junk_left:
        failures.append(f"{len(junk_left)} junk documents passed the quality filter")
    removed = set(c.ids) - survivors - c.junk
    hit = len(removed & c.should_remove)
    recall = hit / len(c.should_remove)
    precision = hit / len(removed) if removed else 0.0
    if recall < MIN_RECALL or precision < MIN_PRECISION:
        failures.append(f"dedup recall {recall:.3f} / precision {precision:.3f} below "
                        f"{MIN_RECALL} / {MIN_PRECISION}")
    missed = [q for q, (doc, _) in c.needles.items() if top1.get(q) != doc]
    if missed:
        failures.append(f"{len(missed)} of {len(c.needles)} needle queries did not rank their document first")
    return failures, recall, precision


class CorpusDedupSearch:
    name = "corpus_dedup_search"

    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.corpus = corpus(seed, docs=DOCS, queries=QUERIES)
        self.path = os.path.join(workdir, "corpus.parquet")
        self.tracer = None  # set by the traced run

    def _boundary(self, name: str, df):
        """Traced run only: run ``df`` to completion inside a span."""
        with maybe_span(self.tracer, name) as sp:
            if sp is not None:
                df = df.persist(StorageLevel.MEMORY_AND_DISK)
                sp.attrs["rows"] = df.count()
        return df

    def good_docs(self):
        return self.spark.read.parquet(self.path).filter(text.quality_score("text") >= QUALITY_MIN)

    def op(self) -> OpResult:
        with maybe_span(self.tracer, "perfbench.op"):
            t0 = time.perf_counter()
            good = self._boundary("functions.text", self.good_docs())
            kept = dedup.minhash_dedup(good, "text", "doc_id").persist(StorageLevel.MEMORY_AND_DISK)
            survivors = {r[0] for r in kept.select("doc_id").collect()}
            postings, doclens = retrieval.build_index(kept)
            hits = retrieval.bm25_from_index(postings, doclens, self.queries).filter("rank = 1").collect()
            seconds = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        failures, recall, precision = score_pass(self.corpus, survivors, {h.query_id: h.doc_id for h in hits})
        return OpResult(seconds, len(self.corpus.ids), recall, precision, failures)

    def setup(self) -> list[str]:
        c = self.corpus
        pq.write_table(pa.table({"doc_id": c.ids, "text": c.texts}), self.path)
        rows = [(q, t) for q, (_, terms) in c.needles.items() for t in terms]
        self.queries = self.spark.createDataFrame(rows, "query_id int, term string")
        return self.op().failures  # warm-up pass, checked like any other
