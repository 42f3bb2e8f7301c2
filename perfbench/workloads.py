"""The benchmark's workloads and their output checks.

A batch workload is a list of ``__spark_entry__.queries()`` rows; one
operation is one row forced end to end through the ``noop`` sink.  Each
row is mapped to the layer that owns its final forced execution, so the
traced run can charge the jobs of that execution to a named layer.

``search_serving`` answers a seeded query set through the serving face
``TxSearchSnapshot.bm25_maxscore`` on a snapshot pinned once per run:
a few queries one at a time per pass (closed loop, one client), then the
whole set in one batch.  One operation is one query.
"""

from __future__ import annotations

import hashlib
import os
import re

#: why each workload exists is said in BENCHMARK.json and GLOSSARY.md
WORKLOADS = {
    "pipeline_batch": {
        "rows": {
            # the reference pipeline: discovery (window dedup + anti-join),
            # MERGE, UDTF chunking
            "pdf_to_download": "operators.relational",
            "merge_upsert": "operators.mutate",
            "chunk_documents": "functions",
            # the corpus side: CPU- and shuffle-bound near-dup clustering
            "dedup_clusters": "operators.dedup",
            "c4_filter": "operators.cleaning",
            # the write side: txlog commits and the streaming state store
            "merge_upsert_tx": "storage.txlog",
            "running_user_stats_replay": "streaming",
            # the other corpus operator layers
            "embed_quantize": "operators.similarity",
            "lm_perplexity": "operators.vocab",
        },
    },
    "search_serving": {
        "queries": 24,
        # per pass: one single query with a rare term, one without
        "singles_per_pass": 2,
    },
}

#: a term is rare when it occurs in fewer than this share of documents
RARE_DF = 0.2

#: a fixture path inside an oracle's SQL: an absolute path to the
#: repository's ``tests/fixtures/<name>``
FIXTURE_PATH = re.compile(r"/[^'\s]*/tests/fixtures/([A-Za-z0-9_.]+)")


def row_order(workload: str, seed: int) -> list[str]:
    """The workload's rows in the order ``seed`` gives them."""
    import numpy as np

    rows = sorted(WORKLOADS[workload]["rows"])
    return [rows[i] for i in np.random.default_rng(seed).permutation(len(rows))]


# ---------------------------------------------------------------------------
# output check for the batch workloads: every row against its DuckDB oracle
# ---------------------------------------------------------------------------


def write_golden_fixtures(data_dir: str, out_dir: str, rows) -> None:
    """The golden chunk fixture for the generated corpus.  The oracle of
    ``chunk_documents`` joins the documents table to
    ``golden_chunks_128_32.parquet`` on md5(text); the repository's copy
    covers only the sf0.001/sf0.01 test corpora, so it is remade here with
    the same pure-Python reference, ``functions.text.split_text``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sf_epa_data_ingestion_spark.functions.text import split_text

    if "chunk_documents" not in rows:
        return
    texts = sorted(
        {t for t in pq.read_table(f"{data_dir}/documents.parquet").column("text").to_pylist() if t}
    )
    recs = [
        (hashlib.md5(t.encode("utf-8")).hexdigest(), i, c)
        for t in texts
        for i, c in enumerate(split_text(t, 128, 32))
    ]
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table({
            "text_md5": pa.array([r[0] for r in recs], pa.string()),
            "chunk_index": pa.array([r[1] for r in recs], pa.int32()),
            "chunk": pa.array([r[2] for r in recs], pa.string()),
        }),
        os.path.join(out_dir, "golden_chunks_128_32.parquet"),
    )


def oracle_for(entry, row: str, fixture_dir: str, repo_fixtures: str) -> str | None:
    """The row's oracle SQL, with fixture paths pointed at the fixtures of
    the generated corpus where one was written, else at the checkout's."""
    sql = entry.oracle_sql().get(row)
    if sql is None:
        return None

    def fix(m: re.Match) -> str:
        name = m.group(1)
        local = os.path.join(fixture_dir, name)
        return local if os.path.exists(local) else os.path.join(repo_fixtures, name)

    return FIXTURE_PATH.sub(fix, sql)


def digest_rows(rows) -> str:
    """Order-insensitive digest of canonicalized rows."""
    h = hashlib.md5()
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# search_serving
# ---------------------------------------------------------------------------


def norm_terms(text: str) -> list[str]:
    """Driver-side mirror of the search tokenizer for literal queries."""
    return sorted({t for t in re.sub(r"[^a-z0-9\s]", " ", text.lower()).split() if t})


def make_queries(data_dir: str, seed: int, n: int) -> list[tuple[int, str]]:
    """``n`` queries of 2-5 terms from the corpus vocabulary: every other
    query carries a rare term (one in fewer than ``RARE_DF`` of the
    documents, whose postings max-score pruning can skip), the rest are
    common terms."""
    import numpy as np
    import pyarrow.parquet as pq

    texts = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["text"])
    df: dict[str, int] = {}
    for t in texts.column("text").to_pylist():
        for tok in norm_terms(t):
            df[tok] = df.get(tok, 0) + 1
    n_docs = texts.num_rows
    rare = sorted(t for t in df if df[t] < RARE_DF * n_docs)
    common = sorted(t for t in df if df[t] >= RARE_DF * n_docs)
    if not rare or len(common) < 5:
        raise ValueError(f"corpus vocabulary has {len(rare)} rare and {len(common)} common terms")
    rng = np.random.default_rng(seed)
    out = []
    for qid in range(n):
        k = int(rng.integers(2, 6))
        terms = list(rng.choice(common, size=k, replace=False))
        if qid % 2 == 0:
            terms[0] = str(rng.choice(rare))
        out.append((qid, " ".join(terms)))
    return out


class Serving:
    """A pinned snapshot of the persisted transactional search index and
    the ways of answering a query set from it."""

    def __init__(self, spark, entry, data_dir: str):
        from sf_epa_data_ingestion_spark.storage import txindex

        self.spark = spark
        # the persisted index is built here, inside set-up, on first use
        self.snap = txindex.load_tx_search_index(
            spark, entry._tx_search_index_dir(spark, data_dir)
        )

    def _qdf(self, queries):
        return self.spark.createDataFrame(
            [(q, t) for q, t in queries], "query_id long, query_text string"
        )

    @staticmethod
    def _rows(rows):
        return sorted((r["query_id"], r["id"], round(r["score"], 6)) for r in rows)

    def single(self, q) -> list[tuple]:
        return self._rows(
            self.snap.bm25_maxscore(self._qdf([q]), k=10, terms=norm_terms(q[1])).collect()
        )

    def batch(self, queries) -> list[tuple]:
        terms = sorted({t for _, text in queries for t in norm_terms(text)})
        return self._rows(self.snap.bm25_maxscore(self._qdf(queries), k=10, terms=terms).collect())

    def pruned(self, queries) -> list[int]:
        """Ids of the queries whose max-score probe skips at least one of
        their terms' postings lists (fewer essential terms than terms)."""
        from sf_epa_data_ingestion_spark.operators import search

        s, out = self.snap, {}
        terms = sorted({t for _, text in queries for t in norm_terms(text)})
        search.bm25_search_many_maxscore(
            s.postings_for_terms(terms), s.stats(), s.bounds(), self._qdf(queries),
            s.n_docs, s.doclens(), k=10, _explain_out=out,
        )
        n_terms = dict(out["qterms"].groupBy("query_id").count().collect())
        n_essential = dict(out["essential"].groupBy("query_id").count().collect())
        return sorted(q for q, n in n_terms.items() if n_essential.get(q, 0) < n)

    def exact(self, queries) -> list[tuple]:
        """Unpruned BM25 over the same snapshot: the reference answer."""
        from sf_epa_data_ingestion_spark.operators import search

        s = self.snap
        return self._rows(
            search.bm25_search_many(
                s.postings(), s.stats(), self._qdf(queries), n_docs=s.n_docs,
                doclens=s.doclens(), k=10,
            ).collect()
        )
