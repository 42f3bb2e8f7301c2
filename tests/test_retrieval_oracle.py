"""Oracle parity in the default (fast) tier: the retrieval rows (the ANN
suite, IVF-PQ, and every BM25 search row — the lexical suite, BM25, the
batch suite, hybrid, true hybrid over IVF-PQ, and max-score BM25 served
from a transactional snapshot and from a snapshot brought to the corpus
by a CDC refresh) and the stateful streaming replay
(running_user_stats_replay: per-user running totals carried across two
micro-batches) each hash-match their DuckDB oracle at sf0.001. The
max-score rows share one full-scoring oracle, so any unsound pruning
fails here. The full oracle module (test_oracle_parity.py) is
slow-marked; this keeps one oracle path exercised by every default
run."""

from __future__ import annotations

from oracle_harness import run_all
from test_oracle_parity import SF_DIR

ROWS = [
    "ann_suite",
    "ann_ivfpq",
    "lexical_suite",
    "search_bm25",
    "batch_search_suite",
    "search_hybrid",
    "search_hybrid_ann",
    "search_bm25_wand",
    "search_bm25_wand_tx",
    "search_bm25_wand_tx_fresh",
    "running_user_stats_replay",
    "semantic_dedup",
    "semdedup_stream_replay",
]


def test_retrieval_rows_match_duckdb_oracle():
    results = run_all(SF_DIR, only=ROWS)
    assert sorted(results) == sorted(ROWS)
    problems = [p for row in ROWS for p in results[row]]
    assert problems == [], "\n".join(problems)
