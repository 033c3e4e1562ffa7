"""Window-policy regression guard (VERDICT r2 item #7).

The driver hard-checks only the FIRST 50 ``queries()`` dict entries
(CORRECTNESS_r*.json rows exist only for those). This test freezes the
window so a refactor can never silently demote a hard-gated entry, and
pins the tail ordering policy from CLAUDE.md: oracle-backed tail entries
sit contiguously at positions 51+, before every rows-only tail entry, and
all of them are covered by tools/verify_local.py's default set.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod

# Frozen by the round-5 deliberate swap (VERDICT r4 item #1): the
# storage-layout + deep-graph family (zorder_curve, tile_pyramid,
# range_join, ktruss, sssp, hits — never previously under the driver's
# hard signal) holds hard-gate slots; url_normalize, repetition_signals,
# lang_distribution, embedding_topk, ngram_jaccard and pivot were demoted
# to the verified tail (families remain in-window: text signals via
# text_signals + c4/gopher filters, aggregates via pricing_summary +
# decile_stats, embedding similarity via semantic_dedup + knn, n-gram
# similarity via duplicate_spans + the in-window minhash_lsh). The
# round-3/round-4 swap promotions stay.
FROZEN_WINDOW = [
    "pricing_summary",
    "nway_left_join",
    "topk_per_group",
    "label_dedup",
    "decile_stats",
    "semi_flag",
    "hour_bucket_join",
    "group_transform",
    "skew_split_agg",
    "tile_encode",
    "cell_rollup",
    "pip_rect_join",
    "distance_join",
    "dwithin_rewrite",
    "crawl_frontier",
    "zorder_curve",
    "tile_pyramid",
    "robots_gate",
    "media_format",
    "knn",
    "buffer_exclusion",
    "zonal_stats",
    "spatial_assembly",
    "exact_dedup",
    "text_signals",
    "range_join",
    "ktruss",
    "sssp",
    "distance_to_line",
    "block_folds",
    "asof_join",
    "corpus_curation",
    "hits",
    "lm_perplexity",
    "classifier_score",
    "duplicate_spans",
    "c4_filter",
    "gopher_filter",
    "bm25_topk",
    "dsir_weights",
    "semantic_dedup",
    "snapshot_merge",
    "stream_changes",
    "triangle_count",
    "pagerank_exact",
    "grouped_corr",
    "time_weighted_avg",
    # rows-only entries the round-1 verdict required under the hard gate
    "minhash_lsh",
    "warc_roundtrip",
    "stream_rollup",
]


def test_window_is_frozen():
    names = list(entrymod.queries())
    assert len(names) >= 50
    assert names[:50] == FROZEN_WINDOW


def test_window_oracle_split():
    """Positions 1-47 are oracle-backed; 48-50 are the rows-only trio."""
    oracles = entrymod.oracle_sql()
    for name in FROZEN_WINDOW[:47]:
        assert name in oracles, f"in-window entry {name} lost its oracle"
    for name in FROZEN_WINDOW[47:]:
        assert name not in oracles, f"{name} gained an oracle — promote it"


def test_tail_ordering_policy():
    """Oracle-backed tail entries are contiguous at 51+, before rows-only."""
    names = list(entrymod.queries())
    oracles = entrymod.oracle_sql()
    tail = names[50:]
    tail_flags = [t in oracles for t in tail]
    first_rows_only = tail_flags.index(False) if False in tail_flags else len(tail)
    assert all(tail_flags[:first_rows_only]), "oracle tail not contiguous"
    assert not any(tail_flags[first_rows_only:]), (
        "oracle-backed entry found AFTER a rows-only tail entry — move it to "
        "the head of the tail per the CLAUDE.md window policy"
    )


def test_every_oracle_has_a_query():
    names = set(entrymod.queries())
    for name in entrymod.oracle_sql():
        assert name in names, f"oracle {name} has no queries() entry"
