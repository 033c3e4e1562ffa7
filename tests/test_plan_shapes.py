"""Physical-plan regression guards.

Locks the optimizer properties the engine's scale story depends on:
filter pushdown into parquet scans, column pruning, broadcast joins for
dim tables, and WindowGroupLimit (partial top-k before the shuffle) in
the kNN plan. A change that silently loses one of these would still pass
value tests but regress at scale — these tests fail it early.
"""

import contextlib
import io
import re

import __spark_entry__ as em


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_pricing_filter_pushed_to_scan(spark, sf_dir):
    p = _formatted(em.q_pricing_summary(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p


def test_pricing_column_pruning(spark, sf_dir):
    p = _formatted(em.q_pricing_summary(spark, sf_dir))
    schema_line = next(ln for ln in p.splitlines() if "ReadSchema" in ln)
    assert "l_orderkey" not in schema_line  # unused columns never read
    assert "l_quantity" in schema_line


def test_nway_join_broadcasts_dims(spark, sf_dir):
    p = _formatted(em.q_nway_left_join(spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 2  # nation + region at minimum
    assert "CartesianProduct" not in p


def test_tile_encode_prunes_to_id_column(spark, sf_dir):
    p = _formatted(em.q_tile_encode(spark, sf_dir))
    schema_line = next(ln for ln in p.splitlines() if "ReadSchema" in ln)
    assert "event_id" in schema_line
    assert "props" not in schema_line and "value" not in schema_line


def test_knn_uses_partial_topk_pushdown(spark, sf_dir):
    p = _formatted(em.q_knn(spark, sf_dir))
    assert "WindowGroupLimit" in p  # rank<=k applied before the final sort
    assert "CartesianProduct" not in p


def test_distance_join_no_cartesian(spark, sf_dir):
    p = _formatted(em.q_distance_join(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "NestedLoop" not in p


def test_spatial_assembly_broadcasts_test_flag(spark, sf_dir):
    p = _formatted(em.q_spatial_assembly(spark, sf_dir))
    assert "BroadcastHashJoin" in p


# --- round-2 additions: snapshot every headline query (VERDICT r1 #9) ------


def test_dedup_minhash_drops_signatures_before_shuffle(spark, sf_dir):
    """The LSH shuffle must carry (id, id, double), never the 64-long
    signature arrays (the 40x shrink of dedup.py)."""
    from geocore_spark.operators import dedup

    d = em._t(spark, sf_dir, "documents").limit(200)
    p = _formatted(dedup.minhash_lsh_pairs(d))
    # find the pair-dedup exchange: hashpartitioning on (id_a, id_b); its
    # Input row list must not carry the signature arrays
    lines = p.splitlines()
    dedup_exchanges = [
        i
        for i, ln in enumerate(lines)
        if "hashpartitioning(id_a" in ln and "id_b" in ln
    ]
    assert dedup_exchanges, "expected the (id_a, id_b) dedup exchange"
    for i in dedup_exchanges:
        input_line = next(
            ln for ln in lines[i - 3 : i] if ln.startswith("Input")
        )
        assert "sig" not in input_line, input_line
    assert "CartesianProduct" not in p and "NestedLoop" not in p


def test_pip_rect_join_broadcasts_rects(spark, sf_dir):
    p = _formatted(em.q_pip_rect_join(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p


def test_pip_polygon_join_refines_in_the_jvm(spark):
    """The polygon join probes the broadcast cover frame with one hash
    join and refines boundary candidates with a Column expression: the
    executed plan has no Python evaluation node."""
    from geocore_spark.operators import spatial_join
    from geocore_spark.sources import polygons as pgn

    pts = spark.createDataFrame(
        [(i, -50.0 + i * 0.37, -170.0 + i * 1.3) for i in range(260)],
        "id long, lat double, lon double",
    )
    out = spatial_join.pip_polygon_join(pts, pgn.polygon_layer(spark, 24))
    out.collect()
    p = _formatted(out)
    assert "isFinalPlan=true" in p
    assert "BroadcastHashJoin" in p and "CartesianProduct" not in p
    for node in ("ArrowEvalPython", "BatchEvalPython", "PythonUDF"):
        assert node not in p, node
    # the cover probe is one bigint key (an attribute's ``L`` suffix
    # marks a LongType), not a (res, cell string) pair
    assert re.search(r"Left keys \[1\]: \[__key#\d+L\]", p), p
    assert re.search(r"Right keys \[1\]: \[__cover_key#\d+L\]", p), p


def _ring_points(spark, n, seed):
    import numpy as np

    rng = np.random.default_rng(seed)
    lat, lon = rng.uniform(30, 50, n), rng.uniform(-10, 10, n)
    return spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(lat, lon))],
        "id long, lat double, lon double",
    )


def _assert_ring_candidates(p: str) -> None:
    """A k-ring candidate join: one bigint equi-join key, built without a
    lambda, array_distinct or a string cell id."""
    assert "isFinalPlan=true" in p
    assert re.search(r"Left keys \[1\]: \[__ring_cell#\d+L\]", p), p
    assert re.search(r"Right keys \[1\]: \[__ring_key#\d+L\]", p), p
    for expr in ("lambdafunction", "array_distinct", "concat_ws"):
        assert expr not in p.lower(), expr


def test_distance_join_candidates_on_a_bigint_key(spark):
    from geocore_spark.operators import spatial_join

    out = spatial_join.distance_join(_ring_points(spark, 200, 1), _ring_points(spark, 50, 2), 50.0)
    out.collect()
    _assert_ring_candidates(_formatted(out))


def test_knn_round_one_candidates_on_a_bigint_key(spark, monkeypatch):
    from geocore_spark.operators import knn, spatial_join

    rounds = []

    def recorded(*args):
        rounds.append(spatial_join.ring_join(*args))
        return rounds[-1]

    monkeypatch.setattr(knn, "ring_join", recorded)
    pts = _ring_points(spark, 120, 3)
    knn.knn_join(pts, pts, k=3, res=6).collect()
    rounds[0].collect()
    _assert_ring_candidates(_formatted(rounds[0]))


def test_embedding_topk_broadcast_no_shuffle_of_corpus(spark, sf_dir):
    p = _formatted(em.q_embedding_topk(spark, sf_dir))
    assert "WindowGroupLimit" in p  # partial top-k before final rank
    assert "CartesianProduct" not in p


def test_topk_per_group_partial_limit(spark, sf_dir):
    p = _formatted(em.q_topk_per_group(spark, sf_dir))
    assert "WindowGroupLimit" in p


def test_hour_bucket_join_single_shuffle_grain(spark, sf_dir):
    """The windowed agg and the join back must share the (user_id-keyed)
    exchange — no cartesian, no nested loop."""
    p = _formatted(em.q_hour_bucket_join(spark, sf_dir))
    assert "CartesianProduct" not in p and "NestedLoop" not in p


def test_text_signals_stays_jvm_side(spark, sf_dir):
    """All five text capabilities are pure-Column: no Python eval nodes."""
    p = _formatted(em.q_text_signals(spark, sf_dir))
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_zonal_stats_no_cartesian(spark, sf_dir):
    p = _formatted(em.q_zonal_stats(spark, sf_dir))
    assert "CartesianProduct" not in p


def test_dwithin_rewrite_query_kills_cartesian(spark, sf_dir):
    p = _formatted(em.q_dwithin_rewrite(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_robots_gate_pure_column_decision(spark, sf_dir):
    """The per-URL allow decision is pure Column against broadcast rules —
    the only Python stage is the per-host rule parse (tiny side)."""
    p = _formatted(em.q_robots_gate(spark, sf_dir))
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p


def test_pii_scrub_narrow_no_shuffle(spark, sf_dir):
    """The scrub chain is scan-side: no exchange, no Python eval."""
    p = _formatted(em.q_pii_scrub(spark, sf_dir))
    assert "Exchange" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_doc_chunks_narrow_no_shuffle(spark, sf_dir):
    """Chunking is explode-on-scan: no exchange, no Python eval, and the
    scan reads only (doc_id, text)."""
    p = _formatted(em.q_doc_chunks(spark, sf_dir))
    assert "Exchange" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "n_chars" not in p  # column pruning: untouched columns stay out


def test_corpus_mix_narrow_no_shuffle(spark, sf_dir):
    """Sampling + split are pure Column filters/projections — one scan,
    zero exchanges."""
    p = _formatted(em.q_corpus_mix(spark, sf_dir))
    assert "Exchange" not in p


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_dir):
    """Corpus side joins the broadcast benchmark grams — no sort-merge
    join of the corpus, and the ONLY shuffle is the per-doc aggregation
    over matched grams (a pre-join dedup of the full gram stream would
    add a second shuffle keyed on |corpus grams|)."""
    p = _formatted(em.q_decontaminate(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    # exactly 3 distinct shuffle exchanges: the benchmark-side distinct
    # (benchmark-sized) + the two-phase count_distinct AFTER the join
    # (bounded by matched grams). A pre-join dedup of the corpus gram
    # stream — the |corpus grams| shuffle this design forbids — adds a 4th.
    import re as _re

    shuffle_ids = {
        m.group(1)
        for m in _re.finditer(r"\((\d+)\) Exchange\b", p)
    }
    assert len(shuffle_ids) == 3, sorted(shuffle_ids)


def test_embedding_dedup_corpus_broadcast(spark, sf_dir):
    """Exact pair scan: one side broadcast, no shuffle of the pair space."""
    p = _formatted(em.q_embedding_dedup(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p  # theta join (id_a < id_b) by design
    assert "CartesianProduct" not in p


def test_line_dedup_anti_join_no_cartesian(spark, sf_dir):
    p = _formatted(em.q_line_dedup(spark, sf_dir))
    # banned-line removal must be an anti join (broadcast or shuffled-hash,
    # AQE's call) — never a nested-loop / cartesian shape
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    # the detection agg partially collapses map-side before its shuffle
    assert "partial_count" in p


def test_vocab_topk_take_ordered_not_full_sort(spark, sf_dir):
    p = _formatted(em.q_vocab_topk(spark, sf_dir))
    # top-k must be TakeOrderedAndProject (bounded heap), not Sort+Limit
    assert "TakeOrderedAndProject" in p


def test_tfidf_partial_topk_and_scalar_broadcast(spark, sf_dir):
    p = _formatted(em.q_tfidf_terms(spark, sf_dir))
    # per-doc rank<=k applied before the final window sort
    assert "WindowGroupLimit" in p
    # the 1-row corpus-size aggregate rides a broadcast, not a shuffle
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_lm_perplexity_plan_shape(spark, sf_dir):
    p = _formatted(em.q_lm_perplexity(spark, sf_dir))
    # the vocab scalar rides a 1-row broadcast, never a real product
    assert "CartesianProduct" not in p
    # map-side partial aggregation on both the count build and the
    # per-doc sum (the order-independent BIGINT accumulation)
    assert p.count("HashAggregate") >= 4
    schema_line = next(ln for ln in p.splitlines() if "ReadSchema" in ln)
    assert "text" in schema_line and "source" not in schema_line


def test_inverted_index_single_shuffle(spark, sf_dir):
    p = _formatted(em.q_inverted_index(spark, sf_dir))
    assert "CartesianProduct" not in p
    # (term,doc) dedup exchange + term rollup exchange + output range sort;
    # anything more means the tf/postings sides stopped sharing the scan
    assert p.count("Exchange (") <= 3


def test_host_links_single_shuffle_no_python(spark, sf_dir):
    p = _formatted(em.q_host_links(spark, sf_dir))
    # href extraction + host parsing are JVM regexps: no Python boundary
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    # one exchange: the (src_host, dst_host) rollup; extraction is map-side
    assert p.count("Exchange (") <= 1


def test_host_centrality_iteration_reuses_state(spark, sf_dir):
    p = _formatted(em.q_host_centrality(spark, sf_dir))
    assert "CartesianProduct" not in p
    # each HyperBall round reads the previous state from its
    # localCheckpoint (lineage TRUNCATED — an untruncated iterative plan
    # doubles per round), never a recomputed lineage to the edge build
    assert "Scan ExistingRDD" in p
    # the whole loop is JVM DataSketches aggregates — no Python workers
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_bm25_plan_shape(spark, sf_dir):
    p = _formatted(em.q_bm25_topk(spark, sf_dir))
    # top-k is a bounded heap, never a full sort of the match set
    assert "TakeOrderedAndProject" in p
    # scoring is pure Column (micro-point snap included): no Python workers
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    # lang/source/n_chars pruned from every documents scan
    for ln in p.splitlines():
        if "ReadSchema" in ln:
            assert "lang" not in ln and "n_chars" not in ln


def test_dsir_plan_shape(spark, sf_dir):
    p = _formatted(em.q_dsir_weights(spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # the totals/vocab scalars ride 1-row broadcasts, never a real product
    assert "CartesianProduct" not in p
    # the vocabulary-sized count tables broadcast onto the token stream
    assert p.count("BroadcastHashJoin") >= 2


def test_semdedup_plan_shape(spark, sf_dir):
    p = _formatted(em.q_semantic_dedup(spark, sf_dir))
    # centroid assignment is a broadcast of C rows, cluster-bounded pairs
    # join hash-partitions on cluster_id — never an unbounded product
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_semantic_decontam_partial_agg_not_window(spark, sf_dir):
    p = _formatted(em.q_semantic_decontam(spark, sf_dir))
    # the per-corpus-row max collapses map-side: partial agg before ONE
    # exchange (plus the eval-set broadcast), never a window over the
    # N*E product and never a Python worker
    assert "Window" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # one shuffle exchange + the eval-set BroadcastExchange, nothing more
    assert p.count("Exchange (") <= 2
    assert "BroadcastExchange" in p


def test_geohash_pure_column_no_python(spark, sf_dir):
    p = _formatted(em.q_geohash(spark, sf_dir))
    # unrolled shift/mask + base32 lookup is all JVM codegen
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    # exactly one shuffle: the gh4 prefix-count window
    assert p.count("Exchange (") <= 1


def test_classifier_score_single_scan_single_shuffle(spark, sf_dir):
    """One corpus scan, vocab broadcast (LEFT, never sort-merge), and the
    only shuffle is the per-doc partial-agg collapse — the plan the
    module docstring promises. A regression to the two-scan inner-join +
    re-join shape doubles the 100 TB read and adds an SMJ."""
    import re as _re

    p = _formatted(em.q_classifier_score(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert len(_re.findall(r"\(\d+\) Scan parquet", p)) == 1
    # exactly one HASH shuffle (the per-doc agg collapse); the range
    # exchange is the query wrapper's output orderBy, not the operator
    hash_shuffles = _re.findall(r"Arguments: hashpartitioning", p)
    assert len(hash_shuffles) == 1, p


def test_duplicate_spans_caches_tokens_not_windows(spark, sf_dir):
    """The persisted frame is the token array (~input-sized), never the
    w-times-expanded window stream; text is read from parquet exactly
    once (every consumer derives from the cache)."""
    import re as _re

    p = _formatted(em.q_duplicate_spans(spark, sf_dir))
    assert "InMemoryRelation" in p
    assert len(set(_re.findall(r"\((\d+)\) Scan parquet", p))) == 1
    # the cached relation holds the token array, pre-posexplode
    cache_args = _re.findall(
        r"\(\d+\) InMemoryRelation\nArguments: ([^\n]*)", p
    )
    assert cache_args and all("__t" in a for a in cache_args), cache_args
    assert not any("gram" in a for a in cache_args), cache_args


def test_pagerank_iteration_reuses_edge_cache(spark):
    """The PageRank iteration's big side (the persisted edge-share
    frame) must come out of the cache ALREADY hash-partitioned on
    src_host: the join plans exchanges only for the rank vector and the
    dst_host aggregate — never for the edge set. A refactor that drops
    the up-front co-partition re-shuffles all edges every iteration
    (the 100M-edge bottleneck the BENCH graph leg measured)."""
    from pyspark.sql import functions as F

    from geocore_spark.operators import links

    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "a", 2), ("c", "a", 1), ("a", "d", 1)],
        "src_host string, dst_host string, n_links int",
    )
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ew = links._edge_shares(edges, weighted=True).persist()
        ew.count()  # materialize the cache like pagerank does
        ranks = spark.createDataFrame(
            [("a", 0.25), ("b", 0.25), ("c", 0.25), ("d", 0.25)],
            "host string, rank double",
        )
        step = (
            ranks.join(ew, ranks["host"] == ew["src_host"])
            .groupBy("dst_host")
            .agg(F.sum(F.col("rank") * F.col("__share")).alias("__c"))
        )
        p = _formatted(step)
        assert "InMemoryTableScan" in p, p
        # exactly two shuffles in the OUTER query (the tree section
        # before the InMemoryRelation's nested cached plan): the rank
        # vector meeting the cache's partitioning, and the dst_host
        # aggregation — the cached edge side contributes none, and
        # needs no Sort either (the cache carries src_host order)
        outer = p.split("InMemoryRelation", 1)[0]
        assert outer.count("Exchange") == 2, p
        assert outer.count("- Sort (") == 1, p  # only the ranks side sorts
    finally:
        ew.unpersist()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


def _nodes(plan: str, name: str) -> int:
    """Count physical nodes in explain('formatted') output by their
    detail-section header '(N) Name' — each node appears once there
    (the tree section would double-count)."""
    import re

    return len(re.findall(rf"^\(\d+\) {name}\b", plan, re.M))


def test_geometric_smooth_single_sort(spark, sf_dir):
    """All W lag() columns must share ONE window spec: exactly one
    Window node and one window exchange (+ the output orderBy's range
    exchange). A refactor giving each lag its own window would
    multiply the sort cost by W."""
    p = _formatted(em.q_ewma_smooth(spark, sf_dir))
    assert _nodes(p, "Window") == 1
    assert _nodes(p, "Exchange") == 2  # window hash + output range sort


def test_max_drawdown_one_window_sort(spark, sf_dir):
    """cumsum and running peak ride the SAME group-partitioned sort,
    and the final group agg REUSES the window's hash partitioning —
    two Window nodes, but only the window exchange + the orderBy range
    exchange in the whole plan."""
    p = _formatted(em.q_max_drawdown(spark, sf_dir))
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    assert _nodes(p, "Window") == 2
    assert _nodes(p, "Exchange") == 2


def test_histogram_no_window_no_sort_agg_path(spark, sf_dir):
    """Histogram is pure agg+join: no Window operator anywhere."""
    p = _formatted(em.q_histogram(spark, sf_dir))
    assert "Window" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_ab_test_single_aggregate_no_join(spark, sf_dir):
    """One conditional-sum groupBy: no join, no window in the plan."""
    p = _formatted(em.q_ab_test(spark, sf_dir))
    assert "Join" not in p and "Window" not in p


def test_attribution_no_cartesian(spark, sf_dir):
    """The lookback range predicate must ride the user equi-join."""
    p = _formatted(em.q_attribution(spark, sf_dir))
    assert "CartesianProduct" not in p and "NestedLoop" not in p
