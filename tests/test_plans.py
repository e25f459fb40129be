"""Physical-plan audits: not "does it return the right rows" but "is
this the plan you'd accept on a 1000-executor cluster" (pushdown,
pruning, broadcast, top-k without global sort)."""

import pytest
from pyspark.sql import functions as F

from vfs_spark.operators.knn import exact_knn, hydrate
from vfs_spark.plans import explain as ex
from vfs_spark.sources.parquet import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_point_lookup_pushes_filter(emb):
    df = emb.where(F.col("vec_id") == 42).select("vec_id", "label")
    ex.assert_pushed_filters(df, "EqualTo(vec_id,42)")


def test_minhash_verify_scan_pushes_id_bounds(spark, sf_dir):
    """The MinHash verify stage's doc re-scan must carry the candidate
    id BETWEEN bounds down to the Parquet scan (row-group pruning on
    an id-clustered store) — not rely on the join alone."""
    from vfs_spark.operators.dedup import minhash_native_pairs

    docs = load_table(spark, sf_dir, "documents")
    df = minhash_native_pairs(docs, jaccard_threshold=0.5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(doc_id" in plan, plan[:2000]
    assert "LessThanOrEqual(doc_id" in plan, plan[:2000]


def test_scan_prunes_columns(emb):
    df = emb.select("vec_id", "label")
    ex.assert_read_schema_only(df, ["vec_id", "label"])


def test_exact_knn_is_take_ordered(emb):
    q = emb.first()["embedding"]
    df = exact_knn(emb, q, k=5)
    ex.assert_take_ordered(df)


def test_hydrate_is_broadcast_join(emb):
    q = emb.first()["embedding"]
    hits = exact_knn(emb, q, k=5)
    ex.assert_broadcast_join(hydrate(hits, emb))


def test_star_join_broadcasts_dims(spark, sf_dir):
    from vfs_spark.queries.relational import q_join_region_revenue

    df = q_join_region_revenue(spark, sf_dir)
    ex.assert_broadcast_join(df)
    ex.assert_no_cartesian(df)


def test_knn_batch_no_shuffle_of_big_side(spark, sf_dir, emb):
    """The broadcast side is the query set; the vector table must not
    appear under an Exchange before the distance projection."""
    from vfs_spark.operators.knn import knn_batch

    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = ex.formatted_plan(knn_batch(emb, queries, k=2))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_distance_expr_stays_in_codegen(emb):
    q = emb.first()["embedding"]
    df = exact_knn(emb, q, k=5)
    assert ex.codegen_stage_count(df) >= 1
    assert "BatchEvalPython" not in ex.formatted_plan(df)  # no row-Python


def test_semi_anti_joins_stay_joins(spark, sf_dir):
    """Semi/anti must plan as (broadcast) hash joins, not rewrite into
    aggregates or cartesian shapes."""
    from vfs_spark.queries.registry import QUERIES

    semi = ex.formatted_plan(QUERIES["join_semi_customers"](spark, sf_dir))
    anti = ex.formatted_plan(QUERIES["join_anti_customers"](spark, sf_dir))
    assert "LeftSemi" in semi and "CartesianProduct" not in semi
    assert "LeftAnti" in anti and "CartesianProduct" not in anti


def test_asof_join_single_shuffle(spark, sf_dir):
    """The union-tag as-of join must shuffle exactly once (on user_id
    for the window) — no join operator, no pair explosion."""
    from vfs_spark.queries.registry import QUERIES

    plan = ex.plan_tree(QUERIES["asof_join_events"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_sessionize_single_shuffle_no_python(spark, sf_dir):
    """Batch sessionization is a pure window plan: one hash shuffle on
    user_id shared by both windows AND the final aggregate (HashPartitioning
    on user_id satisfies clustering on (user_id, sess_no)); no Python
    eval node anywhere — the Arrow kernel is reserved for streaming."""
    from vfs_spark.queries.registry import QUERIES

    plan = ex.plan_tree(QUERIES["sessionize_events"](spark, sf_dir))
    assert plan.count("Exchange") == 1
    for py_node in ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert py_node not in plan


def test_rollup_single_scan(spark, sf_dir):
    from vfs_spark.queries.registry import QUERIES

    plan = ex.plan_tree(QUERIES["agg_rollup_revenue"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan  # grouping-sets expansion, map-side


def test_simhash_band_join_no_cartesian(spark, sf_dir):
    """The registered slug eagerly checkpoints its verified pairs (the
    pin-release discipline), so its visible plan is a ckpt stub —
    inspect the private LAZY plan to assert the banded self-join is an
    equi hash/merge join, never a cartesian."""
    from vfs_spark.operators.dedup import (
        _band_pairs,
        _hamming_bands,
        simhash_fingerprints,
    )
    from vfs_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    bands = _hamming_bands(simhash_fingerprints(docs), "doc_id", "simhash", 3)
    df = _band_pairs(bands, "doc_id", 3, "doc_a", "doc_b")
    plan = ex.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_jaccard_prefix_join_no_cartesian(spark, sf_dir):
    """The exact prefix-filtered similarity join (round 12) must plan
    its candidate generation as an equi join on (block, element) —
    never a cartesian/nested-loop pair explosion — and its final
    predicate must verify with the exact jaccard. The public op pins
    and checkpoints, so this inspects its private lazy plan over the
    distinct-element sets it pins."""
    from vfs_spark.functions.text import word_shingles
    from vfs_spark.operators.dedup import _jaccard_prefix_plan
    from vfs_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", "lang", F.array_distinct(word_shingles("text")).alias("shingles")
    )
    df = _jaccard_prefix_plan(
        sh, 0.3, "doc_id", "lang", "shingles", "doc_a", "doc_b"
    )
    plan = ex.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


@pytest.mark.parametrize("slug", ["ann_pq_batch", "ann_ivfpq_batch"])
def test_batch_rerank_scans_embeddings_once(spark, sf_dir, slug):
    """The batch rerank takes its query vectors from the collected
    serving batch: the embeddings table is scanned once (the rerank's
    hydration), with no second scan under the query broadcast."""
    import re

    from vfs_spark.queries.registry import QUERIES

    plan = ex.formatted_plan(QUERIES[slug](spark, sf_dir))
    scans = re.findall(r"Location: InMemoryFileIndex[^\n]*embeddings", plan)
    assert len(scans) == 1, plan


def test_sql_exists_decorrelates_to_semi_join(spark, sf_dir):
    from vfs_spark.queries.registry import QUERIES

    plan = ex.plan_tree(QUERIES["sql_exists_customers"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "Subquery" not in plan  # fully decorrelated, no per-row exec


def test_range_join_is_equi_join(spark, sf_dir):
    """The bucketed interval join must plan as an equi hash/merge join
    on (key, bucket) — never a cartesian/nested-loop pair explosion."""
    from vfs_spark.queries.registry import QUERIES

    plan = ex.formatted_plan(QUERIES["range_join_view_attribution"](spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_grouping_sets_expand_single_scan(spark, sf_dir):
    """GROUPING SETS must plan as one scan + map-side Expand, like
    rollup/cube — not one scan per set."""
    from vfs_spark.queries.registry import QUERIES

    plan = ex.plan_tree(QUERIES["agg_grouping_sets"](spark, sf_dir))
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 2  # orders + customer, once each


def test_min_cost_supplier_broadcasts_dims(spark, sf_dir):
    """The Q2 analogue: supplier/nation/region and part are broadcast
    dims; no cartesian anywhere; the rank window rides a partkey
    shuffle (no per-part subquery rescan)."""
    from vfs_spark.queries.registry import QUERIES

    df = QUERIES["join_min_cost_supplier"](spark, sf_dir)
    ex.assert_broadcast_join(df)
    ex.assert_no_cartesian(df)


def test_time_bucket_cascade_two_aggregates_one_scan(spark, sf_dir):
    """The cascade reads raw events ONCE (minute grain), then
    re-aggregates the minute rows — two HashAggregate pairs, one scan."""
    from vfs_spark.queries.registry import QUERIES

    plan = ex.plan_tree(QUERIES["agg_time_bucket_cascade"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1


def test_disjunctive_predicate_reaches_both_scans(spark, sf_dir):
    """Q19-shape: the OR-of-ANDs must decompose into per-table
    residuals pushed to BOTH parquet scans (quantity disjunction →
    lineitem, brand/size disjunction → part), not evaluate only
    post-join."""
    from vfs_spark.queries.registry import QUERIES

    plan = ex.formatted_plan(QUERIES["agg_disjunctive_revenue"](spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_quantity" in l and "Or(" in l for l in pushed)
    assert any("p_brand" in l and "Or(" in l for l in pushed)


def test_nation_volume_broadcasts_prefiltered_dims(spark, sf_dir):
    """Q7-shape: the two-nation filter must reach the nation scan
    (PushedFilters carries the IN), both dim chains broadcast, and the
    fact side never cartesians."""
    from vfs_spark.queries.registry import QUERIES

    df = QUERIES["join_nation_volume"](spark, sf_dir)
    plan = ex.formatted_plan(df)
    ex.assert_broadcast_join(df)
    ex.assert_no_cartesian(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("n_name" in l and "In(" in l for l in pushed)


def test_market_share_single_fact_shuffle(spark, sf_dir):
    """Q8-shape: every dim (part/supplier/nation/region/customer) is a
    broadcast build side; the only SortMergeJoin allowed is
    orders⋈lineitem."""
    from vfs_spark.queries.registry import QUERIES

    df = QUERIES["agg_market_share"](spark, sf_dir)
    plan = ex.formatted_plan(df)
    ex.assert_no_cartesian(df)
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") <= 1


def test_returned_items_take_ordered(spark, sf_dir):
    """Q10-shape: top-20 must be TakeOrderedAndProject over the
    aggregate, and the returnflag equality must push to the lineitem
    scan."""
    from vfs_spark.queries.registry import QUERIES

    df = QUERIES["join_returned_items"](spark, sf_dir)
    plan = ex.formatted_plan(df)
    ex.assert_take_ordered(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_returnflag" in l and "EqualTo" in l for l in pushed)


def test_top_supplier_window_over_aggregate(spark, sf_dir):
    """Q15-shape: the rank-1 window must run over the per-supplier
    AGGREGATE (100 rows), never over raw lineitem — the Window node
    sits above HashAggregate in the tree."""
    from vfs_spark.queries.registry import QUERIES

    plan = ex.plan_tree(QUERIES["window_top_supplier"](spark, sf_dir))
    assert "Window" in plan
    w_pos = plan.index("Window")
    agg_positions = [i for i in range(len(plan)) if plan.startswith("HashAggregate", i)]
    assert any(p > w_pos for p in agg_positions)  # an aggregate feeds the window


def test_small_qty_threshold_broadcast_no_rescan(spark, sf_dir):
    """Q17-shape: the decorrelated per-part AVG must join back via
    broadcast (thresholds are |parts-per-brand| rows) with no subquery
    re-execution and no cartesian."""
    from vfs_spark.queries.registry import QUERIES

    df = QUERIES["agg_small_qty_revenue"](spark, sf_dir)
    plan = ex.formatted_plan(df)
    ex.assert_no_cartesian(df)
    assert "BroadcastHashJoin" in plan
    assert "Subquery" not in plan


def test_priority_exists_is_semi_join(spark, sf_dir):
    """Q4-shape: the correlated inequality EXISTS must plan as a LEFT
    SEMI join carrying the date comparison — no distinct, no subquery
    node."""
    from vfs_spark.queries.registry import QUERIES

    plan = ex.plan_tree(QUERIES["agg_priority_exists"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "Subquery" not in plan


def test_idle_customers_anti_join_broadcast(spark, sf_dir):
    """Q22-shape: NOT EXISTS must be a broadcast LEFT ANTI join against
    the pre-distinct'd key set; the scalar threshold is a one-row
    broadcast, not a per-row subquery."""
    from vfs_spark.queries.registry import QUERIES

    plan = ex.plan_tree(QUERIES["agg_idle_customers"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """When a selective dim side can't broadcast (SMJ forced), Spark's
    runtime bloom filter must inject: the dim builds bloom_filter_agg
    and the fact side is pre-filtered by might_contain BEFORE its
    shuffle — the row-level runtime-pruning analogue of partition
    pruning, and the mechanism that keeps fact⋈fact shuffles bounded
    at 100 TB."""
    from vfs_spark.sources.parquet import load_table

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_source_cap_window_has_partial_group_limit(spark, sf_dir):
    """The skew-safety claim of sample_source_cap rests on Catalyst's
    WindowGroupLimit rewrite: a PARTIAL group-limit must sit below
    the exchange, so each map partition ships at most cap rows per
    source and a hot domain cannot flood one reducer. If an upgrade
    or a query rewrite ever loses the rewrite, this test fails
    before the claim silently becomes false."""
    from vfs_spark.queries.registry import QUERIES

    df = QUERIES["sample_source_cap"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan


def test_range_search_is_filter_only(spark, sf_dir):
    """range_search_radius must be a scan + filter + project — no
    exchange, no sort, no Python: the radius predicate IS the whole
    operator, embarrassingly parallel at any scale."""
    import vfs_spark.queries  # noqa: F401
    from vfs_spark.queries.registry import QUERIES

    plan = ex.formatted_plan(QUERIES["range_search_radius"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Sort" not in plan
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert bad not in plan
    assert "Filter" in plan


def test_heavy_hitters_only_candidates_shuffle(spark, sf_dir):
    """text_heavy_hitters' exact-verify aggregate must sit behind the
    candidate semi-join (broadcast), so the token->count exchange
    carries candidate tokens only — the full-vocabulary shuffle the
    local-threshold pass exists to avoid. The candidate pass itself is
    the allowlisted Arrow kernel."""
    import vfs_spark.queries  # noqa: F401
    from vfs_spark.queries.registry import QUERIES

    import re

    plan = ex.formatted_plan(QUERIES["text_heavy_hitters"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # candidates attach in scan stage
    # The verify aggregate's exchange must sit ABOVE the candidate
    # semi-join in the tree, i.e. the token->count shuffle carries
    # join-pruned rows. (ADVICE r7: the old global max(exchange id) >
    # max(join id) check could be satisfied by a shuffle in a sibling
    # subtree — anchor to the actual tree instead: parse the formatted
    # tree by indentation, take the TOPMOST HashAggregate (the final
    # verify agg), require its direct child to be an Exchange, and
    # require the BroadcastHashJoin to live INSIDE that Exchange's
    # subtree.)
    tree = plan.split("\n\n")[0]
    nodes = []  # (depth, name) in top-down print order
    for line in tree.splitlines():
        m = re.match(r"^([ :+\-*]*)([A-Za-z][\w ]*?) \(\d+\)", line)
        if m:
            nodes.append((len(m.group(1)) // 3, m.group(2).strip()))
    agg_idx = next(
        i for i, (_, name) in enumerate(nodes) if name == "HashAggregate"
    )
    agg_depth = nodes[agg_idx][0]
    child_depth, child_name = nodes[agg_idx + 1]
    assert (child_depth, child_name) == (agg_depth + 1, "Exchange"), (
        f"final HashAggregate is not fed by an Exchange: {nodes[agg_idx + 1]}"
    )
    subtree = []
    for depth, name in nodes[agg_idx + 2 :]:
        if depth <= child_depth:
            break
        subtree.append(name)
    assert any(name.startswith("BroadcastHashJoin") for name in subtree), (
        "candidate semi-join is not inside the verify exchange's "
        f"subtree: {subtree}"
    )


def test_chunk_provenance_no_shuffle(spark, sf_dir):
    """text_chunk_provenance is a pure projection + explode — no
    exchange, no sort, no Python anywhere in the plan (the chunk text
    widens rows, so an accidental shuffle here would move the whole
    corpus ×1.33)."""
    import vfs_spark.queries  # noqa: F401
    from vfs_spark.queries.registry import QUERIES

    plan = ex.formatted_plan(QUERIES["text_chunk_provenance"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Sort" not in plan
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert bad not in plan
    assert "Generate" in plan  # the explode


def test_dedup_url_single_partial_agg_shuffle(spark, sf_dir):
    """dedup_url must be scan → regexp projection → partially
    aggregated groupBy: exactly ONE exchange, carrying (url_norm,
    partial min/count) — never raw documents — and no Python."""
    import vfs_spark.queries  # noqa: F401
    from vfs_spark.queries.registry import QUERIES

    plan = ex.formatted_plan(QUERIES["dedup_url"](spark, sf_dir))
    n_exchanges = plan.split("\n\n")[0].count("Exchange")
    assert n_exchanges == 1, plan.split("\n\n")[0]
    assert "HashAggregate" in plan
    assert "partial_min" in plan or "Partial" in plan  # map-side combine
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert bad not in plan


def _tree_nodes(plan):
    """(depth, name) list from a formatted plan's tree section —
    the indentation-anchored parse the heavy-hitters test introduced
    (ADVICE r7), shared by the retrieval plan pins below."""
    import re

    nodes = []
    for line in plan.split("\n\n")[0].splitlines():
        m = re.match(r"^([ :+\-*]*)([A-Za-z][\w ]*?) \(\d+\)", line)
        if m:
            nodes.append((len(m.group(1)) // 3, m.group(2).strip()))
    return nodes


@pytest.mark.parametrize(
    "slug", ["text_bm25_retrieval", "pipeline_rag_retrieval", "retrieval_eval_mrr"]
)
def test_bm25_postings_restricted_before_aggregate(spark, sf_dir, slug):
    """The scale claim of each _bm25_scored caller (doc, chunk and
    phrase terms): postings are cut to query terms in the scan stage
    (array_intersect against the broadcast term set) and joined to
    the query table by a BROADCAST hash join BEFORE the score
    aggregate's exchange — so the shuffle carries matching postings
    only, never the full term stream. Anchor: SOME exchange-fed
    HashAggregate (the score agg) must have a BroadcastHashJoin
    inside its exchange's subtree; and no SortMergeJoin anywhere (at
    fixture scale every join side is broadcastable — a SMJ would mean
    a corpus-sized side is being shuffled)."""
    import vfs_spark.queries  # noqa: F401
    from vfs_spark.queries.registry import QUERIES

    plan = ex.formatted_plan(QUERIES[slug](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    nodes = _tree_nodes(plan)
    candidates = [
        i
        for i, (d, n) in enumerate(nodes[:-1])
        if n == "HashAggregate" and nodes[i + 1] == (d + 1, "Exchange")
    ]
    assert candidates, "no exchange-fed HashAggregate in the plan"

    def subtree_of(i):
        ex_depth = nodes[i + 1][0]
        out = []
        for depth, name in nodes[i + 2 :]:
            if depth <= ex_depth:
                break
            out.append(name)
        return out

    # the score aggregate is the exchange-fed agg whose subtree holds
    # the term broadcast join (the query-side distinct agg has no join
    # under it — don't anchor to tree depth, anchor to content)
    assert any(
        any(n.startswith("BroadcastHashJoin") for n in subtree_of(i))
        for i in candidates
    ), (
        "no exchange-fed aggregate has the term broadcast join below "
        f"it — the token stream shuffles unrestricted: "
        f"{[subtree_of(i) for i in candidates]}"
    )


def test_sample_weighted_is_take_ordered(spark, sf_dir):
    """sample_weighted's top-k must plan as TakeOrderedAndProject
    (per-partition heap + driver merge of k rows) — never a global
    Sort of the corpus; the only Sort allowed is the post-limit rank
    window over <= k rows (which sits ABOVE the TakeOrdered in the
    tree)."""
    import vfs_spark.queries  # noqa: F401
    from vfs_spark.queries.registry import QUERIES

    plan = ex.formatted_plan(QUERIES["sample_weighted"](spark, sf_dir))
    nodes = _tree_nodes(plan)
    tako = [i for i, (_, n) in enumerate(nodes) if "TakeOrderedAndProject" in n]
    assert tako, f"no TakeOrderedAndProject: {[n for _, n in nodes]}"
    # any Sort must be strictly above (printed before, shallower-or-equal
    # subtree) the TakeOrdered — i.e. the k-row window sort, not a
    # corpus sort feeding it
    deepest_tako = max(tako, key=lambda i: nodes[i][0])
    for i, (_, n) in enumerate(nodes):
        if n == "Sort":
            assert i < deepest_tako, (
                "a Sort sits below TakeOrderedAndProject — corpus-wide sort"
            )
