"""Scale-property tests: plan shapes and skew/bucketing operators.

Correctness of results is the oracle suite's job; these tests pin the
*physical* properties that make the same plans viable at 100 TB —
pushdown reaching the scan, dims broadcasting, bucketed joins eliding
their shuffles, salted rewrites preserving results exactly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from simple_data_engineering_project_spark.operators.skew import (
    salted_agg,
    salted_skew_join,
)
from simple_data_engineering_project_spark.plans.catalog import catalog
from simple_data_engineering_project_spark.sources import save_bucketed


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


# ---------------------------------------------------------------- plans


def test_parquet_scan_pushes_filter_and_prunes(spark, sf_smoke):
    plan = _optimized(catalog()["scan_parquet_pushdown"].fn(spark, sf_smoke))
    assert "GreaterThanOrEqual(l_shipdate" in plan  # predicate at the reader
    # projection pruned to exactly the 3 selected columns
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read and "l_extendedprice" not in read


def test_dim_joins_broadcast_not_shuffle(spark, sf_smoke):
    plan = _plan(catalog()["join_broadcast_dims"].fn(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_flagship_single_aggregation_exchange(spark, sf_smoke):
    # nation/region are hinted broadcasts; customer is UNHINTED (it
    # grows with sf — a forced hint would OOM at sf100+), so AQE/stats
    # may pick either broadcast (≤1 exchange: the final groupBy) or
    # sort-merge for it (+2 exchanges for the join sides). Both are
    # acceptable; what is pinned is that the bounded dims never shuffle.
    df = catalog()["agg_value_by_region"].fn(spark, sf_smoke)
    plan = _optimized(df)
    import re

    exchanges = [
        l for l in plan.splitlines() if re.match(r"^\(\d+\) Exchange", l.strip())
    ]
    assert len(exchanges) <= 3, exchanges
    assert plan.count("BroadcastHashJoin") >= 2, plan  # nation, region
    # the hint set is exactly {nation, region} — re-hinting customer is
    # the round-5 scale defect (VERDICT "What's wrong #4")
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 2, analyzed


def test_partitioned_sink_prunes_directories(spark, sf_smoke):
    plan = _optimized(catalog()["sink_partitioned"].fn(spark, sf_smoke))
    # the 1997 filter must land as a partition (directory) filter on the
    # read-back scan, not a row-level post-filter
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "ship_year" in pf[0], plan


def test_topk_per_group_uses_window_group_limit(spark, sf_smoke):
    plan = _plan(catalog()["window_topk_per_group"].fn(spark, sf_smoke))
    # Catalyst rewrites rn<=k over row_number into a per-partition TopK
    assert "WindowGroupLimit" in plan, plan


def test_q3_dim_filter_broadcasts(spark, sf_smoke):
    plan = _plan(catalog()["tpch_q3_shipping_priority"].fn(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan


def test_q5_dim_chain_broadcasts(spark, sf_smoke):
    plan = _plan(catalog()["tpch_q5_local_supplier"].fn(spark, sf_smoke))
    # region→nation→supplier collapses to broadcasts; only li⋈o may shuffle
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_q10_filters_push_and_dims_broadcast(spark, sf_smoke):
    plan = _optimized(catalog()["tpch_q10_returned_items"].fn(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_returnflag" in l for l in pushed), plan
    assert any("o_orderdate" in l for l in pushed), plan


def test_q14_part_projection_pruned(spark, sf_smoke):
    plan = _optimized(catalog()["tpch_q14_promo_effect"].fn(spark, sf_smoke))
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    part_read = [l for l in reads if "p_type" in l][0]
    assert "p_name" not in part_read and "p_retailprice" not in part_read


def test_q19_part_side_disjunction_pushes(spark, sf_smoke):
    plan = _optimized(catalog()["tpch_q19_disjunctive_join"].fn(spark, sf_smoke))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    # Catalyst extracts the part-only OR (brand+size per branch) and
    # pushes it into the part scan; the quantity branches cover the
    # whole domain, so no lineitem bound exists — the cross-side
    # residual stays row-local after the broadcast join
    part_pushed = [l for l in pushed if "p_brand" in l]
    assert part_pushed and "Or(And(EqualTo(p_brand" in part_pushed[0], plan


def test_q6_predicates_reach_scan(spark, sf_smoke):
    plan = _optimized(catalog()["tpch_q6_forecast_revenue"].fn(spark, sf_smoke))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "l_shipdate" in pushed and "l_discount" in pushed, pushed
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read  # pruned to the 4 referenced columns


def test_compact_small_files(spark, sf_smoke, tmp_path):
    import os

    from simple_data_engineering_project_spark.pipeline import (
        compact_small_files,
    )
    from simple_data_engineering_project_spark.sources import read_table

    path = str(tmp_path / "frag")
    ev = read_table(spark, sf_smoke, "events")
    ev.repartition(64).write.parquet(path)  # the small-file problem
    n_before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_before == 64
    rows_before = ev.count()

    n_after = compact_small_files(
        spark, path, target_file_bytes=16 * 1024 * 1024, sort_cols=["ts"]
    )
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == n_after < n_before
    back = spark.read.parquet(path)
    assert back.count() == rows_before
    assert sorted(back.columns) == sorted(ev.columns)


def test_compaction_stops_on_a_leftover_retired_directory(spark, tmp_path):
    # a .{name}_retired directory left by an unfinished commit may hold
    # the only copy of the data: compaction raises before writing
    # anything and keeps it
    import os

    from simple_data_engineering_project_spark.pipeline import (
        compact_small_files,
    )

    def tree(root):
        out = {}
        for dirpath, _dirs, files in os.walk(root):
            for fn in files:
                with open(os.path.join(dirpath, fn), "rb") as f:
                    out[os.path.relpath(os.path.join(dirpath, fn), root)] = f.read()
        return out

    path = str(tmp_path / "frag")
    spark.range(200).repartition(8).write.parquet(path)
    retired = str(tmp_path / ".frag_retired")
    spark.range(50).write.parquet(f"{retired}/__full__")
    before = (tree(path), tree(retired))
    with pytest.raises(IOError, match=".frag_retired"):
        compact_small_files(spark, path)
    assert (tree(path), tree(retired)) == before
    assert sorted(os.listdir(tmp_path)) == [".frag_retired", "frag"]


def _iter_physical_nodes(node):
    yield node
    # AdaptiveSparkPlanExec hides the real tree behind initialPlan (its
    # children() is empty — traversing only it makes this test vacuous)
    if node.nodeName().startswith("AdaptiveSparkPlan"):
        yield from _iter_physical_nodes(node.initialPlan())
        return
    for i in range(node.children().size()):
        yield from _iter_physical_nodes(node.children().apply(i))
    # subqueries (scalar/EXISTS) hang off expressions, not children
    sq = node.subqueries()
    for i in range(sq.size()):
        yield from _iter_physical_nodes(sq.apply(i))


def test_no_partitionless_window_anywhere(spark, sf_smoke):
    # A Window (or WindowGroupLimit) with an empty partition spec moves
    # the ENTIRE input through one task — the canonical 100 TB scale
    # killer (round-1 WARN WindowExec finding). Global-order semantics
    # must use the two-phase distributed rank instead
    # (window_ntile_percent is the template). Beware foldable partition
    # keys: Window.partitionBy(lit(...)) is OPTIMIZED AWAY to an empty
    # spec — partition columns must come from data.
    for name, q in sorted(catalog().items()):
        plan = q.fn(spark, sf_smoke)._jdf.queryExecution().executedPlan()
        for node in _iter_physical_nodes(plan):
            if "Window" in node.nodeName():
                assert (
                    node.partitionSpec().size() > 0
                ), f"{name}: partitionless {node.nodeName()}"


def test_ngram_novelty_first_doc_via_window_not_join(spark, sf_smoke):
    # round-9 verdict #4: per-gram first-doc must be a gram-partitioned
    # window MIN (one keyed exchange), not groupBy("gram") + equi-join
    # back (same shuffle PLUS a join exchange under AQE's worst case).
    # The entry's ONLY join is the final doc_id left join that restores
    # gramless documents.
    q = catalog()["ngram_novelty"]
    plan = q.fn(spark, sf_smoke)._jdf.queryExecution().executedPlan()
    joins = [
        n.nodeName()
        for n in _iter_physical_nodes(plan)
        if "Join" in n.nodeName()
    ]
    assert len(joins) == 1, joins
    gram_windows = [
        n
        for n in _iter_physical_nodes(plan)
        if "Window" in n.nodeName()
        and "gram" in n.partitionSpec().toString()
    ]
    assert gram_windows, "expected a gram-partitioned Window node"


def test_pagerank_rank_state_not_hinted(spark):
    # Rank state is O(|V|) — a forced broadcast hint on the edge⋈rank
    # join ignores the 64 MB threshold and OOMs executors at 10^9 nodes
    # (round-5 VERDICT "What's wrong #1"). The ONLY intentional hint is
    # the 1-row dangling-mass scalar: the round-11 shape materializes
    # the contribution state per iteration, so the analyzed plan is
    # constant-depth and carries exactly ONE live hint regardless of
    # iteration count. Re-hinting ranks/edges would raise it — pin it.
    from simple_data_engineering_project_spark.operators.graph import pagerank

    nodes = spark.range(5).select(F.col("id").alias("node"))
    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 2.0), (3, 0, 1.0)],
        "src long, dst long, weight double",
    )
    r = pagerank(nodes, edges, iterations=2)
    analyzed = r._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1, analyzed
    # invariant: Σ rank = 1 survives the hint removal (node 4 is
    # dangling, so the NULL-key fusion path is exercised)
    total = r.agg(F.sum("rank")).collect()[0][0]
    assert abs(total - 1.0) < 1e-9


def test_pagerank_null_endpoint_edges_dropped(spark):
    """Round-12 advice regression: the NULL-key dangling-mass fusion
    must not let a dirty edge row with a NULL dst masquerade as
    dangling mass (nor a NULL src contribute anything) — NULL-endpoint
    edges are filtered before the loop, so ranks equal the clean-edge
    run exactly."""
    from simple_data_engineering_project_spark.operators.graph import pagerank

    nodes = spark.range(5).select(F.col("id").alias("node"))
    clean = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 2.0), (3, 0, 1.0)],
        "src long, dst long, weight double",
    )
    dirty = clean.unionByName(
        spark.createDataFrame(
            [(0, None, 5.0), (None, 2, 3.0)],
            "src long, dst long, weight double",
        )
    )
    want = {
        r["node"]: r["rank"]
        for r in pagerank(nodes, clean, iterations=3).collect()
    }
    got = {
        r["node"]: r["rank"]
        for r in pagerank(nodes, dirty, iterations=3).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12, (k, got[k], want[k])


def test_pagerank_bounded_matches_distributed(spark):
    """Round-15 optimization regression: pagerank_bounded (driver-local
    iteration over the collected dimension-bounded graph) must agree
    with the distributed pagerank() far inside the entry's 6-dp output
    rounding — same normalization, dangling-mass redistribution, and
    NULL-endpoint filtering. Graph includes a dangling node, a
    multi-edge (src,dst) pair that the groupBy must pre-sum, and dirty
    NULL-endpoint rows."""
    from simple_data_engineering_project_spark.operators.graph import (
        pagerank,
        pagerank_bounded,
    )

    nodes = spark.range(6).select(F.col("id").alias("node"))
    edges = spark.createDataFrame(
        [
            (0, 1, 1.0),
            (1, 2, 1.0),
            (2, 0, 2.0),
            (3, 0, 1.0),
            (3, 0, 0.5),  # duplicate (src,dst): pre-sum to 1.5
            (4, 2, 3.0),
            (0, None, 5.0),  # dirty rows: dropped by both variants
            (None, 2, 3.0),
        ],
        "src long, dst long, weight double",
    )
    want = {
        r["node"]: r["rank"]
        for r in pagerank(nodes, edges, iterations=10).collect()
    }
    got = {
        r["node"]: r["rank"]
        for r in pagerank_bounded(nodes, edges, iterations=10).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_bounded_referential_drift_and_null_node(spark):
    """Round-15 review regression: an edge whose src or dst has NO node
    row (referential-integrity drift between fact-derived edges and the
    dim) must degrade exactly like pagerank() — the edge contributes
    nothing / its contribution is dropped — instead of raising KeyError
    driver-side; a NULL node row must survive (counted in n, receives
    base + damped dangling share, contributes to neither)."""
    from simple_data_engineering_project_spark.operators.graph import (
        pagerank,
        pagerank_bounded,
    )

    nodes = spark.createDataFrame(
        [(0,), (1,), (2,), (None,)], "node long"
    )
    edges = spark.createDataFrame(
        [
            (0, 1, 1.0),
            (1, 2, 1.0),
            (2, 0, 1.0),
            (7, 1, 4.0),   # src has no node row: contributes nothing
            (1, 9, 1.0),   # dst has no node row: mass vanishes, but
                           # it still halves node 1's share to node 2
        ],
        "src long, dst long, weight double",
    )
    want = {
        r["node"]: r["rank"]
        for r in pagerank(nodes, edges, iterations=8).collect()
    }
    got = {
        r["node"]: r["rank"]
        for r in pagerank_bounded(nodes, edges, iterations=8).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])


def test_pagerank_bounded_guard_raises_past_max_edges(spark):
    """The max_edges guard must RAISE (never sample) when the collected
    edge relation exceeds the cap — data-scale graphs belong on the
    distributed pagerank()."""
    import pytest as _pytest

    from simple_data_engineering_project_spark.operators.graph import (
        pagerank_bounded,
    )

    nodes = spark.range(40).select(F.col("id").alias("node"))
    edges = (
        spark.range(40)
        .select(F.col("id").alias("src"))
        .crossJoin(spark.range(40).select(F.col("id").alias("dst")))
        .select("src", "dst", F.lit(1.0).alias("weight"))
    )
    with _pytest.raises(ValueError, match="max_edges"):
        pagerank_bounded(nodes, edges, iterations=1, max_edges=100)


def test_media_and_tokenizer_entries_at_most_one_spread(spark, sf_smoke):
    # codec/sampling entries are scan → mapInPandas chains and bpe_apply
    # is a scan → row-local expression: at 100 TB these must stay
    # embarrassingly parallel. The ONLY allowed Exchange is the
    # deliberate _spread_docs hash-repartition that widens a
    # narrower-than-cluster input before the compute-heavy decode (a
    # no-op at scale); a second Exchange means a shuffle crept into the
    # per-row pipeline itself.
    for name in (
        "multimodal_mp4_frames",
        "multimodal_mkv_frames",
        "multimodal_webp",
        "multimodal_g711",
        "multimodal_flac",
        "multimodal_tiff",
        "multimodal_pdf",
        "multimodal_jpeg_pixels",
        "multimodal_gif",
        "warc_extract",
        "webdataset_read",
        "tfrecord_read",
        "avro_read",
        "multimodal_gif_frames",
        "bpe_apply",
        # round-6 wave 3
        "zip_read",
        "multimodal_ogg_packets",
        "multimodal_mp3_meta",
        "multimodal_exif",
        "npz_read",
        "safetensors_read",
        "arrow_ipc_read",
        "subtitles_parse",
        "mlm_mask_plan",
        "mp3_id3_tags",
    ):
        plan = _plan(catalog()[name].fn(spark, sf_smoke))
        assert plan.count("Exchange") <= 1, name


def test_no_cartesian_products_anywhere(spark, sf_smoke):
    # brute_force_topk intentionally cross-joins against a broadcast
    # single-row query side; everything else must be keyed
    for name, q in sorted(catalog().items()):
        if name.startswith("similarity"):
            continue
        plan = _plan(q.fn(spark, sf_smoke))
        assert "CartesianProduct" not in plan, name


def test_attribution_join_keyed_on_user_and_time_bucket(spark, sf_smoke):
    """r8 verdict watch item: the purchase⋈touch join must be keyed on
    (user_id, 7-day bucket) — NOT user_id alone with the window as the
    only residual — so a months-active power user fans out per-week,
    not purchases × all-touches."""
    plan = _plan(catalog()["events_attribution"].fn(spark, sf_smoke))
    join_lines = [
        l for l in plan.splitlines()
        if ("SortMergeJoin" in l or "ShuffledHashJoin" in l
            or "BroadcastHashJoin" in l)
    ]
    probe = [l for l in join_lines if "t_bucket" in l and "user_id" in l]
    assert probe, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_basket_rules_caps_basket_size_before_pair_join(spark, sf_smoke):
    """r8 verdict watch item: the pair self-join is quadratic in one
    basket; the mining universe must exclude baskets over the cap
    BEFORE pairing, and the pair join must stay keyed on the order.
    The entry's executed plan hides the cap behind the r15
    multi-consumer localCheckpoint, so the cap and the basket join
    are pinned on the pre-materialization stage (_basket_items)
    directly; the entry plan is still checked for the keyed pair
    self-join over the materialized universe."""
    import importlib

    # plans/__init__ rebinds the name "catalog" to the function, so a
    # plain `import ... as` resolves the attribute, not the module
    _cat_mod = importlib.import_module(
        "simple_data_engineering_project_spark.plans.catalog"
    )
    assert _cat_mod.BASKET_RULES_MAX_BASKET == 1024
    stage = _plan(_cat_mod._basket_items(spark, sf_smoke))
    assert "1024" in stage, stage  # the cap filter reached the plan
    stage_joins = [
        l for l in stage.splitlines()
        if ("SortMergeJoin" in l or "ShuffledHashJoin" in l
            or "BroadcastHashJoin" in l)
    ]
    assert any("l_orderkey" in l for l in stage_joins), stage
    plan = _plan(catalog()["basket_rules"].fn(spark, sf_smoke))
    # the mining universe is materialized ONCE (the multi-pass-consumer
    # rule) — downstream consumers read the checkpoint, not 5 rescans
    assert "ExistingRDD" in plan, plan
    join_lines = [
        l for l in plan.splitlines()
        if ("SortMergeJoin" in l or "ShuffledHashJoin" in l
            or "BroadcastHashJoin" in l)  # smoke-scale AQE may broadcast
    ]
    assert any("l_orderkey" in l for l in join_lines), plan
    # the only nested-loop is the 1-row basket-universe scalar cross
    # (HashAggregate with no grouping keys → bounded by construction)
    if "BroadcastNestedLoopJoin" in plan:
        import re

        assert re.search(r"HashAggregate\(keys=\[\]", plan), plan


def test_cluster_report_candidates_from_keyed_bucket_join(spark, sf_smoke):
    """r8 newcomer pin: near-dup candidates must come from an equi
    (band-bucket) join — never an all-pairs/nested-loop comparison.
    The entry's own executed plan hides its joins behind the component
    loop's localCheckpoint, so pin the candidate stage directly at the
    entry's production parameters (32 hashes / 8 bands)."""
    from simple_data_engineering_project_spark.operators.dedup import (
        minhash_lsh_candidates,
    )

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = _plan(
        minhash_lsh_candidates(docs, "doc_id", "text", num_hashes=32, bands=8)
    )
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    join_lines = [
        l for l in plan.splitlines()
        if ("SortMergeJoin" in l or "ShuffledHashJoin" in l
            or "BroadcastHashJoin" in l)
    ]
    # the self-join key is the (band, band-signature) bucket
    assert any("band" in l for l in join_lines), plan


def test_hybrid_rrf_joins_keyed_and_broadcasts_bounded(spark, sf_smoke):
    """r8 newcomer pin: the BM25/cosine fusion joins on doc_id (keyed),
    and the only nested-loop appearance is the bounded 1-row tag/query
    broadcast — no unbounded relation may ride a broadcast."""
    df = catalog()["hybrid_search_rrf"].fn(spark, sf_smoke)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan), plan
    # every BroadcastNestedLoopJoin (the scalar-tag pattern) must have a
    # 1-row aggregate underneath it, i.e. bounded by construction
    if "BroadcastNestedLoopJoin" in plan:
        import re

        # scalar broadcasts in this entry come from global aggregates
        # (no grouping keys) — visible as HashAggregate(keys=[], ...)
        assert re.search(r"HashAggregate\(keys=\[\]", plan), plan


# ------------------------------------------------------------- bucketing


def test_bucketed_join_elides_shuffle(spark, sf_smoke, tmp_path):
    o = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    save_bucketed(o, "b_orders", ["o_orderkey"], 8, str(tmp_path / "bo"))
    save_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        ["o_orderkey"],
        8,
        str(tmp_path / "bl"),
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_lineitem").join(spark.table("b_orders"), "o_orderkey")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucket layout replaces both shuffles
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


# ------------------------------------------------------------------ skew


@pytest.fixture()
def skewed(spark):
    # 90% of rows share key 0
    return spark.range(0, 10_000).select(
        F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id")).alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )


def test_salted_agg_matches_plain(spark, skewed):
    plain = {
        r["k"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in skewed.groupBy("k")
        .agg(
            F.count("v").alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    salted = {
        r["k"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in salted_agg(
            skewed,
            ["k"],
            [("count", "v", "n"), ("sum", "v", "s"), ("min", "v", "mn"), ("max", "v", "mx")],
            buckets=16,
        ).collect()
    }
    assert salted == plain


def test_salted_join_matches_plain(spark, skewed):
    dim = spark.range(0, 50).select(
        F.col("id").alias("k"), F.concat(F.lit("name-"), F.col("id")).alias("nm")
    )
    plain = sorted(
        map(tuple, skewed.join(dim, "k").select("k", "v", "nm").collect())
    )
    salted = sorted(
        map(
            tuple,
            salted_skew_join(skewed, dim, ["k"], buckets=8)
            .select("k", "v", "nm")
            .collect(),
        )
    )
    assert salted == plain


def test_salted_left_join_keeps_unmatched_big_rows(spark, skewed):
    dim = spark.range(0, 1).select(F.col("id").alias("k"), F.lit("zero").alias("nm"))
    plain = skewed.join(dim, "k", "left").count()
    salted = salted_skew_join(skewed, dim, ["k"], buckets=4, how="left").count()
    assert salted == plain == skewed.count()


def test_salted_join_rejects_right_outer(spark, skewed):
    dim = spark.range(0, 5).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        salted_skew_join(skewed, dim, ["k"], how="right")


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_smoke, tmp_path):
    # DPP: joining a hive-partitioned fact on its partition column with a
    # selectively-filtered dim must prune fact DIRECTORIES at runtime
    # (dynamicpruning in PartitionFilters) — at 100 TB the difference
    # between scanning one partition and scanning the lake.
    fact = spark.read.parquet(f"{sf_smoke}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice", "l_returnflag"
    )
    path = str(tmp_path / "fact_part")
    fact.write.partitionBy("l_returnflag").mode("overwrite").parquet(path)
    pf = spark.read.parquet(path)
    # DPP fires only when the dim side carries a selective predicate
    dim = spark.createDataFrame(
        [("A", "returned"), ("N", "kept"), ("R", "refused")],
        "flag string, label string",
    ).filter(F.col("label") == "returned")
    joined = pf.join(
        F.broadcast(dim), pf.l_returnflag == dim.flag
    ).groupBy("label").agg(F.sum("l_extendedprice").alias("v"))
    plan = _optimized(joined)
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_runtime_bloom_filter_injects_on_selective_dim(spark, sf_smoke):
    # Row-level runtime pruning (the non-partitioned complement of DPP):
    # with the size gate lowered, a selective dim filter must inject a
    # bloom filter (might_contain) into the fact side before its shuffle.
    # Thresholds are restored afterwards; the session default only turns
    # the feature on, it never forces it.
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        # demote the dim from broadcast: the bloom path targets shuffle joins
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet").select(
            "l_orderkey", "l_extendedprice"
        )
        orders = spark.read.parquet(f"{sf_smoke}/orders.parquet").filter(
            F.col("o_orderstatus") == "F"
        ).select("o_orderkey")
        joined = li.join(
            orders, li.l_orderkey == orders.o_orderkey
        ).agg(F.sum("l_extendedprice").alias("v"))
        plan = _optimized(joined)
        assert "might_contain" in plan.lower(), plan[:2000]
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def _scan_output_rows(df) -> int:
    # sum numOutputRows across parquet scan leaves of the EXECUTED plan;
    # under AQE the populated metrics hang off the adaptive node's FINAL
    # plan (executedPlan()), not initialPlan
    df.collect()

    def walk(node):
        yield node
        if node.nodeName().startswith("AdaptiveSparkPlan"):
            yield from walk(node.executedPlan())
            return
        for i in range(node.children().size()):
            yield from walk(node.children().apply(i))

    total = 0
    for node in walk(df._jdf.queryExecution().executedPlan()):
        # the columnar parquet scan reports 0 output rows itself; the
        # decoded row count (post row-group/page skip, pre row filter)
        # is ColumnarToRow's numOutputRows
        if node.nodeName().startswith("ColumnarToRow"):
            total += node.metrics().apply("numOutputRows").value()
    return int(total)


def test_zorder_layout_skips_row_groups(spark, sf_smoke, tmp_path):
    # Z-order clustering is only worth shipping if the layout actually
    # prunes: under a 2-D box predicate, the z-sorted file must surface
    # fewer scan rows (row groups skipped via min/max stats) than the
    # natural-order file. Tiny row groups make the 6k-row fixture behave
    # like a many-group 100 TB file.
    from simple_data_engineering_project_spark.functions import zorder_key

    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice"
    )
    z = str(tmp_path / "zsorted")
    nat = str(tmp_path / "natural")
    writer_opts = {"parquet.block.size": str(8 * 1024)}
    (
        li.repartition(1)
        .sortWithinPartitions(zorder_key(F.col("l_partkey"), F.col("l_suppkey")))
        .write.options(**writer_opts)
        .mode("overwrite")
        .parquet(z)
    )
    (
        li.repartition(1)
        .sortWithinPartitions("l_orderkey")
        .write.options(**writer_opts)
        .mode("overwrite")
        .parquet(nat)
    )
    # sf0.001 domains: l_partkey ≤ ~400, l_suppkey ≤ ~9 — box ≈ 2% of space
    box = (
        (F.col("l_partkey").between(10, 40))
        & (F.col("l_suppkey").between(2, 5))
    )
    rows_z = _scan_output_rows(spark.read.parquet(z).filter(box))
    rows_nat = _scan_output_rows(spark.read.parquet(nat).filter(box))
    # identical answers, different physics
    assert (
        spark.read.parquet(z).filter(box).count()
        == spark.read.parquet(nat).filter(box).count()
    )
    assert rows_z < rows_nat, (rows_z, rows_nat)


def test_no_complex_typed_outputs_anywhere(spark, sf_smoke):
    # The external gate canonicalizes results with pandas sort_values,
    # which raises "unhashable type: list" on array/map/struct cells
    # (round-1 FAIL class: agg_collect_array, approx_stats). Every
    # catalog query must emit scalar columns only — serialize arrays
    # (array_join/to_json) or split them into scalar columns.
    bad = []
    for name, q in sorted(catalog().items()):
        for f in q.fn(spark, sf_smoke).schema.fields:
            t = f.dataType.simpleString()
            if t.startswith(("array", "map", "struct")):
                bad.append((name, f.name, t))
    assert bad == [], bad


def test_compact_parquet_reduces_file_count(spark, sf_smoke, tmp_path):
    from simple_data_engineering_project_spark.sources import (
        compact_parquet,
        parquet_data_files,
    )

    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    frag = str(tmp_path / "frag")
    out = str(tmp_path / "out")
    li.repartition(16).write.parquet(frag)
    assert len(parquet_data_files(spark, frag)) == 16
    n = compact_parquet(spark, frag, out, target_file_bytes=1 << 30)
    files = parquet_data_files(spark, out)
    assert len(files) == n == 1
    assert spark.read.parquet(out).count() == li.count()


# ------------------------------------------------- broadcast-hint audit

# Every F.broadcast() call site in the package, as (file, enclosing
# function, argument source). A forced hint bypasses Spark's 64 MB
# auto-broadcast threshold, so it is only safe on relations whose size
# is INDEPENDENT of the data volume: nation/region (25/5 rows at every
# scale factor), single-row or per-category scalar aggregates, bounded
# sketches (bloom words, CMS cells, MG candidates, band census), and
# query/model metadata (ANN query sets, centroids). Anything derived
# from customer/part/supplier/orders/lineitem/documents/events grows
# linearly with scale factor and must stay UNHINTED — AQE converts the
# join to broadcast at runtime while the side fits and degrades to
# shuffle when it doesn't, instead of OOMing executors (round-6 verdict
# defect class: 18 entries carried forced grow-table hints).
#
# New broadcast sites FAIL this audit until added here with a
# boundedness justification in the comment.
_BROADCAST_ALLOWLIST = {
    # pipeline / streaming micro-batch: staged batch keys — bounded by a
    # single ingest batch, not by table size
    ("pipeline.py", "merge_into", "staged.select(*keys).distinct()"),
    # nation (25 rows) / region (5 rows) dims — constant at every sf
    ("plans/catalog.py", "agg_value_by_region", "n"),
    ("plans/catalog.py", "agg_value_by_region", "r"),
    ("plans/catalog.py", "agg_regional_distribution", "n"),
    ("plans/catalog.py", "agg_regional_distribution", "r"),
    ("plans/catalog.py", "agg_rollup_q", "n"),
    ("plans/catalog.py", "agg_rollup_q", "r"),
    ("plans/catalog.py", "join_broadcast_dims", "r"),
    ("plans/catalog.py", "join_cross_q", "r"),
    ("plans/catalog.py", "tpch_q5_q", "r"),
    ("plans/catalog.py", "tpch_q5_q", "n"),
    ("plans/catalog.py", "tpch_q7_q", "n"),
    ("plans/catalog.py", "tpch_q8_q", "r"),
    ("plans/catalog.py", "tpch_q8_q", "n1"),
    ("plans/catalog.py", "tpch_q8_q", "n2"),
    ("plans/catalog.py", "tpch_q9_q", "n"),
    ("plans/catalog.py", "tpch_q10_q", "n"),
    ("plans/catalog.py", "tpch_q11_q", "r"),
    ("plans/catalog.py", "tpch_q11_q", "n"),
    ("plans/catalog.py", "tpch_q2_q", "r"),
    ("plans/catalog.py", "tpch_q2_q", "n"),
    ("plans/catalog.py", "tpch_q20_q", "n"),
    ("plans/catalog.py", "tpch_q21_q", "n"),
    ("plans/catalog.py", "window_cumulative_q", "n"),
    ("plans/catalog.py", "supplier_concentration_q", "n"),
    # single-row / per-category scalar aggregates — bounded by the
    # category domain (order priorities, event types, weeks, bands),
    # never by row count
    ("plans/catalog.py", "point_lookup", "min_key"),  # 1 row (global min)
    ("plans/catalog.py", "tpch_q15_q", "mx"),  # 1 row (global max)
    ("plans/catalog.py", "tpch_q15_q", "top"),  # argmax set (ties only)
    ("plans/catalog.py", "tpch_q11_q", "total"),  # 1 row
    ("plans/catalog.py", "tpch_q22_q", "ab"),  # 1 row (global avg)
    ("plans/catalog.py", "customer_rfm_q", "mx"),  # 1 row
    ("plans/catalog.py", "outlier_zscore_q", "stats"),  # per event_type
    ("plans/catalog.py", "outlier_mad_q", "med"),  # per event_type
    ("plans/catalog.py", "outlier_mad_q", "mad"),  # per event_type
    ("plans/catalog.py", "join_null_safe_q", "b"),  # distinct statuses (≤3)
    ("plans/catalog.py", "domain_balance_q", "cap"),  # 1 row
    ("plans/catalog.py", "corpus_mix_report_q", "tot"),  # 1 row
    ("plans/catalog.py", "corpus_perplexity_buckets_q", "total"),  # 1 row
    ("plans/catalog.py", "hybrid_search_rrf_q", "tag"),  # 1 row (phase-2 tag)
    ("plans/catalog.py", "embedding_matryoshka_q", "q"),  # 1 row (min-id query)
    ("plans/catalog.py", "domain_mix_temperature_q", "tot"),  # 1 row
    ("plans/catalog.py", "domain_mix_temperature_q", "mx"),  # 1 row
    ("plans/catalog.py", "basket_rules_q", "n"),  # 1 row (basket universe)
    (
        "plans/catalog.py",
        "corpus_perplexity_buckets_q",
        "spark.createDataFrame([(b, o) for b, o in offsets.items()], 'band int, off long')",
    ),  # per-band offsets — band domain is fixed by the score formula
    ("plans/catalog.py", "orders_seasonality_q", "t"),  # 1 row
    ("plans/catalog.py", "graph_triangles_q", "n_edges"),  # 1 row
    ("plans/catalog.py", "graph_triangles_q", "tri"),  # 1 row
    ("plans/catalog.py", "events_quantile_sketch_q", "n"),  # per week
    ("plans/catalog.py", "text_cms_topk_q", "cells"),  # CMS cells (fixed w×d)
    # streaming static-enrich + explicit broadcast-join operators: the
    # dim-side boundedness is the documented API contract
    ("streaming/__init__.py", "enrich_stream_static", "dims"),
    ("operators/joins.py", "join_broadcast", "dim"),
    ("operators/joins.py", "join_range", "buckets"),
    # bounded sketches / model metadata
    ("operators/graph.py", "pagerank", "dangling"),  # 1 row per iteration
    # k-means centroid model, folded to ONE row holding the
    # array<struct<cid,c>> nested model (k·dim doubles — model-sized,
    # not corpus-sized; same bytes as broadcasting the k-row relation,
    # round-15 row-local assignment rewrite). The hint also guarantees
    # BroadcastNestedLoopJoin for the crossJoin instead of a
    # CartesianProduct shuffle.
    ("operators/similarity.py", "_nearest_centroid", "model"),
    ("operators/similarity.py", "brute_force_topk", "q"),  # ANN query set (API contract)
    ("operators/similarity.py", "hard_negative_topk", "q"),  # anchor set (API contract)
    ("operators/similarity.py", "ivf_topk", "q"),
    ("operators/similarity.py", "pq_topk", "q"),
    ("operators/similarity.py", "lsh_topk", "q_b"),
    # det ANN twins (round 15): q = the ANN query set (≪ corpus by API
    # contract); probe = |queries|·n_probe cell ids; lut_df = one
    # m×ksub integer LUT row per query — all model-sized, never
    # corpus-proportional
    ("operators/similarity.py", "ivf_topk_det", "q"),
    ("operators/similarity.py", "ivf_topk_det", "probe"),
    ("operators/similarity.py", "lsh_topk_det", "q"),
    ("operators/similarity.py", "lsh_topk_det", "planes_df"),  # bands·bits rows
    ("operators/similarity.py", "lsh_topk_det", "qb_df"),  # |queries|·bands rows
    ("operators/similarity.py", "pq_topk_det", "q"),
    ("operators/similarity.py", "pq_topk_det", "lut_df"),
    ("operators/similarity.py", "pq_topk_det", "cb_df"),  # m·ksub codewords
    ("operators/similarity.py", "pq_topk_det", "cand"),  # k·oversample·|queries| rows
    ("operators/similarity.py", "ivf_topk_det", "cents_df"),  # n_cells rows
    ("operators/similarity.py", "_det_empty_result", "q"),
    ("operators/text.py", "tfidf_keywords", "n_docs"),  # 1 row
    ("operators/text.py", "unigram_logprob", "total"),  # 1 row
    ("operators/text.py", "heavy_hitters", "cand"),  # MG sketch (≤k per partition)
    ("operators/text.py", "bm25_search", "stats"),  # 1 row
    ("operators/text.py", "bm25_search", "dfreq"),  # per query token
    ("plans/catalog.py", "dsir_importance_q", "tot"),  # 1-row scalar agg
}


def test_broadcast_hints_only_on_bounded_relations():
    """AST audit: no forced F.broadcast on a scale-growing relation.

    Walks every .py in the package for .broadcast(...) call sites and
    requires each (file, function, argument) to appear in the bounded
    allowlist above. Catches the round-6 defect class (forced hints on
    customer/part/supplier-derived relations) mechanically, entry by
    entry, before it can re-enter the catalog.
    """
    import ast
    import os

    import simple_data_engineering_project_spark as pkg

    root = os.path.dirname(pkg.__file__)
    found = set()
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            funcs = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "broadcast"
                ):
                    encl = "<module>"
                    best_lo = -1
                    for lo, hi, name in funcs:
                        if lo <= node.lineno <= hi and lo > best_lo:
                            encl, best_lo = name, lo
                    arg = ast.unparse(node.args[0]) if node.args else "?"
                    found.add(
                        (os.path.relpath(path, root).replace(os.sep, "/"), encl, arg)
                    )
    unknown = found - _BROADCAST_ALLOWLIST
    assert not unknown, (
        "forced broadcast on relations not in the bounded allowlist "
        f"(justify boundedness or unhint): {sorted(unknown)}"
    )
    stale = _BROADCAST_ALLOWLIST - found
    assert not stale, f"allowlist entries no longer in source: {sorted(stale)}"


# Every driver materialization in the package, each justified bounded:
# (file, enclosing function, first 60 chars of the receiver source).
# The bound must come from the API contract, a fixed domain, or an
# explicit cap — NEVER from "the data is small at this sf". A collect
# whose row count scales with input rows must be redesigned (the
# round-7 defect class: kmeans_fit's k-proportional collect riding
# semantic_dedup's corpus-derived k).
_COLLECT_ALLOWLIST = {
    # 1-row / probe materializations
    # (validate_header's limit(1) collect was retired in round 15: the
    # header probe is a driver-side Hadoop-FS readLine now — no job,
    # no collect)
    ("session.py", "_workers_can_import", "sc.parallelize([0], 1).mapPartitions(probe)"),  # 1 elem
    ("operators/multimodal.py", "partition_by_payload_bytes", "media.select(F.sum(F.coalesce(F.length('payload'), F.lit(0))"),  # 1-row sum
    ("plans/catalog.py", "window_ntile_percent_q", "o.agg(F.min('o_totalprice'), F.max('o_totalprice'), F.min('o"),  # 1 row
    ("plans/catalog.py", "orders_pareto_q", "cust.agg(F.min('rev_cents'), F.max('rev_cents'), F.min('o_cu"),  # 1 row
    # moved-month probe: distinct months only — bounded by the month
    # domain, never row-proportional (round 11 added the pushed
    # key-range prefilter ahead of the semi-join)
    ("pipeline.py", "merge_into", "old.select(*keys, part).filter(F.col(keys[0]).between(seen['"),
    # fixed-domain / capped censuses
    ("plans/catalog.py", "join_bloom_prefilter_q", "dim.select(F.explode(F.array(*pos_cols)).alias('pos')).selec"),  # 256 bloom words
    ("plans/catalog.py", "embedding_pca_power_q", "x.mapInPandas(_gram, schema='j int, k int, g long').groupBy("),  # 64×64 Gram
    ("plans/catalog.py", "events_markov_stationary_q", "ev.select(F.col('event_type').alias('i'), F.lead('event_type"),  # |types|²
    ("plans/catalog.py", "corpus_perplexity_buckets_q", "banded.groupBy('band').count()"),  # fixed band domain
    ("plans/catalog.py", "window_ntile_percent_q", "bucketed.groupBy('_b').agg(F.count('*').alias('c'))"),  # ≤ nbuckets
    # scan_orc_union fixture staging (round 15): fixed key range =>
    # <=256 rows at every SF (dense o_orderkey domain), fed to the
    # driver-side py4j Java ORC writer — model-sized, never
    # row-proportional
    ("plans/catalog.py", "scan_orc_union_q", "_t(spark, sf_dir, 'orders').filter(F.col('o_orderkey') < 256"),  # ≤ 256
    ("plans/catalog.py", "orders_pareto_q", "bucketed.groupBy('_b').agg(F.sum('rev_cents').alias('c'))"),  # ≤ nbuckets
    ("plans/catalog.py", "decontaminate_embedding_q", "q.filter(is_test)"),  # capped ≤200 vectors (vec_id % 10 = 0 AND < 2000)
    ("plans/catalog.py", "scan_parquet_bloom_q", "_t(spark, sf_dir, 'orders').filter((F.col('o_orderkey') % 8 "),  # fixed range [0,400): ≤50 needle keys at any SF
    ("plans/catalog.py", "scan_orc_bloom_q", "_t(spark, sf_dir, 'orders').filter((F.col('o_orderkey') % 8 "),  # fixed range [0,500): ≤63 needle keys at any SF
    # bounded model training — k/API caps, mechanically enforced:
    # kmeans_fit raises for k > 256 (fixed-k path only; derived-k
    # consumers use kmeans_fit_df which never collects)
    ("operators/similarity.py", "kmeans_fit", "df.select(F.col(id_col).alias('i'), F.col(vec_col).alias('v'"),
    ("operators/similarity.py", "kmeans_fit", "assigned.select('cid', F.posexplode('v').alias('dim', 'x'))."),
    ("operators/similarity.py", "_ivf_centroids", "corpus.select(F.col(corpus_id).alias('id'), F.col(corpus_vec"),  # nlist ≤ 16
    ("operators/similarity.py", "_pq_codebooks", "corpus.select(F.col(corpus_id).alias('id'), F.col(corpus_vec"),  # m×256 codes
    # det ANN twins (round 15): the seeded sample is capped at
    # n_cells/ksub rows (limit(n) in the relation); the queries
    # collect is the ANN query set — ≪ corpus by the API contract,
    # same bound as the q broadcasts above
    ("operators/similarity.py", "_seeded_sample_rows", "corpus.select(F.col(corpus_id).alias('id'), F.col(corpus_vec"),  # limit(n)
    ("operators/similarity.py", "ivf_topk_det", "queries"),
    ("operators/similarity.py", "pq_topk_det", "queries"),
    ("operators/similarity.py", "lsh_topk_det", "queries"),
    ("operators/similarity.py", "_pq_codebooks", "sub.select('j', 'code', F.posexplode('sv').alias('pos', 'x')"),
    # bounded sketches / dictionaries
    ("operators/text.py", "heavy_hitters", "toks.mapInPandas(_mg, schema='word string, part_total long')"),  # MG: ≤k per partition
    ("operators/text.py", "bpe_train", "df.select(F.explode(tokens(text_col)).alias('word')).filter("),  # Heaps-bounded word dict
    ("operators/text.py", "bpe_apply", "bpe_train(df, text_col, n_merges)"),  # n_merges rows
    # pagerank_bounded (round 15): DIMENSION-BOUNDED graphs only — the
    # API contract requires a vertex domain fixed by construction (a
    # dim table), so nodes and the aggregated edge relation are
    # metadata-sized at any fact scale; the collect is limit(max+1)-
    # capped so the loud max_edges guard RAISES before the driver ever
    # materializes a data-scale relation (round-15 review fix), and
    # data-scale graphs stay on the distributed pagerank()
    (
        "operators/graph.py",
        "pagerank_bounded",
        "shares_df.limit(max_edges + 1)",
    ),
    ("operators/graph.py", "pagerank_bounded", "nodes"),
}


def test_driver_collects_only_on_bounded_relations():
    """AST audit: every .collect()/.toPandas() site must be allowlisted
    with a boundedness justification (pattern: the broadcast audit
    above). Walks the package for driver-materialization call sites and
    requires each (file, function, receiver) to appear in
    _COLLECT_ALLOWLIST. Catches the round-7 defect class (a collect
    whose row count scales with input — kmeans_fit's k-proportional
    model collect under semantic_dedup's corpus-derived k) permanently:
    a new collect site fails the gate until it is justified here, and a
    removed site flags its stale allowlist row.
    """
    import ast
    import os

    import simple_data_engineering_project_spark as pkg

    root = os.path.dirname(pkg.__file__)
    found = set()
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            funcs = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr
                    in ("collect", "toPandas", "collectAsList", "toLocalIterator")
                ):
                    encl = "<module>"
                    best_lo = -1
                    for lo, hi, name in funcs:
                        if lo <= node.lineno <= hi and lo > best_lo:
                            encl, best_lo = name, lo
                    recv = ast.unparse(node.func.value)[:60]
                    found.add(
                        (os.path.relpath(path, root).replace(os.sep, "/"), encl, recv)
                    )
    unknown = found - _COLLECT_ALLOWLIST
    assert not unknown, (
        "driver collect on relations not in the bounded allowlist "
        f"(justify boundedness or redesign distributed): {sorted(unknown)}"
    )
    stale = _COLLECT_ALLOWLIST - found
    assert not stale, f"allowlist entries no longer in source: {sorted(stale)}"


def test_semantic_dedup_plan_size_independent_of_corpus(spark):
    """The round-7 ceiling, pinned: semantic_dedup's plan must not grow
    with the corpus (the old path inlined k × dim literal floats into
    the assignment expression, with k = ceil(n / target_cluster_size) —
    a 4× bigger corpus meant a ~4× bigger codegen expression that stops
    compiling at scale). Build the operator over two corpora where the
    derived k differs 4× and assert the optimized pair-stage plan stays
    the same size (the model is a k-row relation, not plan literals).
    """
    from simple_data_engineering_project_spark.operators import similarity as sim

    def build(n):
        rows = [(i, [float(i % 7), float(i % 5), float(i % 3), 1.0]) for i in range(n)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        return sim.semantic_dedup(df, target_cluster_size=8, max_cluster_size=50)

    small = build(64)   # k = 8
    big = build(256)    # k = 32
    p_small = _optimized(small)
    p_big = _optimized(big)
    # tolerate incidental variance (checkpoint ids, stats) but reject
    # anything resembling k-proportional literal growth
    assert len(p_big) < 1.5 * len(p_small), (
        f"plan grew with corpus size: {len(p_small)} -> {len(p_big)} chars"
    )
    # and the assignment must not inline centroid literals at all
    assert p_big.count("cast(") < 200


def test_warehouse_key_range_probe_skips_row_groups(spark, tmp_path):
    # Round-11 (verdict Next #10): the warehouse's sorted-within-
    # partition layout (_write_partitioned sorts on shipment_id) plus
    # the moved-month probe's pushed key-range prefilter must actually
    # prune — a narrow batch range over a many-row-group warehouse
    # surfaces fewer scan rows than the full probe. Tiny row groups
    # make the small fixture behave like a many-group 100 TB table.
    from simple_data_engineering_project_spark.pipeline import (
        WAREHOUSE_PARTITION_COL,
    )

    n = 20_000
    wh = str(tmp_path / "warehouse")
    df = spark.range(n).selectExpr(
        "id AS shipment_id",
        "CAST(date_format(date_add(DATE'2024-01-01', "
        "CAST(id % 90 AS INT)), 'yyyy-MM') AS STRING) "
        f"AS {WAREHOUSE_PARTITION_COL}",
        "CAST(id AS DOUBLE) * 1.5 AS v",
    )
    (
        df.repartition(F.col(WAREHOUSE_PARTITION_COL))
        .sortWithinPartitions("shipment_id")
        .write.options(**{"parquet.block.size": str(8 * 1024)})
        .mode("overwrite")
        .partitionBy(WAREHOUSE_PARTITION_COL)
        .parquet(wh)
    )
    old = spark.read.parquet(wh)
    probe_cols = old.select("shipment_id", WAREHOUSE_PARTITION_COL)
    # a batch touching a 2% key range — the realistic daily shape
    lo, hi = 400, 800
    pruned = _scan_output_rows(
        probe_cols.filter(F.col("shipment_id").between(lo, hi))
    )
    full = _scan_output_rows(probe_cols)
    assert pruned < full / 4, (pruned, full)
    # the range predicate reaches the parquet scan
    plan = (
        probe_cols.filter(F.col("shipment_id").between(lo, hi))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "shipment_id" in plan.split(
        "PushedFilters"
    )[1][:200], plan
