"""Scale probe: replicate the documents/embeddings fixtures N-fold and
measure how the compute-heavy operators scale with corpus size.

The driver's bench runs at sf0.1 (5k docs); this probe unions the
fixture K times with offset ids (deterministic, no fixture writes) to
check the scaling SHAPE — near-linear is the design claim for minhash
signatures and LSH bucketing; quadratic blowup would flag a
candidate-pair explosion. Writes docs/SCALE_PROBE.md.

Also runs a SKEW probe: inject one boilerplate string into 5% of the
corpus (the pathological case for LSH buckets and hot shingles) and
show that the round-2 caps bound candidate pairs and wall time where
the uncapped operators go quadratic in the boilerplate count.

Usage: python tools/scale_probe.py [K ...]   (default: 1 4 16 32)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from github_etl_spark.operators.dedup import minhash_lsh_candidates
from github_etl_spark.operators.similarity import (
    brute_force_topk,
    ivf_build_index,
    ivf_query_index,
    ivf_topk,
)
from github_etl_spark.session import get_spark
from github_etl_spark.tables import load_tables

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def probe_ivf_index(spark, emb, queries, k_factor, index_root):
    """Materialized IVF path at corpus scale K: build (train + assign +
    partitioned write) once, query with static cell pruning.

    Cells scale WITH the corpus (n_centroids = 16·K) — the 100 TB
    sizing rule that keeps per-cell row counts bounded, so the probed
    scan (nprobe=4 cells) reads a ~constant number of rows at every K
    and query wall-time stays flat while build time tracks corpus
    size. Asserts PartitionFilters on the executed plan at every K:
    if pruning ever regresses to a full index scan this probe fails,
    not just slows down.
    """
    import re

    path = os.path.join(index_root, f"ivf_k{k_factor}")
    t0 = time.perf_counter()
    ivf_build_index(emb, path, n_centroids=16 * k_factor)
    t_build = time.perf_counter() - t0
    t0 = time.perf_counter()
    out = ivf_query_index(spark, path, queries, k=5, nprobe=4)
    out.count()
    t_query = time.perf_counter() - t0
    plan = out._jdf.queryExecution().executedPlan().toString()
    # >spark.sql.optimizer.inSetConversionThreshold probed cells →
    # the optimizer rewrites `cell IN (...)` to `cell INSET ...`;
    # both spellings are a pruned partition filter.
    if not re.search(r"PartitionFilters: \[cell#\d+ IN(SET)?[ (]", plan):
        raise AssertionError(
            f"IVF index scan at K={k_factor} lost partition pruning:\n"
            + plan[:2000]
        )
    return t_build, t_query


def replicate(df, id_col, k):
    out = df.withColumn(id_col, F.col(id_col) * k)
    parts = [out]
    n = df.agg(F.max(id_col)).collect()[0][0] + 1
    for i in range(1, k):
        parts.append(df.withColumn(id_col, F.col(id_col) * k + i))
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), parts)


BOILER = (
    "this message and any attachments are confidential and intended solely "
    "for the use of the individual or entity to whom they are addressed "
    "please notify the sender immediately if you received this in error"
)


def skew_probe(spark, docs):
    """5% boilerplate corpus: capped vs uncapped LSH and Jaccard."""
    from github_etl_spark.operators.dedup import ngram_jaccard_pairs

    skewed = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 20 == 0, F.lit(BOILER)).otherwise(F.col("text")),
    )
    n_boiler = skewed.filter(F.col("doc_id") % 20 == 0).count()
    rows = []

    def run(label, fn):
        t0 = time.perf_counter()
        pairs = fn().count()
        rows.append((label, n_boiler, pairs, time.perf_counter() - t0))
        print(f"skew {label}: {pairs} pairs {rows[-1][3]:.1f}s", flush=True)

    run(
        "LSH capped (64)",
        lambda: minhash_lsh_candidates(skewed, max_bucket_size=64),
    )
    run(
        "LSH uncapped",
        lambda: minhash_lsh_candidates(skewed, max_bucket_size=10**9),
    )
    blk = skewed.withColumn("blk", F.lit(1))
    run(
        "Jaccard max_df=100",
        lambda: ngram_jaccard_pairs(blk, ["blk"], threshold=0.5, max_df=100),
    )
    run(
        "Jaccard uncapped",
        lambda: ngram_jaccard_pairs(blk, ["blk"], threshold=0.5, max_df=None),
    )
    return rows


def relational_probe(spark, t, ks):
    """Round-5 additions: triangle counting, bloom join pruning, exact
    heavy hitters. The graph is replicated DISJOINTLY (both endpoints
    offset), so edges and triangles grow exactly K-fold — any
    superlinear time growth is the operator, never the data."""
    from github_etl_spark.operators.bloom import (
        bloom_might_contain,
        bloom_prefilter_join,
        build_bloom,
    )
    from github_etl_spark.operators.graph import cooccurrence_edges, triangle_count
    from github_etl_spark.operators.sketches import heavy_hitters
    from github_etl_spark.functions.text import words_expr

    lines = [
        "",
        "## Relational & graph probe — triangles, bloom join, heavy hitters",
        "",
        "| K | edges | triangles | triangle sec | bloom join sec | plain semi sec | bloom-pruned rows | fact rows | HH tokens | HH sec |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    li = t["lineitem"].select("l_orderkey", "l_partkey")
    orders, cust, docs = t["orders"], t["customer"], t["documents"]
    # Bloom probe design: the PROBE dimension stays FIXED (the bloom
    # use case is a bounded-cardinality dim against a growing fact);
    # the fact is replicated on its own row id so selectivity is
    # constant in K. Bitmap sizing is the operator's adaptive default.
    probe_dim = cust.where(F.col("c_mktsegment") == "BUILDING")
    for k in ks:
        # disjoint graph replication: offset BOTH group and item keys
        parts_k = [
            li.select(
                (F.col("l_orderkey") * k + i).alias("l_orderkey"),
                (F.col("l_partkey") * k + i).alias("l_partkey"),
            )
            for i in range(k)
        ]
        from functools import reduce

        li_k = reduce(lambda a, b: a.unionByName(b), parts_k)
        edges = cooccurrence_edges(li_k, "l_orderkey", "l_partkey")
        t0 = time.perf_counter()
        row = triangle_count(edges).head()
        t_tri = time.perf_counter() - t0

        o_k = replicate(orders, "o_orderkey", k)
        t0 = time.perf_counter()
        bloom_prefilter_join(o_k, probe_dim, "o_custkey", "c_custkey", "semi").count()
        t_bloom = time.perf_counter() - t0
        t0 = time.perf_counter()
        o_k.join(
            probe_dim.select("c_custkey").distinct(),
            o_k["o_custkey"] == probe_dim["c_custkey"],
            "left_semi",
        ).count()
        t_plain = time.perf_counter() - t0
        from github_etl_spark.operators.bloom import optimal_bits

        nb = optimal_bits(probe_dim.count())
        words = build_bloom(probe_dim, "c_custkey", nb, 5)
        n_fact = o_k.count()
        n_pruned = o_k.where(
            bloom_might_contain(F.col("o_custkey"), words, 5)
        ).count()

        d_k = replicate(docs, "doc_id", k)
        toks = d_k.select(F.explode(words_expr(F.col("text"))).alias("tok"))
        t0 = time.perf_counter()
        heavy_hitters(toks, "tok", min_fraction=0.002).count()
        t_hh = time.perf_counter() - t0
        n_tok = toks.count()
        lines.append(
            f"| {k} | {row['n_edges']} | {row['n_triangles']} | {t_tri:.1f} "
            f"| {t_bloom:.1f} | {t_plain:.1f} | {n_pruned} | {n_fact} "
            f"| {n_tok} | {t_hh:.1f} |"
        )
        print(lines[-1], flush=True)
    lines += [
        "",
        "Triangles: disjoint replication fixes triangles/edge, so the",
        "triangle column growing ~K-linearly while per-edge adjacency",
        "stays bounded is the compact-forward design claim. Bloom join:",
        "fixed dimension vs K-growing fact (the runtime-filter use",
        "case); the pruned-rows column is the exchange the bitmap",
        "avoids — fact minus pruned rows never shuffle. At THIS scale",
        "the plain semi join broadcasts the small dim and wins on wall",
        "clock; the bloom's value begins where the dim exceeds the",
        "broadcast threshold (then the plain form must shuffle the",
        "whole fact, the bloom form ~selectivity+fpp of it). Past",
        "MAX_LITERAL_WORDS the probe switches from a plan literal to",
        "a broadcast bitmap table (k map-side joins) — the literal is",
        "recompiled per union branch and measured ~80 s at 35k words",
        "on a 32-branch fact before the cutover existed. Heavy",
        "hitters: Misra-Gries screening keeps the exact pass",
        "candidate-bounded; time should track token count",
        "near-linearly with a vocabulary-independent shuffle.",
    ]
    return lines


def round6_probe(spark, t, ks):
    """Round-6 additions: the TPC-H Q9 6-way join with a K-growing
    fact against FIXED dimensions (the realistic 100 TB shape — facts
    grow, part/supplier/nation don't), and BMP decode throughput
    through the Arrow kernel."""
    from github_etl_spark.multimodal.media import (
        bmp_decode_stats,
        synthesize_bmp_media,
    )
    from github_etl_spark.plans.core import synth_partsupp

    lines = [
        "",
        "## Q9 join tree & BMP decode probe (round 6)",
        "",
        "| K | q9 fact rows | q9 groups | q9 sec | bmp images | bmp payload MB | decode sec | MB/s |",
        "|---|---|---|---|---|---|---|---|",
    ]
    li, orders = t["lineitem"], t["orders"]
    part, supp, nation = t["part"], t["supplier"], t["nation"]
    amount_cents = F.floor(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - F.col("ps_supplycost") * F.col("l_quantity")
        )
        * 100
        + 0.5
    ).cast("long")
    for k in ks:
        # fact replication offsets ONLY the order key: part/supplier
        # keys (and therefore the synthesized partsupp) stay fixed, so
        # dims are constant while the fact grows K-fold.
        li_k = replicate(li, "l_orderkey", k)
        o_k = replicate(orders, "o_orderkey", k)
        ps = synth_partsupp(li_k)
        q9 = (
            li_k.join(
                part.where(F.col("p_name").like("%red%")),
                F.col("p_partkey") == F.col("l_partkey"),
            )
            .join(
                ps,
                (F.col("ps_partkey") == F.col("l_partkey"))
                & (F.col("ps_suppkey") == F.col("l_suppkey")),
            )
            .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
            .join(o_k, F.col("o_orderkey") == F.col("l_orderkey"))
            .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
            .select(
                F.col("n_name").alias("nation"),
                F.year("o_orderdate").alias("o_year"),
                amount_cents.alias("amount_cents"),
            )
            .groupBy("nation", "o_year")
            .agg(F.sum("amount_cents").alias("profit_cents"))
        )
        t0 = time.perf_counter()
        n_groups = q9.count()
        t_q9 = time.perf_counter() - t0
        n_fact = li_k.count()

        d_k = replicate(t["documents"], "doc_id", k)
        # Materialize the payloads FIRST: timing an uncached lazy plan
        # would re-run document scan + pixel synthesis + encode inside
        # the "decode" measurement and report the wrong kernel.
        media = synthesize_bmp_media(d_k).localCheckpoint(eager=True)
        n_img = media.count()
        mb = (
            media.agg(F.sum(F.length("content"))).collect()[0][0] or 0
        ) / 1e6
        t0 = time.perf_counter()
        bad = bmp_decode_stats(media).where(
            F.col("decode_error").isNotNull()
        ).count()
        t_bmp = time.perf_counter() - t0
        media.unpersist()
        assert bad == 0, f"{bad} decode failures at K={k}"
        lines.append(
            f"| {k} | {n_fact} | {n_groups} | {t_q9:.1f} | {n_img} "
            f"| {mb:.1f} | {t_bmp:.1f} | {mb / t_bmp:.0f} |"
        )
        print(lines[-1], flush=True)
    lines += [
        "",
        "Q9: dims fixed, fact K-fold — near-linear wall time is the",
        "claim; the partsupp synthesis stays constant-size (distinct",
        "pairs don't grow with order replication), so the composite-key",
        "join's build side is scale-independent here, as a real",
        "partsupp would be relative to a 100 TB lineitem. BMP decode:",
        "throughput (MB/s) rises to a plateau as per-job startup",
        "amortizes (the kernel is embarrassingly parallel over Arrow",
        "batches); a FALLING MB/s at high K would flag a batch-shape",
        "or GIL artifact.",
    ]
    return lines


def png_probe(spark, t, ks):
    """Round-6 PNG addition: decode throughput of the real COMPRESSED
    image path (zlib inflate + per-row unfilter in Python/numpy)
    against corpus growth, beside the compression ratio the DEFLATE
    pass actually achieves on the text-tiled fixtures. The question a
    100 TB operator asks of a compressed codec is different from BMP's
    'is the Arrow plumbing parallel' — it is 'what does CPU-bound
    per-byte decode cost when the payload no longer equals the pixel
    volume', so the table reports BOTH payload MB/s (wire cost) and
    pixel MB/s (decode work)."""
    from github_etl_spark.multimodal.media import (
        png_decode_stats,
        synthesize_png_media,
    )

    lines = [
        "",
        "## PNG compressed-codec probe (round 6)",
        "",
        "| K | images | payload MB | pixel MB | ratio | decode sec | payload MB/s | pixel MB/s |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for k in ks:
        d_k = replicate(t["documents"], "doc_id", k)
        media = synthesize_png_media(d_k).localCheckpoint(eager=True)
        n_img = media.count()
        payload_mb = (
            media.agg(F.sum(F.length("content"))).collect()[0][0] or 0
        ) / 1e6
        t0 = time.perf_counter()
        stats = png_decode_stats(media)
        agg = stats.agg(
            F.sum("n_pixel_bytes").alias("px"),
            F.sum(F.when(F.col("decode_error").isNotNull(), 1).otherwise(0)).alias(
                "bad"
            ),
        ).collect()[0]
        t_png = time.perf_counter() - t0
        media.unpersist()
        assert agg["bad"] == 0, f"{agg['bad']} PNG decode failures at K={k}"
        pixel_mb = (agg["px"] or 0) / 1e6
        lines.append(
            f"| {k} | {n_img} | {payload_mb:.1f} | {pixel_mb:.1f} "
            f"| {payload_mb / pixel_mb:.2f} | {t_png:.1f} "
            f"| {payload_mb / t_png:.0f} | {pixel_mb / t_png:.0f} |"
        )
        print(lines[-1], flush=True)
    lines += [
        "",
        "Payload-vs-pixel MB/s gap = the inflate+unfilter CPU tax of",
        "the compressed path (BMP's two columns would be identical).",
        "Throughput should plateau with K like BMP's — the kernel is",
        "embarrassingly parallel over Arrow batches and rows never",
        "shuffle; a falling pixel MB/s at high K flags a batch-shape",
        "regression, not a codec one. Fixture ratio is >1 — at 2-5 px",
        "a side, the fixed PNG container (~60 B of signature + chunk",
        "framing) dominates the handful of pixel bytes, and DEFLATE",
        "cannot compress the high-entropy tiled text. Real thumbnails",
        "flip the ratio to 0.1-0.5, which moves the wire win, not the",
        "per-pixel decode cost this probe measures.",
    ]
    return lines


def bpe_probe(spark, t, ks):
    """Round-7 addition: the two costs that decide whether BPE training
    and encoding hold at 100 TB. (a) LEARN — each merge round is one
    vocabulary-sized pair aggregation + TakeOrdered(1) + a cache swap
    of the (word, freq) working table; the design claim is sec/round
    grows with DISTINCT WORDS (slowly), not with the corpus, and is
    flat in n_merges. (b) APPLY — the map-only regexp_replace chain's
    cost per merge as the chain deepens; the docstring's
    broadcast-Arrow-kernel cutover claim is checked against measured
    per-merge cost and plan-build time (the Catalyst tree grows
    linearly with merges, so a superlinear plan time is the cliff)."""
    from github_etl_spark.operators.pipeline import (
        bpe_apply,
        bpe_apply_kernel,
        bpe_learn_merges,
        word_freq_table,
    )

    lines = [
        "",
        "## BPE probe (round 7) — learn rounds & apply chain depth",
        "",
        "### Learn: cost vs corpus size (n_merges=8, min_count=2)",
        "",
        "| K | docs | distinct words | learn sec | sec/round |",
        "|---|---|---|---|---|",
    ]
    for k in ks:
        d = replicate(t["documents"], "doc_id", k)
        n_docs = d.count()
        n_words = word_freq_table(d).count()
        t0 = time.perf_counter()
        n_m = bpe_learn_merges(d, n_merges=8, min_count=2).count()
        t_learn = time.perf_counter() - t0
        lines.append(
            f"| {k} | {n_docs} | {n_words} | {t_learn:.1f} "
            f"| {t_learn / max(n_m, 1):.2f} |"
        )
        print(lines[-1], flush=True)
    lines += [
        "",
        "### Learn: cost vs n_merges (K=1 — steady-state round cost)",
        "",
        "| n_merges | learn sec | sec/round |",
        "|---|---|---|",
    ]
    d1 = t["documents"]
    for nm in (4, 8, 16, 32):
        t0 = time.perf_counter()
        got = bpe_learn_merges(d1, n_merges=nm, min_count=2).count()
        dt = time.perf_counter() - t0
        lines.append(f"| {nm} | {dt:.1f} | {dt / max(got, 1):.2f} |")
        print(lines[-1], flush=True)
    lines += [
        "",
        "### Apply: regexp-chain cost vs merge count (K=1)",
        "",
        "Synthetic rank-ordered pair table (single-char pairs cycling the",
        "alphabet — early merges really fuse, deep ones mostly scan), so",
        "depth is isolated from learning. plan = DataFrame build +",
        "analysis; exec = one full-corpus pass.",
        "",
        "| merges | plan sec | exec sec | ms/merge (exec) |",
        "|---|---|---|---|",
    ]
    pairs_all = [
        (chr(97 + i % 26), chr(97 + (i * 7 + 3) % 26)) for i in range(4096)
    ]
    cliff = None
    for nm in (16, 64, 256, 1024):
        try:
            t0 = time.perf_counter()
            out = bpe_apply(d1, pairs_all[:nm])
            agg = out.select(F.sum(F.size("pieces")).alias("n"))
            agg.schema  # force analysis
            t_plan = time.perf_counter() - t0
            t0 = time.perf_counter()
            agg.collect()
            t_exec = time.perf_counter() - t0
            lines.append(
                f"| {nm} | {t_plan:.1f} | {t_exec:.1f} "
                f"| {t_exec * 1000 / nm:.1f} |"
            )
        except Exception as e:  # noqa: BLE001 — the cliff IS the result
            cliff = nm
            lines.append(f"| {nm} | FAILED ({type(e).__name__}) | — | — |")
            print(lines[-1], flush=True)
            break
        print(lines[-1], flush=True)
    lines += [
        "",
        "### Apply: Arrow-kernel regime past the cliff (same pair tables)",
        "",
        "| merges | exec sec | ms/merge |",
        "|---|---|---|",
    ]
    for nm in (256, 1024, 4096):
        t0 = time.perf_counter()
        bpe_apply_kernel(d1, pairs_all[:nm]).select(
            F.sum(F.size("pieces")).alias("n")
        ).collect()
        dt = time.perf_counter() - t0
        lines.append(f"| {nm} | {dt:.1f} | {dt * 1000 / nm:.2f} |")
        print(lines[-1], flush=True)
    lines += [
        "",
        "Learn: sec/round must track distinct words (the pair agg's",
        "input), NOT docs — the corpus is touched once by",
        "word_freq_table and never again; flat sec/round across",
        "n_merges confirms the per-round eager CHECKPOINT keeps both",
        "lineage and the analyzed plan O(1) (the r6 cache-only swap",
        "left the logical plan growing one regexp per round, and",
        "Catalyst re-analysis went superlinear: 0.4 -> 3.4 s/round by",
        "merge 16 — the r7 fix).",
        "Apply: chain exec cost is ~linear per merge (each",
        "regexp_replace scans every word's symbol string, hit or",
        "miss)"
        + (
            f"; the chain DIES at {cliff} merges — a JVM"
            " StackOverflowError while BUILDING the expression tree,"
            " before any data moves"
            if cliff
            else "; at 1024 merges the chain has also been observed to"
            " StackOverflow during tree construction in a fresh"
            " session (JVM stack-state dependent) — when it survives,"
            " compare its 1024 row against the kernel's"
        )
        + ". The Arrow-kernel regime (bpe_apply_kernel, same output,",
        "same oracle) carries those depths as a closure list: its",
        "ms/merge FALLS with depth because the per-word symbol-set",
        "prune skips merges that cannot occur, and per-batch word",
        "memoization amortizes Zipf-repeated words. Regime rule from",
        "the measurements: regexp chain to ~256 merges (JVM scan",
        "speed, zero Python), kernel beyond — asserted by",
        "test_bpe_apply_kernel_survives_past_the_chain_cliff.",
    ]
    return lines


def codec_probe(spark, t, ks):
    """Round-7 addition: decode throughput of the two NEW compressed
    codecs — baseline JPEG (bit-by-bit Huffman + vectorized IDCT) and
    FLAC (pure-Python Rice + predictor reconstruction) — against
    corpus growth. Both kernels are Python-loop entropy decoders (the
    semantic reference implementations), so the honest question is
    the same as QOI's: items/s per core and whether throughput scales
    linearly with partitions (it must — map-only, no shuffle), not
    whether pure Python beats libjpeg/libFLAC (it does not; a native
    kernel binds behind the same mapInPandas seam)."""
    from github_etl_spark.multimodal.media import (
        flac_decode_stats,
        jpeg_decode_stats,
        synthesize_flac_media,
        synthesize_jpeg_media,
    )

    lines = [
        "",
        "## JPEG & FLAC compressed-codec probe (round 7)",
        "",
        "| K | codec | items | payload MB | decoded MB | decode sec | items/s | payload MB/s |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for k in ks:
        d_k = replicate(t["documents"], "doc_id", k)
        for codec, synth, stats_fn, vol_col in (
            ("jpeg", synthesize_jpeg_media, jpeg_decode_stats, "n_pixel_bytes"),
            ("flac", synthesize_flac_media, flac_decode_stats, "n_samples"),
        ):
            media = synth(d_k).localCheckpoint(eager=True)
            n_items = media.count()
            payload_mb = (
                media.agg(F.sum(F.length("content"))).collect()[0][0] or 0
            ) / 1e6
            t0 = time.perf_counter()
            stats = stats_fn(media)
            agg = stats.agg(
                F.sum(vol_col).alias("vol"),
                F.sum(
                    F.when(F.col("decode_error").isNotNull(), 1).otherwise(0)
                ).alias("bad"),
            ).collect()[0]
            dt = time.perf_counter() - t0
            media.unpersist()
            assert agg["bad"] == 0, f"{agg['bad']} {codec} decode failures at K={k}"
            vol_mb = (agg["vol"] or 0) * (1 if codec == "jpeg" else 2) / 1e6
            lines.append(
                f"| {k} | {codec} | {n_items} | {payload_mb:.1f} | {vol_mb:.1f} "
                f"| {dt:.1f} | {n_items / dt:.0f} | {payload_mb / dt:.1f} |"
            )
            print(lines[-1], flush=True)
    lines += [
        "",
        "Both paths are map-only (zero-exchange pinned in",
        "test_plan_shapes); items/s should grow toward a plateau as K",
        "fills the 32 cores, exactly like the BMP/PNG probes. The",
        "per-item cost is entropy-decode bound: JPEG spends its time",
        "in the bit-by-bit Huffman walk (IDCT is vectorized numpy),",
        "FLAC in the per-sample Rice loop. At 100 TB these kernels are",
        "the drop-in semantic reference — the production swap is a",
        "native decoder behind the SAME mapInPandas seam/quarantine",
        "contract, which changes items/s, not the plan shape, the",
        "schema, or any oracle.",
    ]
    return lines



def pagerank_probe(spark, t) -> list[str]:
    """Join-strategy regime table for pagerank_fixed_point (round 9):
    the four candidate per-round plans over the sf0.1 co-purchase
    graph, all producing BIT-IDENTICAL ranks.  Measured rejection
    rationale: a broadcast of either side is unbounded at graph scale
    (and the naive post-checkpoint static plan actually picked the
    EDGE list — driver OOM under 1 GB); per-round sort-merge re-sorts
    the edge list every iteration; the shipped plan pre-partitions +
    pre-sorts the edges once and shuffled-hash-joins only the
    node-width rank fragments."""
    import time as _time

    from pyspark.sql import functions as F

    from github_etl_spark.operators.graph import cooccurrence_edges

    li = t["lineitem"].select("l_orderkey", "l_partkey")
    edges0 = cooccurrence_edges(li, "l_orderkey", "l_partkey")
    edges0 = edges0.localCheckpoint(eager=True)
    n_edges = edges0.count()

    def variant(hint, presort):
        e = edges0.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        sym = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        if presort:
            sym = sym.repartition(F.col("src")).sortWithinPartitions("src")
        sym = sym.localCheckpoint(eager=True)
        deg = (
            sym.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .select(F.col("src").alias("node"), "deg")
            .localCheckpoint(eager=True)
        )
        n = deg.count()
        base = 10**12 // n
        tel = 15 * base
        ranks = deg.select(
            "node", "deg", F.lit(base).cast("long").alias("rank_fp")
        ).localCheckpoint(eager=True)
        for _ in range(5):
            r2 = ranks.withColumnRenamed("node", "src").hint(hint)
            contribs = sym.join(r2, on="src").select(
                F.col("dst").alias("node"),
                F.expr("rank_fp div deg").alias("c"),
            )
            sums = contribs.groupBy("node").agg(F.sum("c").alias("s")).hint(hint)
            nxt = deg.join(sums, on="node", how="left").select(
                "node",
                "deg",
                F.expr(
                    f"(CAST({tel} AS BIGINT) + 85 * "
                    "coalesce(s, CAST(0 AS BIGINT))) div 100"
                ).alias("rank_fp"),
            ).localCheckpoint(eager=True)
            ranks.unpersist()
            ranks = nxt
        top = ranks.orderBy(F.desc("rank_fp"), "node").limit(1).collect()
        out = (top[0]["rank_fp"], top[0]["node"])
        ranks.unpersist()
        sym.unpersist()
        deg.unpersist()
        return out

    lines = [
        "## PageRank join-strategy probe (round 9)",
        "",
        f"5 fixed-point iterations over the sf0.1 co-purchase graph "
        f"({n_edges} canonical edges, doubled for rank flow), local[32].",
        "All four variants return bit-identical ranks (top-1 asserted);",
        "the table is the measured WHY behind the shipped plan",
        "(operators/graph.pagerank_fixed_point): pre-partition+sort the",
        "edges once, shuffled-hash-join the node-width rank fragments.",
        "Regenerate: `python tools/scale_probe.py --pagerank-only`.",
        "",
        "| per-round join | edges pre-partitioned+sorted | sec |",
        "|---|---|---|",
    ]
    tops = set()
    for hint, presort, label in [
        ("merge", False, "sort-merge"),
        ("shuffle_hash", False, "shuffled hash"),
        ("merge", True, "sort-merge"),
        ("shuffle_hash", True, "shuffled hash (SHIPPED)"),
    ]:
        t0 = _time.perf_counter()
        tops.add(variant(hint, presort))
        dt = _time.perf_counter() - t0
        lines.append(f"| {label} | {'yes' if presort else 'no'} | {dt:.2f} |")
    assert len(tops) == 1, f"variants disagree: {tops}"
    lines += [
        "",
        "Broadcast does not appear in the table because it is not a",
        "candidate: ranks/degrees contain EVERY node, so either",
        "broadcast side is unbounded at graph scale (and the unhinted",
        "static plan, misled by post-checkpoint LogicalRDD stats,",
        "chose to broadcast the EDGE list — driver OOM at sf0.1 under",
        "a 1 GB driver).",
        "",
    ]
    return lines


def dsir_probe(spark) -> list[str]:
    """DSIR sizing probe (round 10): learn/apply cost vs n_buckets at
    sf0.1 — the measurement behind the RUNBOOK claim that 10^4–10^5
    buckets are still driver-trivial and apply-cost-neutral."""
    import time as _time

    from pyspark.sql import functions as F

    from github_etl_spark.operators.pipeline import (
        dsir_doc_logweights,
        dsir_gram_weights,
    )
    from github_etl_spark.tables import load_tables as _lt

    docs = _lt(spark, SF_DIR)["documents"].withColumn(
        "__is_t", F.col("lang") == "en"
    )
    lines = [
        "## DSIR sizing probe (round 10) — cost vs n_buckets",
        "",
        f"sf0.1 documents ({SF_DIR}), local[32]. Learn = one corpus scan",
        "aggregated to n_buckets rows collected to the driver; apply =",
        "map-only in both regimes. THIS PROBE FOUND THE REGIME: the",
        "first run measured the inlined-array-literal fold at 1.7 s /",
        "8.9 s / 133 s for 1024 / 16384 / 131072 buckets — the literal's",
        "per-row cost explodes — so dsir_doc_logweights now switches to",
        "an Arrow gather kernel (JVM in-row buckets, numpy",
        "w[buckets].sum()) past DSIR_EXPR_MAX_BUCKETS=4096; the table",
        "below is the post-fix shape: learn bucket-insensitive, apply",
        "flat, so the RUNBOOK's 10^4-10^5-bucket sizing advice is safe.",
        "Regenerate: `python tools/scale_probe.py --dsir-only`.",
        "",
        "| n_buckets | learn sec | apply sec | nonzero weights |",
        "|---|---|---|---|",
    ]
    dsir_gram_weights(docs, "__is_t", 64)  # JVM warmup
    for nb in (1024, 16384, 131072):
        t0 = _time.perf_counter()
        w = dsir_gram_weights(docs, "__is_t", nb)
        t1 = _time.perf_counter()
        dsir_doc_logweights(docs, w).count()
        t2 = _time.perf_counter()
        nz = sum(1 for x in w if x)
        lines.append(f"| {nb} | {t1-t0:.2f} | {t2-t1:.2f} | {nz} |")
    lines.append("")
    return lines


def basket_probe(spark) -> list[str]:
    """Skewed-basket probe (round 10): 20k normal 6-item baskets plus
    ONE mega-basket of growing size B.  Uncapped, the in-row pair
    expansion builds C(B,2) structs in a SINGLE row — the quadratic
    single-row hazard MAX_BASKET_SIZE exists to kill; capped, the
    mega-basket is dropped before expansion and cost stays flat."""
    import time as _time

    from pyspark.sql import functions as F

    from github_etl_spark.plans.ext import (
        MAX_BASKET_SIZE,
        basket_rules_from_items,
    )

    normal = spark.range(1, 20001).select(
        F.col("id").alias("l_orderkey"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(5)),
                lambda i: (F.col("id") * 7 + i) % 2000,
            )
        ).alias("l_partkey"),
    )

    lines = [
        "## Skewed-basket probe (round 10) — basket_association_rules cap",
        "",
        "20k normal 6-item baskets + ONE mega-basket of size B",
        f"(partkeys disjoint), local[32]. Capped = MAX_BASKET_SIZE"
        f"={MAX_BASKET_SIZE} (the shipped catalog query); uncapped is the",
        "probe-only escape hatch. C(B,2) pairs materialize inside ONE",
        "row uncapped, so cost goes quadratic in B while the capped run",
        "only re-pays the basket groupBy.",
        "Regenerate: `python tools/scale_probe.py --basket-only`.",
        "",
        "| mega-basket B | capped sec | uncapped sec | uncapped pairs in 1 row |",
        "|---|---|---|---|",
    ]
    # JVM/codegen warm-up so the first table cell isn't session startup
    basket_rules_from_items(normal).collect()
    for b in (1024, 4096, 8192):
        mega = spark.range(b).select(
            F.lit(0).cast("long").alias("l_orderkey"),
            (F.col("id") + 100000).alias("l_partkey"),
        )
        li = normal.unionByName(mega)
        timings = []
        for cap in (MAX_BASKET_SIZE, None):
            t0 = _time.perf_counter()
            basket_rules_from_items(li, max_basket_size=cap).collect()
            timings.append(_time.perf_counter() - t0)
        lines.append(
            f"| {b} | {timings[0]:.2f} | {timings[1]:.2f} "
            f"| {b * (b - 1) // 2} |"
        )
    lines += [
        "",
        "At B=16384 the UNCAPPED run killed the probe JVM outright",
        "(java.lang.OutOfMemoryError building the ~134M-struct single",
        "row) — measured, which is the whole argument for the cap: one",
        "skewed basket at 100 TB is an executor OOM, not a slow task.",
        "The capped column never touches B (the mega-basket drops at",
        "the groupBy filter).",
        "",
    ]
    return lines


def hot_bucket_probe(spark) -> list[str]:
    """Hot-bucket probe (round 11): budget_select's keyed window vs
    the surrogate-keys per-partition-offset idiom on an all-identical-
    quality corpus — the case where ONE quality_pm bucket holds every
    row and the window serializes into a single task."""
    import time as _time

    from pyspark.sql import functions as F

    from github_etl_spark.operators.pipeline import budget_select

    n = 2_000_000
    txt = "the of and to in is it for on a quick brown fox " * 4
    df = (
        spark.range(n)
        .select(F.col("id").alias("doc_id"), F.lit(txt).alias("text"))
        .repartition(32)
        .persist()
    )
    df.count()
    lines = [
        "## Hot-bucket probe (round 11) — budget_select offset idiom",
        "",
        "All-identical-quality corpus, the keyed window's worst case:",
        f"{n // 1_000_000}M documents of the SAME text → one quality_pm "
        "bucket holds every",
        "row, so the within-bucket window `PARTITION BY quality_pm ORDER",
        "BY id` collapses into ONE task regardless of cluster size.",
        "budget_select routes buckets larger than `hot_bucket_rows`",
        "(default 1M) through the surrogate-keys per-partition-offset",
        "idiom instead: range-partition (bucket, id) → per-(partition,",
        "bucket) token sums collected (bounded by partition count, not",
        "rows) → map-only Arrow cumulative pass.",
        "Regenerate: `python tools/scale_probe.py --hot-bucket-only`.",
        "",
        "| path | median sec | running-sum stage tasks |",
        "|---|---|---|",
    ]
    rows = {}
    for label, hb, tasks in [
        ("keyed window (forced, hot_bucket_rows=2^60)", 1 << 60, "**1**"),
        ("offset idiom (hot_bucket_rows=1e5)", 100_000, "range-partitioned"),
    ]:
        budget_select(df, 10**12, hot_bucket_rows=hb).count()
        ts = []
        for _ in range(3):
            t0 = _time.perf_counter()
            rows[label] = budget_select(df, 10**12, hot_bucket_rows=hb).count()
            ts.append(_time.perf_counter() - t0)
        lines.append(f"| {label} | {sorted(ts)[1]:.2f} | {tasks} |")
    assert len(set(rows.values())) == 1, f"paths disagree: {rows}"
    df.unpersist()
    lines += [
        "",
        "Locally the quality-scoring scan dominates both, so wall-clock",
        "is near-equal — the structural point is the task count: the",
        "window form funnels the whole hot bucket through one task (a",
        "hard serialization at 100 TB), the offset form keeps the sort",
        "distributed and its only driver-side data is one row per",
        "(partition, bucket). Equality of the two paths (cumulative",
        "totals, kept set, mixed hot+cold regimes) is pinned in",
        "tests/test_pipeline_ops.py::",
        "test_budget_select_hot_bucket_path_matches_window_path.",
        "",
    ]
    return lines


def span_store_probe(spark, docs, ks) -> list[str]:
    """Span-store probe (round 12): fixed 100-doc batch classified
    against a K-growing MATERIALIZED span store — the flatness claim
    of the incremental span family (the dedup_incremental section's
    twin). Build cost may track corpus size (one-time); the per-ingest
    check must grow only with the store-scan term: the batch keys are
    broadcast, the store is scanned but never shuffled."""
    import tempfile
    import time as _time

    from pyspark.sql import functions as F

    from github_etl_spark.operators.curation import (
        span_index_build,
        span_index_check,
    )

    root = tempfile.mkdtemp(prefix="scale_probe_spans_")
    batch = (
        docs.limit(100).withColumn("doc_id", F.col("doc_id") + 10_000_000)
    )
    lines = [
        "## Span-store probe (round 12) — fixed batch vs growing store",
        "",
        "Fixed 100-doc batch, span store built from the K-replicated",
        "corpus (`span_index_build` → parquet keys; `span_index_check`",
        "probes it without rescanning raw corpus text). Flat check",
        "column = the incremental design claim: per-ingest cost is the",
        "store SCAN plus batch-sized work, never a store-sized shuffle",
        "or broadcast (the r11 broadcast-direction defect would make",
        "this column collect the whole store per check).",
        "Regenerate: `python tools/scale_probe.py --span-store-only`.",
        "",
        "| K | docs | store rows | build sec | check sec (100 docs) |",
        "|---|---|---|---|---|",
    ]
    for k in ks:
        d = replicate(docs, "doc_id", k)
        n_docs = d.count()
        idx = os.path.join(root, f"span_store_k{k}")
        t0 = _time.perf_counter()
        span_index_build(d, idx)
        t_build = _time.perf_counter() - t0
        n_store = spark.read.parquet(f"{idx}/spans").count()
        t0 = _time.perf_counter()
        span_index_check(spark, idx, batch).count()
        t_check = _time.perf_counter() - t0
        lines.append(
            f"| {k} | {n_docs} | {n_store} | {t_build:.1f} | {t_check:.1f} |"
        )
        print(lines[-1], flush=True)
    lines += [
        "",
        "Store rows grow sub-K (replication repeats spans — the",
        "build-time DISTINCT collapses them); the check column's",
        "growth is the parquet span-key scan only, with the probe",
        "joins bounded by the batch's ~few-hundred distinct keys",
        "(tests/test_plan_shapes.py pins the broadcast direction).",
        "",
    ]
    return lines


def ivf_append_probe(spark, emb, ks) -> list[str]:
    """IVF-append probe (round 13): fixed 100-vector append against a
    K-growing MATERIALIZED IVF index (`ivf_index_append`) — the
    flatness claim of incremental vector-index maintenance: per-ingest
    cost is one batch-sized centroid-assignment pass plus a write
    touching at most min(|batch|, cells) partitions, independent of
    how many vectors the index already holds. Centroid count is held
    at 16 across K to isolate append-vs-index-size (the 100 TB sizing
    rule grows cells WITH the corpus, which adds only a batch x cells
    scoring term). Query time after the append is recorded too: cell
    pruning keeps it tracking per-cell row count, not append count."""
    import tempfile
    import time as _time

    from pyspark.sql import functions as F

    from github_etl_spark.operators.similarity import ivf_index_append

    root = tempfile.mkdtemp(prefix="scale_probe_ivfapp_")
    batch = emb.limit(100).withColumn(
        "vec_id", F.col("vec_id") + 10_000_000
    )
    queries = emb.orderBy("vec_id").limit(10)
    lines = [
        "## IVF-append probe (round 13) — fixed batch vs growing index",
        "",
        "Fixed 100-vector batch appended to an index built from the",
        "K-replicated embeddings (`ivf_build_index` at 16 cells ->",
        "`ivf_index_append` -> `ivf_query_index`). Flat append column =",
        "the incremental-maintenance claim: assignment is batch-sized,",
        "the write dynamic-overwrites only the touched (cell, batch)",
        "partitions, and the index is never read, shuffled or",
        "rewritten by an append.",
        "Regenerate: `python tools/scale_probe.py --ivf-append-only`.",
        "",
        "| K | index rows | build sec | append sec (100 vecs) | query sec |",
        "|---|---|---|---|---|",
    ]
    for k in ks:
        e = replicate(emb, "vec_id", k)
        idx = os.path.join(root, f"ivf_k{k}")
        t0 = _time.perf_counter()
        ivf_build_index(e, idx, n_centroids=16)
        t_build = _time.perf_counter() - t0
        n_rows = spark.read.parquet(idx).count()
        t0 = _time.perf_counter()
        ivf_index_append(spark, idx, batch, ingest_batch=0)
        t_append = _time.perf_counter() - t0
        t0 = _time.perf_counter()
        ivf_query_index(spark, idx, queries, k=5, nprobe=4).count()
        t_query = _time.perf_counter() - t0
        lines.append(
            f"| {k} | {n_rows} | {t_build:.1f} | {t_append:.1f} |"
            f" {t_query:.1f} |"
        )
        print(lines[-1], flush=True)
    lines += [
        "",
        "Query time tracks per-cell row count (cells fixed at 16 here,",
        "so probed rows grow with K by construction); the append",
        "column is the contract under test.",
        "",
    ]
    return lines


_SECTION_MARKERS = [
    "## Relational & graph probe — triangles, bloom join, heavy hitters",
    "## Q9 join tree & BMP decode probe (round 6)",
    "## PNG compressed-codec probe (round 6)",
    "## BPE probe (round 7) — learn rounds & apply chain depth",
    "## JPEG & FLAC compressed-codec probe (round 7)",
    "## PageRank join-strategy probe (round 9)",
    "## Skewed-basket probe (round 10) — basket_association_rules cap",
    # manually-written section (tools/make_sf1.py + bench.py recipe):
    # listed so _splice_section never treats it as part of a neighbor
    "## Full-suite sf1.0 bench (round 10) — the 2x gate measured past sf0.1",
    "## DSIR sizing probe (round 10) — cost vs n_buckets",
    "## Hot-bucket probe (round 11) — budget_select offset idiom",
    "## Span-store probe (round 12) — fixed batch vs growing store",
    "## IVF-append probe (round 13) — fixed batch vs growing index",
]


def _strip_blanks(lines: list[str]) -> list[str]:
    a, b = 0, len(lines)
    while a < b and lines[a] == "":
        a += 1
    while b > a and lines[b - 1] == "":
        b -= 1
    return lines[a:b]


def _join_sections(parts):
    """Join section line-blocks with exactly one blank separator —
    the ONE normalization both _splice_section and the full-regen
    path share (two hand-synced copies would reintroduce the splice
    corruption this replaced)."""
    joined: list[str] = []
    for p in parts:
        p = _strip_blanks(p)
        if not p:
            continue
        if joined:
            joined.append("")
        joined.extend(p)
    return joined


def _splice_section(marker: str, lines: list[str]) -> None:
    """Append-or-replace ONE section of SCALE_PROBE.md, preserving
    every OTHER known section wherever it sits.  IDEMPOTENT: section
    boundaries are the marker lines themselves, and blank separators
    are normalized to exactly one on every write — the previous
    `index(marker) - 1` form assumed a blank line before the marker
    and ate one line of the PRECEDING section per rerun when the
    assumption failed (it truncated the pagerank conclusion in the
    committed doc)."""
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "SCALE_PROBE.md",
    )
    with open(out) as f:
        existing = f.read().splitlines()
    idx = existing.index(marker) if marker in existing else len(existing)
    head = _strip_blanks(existing[:idx])
    tail_starts = [
        existing.index(m)
        for m in _SECTION_MARKERS
        if m != marker and m in existing and existing.index(m) > idx
    ]
    tail = _strip_blanks(existing[min(tail_starts):]) if tail_starts else []
    with open(out, "w") as f:
        f.write("\n".join(_join_sections([head, lines, tail])) + "\n")


def main():
    flags = {
        "--relational-only", "--round6-only", "--png-only", "--bpe-only",
        "--codec-only", "--pagerank-only", "--basket-only", "--dsir-only",
        "--hot-bucket-only", "--span-store-only", "--ivf-append-only",
    }
    args = [a for a in sys.argv[1:] if a not in flags]
    relational_only = "--relational-only" in sys.argv[1:]
    round6_only = "--round6-only" in sys.argv[1:]
    png_only = "--png-only" in sys.argv[1:]
    bpe_only = "--bpe-only" in sys.argv[1:]
    codec_only = "--codec-only" in sys.argv[1:]
    pagerank_only = "--pagerank-only" in sys.argv[1:]
    ks = [int(a) for a in args] or [1, 4, 16, 32]
    if relational_only:
        spark = get_spark("scale_probe")
        t = load_tables(spark, SF_DIR, register=False)
        _splice_section(_SECTION_MARKERS[0], relational_probe(spark, t, ks))
        return
    if round6_only:
        spark = get_spark("scale_probe")
        t = load_tables(spark, SF_DIR, register=False)
        _splice_section(_SECTION_MARKERS[1], round6_probe(spark, t, ks))
        return
    if png_only:
        spark = get_spark("scale_probe")
        t = load_tables(spark, SF_DIR, register=False)
        _splice_section(_SECTION_MARKERS[2], png_probe(spark, t, ks))
        return
    if bpe_only:
        spark = get_spark("scale_probe")
        t = load_tables(spark, SF_DIR, register=False)
        _splice_section(_SECTION_MARKERS[3], bpe_probe(spark, t, ks))
        return
    if codec_only:
        spark = get_spark("scale_probe")
        t = load_tables(spark, SF_DIR, register=False)
        _splice_section(_SECTION_MARKERS[4], codec_probe(spark, t, ks))
        return
    if pagerank_only:
        spark = get_spark("scale_probe")
        t = load_tables(spark, SF_DIR, register=False)
        _splice_section(_SECTION_MARKERS[5], pagerank_probe(spark, t))
        return
    if "--basket-only" in sys.argv[1:]:
        spark = get_spark("scale_probe")
        _splice_section(_SECTION_MARKERS[6], basket_probe(spark))
        return
    if "--dsir-only" in sys.argv[1:]:
        spark = get_spark("scale_probe")
        _splice_section(_SECTION_MARKERS[8], dsir_probe(spark))
        return
    if "--hot-bucket-only" in sys.argv[1:]:
        spark = get_spark("scale_probe")
        _splice_section(_SECTION_MARKERS[9], hot_bucket_probe(spark))
        return
    if "--span-store-only" in sys.argv[1:]:
        spark = get_spark("scale_probe")
        t = load_tables(spark, SF_DIR, register=False)
        _splice_section(
            _SECTION_MARKERS[10], span_store_probe(spark, t["documents"], ks)
        )
        return
    if "--ivf-append-only" in sys.argv[1:]:
        spark = get_spark("scale_probe")
        t = load_tables(spark, SF_DIR, register=False)
        _splice_section(
            _SECTION_MARKERS[11], ivf_append_probe(spark, t["embeddings"], ks)
        )
        return
    spark = get_spark("scale_probe")
    t = load_tables(spark, SF_DIR, register=False)
    docs, emb = t["documents"], t["embeddings"]
    lines = [
        "# Scale probe — operator cost vs corpus size",
        "",
        f"Fixture: `{SF_DIR}` replicated K-fold (id-offset union), local[32].",
        "Near-linear growth = healthy; superlinear flags candidate-pair",
        "explosion. Regenerate: `python tools/scale_probe.py`.",
        "",
        "| K | docs | minhash+LSH sec | pairs | vecs | brute ANN sec | IVF ANN sec | CC cluster sec | IVF build sec | IVF query sec |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    import tempfile

    index_root = tempfile.mkdtemp(prefix="scale_probe_ivf_")
    for k in ks:
        d = replicate(docs, "doc_id", k)
        n_docs = d.count()
        t0 = time.perf_counter()
        lsh_pairs = minhash_lsh_candidates(d)
        pairs = lsh_pairs.count()
        t_lsh = time.perf_counter() - t0

        # Connected components over the LSH candidate graph — the
        # repo's only iterative multi-round job. Edge counts above the
        # local-finish bound exercise the distributed star rounds.
        from github_etl_spark.operators.graph import cluster_assignment

        t0 = time.perf_counter()
        cluster_assignment(d, lsh_pairs).count()
        t_cc = time.perf_counter() - t0

        e = replicate(emb, "vec_id", k)
        n_vec = e.count()
        queries = e.orderBy("vec_id").limit(10)
        t0 = time.perf_counter()
        brute_force_topk(e, queries, k=5).count()
        t_ann = time.perf_counter() - t0
        t0 = time.perf_counter()
        ivf_topk(e, queries, k=5).count()
        t_ivf = time.perf_counter() - t0
        t_build, t_query = probe_ivf_index(spark, e, queries, k, index_root)
        lines.append(
            f"| {k} | {n_docs} | {t_lsh:.1f} | {pairs} | {n_vec} "
            f"| {t_ann:.1f} | {t_ivf:.1f} | {t_cc:.1f} "
            f"| {t_build:.1f} | {t_query:.1f} |"
        )
        print(lines[-1], flush=True)
    # Round-5 operators: span dedup, BM25, incremental dedup index.
    # The incremental check uses a FIXED 100-doc batch at every K — the
    # design claim is that per-ingest cost is dominated by the store
    # scan (slow growth), not by corpus-sized shuffles, while the
    # one-time index build tracks corpus size.
    from github_etl_spark.operators.incremental import (
        dedup_index_build,
        dedup_index_check,
    )
    from github_etl_spark.operators.search import bm25_topk
    from github_etl_spark.operators.spans import duplicated_spans

    lines += [
        "",
        "## Ingest-path probe — span dedup, BM25, incremental index, SemDeDup",
        "",
        "| K | docs | span_dedup sec | bm25 sec | index build sec | batch check sec (100 docs) | semdedup sec |",
        "|---|---|---|---|---|---|---|",
    ]
    batch = (
        docs.limit(100)
        .withColumn("doc_id", F.col("doc_id") + 10_000_000)
    )
    for k in ks:
        d = replicate(docs, "doc_id", k)
        n_docs = d.count()
        t0 = time.perf_counter()
        duplicated_spans(d, k=8, hash_grams=True).count()
        t_span = time.perf_counter() - t0
        t0 = time.perf_counter()
        bm25_topk(d, ["dup", "vector", "stream"], k=10).count()
        t_bm25 = time.perf_counter() - t0
        idx = os.path.join(index_root, f"dedup_idx_k{k}")
        t0 = time.perf_counter()
        dedup_index_build(d, idx)
        t_build = time.perf_counter() - t0
        t0 = time.perf_counter()
        dedup_index_check(spark, idx, batch).count()
        t_check = time.perf_counter() - t0
        # SemDeDup pair screen under the 100 TB sizing rule: cell
        # count scales WITH the corpus (16·K), holding per-cell rows
        # ~constant so Σ cell² grows linearly in rows, not
        # quadratically. A fixed cell count here would measure the
        # data's quadratic pair growth, not the operator.
        from github_etl_spark.operators.similarity import (
            semantic_neardup_pairs,
        )

        e_k = replicate(emb, "vec_id", k)
        t0 = time.perf_counter()
        semantic_neardup_pairs(e_k, threshold=0.5, n_centroids=16 * k).count()
        t_sem = time.perf_counter() - t0
        lines.append(
            f"| {k} | {n_docs} | {t_span:.1f} | {t_bm25:.1f} "
            f"| {t_build:.1f} | {t_check:.1f} | {t_sem:.1f} |"
        )
        print(lines[-1], flush=True)
    lines += [
        "",
        "Span dedup is one gram-keyed window (shuffle + spillable sort):",
        "near-linear in corpus tokens. BM25 is a corpus scan whose",
        "shuffle carries only query-term postings. The index build pays",
        "the signature pipeline once per corpus; the fixed-size batch",
        "check then grows only with the store SCAN term (batch-side",
        "joins are broadcast), which is the incremental-ingest design",
        "claim — compare the check column's slope against the build",
        "column's. SemDeDup runs under the cells-∝-corpus sizing rule",
        "(16·K centroids, Σ cell² linear in rows); the K=4 row (64",
        "cells) is the last on the inlined-expression assignment and",
        "the K=16 row (256 cells) the first on the Arrow int64-matmul",
        "path — the drop between them is that switch (the expression",
        "form OOM'd outright at 512 cells before the switch existed).",
    ]
    skew_rows = skew_probe(spark, docs)
    lines += [
        "",
        "## Skew probe — 5% boilerplate corpus (the B² hazard)",
        "",
        f"Same fixture, every 20th doc's text replaced by one boilerplate",
        f"string ({skew_rows[0][1]} copies). Uncapped, those copies land in",
        "ONE LSH bucket per band (C(B,2) pair expansion in a single row)",
        "and share every shingle (B² join rows per gram). The caps bound",
        "both: the LSH bucket keeps its first 64 members (≤ C(64,2)=2016",
        "pairs), and max_df drops grams seen in >100 docs before the join.",
        "",
        "| scenario | boilerplate docs | pairs | sec |",
        "|---|---|---|---|",
    ]
    for label, nb, pairs, secs in skew_rows:
        lines.append(f"| {label} | {nb} | {pairs} | {secs:.1f} |")
    lines += [
        "",
        "Reading the numbers: replication makes every doc a true",
        "near-duplicate of its K copies, so candidate PAIRS grow as",
        "K\u00b2\u00b7docs by construction \u2014 that growth is the data, not the",
        "algorithm. The cost columns are the design check: signature +",
        "bucketing time should track docs near-linearly (modulo the",
        "parallelism headroom at small K), and brute-force ANN tracks",
        "corpus \u00d7 queries. IVF ANN pays a FIXED train+assign cost",
        "(bounded k-means sample + one corpus assignment pass) and then",
        "scores only nprobe/n_centroids of the corpus per query, so at",
        "these corpus sizes its absolute time trails brute force while",
        "its GROWTH SLOPE is flatter (compare the K=1\u219232 ratios); the",
        "crossover sits where per-query scoring dominates the fixed",
        "pass \u2014 and at real scale the assignment is materialized once",
        "as a cell-partitioned staging table (similarity.py design",
        "note), so queries pay only the pruned scoring term. The",
        "last two columns measure exactly that materialized path",
        "(ivf_build_index / ivf_query_index) with the 100 TB sizing",
        "rule applied: cell COUNT scales with the corpus (16·K",
        "centroids), keeping per-cell rows bounded — the build pass",
        "tracks corpus size, but the pruned query (nprobe=4 cell",
        "directories, PartitionFilters asserted in the executed plan",
        "at every K) reads a ~constant row count and its wall-time",
        "stays flat across the whole K range. CC",
        "cluster covers the iterative connected-components job over",
        "the LSH candidate graph: below the 200k-edge bound it",
        "finishes driver-side; above it the distributed star rounds",
        "run, and time grows SUBLINEARLY in edges (the O(log n) round",
        "structure, with per-round work linear in the shrinking edge",
        "set) \u2014 the property that keeps a 10^11-edge graph tractable.",
    ]
    lines += relational_probe(spark, t, ks)
    lines += round6_probe(spark, t, ks)
    lines += png_probe(spark, t, ks)
    lines += bpe_probe(spark, t, ks)
    lines += codec_probe(spark, t, ks)
    lines += pagerank_probe(spark, t)
    lines += basket_probe(spark)
    lines += dsir_probe(spark)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "docs", "SCALE_PROBE.md")
    # Preserve sections the full run does not regenerate (the manually
    # written sf1.0 bench results, and any future marker-listed section
    # this script has no generator for): carry them over verbatim with
    # the SAME blank normalization as _splice_section — a full regen
    # must never silently destroy measured evidence. Non-generated
    # sections keep their relative order, appended after the generated
    # body (they were authored at EOF).
    regenerated = {m for m in _SECTION_MARKERS if m in lines}
    try:
        with open(out) as f:
            existing = f.read().splitlines()
    except OSError:
        existing = []
    all_marks = sorted(
        existing.index(m) for m in _SECTION_MARKERS if m in existing
    )
    parts = [lines]
    for start in sorted(
        existing.index(m) for m in _SECTION_MARKERS
        if m in existing and m not in regenerated
    ):
        nxt = min((x for x in all_marks if x > start), default=len(existing))
        parts.append(existing[start:nxt])
    with open(out, "w") as f:
        f.write("\n".join(_join_sections(parts)) + "\n")


if __name__ == "__main__":
    main()
