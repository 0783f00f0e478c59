"""Physical-plan regression tests.

Every scale property claimed in operator docstrings is pinned here so a
refactor can't silently regress it: shuffle counts, broadcast choices,
filter/projection pushdown, no duplicated pipelines. These read
`.explain`-style plan strings — they run analysis only, no jobs.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from wwwision_importservice_spark.entry_queries import QUERIES
from wwwision_importservice_spark.operators.skew import salted_join


def plan_of(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def tree_of(plan: str) -> str:
    return plan.split("\n\n")[0]


def count_exchanges(tree: str) -> int:
    return len(re.findall(r"\bExchange\b", tree)) - len(
        re.findall(r"\bReusedExchange\b", tree)
    )


def test_diff_kernel_is_two_exchanges(spark, sf_dir):
    """J4: source keying agg + local side — the full-outer join reuses
    the keying agg's partitioning, no third shuffle."""
    tree = tree_of(plan_of(spark, QUERIES["j4_changeset"](spark, sf_dir)))
    assert "SortMergeJoin FullOuter" in tree
    assert count_exchanges(tree) <= 2, tree


@pytest.mark.parametrize(
    "name", ["j4_changeset", "j5_soft_delete", "k1_keying_dedup"]
)
def test_dedup_path_avoids_sort_aggregate(spark, sf_dir, name):
    """K1 on the diff path: last-wins dedup must plan as a WindowGroupLimit
    window (Partial limit before the exchange → ≤1 row/key/maptask
    shuffled), never the SortAggregate that max_by(struct) falls back to
    (var-width agg buffers disable the HashAggregate fast path)."""
    plan = plan_of(spark, QUERIES[name](spark, sf_dir))
    tree = tree_of(plan)
    assert "SortAggregate" not in tree, tree
    # two WindowGroupLimit nodes: Partial (pre-shuffle) + Final
    assert tree.count("WindowGroupLimit") == 2, tree
    assert re.search(r"row_number\(\), 1, Partial", plan), plan


def test_mapping_prunes_columns(spark, sf_dir):
    """K11: the mapping projection reaches the parquet scan — unused
    attribute columns are never read."""
    plan = plan_of(spark, QUERIES["k11_mapping"](spark, sf_dir))
    read_schema = re.search(r"ReadSchema: (.+)", plan)
    assert read_schema and "c_nationkey" not in read_schema.group(1), plan


def test_agg_filter_pushdown(spark, sf_dir):
    """Q1: the shipdate filter is pushed into the parquet scan."""
    plan = plan_of(spark, QUERIES["agg_q1_lineitem"](spark, sf_dir))
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and "l_shipdate" in pushed.group(1), plan


def test_q3_broadcasts_customer_dim(spark, sf_dir):
    """Q3: the filtered customer dim broadcasts — the fact side never
    shuffles for that join."""
    tree = tree_of(plan_of(spark, QUERIES["join_q3_revenue"](spark, sf_dir)))
    assert "BroadcastHashJoin" in tree, tree


def test_minhash_pipeline_scans_once(spark, sf_dir):
    """X2: LSH candidate pairs run ONE shingle→signature pipeline (the
    group-by-bucket formulation), not a self-joined pair of them."""
    # another test may have cached the shingle frame — clear so the plan
    # shows the real scan, not an InMemoryTableScan over it
    spark.catalog.clearCache()
    tree = tree_of(plan_of(spark, QUERIES["x2_minhash_lsh_pairs"](spark, sf_dir)))
    assert tree.count("Scan parquet") == 1, tree
    assert "SortAggregate" not in tree, tree  # signature mins stay hash-based
    # inline signatures: NO shuffle before LSH banding — the only
    # exchanges are the spread repartition, the band-bucket group-by,
    # and the final pair distinct (the exploded shingle pipeline had an
    # extra pre-banding exchange for the shingle distinct/aggregate)
    assert count_exchanges(tree) <= 3, tree


def test_cosine_topk_broadcasts_corpus(spark, sf_dir):
    """X3 brute force: the corpus broadcasts; scoring needs no shuffle."""
    tree = tree_of(plan_of(spark, QUERIES["x3_cosine_topk"](spark, sf_dir)))
    assert "BroadcastNestedLoopJoin" in tree, tree


def test_topk_truncates_before_shuffle(spark, sf_dir):
    """X3 top-k: a partial WindowGroupLimit must sit BELOW the exchange
    — each map task forwards at most k rows per query into the shuffle,
    so the scored |Q|×|C| frame never shuffles in full and no reducer
    sorts a query's entire candidate set."""
    tree = tree_of(plan_of(spark, QUERIES["x3_cosine_topk"](spark, sf_dir)))
    lines = tree.splitlines()
    limit_depths = [i for i, l in enumerate(lines) if "WindowGroupLimit" in l]
    exchange_rows = [
        i for i, l in enumerate(lines)
        if re.search(r"\bExchange\b", l) and "Broadcast" not in l
    ]
    assert limit_depths, tree
    # at least one WindowGroupLimit is a child of (appears after) the
    # shuffle exchange in the operator column — the partial, map-side one
    assert exchange_rows and any(i > exchange_rows[0] for i in limit_depths), tree


def test_ivf_centroid_join_broadcasts(spark, sf_dir):
    """X3 IVF: both cell assignments broadcast the centroid table.
    Looked up through the merged registry so tier rotations (the row
    went pytest-tier in the r10→r11 window) can't break the pin."""
    from wwwision_importservice_spark.entry_queries import PYTEST_QUERIES

    ALL = {**QUERIES, **PYTEST_QUERIES}
    tree = tree_of(plan_of(spark, ALL["x3_ann_ivf_topk"](spark, sf_dir)))
    assert tree.count("BroadcastNestedLoopJoin") >= 2, tree


def test_diff_default_full_outer_stays_shuffle_join(spark, sf_dir):
    """Spark's BroadcastHashJoinExec does not support FULL OUTER (the
    streamed side cannot enumerate the build side's unmatched rows), so
    AQE can never broadcast-convert the single-join CDC plan however
    small the pruned local side is. This pins that fact. A split
    broadcast plan of the same ChangeSet (add/update as broadcast
    inner+left joins, remove as a broadcast anti join) was measured
    against this shuffle join on the repo benchmark and removed: it
    took more warm-pass CPU in every run (sync_delta_sql 4.56 s against
    2.33 s and 4.81 s against 2.17 s, sync_churn_parquet 7.37 s against
    4.14 s; operators/diff.py). The bucketed target (zero target-side
    exchange) is the large-target strategy."""
    tree = tree_of(plan_of(spark, QUERIES["j4_changeset"](spark, sf_dir)))
    assert "SortMergeJoin FullOuter" in tree, tree
    assert "BroadcastHashJoin" not in tree, tree


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-partitioned layout: a filter on the partition column reaches
    the scan as a PartitionFilter — non-matching directories are never
    read (the file-side analogue of JDBC range partitioning)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = str(tmp_path / "orders_by_status")
    orders.write.partitionBy("o_orderstatus").mode("overwrite").parquet(out)

    df = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    plan = plan_of(spark, df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "o_orderstatus" in m.group(1), plan
    assert df.count() == orders.filter(F.col("o_orderstatus") == "F").count()


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Bucketed tables co-locate the sync join: when both sides are
    bucketed+sorted on the key with the same bucket count, the diff-shaped
    join plans with ZERO exchanges — the repeated-sync optimization for a
    large persistent target state (SURVEY §7.1.8)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    src = orders.select(
        F.col("o_orderkey").cast("string").alias("_id"),
        F.col("o_totalprice"),
    )
    loc = orders.select(
        F.col("o_orderkey").cast("string").alias("_id"),
        F.unix_timestamp("o_orderdate").alias("version"),
    )
    spark.sql("DROP TABLE IF EXISTS bkt_src")
    spark.sql("DROP TABLE IF EXISTS bkt_loc")
    # external tables at explicit paths: no warehouse-dir dependency
    src.write.bucketBy(8, "_id").sortBy("_id").option(
        "path", str(tmp_path / "bkt_src")
    ).saveAsTable("bkt_src")
    loc.write.bucketBy(8, "_id").sortBy("_id").option(
        "path", str(tmp_path / "bkt_loc")
    ).saveAsTable("bkt_loc")
    try:
        joined = spark.table("bkt_src").join(spark.table("bkt_loc"), "_id")
        tree = tree_of(plan_of(spark, joined))
        assert count_exchanges(tree) == 0, tree
        assert joined.count() == orders.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_src")
        spark.sql("DROP TABLE IF EXISTS bkt_loc")


def test_salted_join_matches_plain_join(spark):
    big = spark.range(0, 1000).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("payload")
    )
    small = spark.createDataFrame(
        [(i, f"v{i}") for i in range(5)], "k long, label string"
    )
    plain = {(r["k"], r["payload"], r["label"])
             for r in big.join(small, ["k"]).collect()}
    salted = {(r["k"], r["payload"], r["label"])
              for r in salted_join(big, small, ["k"], num_salts=8).collect()}
    assert salted == plain
    # left join keeps unmatched big rows exactly once
    small_missing = small.filter(F.col("k") < 3)
    left_plain = sorted(
        (r["k"], r["payload"], r["label"])
        for r in big.join(small_missing, ["k"], "left").collect()
    )
    left_salted = sorted(
        (r["k"], r["payload"], r["label"])
        for r in salted_join(big, small_missing, ["k"], num_salts=8, how="left").collect()
    )
    assert left_salted == left_plain


def test_hot_key_broadcast_join_matches_and_removes_head(spark):
    """operators/skew.py hot_key_broadcast_join on a synthetic Zipf
    corpus: (a) result is row-for-row the plain join (inner and left),
    (b) the head keys take a BroadcastHashJoin, and (c) no head key
    reaches the shuffled join — the per-key width of what shuffles is
    bounded by the first non-hot key."""
    from wwwision_importservice_spark.operators.skew import (
        hot_key_broadcast_join,
    )

    # Zipf-ish: key 0 owns ~half the rows, key 1 a quarter, ...
    big = spark.range(0, 4096).select(
        F.floor(F.log2(F.lit(4096) / (F.col("id") + 1))).alias("k"),
        F.col("id").alias("payload"),
    )
    small = (
        big.groupBy("k")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("k") < 10)  # some big keys unmatched -> left join
        .withColumn("label", F.concat(F.lit("v"), F.col("k")))
    )

    for how in ("inner", "left"):
        plain = sorted(
            (r["k"], r["payload"], r["label"])
            for r in big.join(small, ["k"], how).collect()
        )
        split = hot_key_broadcast_join(
            big, small, ["k"], "w", hot_keys=3, how=how
        )
        got = sorted((r["k"], r["payload"], r["label"]) for r in split.collect())
        assert got == plain, how

    split = hot_key_broadcast_join(big, small, ["k"], "w", hot_keys=3)
    tree = tree_of(plan_of(spark, split))
    assert "BroadcastHashJoin" in tree, tree

    # the shuffled (cold) side excludes the 3 head keys: rebuild the
    # cold probe exactly as the operator does and measure its widest key
    hot = small.orderBy(F.col("w").desc(), "k").limit(3)
    cold_probe = big.join(F.broadcast(hot.select("k")), ["k"], "left_anti")
    widths = {
        r["k"]: r["n"]
        for r in cold_probe.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    head = {r["k"] for r in hot.collect()}
    assert head.isdisjoint(widths)
    # head key 0 has ~2048 rows; nothing shuffled is wider than key 3
    assert max(widths.values()) <= 4096 // 8, widths


def test_lm_doc_stats_hot_key_split_result_identical(spark, sf_dir):
    """lm_doc_stats with the default hot-key split must emit exactly
    the plain-join rows on real documents (the model's Zipf head — the
    hot contexts — is the broadcast set by construction)."""
    from wwwision_importservice_spark.operators.lm import (
        bigram_model,
        lm_doc_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model = bigram_model(docs)
    plain = sorted(map(tuple, lm_doc_stats(docs, model, hot_keys=0).collect()))
    split = sorted(map(tuple, lm_doc_stats(docs, model, hot_keys=64).collect()))
    assert split == plain


def test_freq_score_broadcasts_vocab(spark, sf_dir):
    """X5 freq score: the Zipf-small vocab and the 1-row total broadcast;
    the corpus-side explode never shuffles for them."""
    from wwwision_importservice_spark.entry_queries import PYTEST_QUERIES

    tree = tree_of(
        plan_of(spark, PYTEST_QUERIES["x5_freq_score"](spark, sf_dir))
    )
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree


def test_cosine_topk_blocked_has_no_join(spark, sf_dir):
    """The corpus-scan exact top-k: one Arrow python stage over the
    corpus, a single small rank exchange — and crucially NO nested-loop
    or cartesian join materializing |Q|x|C| (the documented weakness of
    the cross-join baseline this variant exists to replace at scale)."""
    from wwwision_importservice_spark.entry_queries import PYTEST_QUERIES

    df = PYTEST_QUERIES["x3_cosine_topk_blocked"](spark, sf_dir)
    tree = tree_of(plan_of(spark, df))
    assert "BroadcastNestedLoopJoin" not in tree, tree
    assert "CartesianProduct" not in tree, tree
    assert "Join" not in tree, tree  # no join of any kind
    assert "ArrowEvalPython" in tree or "MapInPandas" in tree, tree


def test_broadcast_source_never_shuffles_local_state(spark, sf_dir):
    """The streaming micro-batch diff plan: with broadcast_source the
    big local state is semi-pruned by the broadcast batch ids and never
    enters a shuffle exchange — every join is a BroadcastHashJoin and
    no Exchange hash-partitions the local side."""
    from wwwision_importservice_spark.entry_queries import (
        orders_source,
        target_state,
    )
    from wwwision_importservice_spark.operators.diff import compute_changes

    batch = orders_source(spark, sf_dir).limit(50)
    cdc = compute_changes(
        batch,
        target_state(spark, sf_dir),
        local_id_col="id",
        local_version_col="version",
        skip_removed=True,
        broadcast_source=True,
    )
    tree = tree_of(plan_of(spark, cdc))
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree
    # the only non-broadcast exchanges allowed are SinglePartition ones
    # (the limit); the local scan must not hash-partition
    for kind in re.findall(r"Exchange (\w+)", tree):
        assert kind == "SinglePartition", tree


def test_hot_key_broadcast_join_exact_on_multirow_keys(spark):
    """Regression (round-7 ADVICE): the hot set is top-K distinct KEYS,
    never a row limit — on a small side with multiple rows per join key
    a row limit could cut mid-key, keeping that key's remaining rows
    out of the hot path while the anti-join removes the key from the
    cold path entirely, silently dropping join matches. Exactness must
    hold with duplicate-key small sides for both join shapes."""
    from wwwision_importservice_spark.operators.skew import hot_key_broadcast_join

    big = spark.range(0, 400).select(
        (F.col("id") % 8).alias("k"), F.col("id").alias("payload")
    )
    # two rows per key, weights ordered so a LIMIT(3) over rows would
    # take both rows of key 0 plus only ONE of key 1's two rows
    small = spark.createDataFrame(
        [(k, 100 - k, f"v{k}a") for k in range(6)]
        + [(k, 100 - k, f"v{k}b") for k in range(6)],
        "k long, w long, label string",
    )
    for how in ("inner", "left"):
        plain = sorted(
            (r["k"], r["payload"], r["label"])
            for r in big.join(small, ["k"], how).collect()
        )
        got = sorted(
            (r["k"], r["payload"], r["label"])
            for r in hot_key_broadcast_join(
                big, small, ["k"], "w", hot_keys=3, how=how
            ).collect()
        )
        assert got == plain, how


def test_pack_token_spans_no_global_window(spark, sf_dir):
    """The packing offsets must come from the two-level prefix sum —
    the plan may not contain a single-partition exchange (the shape a
    global ordered-window cumsum forces), and the per-bucket window
    must partition on the bucket key."""
    from wwwision_importservice_spark.entry_queries import load
    from wwwision_importservice_spark.operators.packing import (
        pack_token_spans,
    )
    from wwwision_importservice_spark.operators.text import tokens

    docs = load(spark, sf_dir, "documents")
    counted = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    plan = plan_of(spark, pack_token_spans(
        counted, "doc_id", "n_tokens", seq_len=512, n_buckets=16
    ))
    tree = tree_of(plan)
    assert "SinglePartition" not in plan, tree
    assert "Window" in tree
    # the window's exchange partitions on the bucket key (detail
    # section carries the partitioning expressions)
    assert "hashpartitioning(__b" in plan, plan


def test_grouped_heavy_hitters_plans_window_group_limit(spark, sf_dir):
    """Per-group heads (features.py:heavy_hitters(group_cols=...) and
    heavy_hitter_top_k): the rank-window top-k must plan as
    WindowGroupLimit — map tasks pre-limit each group BEFORE the
    shuffle — and the input to the final merge is the mapInPandas
    summary stage, never the raw item table."""
    from wwwision_importservice_spark.entry_queries import load
    from wwwision_importservice_spark.operators.features import (
        heavy_hitter_summary,
        heavy_hitter_top_k,
        heavy_hitters,
    )
    from wwwision_importservice_spark.operators.text import corpus_tokens

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(corpus_tokens(F.col("text"))).alias("tok")
    )
    plan = plan_of(
        spark, heavy_hitters(toks, "tok", k=5, counters=64,
                             group_cols=["source"])
    )
    assert "WindowGroupLimit" in tree_of(plan), tree_of(plan)

    summary = heavy_hitter_summary(toks, "tok", ["source"], counters=64)
    plan2 = plan_of(
        spark, heavy_hitter_top_k(summary, "tok", 5, ["source"], counters=64)
    )
    assert "WindowGroupLimit" in tree_of(plan2), tree_of(plan2)


def test_quantile_sketch_two_stage_shuffle_shape(spark, sf_dir):
    """features.py:quantile_sketch — stage 1 is a NARROW mapInPandas
    (partition partials, no exchange below it); the only exchange in
    the build feeds the per-group applyInPandas merge, so data rows
    never shuffle — only summary rows do."""
    from wwwision_importservice_spark.entry_queries import load
    from wwwision_importservice_spark.operators.features import (
        quantile_sketch,
    )

    docs = load(spark, sf_dir, "documents")
    lens = docs.select(
        "source", F.length("text").cast("double").alias("v")
    )
    tree = tree_of(plan_of(spark, quantile_sketch(lens, "v", ["source"])))
    # exactly one exchange: the group-merge; the partition stage is
    # below it (MapInPandas under the Exchange in the tree)
    assert count_exchanges(tree) == 1, tree
    assert "MapInPandas" in tree and "FlatMapGroupsInPandas" in tree, tree
    first_exchange = tree.index("Exchange")
    assert "MapInPandas" in tree[first_exchange:], tree


def test_ivf_search_prunes_to_probed_cells(spark, sf_dir, tmp_path):
    """annindex.py:ivf_search — the probed cell ids must reach the
    cells scan as a STATIC partition filter (collected IN list), so
    the search reads only |queries|·nprobe cell directories of the
    index, never the whole corpus."""
    from wwwision_importservice_spark.entry_queries import load
    from wwwision_importservice_spark.operators.annindex import (
        build_ivf_index,
        ivf_search,
    )

    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("c_id"), "embedding")
    queries = emb.filter(F.col("vec_id") % 200 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding")
    centroids = emb.filter(F.col("vec_id") % 125 == 0).select(
        F.col("vec_id").alias("cell"), "embedding")
    idx = str(tmp_path / "index")
    build_ivf_index(corpus, centroids, idx)

    plan = plan_of(spark, ivf_search(spark, idx, queries, k=3, nprobe=2))
    pf = [ln for ln in plan.split("\n") if "PartitionFilters" in ln]
    assert pf, plan
    assert any("cell" in ln and "IN (" in ln for ln in pf), pf


def test_x10_bucketed_join_query_plan_has_zero_exchanges(spark, sf_dir):
    """The x10 driver query end to end: scan -> SortMergeJoin ->
    HashAggregate with NO Exchange anywhere — the join AND the
    aggregation both ride the bucket partitioning (groupBy keys include
    the bucket column). At 100 TB this is the plan that amortizes the
    join shuffle into the one-time bucketed write."""
    from wwwision_importservice_spark.entry_queries import x10_bucketed_join

    df = x10_bucketed_join(spark, sf_dir)
    tree = tree_of(plan_of(spark, df))
    assert count_exchanges(tree) == 0, tree
    assert "SortMergeJoin" in tree, tree
    assert "HashAggregate" in tree, tree


def test_gopher_quality_expr_is_single_scan_no_python(spark, sf_dir):
    """The expression twin: all 20 Gopher metrics + keep evaluate as
    projections over one scan — no Exchange, no Python node at all."""
    from wwwision_importservice_spark.entry_queries import (
        x5_gopher_quality_expr,
    )

    plan = plan_of(spark, x5_gopher_quality_expr(spark, sf_dir))
    tree = tree_of(plan)
    # the fixture-width RoundRobin spread (load(spread=True)) is the one
    # allowed exchange; nothing key-based may appear
    assert "hashpartitioning" not in plan.lower(), plan
    assert len(re.findall(r"Scan parquet", tree)) == 1, tree
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in tree, tree


def test_gopher_quality_driver_row_is_one_arrow_pass(spark, sf_dir):
    """The driver row (Arrow scorer): one scan, ONE MapInPandas, no
    key-based exchange, and no row-at-a-time Python eval — the
    scan-parallel shape that holds at 100 TB."""
    from wwwision_importservice_spark.entry_queries import x5_gopher_quality

    plan = plan_of(spark, x5_gopher_quality(spark, sf_dir))
    tree = tree_of(plan)
    assert "hashpartitioning" not in plan.lower(), plan
    assert len(re.findall(r"Scan parquet", tree)) == 1, tree
    assert len(re.findall(r"MapInPandas", tree)) == 1, tree
    assert "BatchEvalPython" not in tree, tree


# --- plan fingerprints (bench artifact digests, VERDICT r8 ask #4) ---


def test_plan_digest_stable_and_path_insensitive(spark, sf_dir):
    """Same query twice → same digest; same query at two sf dirs →
    same digest (paths are normalized out; only a genuinely different
    plan — e.g. a size-dependent broadcast choice — may differ, and
    agg_q1's shape is sf-invariant). Digest must differ when the plan
    actually changes."""
    from wwwision_importservice_spark.plans.fingerprint import plan_digest

    q1 = QUERIES["agg_q1_lineitem"]
    a = plan_digest(q1(spark, sf_dir))
    b = plan_digest(q1(spark, sf_dir))
    assert a == b
    other = "/root/testdata/sf0.001" if "0.001" not in sf_dir else "/root/testdata/sf0.01"
    assert plan_digest(q1(spark, other)) == a
    # a real plan change (extra filter) must move the digest
    changed = q1(spark, sf_dir).filter(F.col("sum_qty") > 0)
    assert plan_digest(changed) != a


def test_normalize_plan_strips_ids_paths_keeps_shape():
    from wwwision_importservice_spark.plans.fingerprint import normalize_plan

    raw = (
        "== Physical Plan ==\n"
        "AdaptiveSparkPlan (7)\n"
        "+- HashAggregate (6)\n"
        "   +- Exchange (5)\n"
        "\n"
        "(1) Scan parquet \n"
        "Output [2]: [l_quantity#42, l_price#43L]\n"
        "Location: InMemoryFileIndex [file:/root/testdata/sf0.1/lineitem.parquet]\n"
        "Arguments: round(x#7, 6), cast(y#8 as decimal(18,2)), plan_id=123\n"
    )
    norm = normalize_plan(raw)
    assert "#42" not in norm and "#43" not in norm and "(6)" not in norm
    assert "sf0.1" not in norm and "file:/" not in norm
    # semantic content survives normalization
    assert "decimal(18,2)" in norm
    assert "round(x#, 6)" in norm
    assert "HashAggregate ()" in norm
    assert "plan_id=#" in norm
    # indentation (tree shape) survives
    assert "   +- Exchange ()" in norm


def test_x4_image_decode_is_one_arrow_pass(spark, sf_dir):
    """Real decode+resize rides ONE Arrow kernel over one scan; the
    only exchange is the fixture-width RoundRobin spread (no key-based
    shuffle — per-image work has no grouping)."""
    from wwwision_importservice_spark.entry_queries import x4_image_decode

    plan = plan_of(spark, x4_image_decode(spark, sf_dir))
    tree = tree_of(plan)
    assert len(re.findall(r"Scan parquet", tree)) == 1, tree
    assert len(re.findall(r"MapInPandas", tree)) == 1, tree
    assert "hashpartitioning" not in plan.lower(), plan
    assert "BatchEvalPython" not in tree, tree


def test_plan_digest_immune_to_session_counters(spark, sf_dir):
    """Lambda-variable numbering and localCheckpoint RDD ids come from
    SESSION-GLOBAL counters — the same query must digest identically
    even when other plans compiled in between (found when two identical
    bench runs disagreed on 3 of 35 digests)."""
    from wwwision_importservice_spark.entry_queries import (
        PYTEST_QUERIES,
        QUERIES,
    )
    from wwwision_importservice_spark.plans.fingerprint import plan_digest

    allq = {**QUERIES, **PYTEST_QUERIES}
    # x6_sequence_pack: HOF lambdas; g1_pagerank: localCheckpoint scans
    names = ["x6_sequence_pack", "g1_pagerank"]
    first = {n: plan_digest(allq[n](spark, sf_dir)) for n in names}
    # advance the counters with an unrelated HOF-heavy construction
    allq["x5_text_stats"](spark, sf_dir)
    second = {n: plan_digest(allq[n](spark, sf_dir)) for n in names}
    assert first == second


def test_registry_plan_sizes_stay_bounded(spark, sf_dir):
    """Registry-wide guard for the exponential-subtree class (r15,
    VERDICT r14 ask #7): the 563 KB ``canonical_url`` tree was found by
    a hand sweep in r14 and pinned only for that one operator — this
    generalizes the sweep. Every registered query (driver + pytest
    tiers) must explain to under 64 KB; the r14 sweep's honest maximum
    was 44 KB (``x5_gopher_quality_expr``, 20 independent metrics) and
    the median 3.7 KB, so 64 KB flags the next re-inlined intermediate
    without tripping on formatting drift. Lifecycle queries run their
    internal jobs during construction — acceptable at sf0.001, and the
    sweep doubles as a does-every-query-still-construct smoke."""
    from wwwision_importservice_spark.entry_queries import (
        PYTEST_QUERIES,
        QUERIES,
    )

    allq = {**QUERIES, **PYTEST_QUERIES}
    over = {}
    for name, fn in sorted(allq.items()):
        size = len(plan_of(spark, fn(spark, sf_dir)))
        if size >= 64_000:
            over[name] = size
    assert not over, f"plan explain size over budget: {over}"


def test_minhash_inline_builds_gram_array_once(spark):
    """X2: the gram-hash array is its own projection, referenced by all
    16 ``h_i`` columns. ``transform`` is interpreted in Spark 4.1, so an
    inline gram expression would rebuild the array once per ``h_i``;
    the optimized plan must hold exactly one ``sequence(``."""
    from wwwision_importservice_spark.operators.dedup import minhash_signatures_inline

    docs = spark.range(4).select(
        F.col("id").alias("doc_id"), F.lit("a b c d e").alias("text")
    )
    sigs = minhash_signatures_inline(docs, "doc_id", "text", n=3, num_hashes=16)
    plan = sigs._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("sequence(") == 1, plan
    assert plan.count("array_min(") == 16, plan


def python_rdd_scans(df) -> list[str]:
    """Lineages of the frame's RDD scans (``Scan ExistingRDD``) that run
    a Python worker: a ``createDataFrame`` over Python rows plans a scan
    over a ``PythonRDD``. Scans of a ``localCheckpoint`` are JVM RDDs
    and are not listed."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    lineages = [
        leaf.rdd().toDebugString()
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if leaf.getClass().getSimpleName() == "LogicalRDD"
    ]
    return [lineage for lineage in lineages if "PythonRDD" in lineage]


@pytest.mark.parametrize(
    "id_type, ids",
    [("bigint", list(range(1, 10))), ("string", [f"d{i}" for i in range(1, 10)])],
)
def test_connected_components_driver_labels_are_local_relation(spark, id_type, ids):
    """The driver union-find's labels reach Spark as one Arrow table: a
    ``LocalTableScan`` typed like the node ids, and no scan of the
    result starts a Python worker."""
    from pyspark.sql.types import StructField, StructType

    from wwwision_importservice_spark.operators.dedup import connected_components
    from wwwision_importservice_spark.session import local_frame

    nodes = local_frame(spark, f"id {id_type}", [(i,) for i in ids])
    pairs = local_frame(
        spark,
        f"id_a {id_type}, id_b {id_type}",
        [(ids[0], ids[1]), (ids[1], ids[2]), (ids[4], ids[5])],
    )
    id_field = nodes.schema["id"].dataType
    for closed in (False, True):
        stats: dict = {}
        out = connected_components(
            nodes, pairs, stats=stats, edges_within_nodes=closed, pairs_distinct=True
        )
        assert stats["strategy"] == "driver-union-find"
        assert out.schema == StructType(
            [StructField("id", id_field), StructField("cluster_id", id_field)]
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"LocalTableScan \[id#\d+L?, cluster_id#\d+L?\]", plan), plan
        assert python_rdd_scans(out) == [], plan
        labels = {r["id"]: r["cluster_id"] for r in out.collect()}
        assert labels == {
            **{i: i for i in ids},
            ids[1]: ids[0], ids[2]: ids[0], ids[5]: ids[4],
        }


def _empty_parquet_state(spark, tmp_path):
    from wwwision_importservice_spark.sinks.parquet import ParquetTarget

    target = ParquetTarget(str(tmp_path / "missing"), hidden_column="hidden")
    return target.current_state(spark)


def _empty_scd2_state(spark, tmp_path):
    from wwwision_importservice_spark.sinks.scd2 import Scd2ParquetTarget

    return Scd2ParquetTarget(str(tmp_path / "missing")).history(spark)


def _empty_topk(spark, tmp_path):
    from wwwision_importservice_spark.operators.similarity import cosine_topk_blocked
    from wwwision_importservice_spark.session import local_frame

    queries = local_frame(spark, "q_id bigint, embedding array<double>")
    corpus = local_frame(
        spark, "c_id string, embedding array<double>", [("c0", [1.0, 0.0])]
    )
    return cosine_topk_blocked(queries, corpus, k=2)


@pytest.mark.parametrize(
    "build, schema",
    [
        (_empty_parquet_state, "struct<id:string,version:bigint,hidden:boolean>"),
        (
            _empty_scd2_state,
            "struct<id:string,version:bigint,valid_from:bigint,"
            "valid_to:bigint,is_current:boolean>",
        ),
        (
            _empty_topk,
            "struct<q_id:bigint,c_id:string,score:double,rank:int>",
        ),
    ],
    ids=["parquet_current_state", "scd2_history", "cosine_topk_blocked"],
)
def test_empty_frames_are_local_relations(spark, tmp_path, build, schema):
    """Empty driver-side frames plan a ``LocalTableScan``, never a scan
    over a ``PythonRDD`` (which starts Python workers even for zero
    rows), and keep their schema: names, types, all nullable."""
    df = build(spark, tmp_path)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    assert "LocalTableScan" in plan, plan
    assert df.schema.simpleString() == schema
    assert all(f.nullable for f in df.schema.fields if f.name != "rank")
    assert df.collect() == []


def test_near_dup_gate_bootstrap_index_is_local_relation(spark, tmp_path, monkeypatch):
    """The streaming gate's first batch joins against an empty index
    that is a ``LocalTableScan`` with the index schema, not a scan over
    a ``PythonRDD``."""
    import wwwision_importservice_spark.streaming.neardup as nd
    from wwwision_importservice_spark.session import local_frame

    index_sides: list = []
    real = nd.incremental_pairs_from_buckets

    def spy(buckets, idx_hit, *args, **kwargs):
        index_sides.append(idx_hit)
        return real(buckets, idx_hit, *args, **kwargs)

    monkeypatch.setattr(nd, "incremental_pairs_from_buckets", spy)
    batch = local_frame(
        spark,
        "doc_id bigint, text string",
        [(0, "alpha beta gamma delta"), (1, "alpha beta gamma delta")],
    )
    admitted: list = []
    gate = nd.near_dup_gate(
        str(tmp_path / "idx"),
        lambda df, _: admitted.extend(r["doc_id"] for r in df.collect()),
        n=3,
    )
    gate(batch, 0)
    assert admitted == [0]
    [idx_hit] = index_sides
    plan = idx_hit._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "LocalTableScan" in plan, plan
    assert idx_hit.schema.simpleString() == "struct<doc_id:bigint,band:int,sig:string>"


def test_no_python_row_frames_in_dedup_sinks_streaming():
    """Source guard: in ``operators/dedup.py``, ``sinks/`` and
    ``streaming/`` no ``createDataFrame`` is called on a list or tuple
    literal or a list comprehension. Such a frame is a scan over a
    ``PythonRDD`` that starts Python workers; driver-side rows go
    through ``session.local_frame`` instead."""
    import ast
    import pathlib

    import wwwision_importservice_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    files = [root / "operators" / "dedup.py"]
    files += sorted((root / "sinks").glob("*.py"))
    files += sorted((root / "streaming").glob("*.py"))
    offenders = []
    for path in files:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                continue
            data = node.args[:1] + [k.value for k in node.keywords if k.arg == "data"]
            if any(isinstance(d, (ast.List, ast.Tuple, ast.ListComp)) for d in data):
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert len(files) > 3
    assert offenders == [], offenders


def test_only_fsutil_swaps_directories_in_sinks_and_pipeline():
    """Source guard: the parquet and SCD2 sinks and the pipeline swap and
    delete directories only through ``fsutil`` (``replace_dir``,
    ``recover_dir``, ``delete_dir``), so one crash protocol and one
    hidden backup name cover the snapshot and the changelog commit."""
    import ast
    import pathlib

    import wwwision_importservice_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    files = [
        root / "sinks" / "parquet.py",
        root / "sinks" / "scd2.py",
        root / "plans" / "pipeline.py",
    ]
    banned = {("os", "rename"), ("os", "replace"), ("shutil", "rmtree"),
              ("shutil", "move")}
    offenders = []
    for path in files:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Attribute):
                continue
            owner = node.value.id if isinstance(node.value, ast.Name) else None
            if (owner, node.attr) in banned or node.attr == "getFileSystem":
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert offenders == [], offenders
