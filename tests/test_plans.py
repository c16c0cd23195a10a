"""Physical-plan regression tests — the 100 TB properties, pinned.

Correct results are necessary but not sufficient: these tests fail if
a filter stops reaching the parquet scan, a projection stops pruning,
a dimension join stops broadcasting, or the partitioned layout stops
pruning partitions — regressions that stay invisible at sf0.01 and
dominate at scale.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from shards_prometheus_spark.functions.promql import clamp_values
from shards_prometheus_spark.operators.selectors import label_filter_eq
from shards_prometheus_spark.operators.similarity import similarity_topk
from shards_prometheus_spark.operators.tpch import tpch_q3
from shards_prometheus_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian_product,
    assert_partition_filters,
    assert_pushed_filters,
    assert_read_schema_pruned,
)
from shards_prometheus_spark.sources.storage import (
    read_samples_partitioned,
    write_samples_partitioned,
)
from tests.conftest import SF_SMOKE


def test_metric_filter_pushed_to_scan(spark):
    # the metric equality behind every PromQL selector must reach parquet
    assert_pushed_filters(
        label_filter_eq(spark, SF_SMOKE), "EqualTo(event_type,purchase)"
    )


def test_scalar_funcs_scan_prunes_columns(spark):
    # clamp reads (event_id, user_id, event_type, value, ts?) — props
    # (the widest column) must never be scanned
    assert_read_schema_pruned(
        clamp_values(spark, SF_SMOKE),
        required={"event_type", "value"},
        banned={"props"},
    )


def test_tpch_q6_all_predicates_pushed(spark):
    # q6 is the pure pushdown query: shipdate range, discount band and
    # quantity bound must ALL reach the parquet scan
    from shards_prometheus_spark.operators.tpch import tpch_q6

    assert_pushed_filters(
        tpch_q6(spark, SF_SMOKE),
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24",
    )


def test_tpch_q3_joins_broadcast_dimensions(spark):
    # customer (dim) joins orders/lineitem (facts): broadcast, and AQE
    # or static planning must choose it without hints
    df = tpch_q3(spark, SF_SMOKE)
    assert_broadcast_join(df, min_count=1)


def test_similarity_no_cartesian(spark):
    # the query-vector "crossJoin" is a 1-row broadcast, never a
    # CartesianProduct over the corpus
    assert_no_cartesian_product(similarity_topk(spark, SF_SMOKE))


def test_salted_join_equals_plain_join(spark):
    """Salting must be invisible in the result: a 90%-hot-key join
    salted 8 ways returns exactly the plain join's rows."""
    from shards_prometheus_spark.plans import salted_join

    big = spark.createDataFrame(
        [(i, "hot" if i % 10 else f"k{i}", float(i)) for i in range(1000)],
        "id long, k string, v double",
    )
    small = spark.createDataFrame(
        [("hot", 1.0), ("k10", 2.0), ("k20", 3.0), ("absent", 9.0)],
        "k string, w double",
    )
    got = sorted(
        (r["id"], r["k"], r["w"])
        for r in salted_join(big, small, ["k"], n_salt=8).collect()
    )
    want = sorted(
        (r["id"], r["k"], r["w"]) for r in big.join(small, ["k"]).collect()
    )
    assert got == want and len(got) > 800


def test_salted_join_spreads_key_across_salts(spark):
    from shards_prometheus_spark.plans import salted_join
    from shards_prometheus_spark.plans.checks import formatted_plan

    big = spark.createDataFrame(
        [(i, "hot", float(i)) for i in range(100)], "id long, k string, v double"
    )
    small = spark.createDataFrame([("hot", 1.0)], "k string, w double")
    df = salted_join(big, small, ["k"], n_salt=4)
    # the physical join key must include the salt column
    assert "_salt" in formatted_plan(df)


@pytest.fixture(scope="module")
def partitioned_samples(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("layout") / "samples_part")
    write_samples_partitioned(spark, SF_SMOKE, out)
    return out


def test_partition_pruning_on_metric(spark, partitioned_samples):
    df = read_samples_partitioned(spark, partitioned_samples).filter(
        F.col("metric") == "purchase"
    )
    assert_partition_filters(df, "metric")
    # and the pruned read returns exactly the purchase slice
    from shards_prometheus_spark.model import samples

    want = samples(spark, SF_SMOKE).filter(F.col("metric") == "purchase").count()
    assert df.count() == want


def test_partition_pruning_on_date(spark, partitioned_samples):
    df = read_samples_partitioned(spark, partitioned_samples)
    first_date = df.select(F.min("event_date").alias("d")).first()["d"]
    pruned = df.filter(F.col("event_date") == F.lit(first_date))
    assert_partition_filters(pruned, "event_date")
    assert pruned.count() > 0


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    from shards_prometheus_spark.sources.storage import write_samples_bucketed

    root = tmp_path_factory.mktemp("bucketed")
    names = ("samples_bkt_a", "samples_bkt_b")
    for t in names:
        write_samples_bucketed(spark, SF_SMOKE, t, str(root / t))
    yield names
    for t in names:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_agg_join_has_zero_shuffles(spark, bucketed_tables):
    """Bucketing by the series key makes per-series agg + join run with
    no Exchange at all — the at-rest layout that kills the engine's one
    recurring shuffle at 100 TB."""
    from shards_prometheus_spark.plans import formatted_plan
    from shards_prometheus_spark.sources.storage import bucketed_series_stats_join

    a, b = bucketed_tables
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = bucketed_series_stats_join(spark, a, b)
        plan = formatted_plan(df)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan
        # and the shuffle-free result matches the plain computation
        from shards_prometheus_spark.model import samples

        want = samples(spark, SF_SMOKE).groupBy("metric", "label_user").count()
        got = df.count()
        assert got == want.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_contamination_benchmark_join_broadcasts(spark):
    """The benchmark shingle set must reach the corpus as a broadcast
    left-semi join — a shuffle on `shingle` here would re-shuffle the
    corpus at 100 TB."""
    from shards_prometheus_spark.operators.pipeline import contamination_ngram
    from shards_prometheus_spark.plans import formatted_plan

    plan = formatted_plan(contamination_ngram(spark, SF_SMOKE))
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_pack_chunks_prefix_sum_is_sharded(spark):
    """The corpus prefix-sum window must be partitioned by the range
    shard — a corpus-wide single-partition window would serialize
    packing at scale. (The only single-partition pieces are the tiny
    vocab-rank and shard-offset relations.)"""
    from shards_prometheus_spark.operators.pipeline import pack_chunks
    from shards_prometheus_spark.plans import formatted_plan

    plan = formatted_plan(pack_chunks(spark, SF_SMOKE))
    assert "hashpartitioning(shard" in plan


def test_single_partition_counter_sees_global_windows(spark):
    """Pin the plan-audit SinglePartition metric itself: a global
    (unpartitioned) ranking window must report ≥1 single-partition
    exchange, a partitioned one must report 0 — the round-1 audit
    counted an inline literal that formatted plans never print, so it
    structurally reported 0 for everything."""
    from pyspark.sql import Window

    from shards_prometheus_spark.plans import (
        count_single_partition_exchanges,
    )

    df = spark.range(100).withColumn("g", F.col("id") % 5)
    glob = df.withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    part = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    )
    assert count_single_partition_exchanges(glob) >= 1
    assert count_single_partition_exchanges(part) == 0


def test_vocab_rank_is_sharded(spark):
    """The vocabulary dense rank must window per range-shard (prefix),
    never one partition over the whole vocabulary; the only global
    pieces left are over the tiny per-shard-counts relation."""
    from shards_prometheus_spark.operators.tierc_common import (
        doc_tokens,
        vocab,
    )
    from shards_prometheus_spark.plans import formatted_plan

    plan = formatted_plan(vocab(doc_tokens(spark, SF_SMOKE)))
    assert "hashpartitioning(shard" in plan


def test_vector_share_is_one_pass(spark):
    """group_left matching rewritten as a window: the plan must contain
    NO join — the 'one' side is the window partition total."""
    from shards_prometheus_spark.operators.binop import vector_share
    from shards_prometheus_spark.plans import formatted_plan

    plan = formatted_plan(vector_share(spark, SF_SMOKE))
    assert "Join" not in plan
    assert "Window" in plan


def test_tpch_q10_dimensions_broadcast(spark):
    from shards_prometheus_spark.operators.tpch import tpch_q10
    from shards_prometheus_spark.plans import formatted_plan

    plan = formatted_plan(tpch_q10(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 2


def test_tpch_q8_seven_table_tree_broadcasts_dims(spark):
    """q8: every dimension side (part, nation-filtered customer set,
    nation-joined supplier) broadcasts; only lineitem-orders shuffles.
    No cartesian anywhere in the 7-table tree."""
    from shards_prometheus_spark.operators.tpch2 import tpch_q8
    from shards_prometheus_spark.plans import formatted_plan

    df = tpch_q8(spark, SF_SMOKE)
    assert_no_cartesian_product(df)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3


def test_tpch_q17_threshold_relation_broadcasts(spark):
    """q17: the correlated per-part AVG threshold must join back as a
    broadcast (part-sized), and the brand filter must reach the scan."""
    from shards_prometheus_spark.operators.tpch2 import tpch_q17

    from shards_prometheus_spark.plans import formatted_plan

    df = tpch_q17(spark, SF_SMOKE)
    assert_broadcast_join(df)
    # the brand filter reaches the PART scan (assert_pushed_filters
    # inspects only the first scan node — lineitem here)
    assert "EqualTo(p_brand,Brand#5)" in formatted_plan(df)


def test_tpch_q21_no_cartesian_no_global_window_on_facts(spark):
    """q21: the sole-latest-shipper logic is two aggregate levels plus
    a per-order window — never a cartesian, and every Window partitions
    by order key (no single-partition fact-sized window)."""
    from shards_prometheus_spark.operators.tpch2 import tpch_q21
    from shards_prometheus_spark.plans import formatted_plan

    df = tpch_q21(spark, SF_SMOKE)
    assert_no_cartesian_product(df)
    plan = formatted_plan(df)
    # the only non-partitioned window is the supplier-sized top-N rank
    assert plan.count("Window") >= 2


def test_minhash_sigs_single_aggregation_pass(spark):
    """The banded-minhash signature build must stay ONE groupBy(doc_id)
    pass: no crossJoin row explosion (the 16-params explode shuffled
    16x the rows for identical math)."""
    from shards_prometheus_spark.operators.dedup import _minhash_sigs
    from shards_prometheus_spark.operators.tierc_common import (
        clear_caches,
    )
    from shards_prometheus_spark.plans import formatted_plan

    clear_caches(spark)
    plan = formatted_plan(_minhash_sigs(spark, SF_SMOKE))
    clear_caches(spark)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_eval_range_one_scan_per_leaf_broadcast_grid(spark):
    """The grid evaluator's scale contract: each LEAF selector is ONE
    parquet scan joined to the broadcast grid relation; composition
    never re-scans. hist-quantile-over-rate has one leaf (one scan),
    the ratio panel two; the only nested-loop join is against the
    ≤(span/step+1)-row grid — and never a cartesian."""
    from shards_prometheus_spark.functions.promql_parser import (
        promql_range_hist_quantile,
        promql_range_ratio,
    )
    from shards_prometheus_spark.plans import formatted_plan

    hq = formatted_plan(promql_range_hist_quantile(spark, SF_SMOKE))
    ratio = formatted_plan(promql_range_ratio(spark, SF_SMOKE))
    assert_no_cartesian_product(promql_range_hist_quantile(spark, SF_SMOKE))
    assert_no_cartesian_product(promql_range_ratio(spark, SF_SMOKE))
    # scans scale with LEAF COUNT only (samples_multi is a 3-metric
    # union, so one leaf = 3 metric-pushdown-pruned scan nodes; t_max
    # is an eagerly-materialized 1-row relation, NOT a second corpus
    # scan per leaf); composition must never multiply beyond that —
    # the two-leaf ratio is exactly 2x the one-leaf quantile
    one_leaf = hq.count("Scan parquet")
    assert one_leaf <= 3, hq
    assert ratio.count("Scan parquet") == 2 * one_leaf


@pytest.mark.parametrize("fmt", ["csv", "json"])
def test_text_format_round_trip(spark, tmp_path, fmt):
    """CSV/JSON interchange re-imports bit-identically (shortest
    round-trip double printing)."""
    from shards_prometheus_spark.model import samples
    from shards_prometheus_spark.sources.storage import (
        read_samples_text,
        write_samples_text,
    )

    out = str(tmp_path / f"samples_{fmt}")
    write_samples_text(spark, SF_SMOKE, out, fmt)
    back = {
        tuple(r)
        for r in read_samples_text(spark, out, fmt).collect()
    }
    want = {
        tuple(r)
        for r in samples(spark, SF_SMOKE)
        .select("event_id", "metric", "label_user", "ts_us", "value")
        .collect()
    }
    assert back == want


def test_quota_sample_windows_are_sharded(spark):
    """Both top-k phases must window over partitioned keys — the salted
    (stratum, salt) shards and then the stratum — never one global
    partition; no stratum-sized sort partition may exist."""
    from shards_prometheus_spark.operators.pipeline import quota_sample
    from shards_prometheus_spark.plans import (
        count_single_partition_exchanges,
        formatted_plan,
    )

    df = quota_sample(spark, SF_SMOKE)
    assert count_single_partition_exchanges(df) == 0
    assert "salt" in formatted_plan(df)


def test_corpus_filter_chain_no_cartesian_single_agg(spark):
    """The funnel is one aggregate pass: no cartesian products, and the
    only single-partition exchange is the final 1-row funnel aggregate."""
    from shards_prometheus_spark.operators.pipeline import corpus_filter_chain
    from shards_prometheus_spark.plans import (
        assert_no_cartesian_product,
        count_single_partition_exchanges,
    )

    df = corpus_filter_chain(spark, SF_SMOKE)
    assert_no_cartesian_product(df)
    assert count_single_partition_exchanges(df) <= 1


def test_unigram_logprob_stats_broadcast(spark):
    """The unigram-count relation and the corpus total must reach the
    token stream as broadcasts — shuffling the corpus on token_id to
    meet its own statistics would re-shuffle 100 TB."""
    from shards_prometheus_spark.operators.text import unigram_logprob
    from shards_prometheus_spark.plans import formatted_plan

    plan = formatted_plan(unigram_logprob(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan


def test_subquery_max_rate_single_shuffle_tail(spark):
    """The outer max_over_time grouping must NOT add a second full
    shuffle: the hour key is a function of the inner step key, so the
    re-aggregation stays on the same partitioning (one series-keyed
    window exchange + one agg exchange at most)."""
    from shards_prometheus_spark.operators.range_functions import (
        subquery_max_rate,
    )
    from shards_prometheus_spark.plans import formatted_plan

    plan = formatted_plan(subquery_max_rate(spark, SF_SMOKE))
    assert plan.count("Exchange") <= 4
    assert "CartesianProduct" not in plan


def test_promql_topk_take_ordered_no_vector_single_partition(spark):
    """The evaluator's topk must compile to TakeOrderedAndProject —
    per-partition top-k merged on the driver — never a vector-sized
    global-window sort. The only SinglePartition exchange allowed in
    the whole expression is the 1-row t_max scalar fold."""
    from shards_prometheus_spark.functions.promql_parser import (
        promql_topk_users,
    )
    from shards_prometheus_spark.plans import (
        count_single_partition_exchanges,
        formatted_plan,
    )

    df = promql_topk_users(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert count_single_partition_exchanges(df) <= 1


def test_countmin_top10_is_take_ordered(spark):
    """The count-min heavy-hitter top-10 must compile to
    TakeOrderedAndProject, not a global sort exchange."""
    from shards_prometheus_spark.operators.sketches import (
        countmin_heavy_hitters,
    )
    from shards_prometheus_spark.plans import formatted_plan

    plan = formatted_plan(countmin_heavy_hitters(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_ddsketch_no_corpus_single_partition(spark):
    """The DDSketch quantile walk runs on the tiny (metric, bucket)
    sketch relation — no single-partition exchange over corpus-sized
    data (windows partition by metric)."""
    from shards_prometheus_spark.operators.sketches import (
        ddsketch_quantile,
    )
    from shards_prometheus_spark.plans import (
        count_single_partition_exchanges,
    )

    df = ddsketch_quantile(spark, SF_SMOKE)
    assert count_single_partition_exchanges(df) == 0


def test_rollup_grid_routes_to_materialized_tier(spark, tmp_path):
    """The long-range grid answered from the MATERIALIZED rollup tier
    must scan ONLY the rollup relation (never raw events) and must
    equal the inline-derived answer — the read-volume lever that makes
    month-long grids viable at 100 TB."""
    from shards_prometheus_spark.operators.rollup import (
        _hourly,
        rollup_grid_sliding,
    )

    tier_path = str(tmp_path / "rollup_hourly")
    _hourly(spark, SF_SMOKE).write.parquet(tier_path)
    tier = spark.read.parquet(tier_path)

    routed = rollup_grid_sliding(spark, SF_SMOKE, rollup=tier)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "events.parquet" not in plan, "routed grid re-read raw events"
    # every scan reads the tier's schema (hour_ts), not raw event rows
    assert plan.count("Scan parquet") >= 1 and "hour_ts" in plan
    assert "event_id" not in plan

    inline = {
        (r["label_user"], r["win_end"], r["sum_v"])
        for r in rollup_grid_sliding(spark, SF_SMOKE).collect()
    }
    got = {
        (r["label_user"], r["win_end"], r["sum_v"])
        for r in routed.collect()
    }
    assert len(got) > 0
    assert got == inline


def test_dedup_near_band_join_width_and_broadcast(spark):
    """The r7 scale fix, pinned: in the broadcastable regime the band
    self-join must be a BROADCAST join whose probe side went through
    an explicit ROUND-ROBIN repartition (data-driven width — without
    it the n² bucket burst runs as wide as the persisted sigs' cache
    partitioning, i.e. 1-2 tasks), and the plan has no cartesian."""
    from shards_prometheus_spark.operators.dedup import dedup_near
    from shards_prometheus_spark.plans import formatted_plan

    df = dedup_near(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "RoundRobinPartitioning" in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan
    assert_no_cartesian_product(df)


def test_exposition_round_trip_reuses_cached_payload(spark):
    """openmetrics_parse scans the serialized payload twice (TYPE
    headers + sample body); both scans must hit the persisted relation
    (InMemoryTableScan), not re-run the serialization tree."""
    from shards_prometheus_spark.plans import formatted_plan
    from shards_prometheus_spark.sources.exposition import (
        openmetrics_parse,
    )

    plan = formatted_plan(openmetrics_parse(spark, SF_SMOKE))
    assert plan.count("InMemoryTableScan") >= 2, plan[:2000]


def test_grid_quantile_no_cartesian_broadcast_grid(spark):
    """quantile by() on the grid keeps the eval_range plan shape: the
    grid relation joins broadcast, no cartesian products."""
    from shards_prometheus_spark.functions.promql_parser import (
        promql_range_quantile,
    )

    df = promql_range_quantile(spark, SF_SMOKE)
    assert_no_cartesian_product(df)
    # the grid join is a non-equi window condition, so it plans as a
    # broadcast NESTED-LOOP join (grid side broadcast, ≤ span/step+1
    # rows) — never a shuffled or cartesian join
    from shards_prometheus_spark.plans import formatted_plan

    assert "BroadcastNestedLoopJoin" in formatted_plan(df)


def test_dedup_near_forced_fallback_matches_broadcast(spark, monkeypatch):
    """The beyond-broadcast regime (the branch the 100 TB story rests
    on), EXECUTED: forcing the fallback via the injectable limits must
    (a) plan the band self-join as a ShuffledHashJoin over an explicit
    hashpartitioning(band, band_hash) exchange at the data-driven
    width, and (b) produce pair-identical output to the broadcast
    regime."""
    from shards_prometheus_spark.operators.dedup import dedup_near
    from shards_prometheus_spark.plans import formatted_plan

    base = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup_near(spark, SF_SMOKE).collect()
    }
    assert base  # non-vacuous: sf0.001 has real near-dup pairs

    # force the fallback: sigs (~2000 rows at sf0.001) > limit 0;
    # per-task 50 makes the width data-driven (2000/50 = 40 > the
    # default parallelism), so the width assert is meaningful
    monkeypatch.setenv("SPARK_GRAFT_BROADCAST_SIGS_LIMIT", "0")
    monkeypatch.setenv("SPARK_GRAFT_SIGS_PER_JOIN_TASK", "50")
    df = dedup_near(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "ShuffledHashJoin" in plan, plan[:2000]
    # the band exchange exists at width n_sigs // per_task = 40 (the
    # broadcast regime has NO hashpartitioning(band...) exchange)
    assert "hashpartitioning(band" in plan, plan[:2000]
    assert ", 40)" in plan.split("hashpartitioning(band", 1)[1][:200]
    assert_no_cartesian_product(df)
    forced = {
        (r["doc_a"], r["doc_b"], r["jaccard"]) for r in df.collect()
    }
    assert forced == base


def test_chained_record_selectors_push_to_scan(spark):
    """Chained rule groups union record vectors onto the corpus
    relation; a later layer's record-name selector must still push its
    metric equality into BOTH union branches, so the parquet side
    prunes every row group (no such event_type value) instead of
    re-scanning the corpus — the property that keeps the lazy chain
    viable at scale (ARCHITECTURE §7 r9 note). Also: no cartesian
    anywhere in the 3-layer cascade."""
    from shards_prometheus_spark.operators.rules import rules_chained
    from shards_prometheus_spark.plans.checks import formatted_plan

    df = rules_chained(spark, SF_SMOKE)
    plan = formatted_plan(df)
    # the EqualTo(...) spelling only appears in PushedFilters lines
    # (Filter nodes render as `(event_type = ...)`), so a plain
    # substring check pins scan-side pushdown on the LATER scans too
    # (assert_pushed_filters reads only the first scan)
    assert "EqualTo(event_type,user:click:rate720h)" in plan
    assert "EqualTo(event_type,user:click:rate720h:daily)" in plan
    assert_no_cartesian_product(df)


def test_promql_over_partitioned_store_prunes_partitions(spark, partitioned_samples):
    """The 100 TB read path end-to-end: the SAME PromQL evaluator over
    the (date, metric)-partitioned layout turns every selector's
    metric equality into a PARTITION filter (whole directories
    skipped, not just row groups), and the result equals the flat
    relation's."""
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )
    from shards_prometheus_spark.model import samples

    expr = "sum by (user) (count_over_time(purchase[720h]))"
    store = read_samples_partitioned(spark, partitioned_samples)
    df = PromQLEvaluator(store).eval(expr)
    assert_partition_filters(df, "metric")
    flat = PromQLEvaluator(samples(spark, SF_SMOKE)).eval(expr)
    assert {(r["labels"], r["value"]) for r in df.collect()} == {
        (r["labels"], r["value"]) for r in flat.collect()
    } != set()


def test_pii_scrub_is_pure_codegen_and_scrubs_everything(spark):
    """text_pii_scrub: the scrubbed text contains NO residual PII
    match, every row has nonzero audit counts (the fixture decoration
    guarantees at least one email + IPv4 per document), and the plan
    is shuffle-free single-scan codegen (no Exchange, no UDF eval) —
    the property that makes the scrub a scan-speed pass at 100 TB."""
    from shards_prometheus_spark.operators.text import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        text_pii_scrub,
    )
    from shards_prometheus_spark.plans import formatted_plan
    from tests.conftest import SF_SMOKE

    df = text_pii_scrub(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    import re

    rows = df.collect()
    assert len(rows) > 0
    for r in rows:
        assert r["n_emails"] >= 1 and r["n_ipv4"] >= 1
        assert re.search(PII_EMAIL_RE, r["scrubbed"]) is None
        assert re.search(PII_IPV4_RE, r["scrubbed"]) is None
        assert "<EMAIL>" in r["scrubbed"] and "<IP>" in r["scrubbed"]


def test_scalar_self_agg_threshold_single_evaluation(spark):
    """`v > scalar(avg(v))` — the canonical alert-rule threshold —
    derives the threshold as a window over the already-compiled
    vector instead of compiling v twice: the plan scans the samples
    relation ONCE for the click selector (plus the 1-row t_max leaf),
    on both the instant and the grid path. A scalar(avg(OTHER))
    comparison keeps the two-plan form and its NaN guard."""
    import re

    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )
    from shards_prometheus_spark.model import samples_multi
    from shards_prometheus_spark.plans import formatted_plan
    from tests.conftest import SF_SMOKE

    ev = PromQLEvaluator(samples_multi(spark, SF_SMOKE))
    h_us = 3_600_000_000

    def n_click_scans(df) -> int:
        plan = formatted_plan(df)
        # each samples leaf pushes its metric equality to the scan —
        # count pushed click-filters, not scans (the t_max leaf and
        # partner relations scan too, with other predicates)
        return len(re.findall(r"EqualTo\(event_type,click\)", plan))

    expr = (
        "sum by (user) (increase(click[720h])) > "
        "scalar(avg(sum by (user) (increase(click[720h]))))"
    )
    inst = ev.eval(expr)
    assert n_click_scans(inst) == 1
    grid = ev.eval_range(expr, 96 * h_us, 24 * h_us)
    assert n_click_scans(grid) == 1

    # different inner vector -> no rewrite: two click-filter scans
    other = (
        "sum by (user) (increase(click[720h])) > "
        "scalar(avg(sum by (user) (increase(click[240h]))))"
    )
    assert n_click_scans(ev.eval(other)) == 2

    # the rewritten comparison still fires (value semantics are pinned
    # by the alert_rules* oracle rows; here just require a non-empty
    # firing set so the plan assertions aren't vacuous)
    assert len(inst.collect()) > 0


def _exchange_nodes(plan: str) -> int:
    """Exchange nodes (shuffle and broadcast) in a formatted plan —
    each node's detail header, e.g. `(4) Exchange`."""
    import re

    return len(re.findall(r"^\(\d+\) \w*Exchange\b", plan, re.M))


def test_instant_promql_leaf_has_no_grid_join(spark):
    """An instant query is the one-point grid: each leaf filters the
    literal window and attaches the instant as a literal column, so no
    BroadcastNestedLoopJoin against a grid relation is left."""
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )
    from shards_prometheus_spark.model import samples_multi
    from shards_prometheus_spark.plans import formatted_plan

    ev = PromQLEvaluator(samples_multi(spark, SF_SMOKE))
    plan = formatted_plan(
        ev.eval_instant_map("sum by (shard) (rate(click[1h]))")
    )
    assert "BroadcastNestedLoopJoin" not in plan


def test_instant_subquery_exchange_count(spark):
    """At one outer point a subquery needs no (outer × inner) mapping
    join, and a series-leaf inner folds on its own series clustering:
    the instant plan keeps the 2 exchange nodes (the lag window's hash
    exchange and the broadcast inner grid) that the dedicated instant
    subquery path planned, at both smoke and oracle scale."""
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )
    from shards_prometheus_spark.model import samples_multi
    from shards_prometheus_spark.plans import formatted_plan
    from tests.conftest import SF_ORACLE

    for sf in (SF_SMOKE, SF_ORACLE):
        ev = PromQLEvaluator(samples_multi(spark, sf))
        plan = formatted_plan(
            ev.eval_instant_map("max_over_time(rate(click[1h])[6h:30m])")
        )
        assert _exchange_nodes(plan) <= 2


def test_label_set_folds_plan_as_hash_aggregates(spark):
    """The simple `*_over_time` fold and the by() aggregation group on
    the label map itself (Spark sorts a map group key), so no map sits
    in an aggregate buffer and neither node plans as a
    SortAggregate — instant or range, as one aggregate over the
    pooled samples (sum of sums) or as two (avg of sums)."""
    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
        data_time_us,
    )
    from shards_prometheus_spark.model import samples_multi
    from shards_prometheus_spark.plans import formatted_plan

    samples = samples_multi(spark, SF_SMOKE)
    t = data_time_us(samples)
    ev = PromQLEvaluator(samples, t)
    h = 3_600_000_000
    for op in ("sum", "avg"):
        expr = f"{op} by (shard) (sum_over_time(click[1d]))"
        for df in (
            ev.eval_instant_map(expr),
            ev.eval_range_map_at(expr, t - 24 * h, t, 6 * h),
        ):
            plan = formatted_plan(df)
            assert "SortAggregate" not in plan
            assert "HashAggregate" in plan


def test_pushed_store_read_is_one_pruned_file_scan(spark):
    """A read over base ∪ pushed scans the pushed blocks as ONE parquet
    source whose PushedFilters carry the metric equality and the time
    window, holds no cached relation (no InMemoryTableScan or
    TableCacheQueryStage in the executed plan), and runs at most 2
    Spark jobs — the cached-segment union ran 3."""
    import re

    from shards_prometheus_spark.functions.promql_parser import (
        PromQLEvaluator,
    )
    from shards_prometheus_spark.model import samples_multi
    from shards_prometheus_spark.plans import formatted_plan
    from shards_prometheus_spark.sources.remote_write import (
        RemoteWriteReceiver,
    )
    from tests.conftest import count_spark_jobs

    t0_ms = 1_700_000_000_000
    rx = RemoteWriteReceiver()
    try:
        n = 0
        for size in (400, 100, 30, 5):  # several live blocks
            rx.ingest_rows(
                [
                    ({"__name__": "pushed_total", "shard": str(j % 4)},
                     t0_ms + 60_000 * (n + j), float(j))
                    for j in range(size)
                ]
            )
            n += size
            pushed = rx.samples(spark)
        base = samples_multi(spark, SF_SMOKE).unionByName(
            pushed, allowMissingColumns=True
        )
        t_us = (t0_ms + 86_400_000) * 1_000
        df = PromQLEvaluator(base, t_us).eval_instant_map(
            "sum(count_over_time(pushed_total[30d]))"
        )
        rows, n_jobs = count_spark_jobs(spark, df.collect)
        plan = formatted_plan(df)  # the executed (final adaptive) plan
    finally:
        rx.stop()
    assert [r["value"] for r in rows] == [float(n)]
    assert "InMemoryTableScan" not in plan
    assert "TableCacheQueryStage" not in plan
    scans = [  # the scans of the pushed leg: not over the base store
        node
        for node in re.split(r"\n(?=\(\d+\) )", plan)
        if re.match(r"\(\d+\) Scan parquet", node) and SF_SMOKE not in node
    ]
    assert len(scans) == 1, plan
    pushed_filters = re.search(r"PushedFilters: \[([^\]]*)\]", scans[0])[1]
    assert "EqualTo(metric,pushed_total)" in pushed_filters
    assert "ts_us" in pushed_filters
    assert n_jobs <= 2
