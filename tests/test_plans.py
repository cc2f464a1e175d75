"""Physical-plan regression tests: the scale posture, asserted.

Correctness tests prove the operators compute the right answer; these
prove the PLANS stay the plans we want at 100 TB — filters reach the
parquet scan, projections prune the read schema, small dimensions
broadcast, pair generation never degenerates into a cartesian join.
A refactor that silently breaks pushdown still passes value checks but
fails here.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as E

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushed_to_parquet_scan(spark):
    # big_spender_segments: o_totalprice > 150000 must reach the orders scan
    plan = _plan(E.q_big_spender_segments(spark, SF_DIR))
    assert "PushedFilters: [" in plan
    assert "GreaterThan(o_totalprice" in plan


def test_isin_pushed_to_scan(spark):
    # status_canonical reads events; union_actors filters event_type IN (...)
    plan = _plan(E.q_union_actors(spark, SF_DIR))
    assert "PushedFilters" in plan and "event_type" in plan


def test_column_pruning_pricing_summary(spark):
    # 7 of 16 lineitem columns are needed; ReadSchema must not include
    # the wide comment/shipinstruct strings
    plan = _plan(E.q_pricing_summary(spark, SF_DIR))
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read
    assert "l_comment" not in read[0]
    assert "l_quantity" in read[0]


def test_column_pruning_top_customers(spark):
    plan = _plan(E.q_top_customers(spark, SF_DIR))
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and "o_comment" not in read[0] and "o_orderdate" not in read[0]


def test_small_dim_joins_broadcast(spark):
    # customer (150 rows at sf0.001) joined to orders agg — the initial
    # AQE plan must already pick a broadcast join, not sort-merge
    plan = _plan(E.q_customer_first_order(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_knn_join_broadcasts_queries(spark):
    # the query side of the kNN join is explicitly broadcast: the corpus
    # is scanned once with no shuffle of the wide embedding column
    plan = _plan(E.q_embedding_knn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_pair_generation_has_no_join(spark):
    # posting-list candidate generation: pairs come from in-array
    # transforms after a groupBy — the ONLY join allowed is the two-pass
    # bucket-cap guard (a LeftSemi against the count-filtered keys,
    # VERDICT r2 #3); no inner/outer self-join or cartesian may ever
    # materialize the pair space
    plan = _plan(E.q_minhash_pairs(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    import re

    for m in re.finditer(r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)[^\n]*", plan):
        assert "LeftSemi" in m.group(0), m.group(0)


def test_text_metrics_stay_jvm_side_no_shuffle(spark):
    # quality scoring is a pure projection: JVM-side only (higher-order
    # functions are codegen-fallback but still JVM expressions — the
    # assertion that matters is NO Python eval nodes) and NO shuffle
    # beyond the explicit input-widening repartition
    plan = _plan(E.q_docs_quality(spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan  # no keyed shuffle at all


def test_partial_aggregation_before_shuffle(spark):
    # the daily rollup must partial-aggregate map-side (HashAggregate
    # appears both before and after the exchange)
    plan = _plan(E.q_event_daily_stats(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in plan


def test_stratified_sample_is_shuffle_free(spark):
    """Deterministic sampling must stay a scan-side filter: no Exchange,
    no aggregation — the plan is projection + filter over the scan."""
    import __spark_entry__ as E

    plan = _plan(E.q_docs_stratified_sample(spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "Exchange" not in final, plan
    assert "HashAggregate" not in final, plan


def test_contamination_broadcasts_probe_vocab(spark):
    """The probe vocabulary must broadcast; the corpus side keeps its
    scan partitioning for the semi-join (no shuffle before the hits agg
    other than the id-keyed aggregation itself)."""
    import __spark_entry__ as E

    plan = _plan(E.q_docs_contamination(spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final and "LeftSemi" in final, plan


def test_packed_windows_single_shuffle_per_stage(spark):
    """Sharded packing: one Exchange onto the shard key for the
    applyInPandas group, one for the window rollup — and no more."""
    import __spark_entry__ as E

    plan = _plan(E.q_docs_packed_windows(spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") <= 2, plan
    assert "CartesianProduct" not in final and "BroadcastNestedLoopJoin" not in final, plan


def test_shingle_path_single_tokenization(spark):
    """The shingle pipeline must evaluate tokenization exactly once per
    row. Two regressions are pinned: (a) a plain explode would let
    InferFiltersFromGenerate duplicate the whole array builder into a
    pushed-down filter (a second split() in the optimized plan); (b) a
    non-let-bound token array inside the per-offset lambda re-tokenizes
    per shingle — O(tokens²) per doc (functions/expr.py). The let binding
    shows up as transform(array(filter(split(...)), ...) with exactly ONE
    split() occurrence."""
    from pyspark.sql import functions as F

    from commercepulse_data_pipeline_spark.operators import dedup as dd

    df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    sig = dd.minhash_signature_table(df, "text", "doc_id", num_hashes=2, shingle_n=3)
    optimized = sig._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("split(lower") == 1, optimized

    sh = dd.simhash_table(df, "text", "doc_id")
    optimized = sh._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("split(lower") == 1, optimized


@pytest.mark.parametrize(
    "op",
    [
        "containment_pairs",
        "knn_join_self",
        "minhash_candidate_pairs",
        "ngram_jaccard_pairs",
        "simhash_candidate_pairs",
        "winnow_match_pairs",
    ],
)
def test_pair_generation_single_sort(spark, op):
    """Every caller of dedup._bucket_pairs sorts each bucket's id list
    once (let-bound): referenced inline from the pair lambdas,
    array_sort(ids) would re-sort the bucket per MEMBER — O(n² log n) per
    bucket — and a plain explode's inferred filter, or a second consumer
    of the pair rows, would add another full pair-array construction."""
    from commercepulse_data_pipeline_spark.operators import dedup as dd
    from commercepulse_data_pipeline_spark.operators import similarity as sim
    from commercepulse_data_pipeline_spark.operators import text as tx

    df = spark.createDataFrame(
        [(i, "x y z common shingle text here") for i in range(6)], ["doc_id", "text"]
    )
    vecs = spark.createDataFrame(
        [(i, [1.0, 0.5, float(i % 2)]) for i in range(6)], ["vec_id", "embedding"]
    )
    calls = {
        "containment_pairs": lambda: dd.containment_pairs(df, max_shingle_freq=100),
        "knn_join_self": lambda: sim.knn_join_self(vecs, max_bucket=100, dim=3),
        "minhash_candidate_pairs": lambda: dd.minhash_candidate_pairs(df, max_bucket=100),
        "ngram_jaccard_pairs": lambda: dd.ngram_jaccard_pairs(df, max_shingle_freq=100),
        "simhash_candidate_pairs": lambda: dd.simhash_candidate_pairs(df, max_bucket=100),
        "winnow_match_pairs": lambda: tx.winnow_match_pairs(df, max_posting=100),
    }
    optimized = calls[op]()._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("array_sort") == 1, optimized


def test_ngram_counts_no_inferred_filter_duplication(spark):
    """ngram_doc_counts (feeds corpus_top_ngrams) must keep the staged
    RLE pipeline out of any pushed-down filter: the re-inlined copy
    evaluates element_at(array_sort(...), i) per element — O(tokens²·log),
    measured as a hang on a 5000-doc partition."""
    from commercepulse_data_pipeline_spark.operators import text as tx

    df = spark.createDataFrame([(1, "a b a b c")], ["doc_id", "text"])
    counts = tx.ngram_doc_counts(df, "text", "doc_id", ngram_n=2)
    optimized = counts._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("split(lower") == 1, optimized
    assert optimized.count("array_sort") == 1, optimized


def test_doc_keywords_single_corpus_pass(spark):
    """doc_keywords must tokenize the corpus ONCE: the window-based
    document frequency keeps one term-table consumer (an agg+join
    formulation evaluated the explode/tokenization twice, once per
    consumer — Spark shares no subplans)."""
    from commercepulse_data_pipeline_spark.operators import text as tx

    df = spark.createDataFrame([(1, "a b c"), (2, "b c d")], ["doc_id", "text"])
    out = tx.doc_keywords(df, k=2)
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("split(lower") == 1, optimized


def test_fx_normalization_fact_side_never_shuffles_for_rates(spark):
    """fx_normalized_revenue: the densified daily-rate table BROADCASTS
    onto the fact scan — no sort-merge join, no fact-side exchange for
    the rate lookup (the as-of is precomputed on the calendar)."""
    plan = _plan(E.q_fx_normalized_revenue(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_last_touch_asof_single_fill_window_no_join(spark):
    """last_touch_asof: union + forward-fill — the as-of must NOT plan as
    any join (range or otherwise); one window does the fill."""
    plan = _plan(E.q_last_touch_asof(spark, SF_DIR))
    for bad in ("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, bad
    assert "last(__asof_row" in plan


def test_semantic_dedup_no_cartesian(spark):
    """semantic_dedup composes selfknn pairs + CC + keep-best: no stage
    may degenerate into a cartesian/nested-loop product."""
    plan = _plan(E.q_semantic_dedup(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mixture_plan_scalar_combines_broadcast(spark):
    """corpus_mixture_plan: the two 1-row aggregate combines must be
    broadcast nested-loop (1x1) joins, never a shuffle join."""
    plan = _plan(E.q_corpus_mixture_plan(spark, SF_DIR))
    assert plan.count("BroadcastNestedLoopJoin") >= 2
    assert "SortMergeJoin" not in plan
    # the corpus-sized pass is pinned: every branch reads the checkpointed
    # rollup RDD, never the parquet scan again
    assert "Scan parquet" not in plan.split("BroadcastNestedLoopJoin")[1]


def test_curation_funnel_single_corpus_pass(spark):
    """docs_curation_funnel: five cumulative stage counts must come from
    ONE documents scan (flags in one projection, conditional sums in one
    aggregate) — per-stage rescans would be 5× the cost at 100 TB."""
    plan = _plan(E.q_docs_curation_funnel(spark, SF_DIR))
    assert plan.count("Scan parquet") == 1
    assert "CartesianProduct" not in plan


def test_incident_impact_range_join_stays_equi(spark):
    """incident_impact: the keyless point-in-interval pairing must plan
    as an equi-join on the time bin, never a nested-loop join."""
    plan = _plan(E.q_incident_impact(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_incident_concurrency_self_overlap_stays_equi(spark):
    """incident_concurrency: the keyless interval-overlap SELF-join must
    plan as an equi-join on the time bin, never a nested-loop join."""
    plan = _plan(E.q_incident_concurrency(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_per_lang_sample_has_window_group_limit(spark):
    """docs_per_lang_sample: the rank<=k filter must push map-side
    (WindowGroupLimit) so a dominant language ships ~k rows per map task
    instead of its full corpus share (measured 6.6× in the Zipf probe)."""
    plan = _plan(E.q_docs_per_lang_sample(spark, SF_DIR))
    assert "WindowGroupLimit" in plan


def test_user_conversion_preaggregates_before_join(spark):
    """user_conversion: signups collapse to one row per user BEFORE the
    purchase join (no raw-stream fan-out), and nothing goes nested-loop."""
    plan = _plan(E.q_user_conversion(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Scan parquet") == 2


def test_source_overlap_single_scan_no_self_join(spark):
    """source_overlap: one documents scan, pairs expand inside the
    fp-keyed aggregate (no self-join of the exploded fingerprint table),
    and only two exchanges (fp agg + tiny pair-key agg)."""
    plan = _plan(E.q_source_overlap(spark, SF_DIR))
    assert plan.count("Scan parquet") == 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 2


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """100 TB posture for a selective-but-NOT-broadcastable join side:
    Spark's runtime bloom filter (built from the filtered dim's keys,
    applied to the fact scan) prunes fact rows before the join shuffle.
    Production defaults (creation side <10 MB... up to 100 MB, fact scan
    >10 GB) fire on real volumes; test-scale thresholds are lowered here
    only to make the plan assertable. Pinned so an upgrade or conf
    refactor that silently loses the rewrite fails loudly."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 — unset conf
            old[k] = None
        spark.conf.set(k, v)
    try:
        l = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").where(
            F.col("o_totalprice") > 150000
        )
        j = l.join(o, l.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_totalprice"
        )
        plan = _plan(j)
        assert "bloom_filter_agg" in plan and "might_contain" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_salted_agg_two_hash_aggregate_phases(spark):
    """salted_revenue: phase-1 (key, salt) partials and the phase-2 merge
    are hash aggregates (each with its own map-side partial) — the salt
    must not force a sort-based aggregate."""
    plan = _plan(E.q_salted_revenue(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 4   # 2 phases x (partial + final)
    assert "CartesianProduct" not in plan


def test_skew_report_topn_is_take_ordered(spark):
    """skew_report's heaviest-keys rank compiles to TakeOrderedAndProject
    (a distributed top-k heap over the distinct-key counts — no task ever
    sorts the full key space), and the per-key count is a two-phase hash
    aggregate."""
    plan = _plan(E.q_skew_report(spark, SF_DIR))
    assert "TakeOrderedAndProject(limit=3" in plan
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_epoch_shuffle_single_exchange_no_global_sort(spark):
    """epoch_shuffle: exactly one hash exchange (by shard) and the
    position sort runs WITHIN shard partitions — a global sort would
    show a rangepartitioning exchange."""
    plan = _plan(E.q_docs_epoch_shuffle(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in plan


def test_collocations_topk_is_take_ordered(spark):
    """corpus_collocations: the top-k is a TakeOrderedAndProject heap and
    the per-doc gram counting aggregates with map-side partials; the only
    nested-loop join is the broadcast of the 1-row totals."""
    plan = _plan(E.q_corpus_collocations(spark, SF_DIR))
    assert "TakeOrderedAndProject(limit=30" in plan
    assert "partial_" in plan
    assert "CartesianProduct" not in plan


def test_passage_dedup_plan_shape(spark):
    """dedup_passages plan guarantees: the fp-keyed duplicate decision
    partially aggregates map-side (min/count over __fp before the
    exchange), and no stage degenerates into a nested-loop /
    cartesian join."""
    from commercepulse_data_pipeline_spark.operators.text import dedup_passages

    df = spark.createDataFrame(
        [(i, f"w{i} x{i} y{i} z{i} a b c d e f g h") for i in range(20)],
        ["doc_id", "text"],
    )
    plan = (
        dedup_passages(df)._jdf.queryExecution().executedPlan().toString()
    )
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final, plan
    assert "BroadcastNestedLoopJoin" not in final, plan
    # two-phase aggregate on the fingerprint key: a partial_ function
    # appears before the exchange (count/min partials)
    assert "partial_" in plan, plan


def test_dsir_model_broadcasts_to_scoring_join(spark):
    """dsir_importance plan guarantees: the n_buckets-row ratio table
    reaches the per-doc scoring join as a BROADCAST (the model never
    shuffles with the corpus), bucket counts partially aggregate
    map-side, and nothing degenerates into a cartesian product (the two
    1-row total combines are the sanctioned broadcast-NLJ shape)."""
    from commercepulse_data_pipeline_spark.operators.sampling import (
        dsir_importance,
    )

    raw = spark.createDataFrame(
        [(i, f"alpha beta w{i} gamma delta") for i in range(30)],
        ["doc_id", "text"],
    )
    tgt = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(5)], ["doc_id", "text"]
    )
    plan = (
        dsir_importance(raw, tgt, n_buckets=64)
        ._jdf.queryExecution().executedPlan().toString()
    )
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, plan
    assert "CartesianProduct" not in final, plan
    assert "partial_" in plan, plan


def test_strip_boilerplate_plan_shape(spark):
    """strip_boilerplate keeps the dedup_passages plan guarantees with
    the (source, fp)-scoped key: map-side partial aggregation on the
    scoped fingerprint, no cartesian/nested-loop stage."""
    from commercepulse_data_pipeline_spark.operators.text import (
        strip_boilerplate,
    )

    df = spark.createDataFrame(
        [(i, f"s{i % 3}", f"w{i} x{i} y{i} z{i} a b c d e f g h")
         for i in range(20)],
        ["doc_id", "source", "text"],
    )
    plan = (
        strip_boilerplate(df)._jdf.queryExecution().executedPlan().toString()
    )
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final, plan
    assert "BroadcastNestedLoopJoin" not in final, plan
    assert "partial_" in plan, plan


def test_hard_negatives_band_filters_before_rank_window(spark):
    """hard_negatives plan guarantees: queries reach the corpus through
    the sanctioned broadcast-cross shape (the knn_join contract — the
    build side is the SMALL query set, never the corpus), Catalyst
    pushes the band predicate all the way into the join condition (so
    out-of-band pairs die before the shuffle), and the rank window gets
    a map-side WindowGroupLimit Partial — the exchange carries at most
    k rows per (partition, query)."""
    from commercepulse_data_pipeline_spark.operators import similarity as sim

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, 2.0, 3.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    q = df.where(F.col("vec_id") < 3)
    out = sim.hard_negatives(df, q, k=3, sim_lo=0.1, sim_hi=0.9)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final, plan
    # broadcast cross WITH the band in its condition: "BuildRight, Cross,"
    # followed by a non-empty condition mentioning the 0.25/0.9 band
    # literal — not an unconditioned cross producing every pair
    bnlj = final.index("BroadcastNestedLoopJoin")
    cond = final[bnlj : final.index("\n", bnlj)]
    assert "Cross, (" in cond, plan
    assert "0.9" in cond, plan
    # map-side top-k before the exchange
    pre_exchange = final[final.index("Exchange") :]
    assert "WindowGroupLimit" in pre_exchange, plan
    assert ", Partial" in pre_exchange, plan


def test_temperature_mixture_plan_broadcasts_group_plan(spark):
    """temperature_mixture plan guarantees: the group-count-sized rate
    plan reaches the sampling join as a BROADCAST (the corpus never
    shuffles for its own thinning) and the bucket filter is a plain
    predicate over the join output — no cartesian stage beyond the two
    sanctioned 1-row total combines."""
    from pyspark.sql import functions as F

    from commercepulse_data_pipeline_spark.operators.sampling import (
        temperature_mixture,
    )

    df = spark.createDataFrame(
        [(i, f"l{i % 3}") for i in range(300)], "doc_id long, lang string"
    )
    out = temperature_mixture(df, "lang", "doc_id", target_frac=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, plan
    assert "CartesianProduct" not in final, plan
    # the corpus side reaches the join without an Exchange of its own:
    # every hashpartitioning exchange in the plan belongs to the tiny
    # count/plan side, never keyed by doc_id
    assert "hashpartitioning(doc_id" not in final, plan


def test_label_centroid_outliers_plan_shape(spark):
    """label_centroid_outliers plan guarantees (r11): the labels×dim
    centroid table reaches the scoring scan as a BROADCAST hash join
    (the corpus never shuffles on label for its own scoring), and the
    per-label rank window gets a map-side WindowGroupLimit Partial —
    the exchange carries at most top_n rows per (partition, label),
    never the scored corpus."""
    from pyspark.sql import functions as F

    from commercepulse_data_pipeline_spark.operators.similarity import (
        label_centroid_outliers,
    )

    df = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, 2.0, 3.0], i % 3) for i in range(60)],
        "vec_id long, embedding array<float>, label int",
    )
    out = label_centroid_outliers(df, top_n=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, plan
    assert "SortMergeJoin" not in final, plan
    pre_exchange = final[final.index("Exchange"):]
    assert "WindowGroupLimit" in pre_exchange, plan
    assert ", Partial" in pre_exchange, plan


def test_assign_splits_grouped_no_extra_shuffle(spark):
    """assign_splits_grouped plan guarantees (r11, tightened r12): ONE
    sanctioned membership equi-join plus the ADVICE-r11 one-row-per-
    member MIN reduction on the membership side — and that reduction
    must add NO exchange of its own (its final-aggregate partitioning on
    the member key IS the join's membership-side input requirement, so
    the plan reuses one shuffle for both). The split assignment itself
    stays a pure projection — no window, no aggregation on the corpus
    side; the bucket CASE runs post-join (split_key is join-derived, so
    it cannot be computed earlier)."""
    from pyspark.sql import functions as F

    from commercepulse_data_pipeline_spark.operators.sampling import (
        assign_splits_grouped,
    )

    docs = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    m = spark.createDataFrame([(i, 0) for i in range(5)], "doc_id long, cluster_id long")
    out = assign_splits_grouped(
        docs, "doc_id", m, {"train": 0.8, "val": 0.1, "test": 0.1}, salt="t:"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    # exactly ONE join; the only aggregates are the membership MIN
    # reduction's partial+final pair (never more — nothing aggregates
    # the corpus side); no window; and STILL ≤2 exchanges total (the
    # reduction shares the join's membership-side shuffle; AQE may
    # replace them with a broadcast at runtime — membership size is the
    # caller's data, so the static plan can't promise which)
    assert "Window" not in final, plan
    assert final.count("HashAggregate") <= 2, plan
    import re as _re

    joins = _re.findall(r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", final)
    assert len(joins) == 1, plan
    assert final.count("Exchange hashpartitioning") <= 2, plan


def test_cdc_chunks_plan_single_tokenize_single_shuffle(spark):
    """cdc_chunks (r13): the token build evaluates ONCE per row (the
    Catalyst re-expansion pitfall — a pushed-down size() predicate or a
    collapsed projection re-inlines tokens() per reference; the r13 plan
    audit caught a 3x version), and the whole operator is one explode +
    one doc-keyed window shuffle."""
    from commercepulse_data_pipeline_spark.operators.text import cdc_chunks

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "k l m n o p")],
        "doc_id long, text string",
    )
    plan = _plan(cdc_chunks(df))
    assert plan.count("split(") == 1, plan
    assert plan.count("Generate") == 1  # one posexplode
    # one shuffle for the window cumsum; the final groupBy reuses its
    # doc-keyed partitioning (id is a prefix of the grouping key)
    assert plan.count("Exchange") <= 2


def test_html_extract_plan_is_map_only(spark):
    """html_extract (r15) must stay a pure projection: zero exchanges,
    zero UDF nodes — the whole regex chain runs inside codegen, and the
    read schema prunes to the two referenced columns."""
    from pyspark.sql import functions as F

    from commercepulse_data_pipeline_spark.operators import text as tx

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pages = docs.select(
        "doc_id", F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>")).alias("html")
    )
    plan = _plan(tx.html_extract(pages))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_nb_score_model_broadcasts(spark):
    """nb_score (r15) plan guarantees: the dense model reaches the
    feature-scoring join as a BROADCAST (never shuffles with the
    corpus), the per-doc sum partially aggregates map-side, and the two
    1-row bias combines are the sanctioned broadcast-NLJ shape — no
    cartesian product."""
    from commercepulse_data_pipeline_spark.operators import classifier as clf

    labeled = spark.createDataFrame(
        [(i, f"alpha beta w{i}", i % 2) for i in range(20)],
        ["doc_id", "text", "label"],
    )
    model = clf.nb_train(labeled, n_buckets=64)
    plan = _plan(clf.nb_score(labeled.select("doc_id", "text"), model, n_buckets=64))
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, plan
    assert "CartesianProduct" not in final, plan
    assert "partial_" in plan, plan


def test_centroid_assign_is_constant_free_and_map_only(spark):
    """_with_centroid_assign (r15): the per-row argmin plan carries NO
    centroid literals (trains stop minting unique codegen classes) and
    adds no shuffle — the 1-row centroid frame arrives via broadcast."""
    from commercepulse_data_pipeline_spark.operators import similarity as sim

    vecs = spark.createDataFrame(
        [(i, [float(i), float(i + 1)]) for i in range(10)],
        ["vec_id", "embedding"],
    )
    cents = [[0.125, 0.25], [7.75, 8.875]]
    assigned = sim._with_centroid_assign(vecs, cents, vec_col="embedding")
    plan = _plan(assigned)
    # no SHUFFLE exchange; the BroadcastExchange of the 1-row centroid
    # frame is the intended shape
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    # the centroid VALUES must not appear as plan literals
    assert "8.875" not in plan and "0.125" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_bm25_topk_plan_shape(spark):
    """bm25_topk (r15): the scoring pass joins the 1-row stats aggregate
    by BROADCAST (never a wide stats shuffle), the top-k compiles to a
    TakeOrderedAndProject heap (never a global Sort+Exchange), and no
    Python UDF appears — tf/dl/score all run in codegen."""
    plan = _plan(E.q_docs_bm25_topk(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    # the only exchanges allowed are the 1-row stats combine + broadcast
    # distribution — never a corpus-keyed hashpartitioning repartition
    corpus_wide = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "SinglePartition" not in ln
    ]
    assert corpus_wide == [], plan


def test_bm25_indexed_probe_prunes_partitions(spark, tmp_path):
    """bm25_topk_indexed (r15): the probe's bucket filter must reach the
    postings scan as a PARTITION filter (directory pruning — the reason
    the index is hive-partitioned by term_bucket) with the term-isin
    residual pushed into the surviving row groups; the df table joins
    back by BROADCAST; top-k is a TakeOrderedAndProject heap."""
    from commercepulse_data_pipeline_spark.operators import retrieval as ret

    df = spark.createDataFrame(
        [(i, f"alpha w{i} beta") for i in range(30)], ["doc_id", "text"]
    )
    path = str(tmp_path / "tix")
    ret.write_text_index(df, path, n_buckets=8)
    # r16: the serving path PINS the probed postings (the df aggregate
    # materializes the pruned scan once; the scoring join reads cache),
    # so the pruning evidence lives on the probe subplan — assert it
    # there, on exactly the expression bm25_topk_indexed executes.
    n_buckets = ret._index_stats(spark, path)["n_buckets"]
    buckets = ret._probe_buckets(spark, ["alpha", "w3"], n_buckets)
    probe_plan = _plan(ret._probed_postings(spark, path, ["alpha", "w3"], buckets))
    assert "PartitionFilters: [" in probe_plan and "term_bucket" in probe_plan.split(
        "PartitionFilters: ["
    )[1].split("]")[0], probe_plan
    assert "PushedFilters: [" in probe_plan and "In(term" in probe_plan, probe_plan
    plan = _plan(ret.bm25_topk_indexed(spark, path, ["alpha", "w3"], k=5))
    # the final plan must read the PINNED probe (no second parquet scan
    # of the postings) and keep the serving shape
    assert "Scan parquet" not in plan, plan
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, plan
    assert "TakeOrderedAndProject" in plan, plan
