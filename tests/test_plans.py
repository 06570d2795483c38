"""Plan-quality regression tests.

These pin the physical-plan properties the 100 TB target depends on:
filters reach the Parquet scan, scans read only projected columns,
small-dimension joins broadcast, and the agg pipeline stays inside
whole-stage codegen. A correctness-green change that breaks one of
these would be a silent 10-100x regression at scale — the reference
hand-codes the equivalents (src/lib/table_load_spec.go:59-76 column
pruning, src/lib/table_block_io.go:110-182 zone-map skipping), so
plan shape IS part of parity.
"""

import pyspark.sql.functions as F
import pytest

from sybil_spark.plans import inspect as I
from sybil_spark.query.builder import Query


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    from sybil_spark.corpus import _events
    return _events(spark, sf_dir)


def test_filter_pushdown_reaches_scan(events):
    q = (Query.table(events).int_filter("value", "gt", 10)
         .group_by("event_type").limit(None).execute(events.sparkSession))
    pushed = I.pushed_filters(q)
    assert any("GreaterThan(value" in p for p in pushed), pushed
    assert any("IsNotNull(value)" in p for p in pushed), pushed


def test_column_pruning_scan_reads_only_needed(events):
    q = (Query.table(events).group_by("event_type").agg("value", "avg")
         .limit(None).execute(events.sparkSession))
    # scan must read only the grouping col + agg col (+ weight if any)
    assert I.scans_read_only(q, {"event_type", "value"}), I.scan_columns(q)


def test_groupby_is_single_shuffle(events):
    q = (Query.table(events).group_by("event_type").agg("value", "avg")
         .limit(None).execute(events.sparkSession))
    # partial agg map-side, one hash exchange, final agg — no more
    assert I.shuffle_exchange_count(q) == 1, I.formatted_plan(q)


def test_sorted_limit_takes_ordered_not_full_sort(events):
    q = (Query.table(events).group_by("user_id").agg("value", "avg")
         .limit(10).execute(events.sparkSession))
    plan = I.formatted_plan(q)
    assert "TakeOrderedAndProject" in plan
    # top-k must not pay a range-partition exchange on top of the agg
    assert I.shuffle_exchange_count(q) == 1, plan


def test_samples_compile_to_top_k(events):
    q = (Query.table(events).str_filter("event_type", "eq", "error")
         .samples(events.sparkSession, n=20, sort_col="event_id"))
    assert "TakeOrderedAndProject" in I.formatted_plan(q)
    assert I.shuffle_exchange_count(q) == 0


def test_small_dim_join_broadcasts(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    j = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
          .groupBy("n_name").agg(F.count(F.lit(1)).alias("count")))
    assert I.broadcast_join_count(j) >= 1
    assert I.sort_merge_join_count(j) == 0


def test_agg_pipeline_in_codegen(events):
    q = (Query.table(events).int_filter("value", "gt", 0)
         .group_by("event_type").agg("value", "avg")
         .limit(None).execute(events.sparkSession))
    # AQE assigns codegen ids only once the plan is final — execute first
    q.collect()
    # scan→filter→partial-agg and final-agg each fuse into codegen
    assert I.codegen_span_count(q) >= 2, I.formatted_plan(q)


def test_hist_scan_prunes_to_bucket_cols(events):
    q = Query.table(events).limit(None).hist(
        events.sparkSession, "value", bucket=10.0)
    assert I.scans_read_only(q, {"value"}), I.scan_columns(q)


def test_count_reads_no_data_columns(events):
    q = Query.table(events).limit(None).execute(events.sparkSession)
    # plain COUNT should scan zero columns (parquet footer counts)
    assert I.scans_read_only(q, set()), I.scan_columns(q)


def test_bucketed_join_has_zero_shuffles(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key join with NO Exchange —
    the write-time shuffle amortization (sources/bucketed.py)."""
    from sybil_spark.sources.bucketed import write_bucketed
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    write_bucketed(orders, "b_orders", ["o_custkey"], 4,
                   sort_cols=["o_custkey"], path=str(tmp_path / "bo"))
    write_bucketed(cust, "b_cust", ["c_custkey"], 4,
                   sort_cols=["c_custkey"], path=str(tmp_path / "bc"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = (spark.table("b_orders")
             .join(spark.table("b_cust"),
                   F.col("o_custkey") == F.col("c_custkey"))
             .select("o_orderkey", "c_name"))
        assert I.shuffle_exchange_count(j) == 0, I.formatted_plan(j)
        assert I.sort_merge_join_count(j) == 1
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("drop table if exists b_orders")
        spark.sql("drop table if exists b_cust")


def test_bucketed_groupby_has_zero_shuffles(spark, sf_dir, tmp_path):
    from sybil_spark.sources.bucketed import write_bucketed
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    write_bucketed(orders, "b_orders2", ["o_custkey"], 4,
                   path=str(tmp_path / "bo2"))
    try:
        g = (spark.table("b_orders2").groupBy("o_custkey")
             .agg(F.count(F.lit(1)).alias("n")))
        assert I.shuffle_exchange_count(g) == 0, I.formatted_plan(g)
    finally:
        spark.sql("drop table if exists b_orders2")


def test_tpch_q5_broadcasts_dims_two_shuffles(spark, sf_dir):
    """6-table join: dims broadcast, facts co-shuffle once, one agg
    shuffle — the plan that survives a 100x fact scale-up."""
    from sybil_spark.corpus import QUERIES
    q = QUERIES["tpch_q5"](spark, sf_dir)
    assert I.broadcast_join_count(q) >= 4, I.formatted_plan(q)
    assert I.shuffle_exchange_count(q) <= 2, I.formatted_plan(q)


def test_tpch_q6_filters_all_pushed(spark, sf_dir):
    from sybil_spark.corpus import QUERIES
    q = QUERIES["tpch_q6"](spark, sf_dir)
    pushed = " ".join(I.pushed_filters(q))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed
    assert I.scans_read_only(
        q, {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"})


def test_day_partitioned_layout_prunes(spark, sf_dir, tmp_path):
    """Time-partitioned layout (digest writes time-ranged files; at
    scale, day partitions): a day-filtered query must prune
    partitions in the scan, not filter rows after reading — the
    reference's zone-map block skip (table_block_io.go:110-182) as
    directory pruning."""
    from sybil_spark.corpus import _events
    path = str(tmp_path / "ev_by_day")
    ev = _events(spark, sf_dir)
    (ev.withColumn("day", F.to_date(F.timestamp_seconds("time")))
       .write.partitionBy("day").parquet(path))
    days = [r["day"] for r in
            spark.read.parquet(path).select("day").distinct().limit(2)
            .collect()]
    q = (spark.read.parquet(path)
         .where(F.col("day") == days[0])
         .groupBy("event_type").agg(F.count(F.lit(1)).alias("n")))
    plan = I.formatted_plan(q)
    assert "PartitionFilters" in plan
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "day" in m.group(1), plan
    # the day predicate must NOT appear as a post-scan row Filter
    data_filters = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert data_filters is None or "day" not in data_filters.group(1)


@pytest.fixture(scope="module")
def corpus_plans(spark, sf_dir):
    """Every corpus query's formatted physical plan at the test scale
    factor, built once for the three corpus-wide plan-smell gates
    below."""
    from sybil_spark.corpus import QUERIES
    return {name: I.formatted_plan(fn(spark, sf_dir))
            for name, fn in QUERIES.items()}


def test_no_cartesian_or_nested_loop_in_corpus(corpus_plans):
    """Global plan-smell gate: no corpus query may plan a
    CartesianProduct or BroadcastNestedLoopJoin — the two shapes
    that are quadratic at scale regardless of cluster size. Guards
    every future operator against accidentally joining without an
    equi-condition."""
    bad = {}
    for name, plan in corpus_plans.items():
        smells = [s for s in ("CartesianProduct", "BroadcastNestedLoopJoin")
                  if s in plan]
        if smells:
            bad[name] = smells
    assert not bad, bad


def test_no_row_python_udf_in_corpus(corpus_plans):
    """Global plan-smell gate #2: no corpus query may plan a
    BatchEvalPython node — the row-at-a-time Python UDF evaluator
    that serializes one row per round-trip (10-100x slower than the
    Arrow-batched forms). Python on the hot path must be
    ArrowEvalPython (pandas_udf), MapInPandas, or
    FlatMapGroupsInPandas, all of which move Arrow record batches.
    Guards every future operator against a casual F.udf() sneaking
    into the corpus."""
    bad = [name for name, plan in corpus_plans.items()
           if "BatchEvalPython" in plan]
    assert not bad, bad


def test_sessionize_single_shuffle(spark, events):
    from sybil_spark.operators.temporal import sessionize
    q = sessionize(events, "user_id", "time", tiebreak="event_id")
    # lag window, running-sum window, and the session groupBy all
    # share the user_id hash partitioning -> exactly one Exchange
    assert I.shuffle_exchange_count(q) == 1, I.formatted_plan(q)


def test_topk_per_group_two_shuffles(spark, sf_dir):
    from sybil_spark.corpus import QUERIES
    q = QUERIES["topk_per_group"](spark, sf_dir)
    # count shuffle on (event_type, user_id) + rank-window shuffle on
    # event_type; the window input is groups, never raw events
    assert I.shuffle_exchange_count(q) == 2, I.formatted_plan(q)


def test_jaccard_default_plan_has_posting_cap(spark, sf_dir):
    """The DEFAULT jaccard plan must route pair-finding through the
    hot-shingle cap (left-anti join against over-long postings)
    WHENEVER a hot posting exists; when the probe finds none (benign
    data, the common case) it short-circuits to the plain self-join —
    cost parity with exact=True. The uncapped join on skewed data is
    opt-in (exact=True) only — quadratic in the hottest posting and
    unsafe at 100 TB."""
    from sybil_spark.operators import dedup
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # sf documents have no posting > DEFAULT_MAX_POSTING: the probe
    # short-circuits and the default plan == the exact plan
    q = dedup.jaccard_pairs(d, "doc_id", "text", threshold=0.1)
    assert "LeftAnti" not in I.formatted_plan(q), \
        "benign data must take the short-circuit (no cap subtree)"
    # force hot postings with a tiny cap: the capped subtree (anti-join
    # against hot postings + hot-correction) must appear
    qh = dedup.jaccard_pairs(d, "doc_id", "text", threshold=0.1,
                             max_posting=2)
    assert "LeftAnti" in I.formatted_plan(qh), "skewed data must be capped"
    q2 = dedup.jaccard_pairs(d, "doc_id", "text", threshold=0.1, exact=True)
    assert "LeftAnti" not in I.formatted_plan(q2)


def test_tpch_q14_broadcast_and_pushdown(spark, sf_dir):
    from sybil_spark.corpus import QUERIES
    q = QUERIES["tpch_q14"](spark, sf_dir)
    assert I.broadcast_join_count(q) >= 1, I.formatted_plan(q)
    assert I.shuffle_exchange_count(q) <= 1, I.formatted_plan(q)
    pushed = " ".join(I.pushed_filters(q))
    assert "l_shipdate" in pushed, pushed


def test_tpch_q18_semi_join_broadcasts(spark, sf_dir):
    from sybil_spark.corpus import QUERIES
    q = QUERIES["tpch_q18"](spark, sf_dir)
    # the HAVING survivors broadcast into orders and lineitem; only
    # the big-order agg and the final group shuffle
    assert I.broadcast_join_count(q) >= 2, I.formatted_plan(q)
    assert I.shuffle_exchange_count(q) <= 2, I.formatted_plan(q)


def test_decontaminate_broadcasts_bench(spark, sf_dir):
    """The bench shingle set must broadcast — the corpus side of
    decontamination joins without shuffling its text."""
    from sybil_spark.corpus import QUERIES
    q = QUERIES["decontaminate"](spark, sf_dir)
    assert I.broadcast_join_count(q) >= 1, I.formatted_plan(q)


def test_resample_mixture_single_shuffle(spark, sf_dir):
    """Membership is a codegen filter: only the output count's group
    shuffle remains."""
    from sybil_spark.corpus import QUERIES
    q = QUERIES["resample_mixture"](spark, sf_dir)
    assert I.shuffle_exchange_count(q) <= 1, I.formatted_plan(q)


def test_new_aggregate_shapes(spark, sf_dir):
    """Shuffle budgets for the round-2 aggregate paths: hist_summary
    pays per-bucket agg + per-group merge (+ a sort of the tiny
    aggregated set); weighted percentile pays window + group; the
    weighted moment aggregates stay single-shuffle."""
    from sybil_spark.corpus import QUERIES
    # weighted_percentile: 3 = the window's group exchange + the
    # |groups|-row totals aggregate exchange (r10: the totals moved
    # out of a second whole-partition Window pass — one fewer walk
    # over every row, at the cost of a tiny extra exchange)
    # weighted_hist_summary: 5 = the 3 aggregate/merge exchanges plus
    # TWO deliberate RoundRobin spreads (r11): its moment partials and
    # its percentile-CDF branch each re-split the single-row-group
    # lineitem scan before their row-heavy stages (guarded — no-op
    # when the scan carries >= cores splits; interleaved A/B min
    # 1.70->1.18 s at sf0.1, SCALE_REHEARSAL_r11_spread.json). Filters
    # still push to the scan below the exchanges.
    budgets = {"hist_summary": 3, "weighted_hist_summary": 5,
               "weighted_stddev_sum": 1, "weighted_percentile": 3,
               "time_hist": 2, "pii_scrub": 1}
    for name, budget in budgets.items():
        q = QUERIES[name](spark, sf_dir)
        got = I.shuffle_exchange_count(q)
        assert got <= budget, (name, got, I.formatted_plan(q))


def test_distinct_limit_early_exit_plans(spark, events):
    """The reference aborts its scan once >= N distinct groups exist
    (src/lib/table_query.go:259-280). Spark's equivalents, pinned
    here: the nondeterministic variant compiles to CollectLimit over
    the distinct aggregate — tasks stop producing once the limit's
    rows are buffered (and with AQE the final stage reads few
    partitions); the deterministic variant compiles to
    TakeOrderedAndProject — per-partition top-N then a K-row merge,
    never a global sort. Known 100x delta vs the reference, by
    design: Spark still SCANS every block once (the limit caps
    result movement, not input IO), while the reference can stop
    reading mid-table; exactness and plan shape are what we keep.
    """
    q_nd = Query.table(events).distinct_values(
        events.sparkSession, ["user_id"], limit=10)
    p_nd = I.formatted_plan(q_nd)
    assert "CollectLimit" in p_nd or "GlobalLimit" in p_nd, p_nd
    assert "Sort " not in p_nd  # no ordering work at all

    q_det = Query.table(events).distinct_values(
        events.sparkSession, ["user_id"], limit=10, deterministic=True)
    p_det = I.formatted_plan(q_det)
    assert "TakeOrderedAndProject" in p_det, p_det
    # the distinct aggregate underneath stays a hash aggregate
    assert "HashAggregate" in p_det


def test_event_analytics_plan_shapes(spark, sf_dir):
    """Scale shapes of the round-5 analytics family: the moving
    average pays exactly ONE shuffle (window partitioning); cohort
    retention joins its one-row-per-user anchor WITHOUT a broadcast
    explosion of raw events (anchor join + distinct + count bounded
    at 3 shuffles); the funnel's stage frames (<= |users| rows)
    broadcast into the event scans."""
    from sybil_spark.corpus import QUERIES
    mavg = QUERIES["moving_avg"](spark, sf_dir)
    assert I.shuffle_exchange_count(mavg) == 1, I.formatted_plan(mavg)

    # retention: anchor agg, join-back, distinct, offset agg, output
    # sort — five shuffles, but each over strictly shrinking data
    # (events -> per-user -> per-(user,week) -> per-week); the bound
    # pins that no stage re-shuffles the RAW events twice
    ret = QUERIES["retention"](spark, sf_dir)
    assert I.shuffle_exchange_count(ret) <= 5, I.formatted_plan(ret)

    fun = QUERIES["funnel"](spark, sf_dir)
    assert I.broadcast_join_count(fun) >= 2, I.formatted_plan(fun)


def test_pivot_unpivot_plan_shapes(spark, sf_dir):
    """Pivot = exactly two hash-agg exchanges ((day,type) partial then
    PivotFirst by day) + the final sort; the unpivot reuses the
    UNORDERED pivot body, so no redundant inner sort survives under
    its Expand — exactly one Sort (the outer day,event_type one)."""
    from sybil_spark.corpus import QUERIES
    piv = QUERIES["pivot_daily_avg"](spark, sf_dir)
    # 2 hash-partitioning shuffles + 1 range (orderBy)
    assert I.shuffle_exchange_count(piv) == 3, I.formatted_plan(piv)
    unp = QUERIES["unpivot_daily_avg"](spark, sf_dir)
    p = I.formatted_plan(unp)
    assert p.count("Expand") >= 1, p
    sorts = [ln for ln in p.splitlines() if ln.strip().startswith("(")
             and ") Sort" in ln]
    assert len(sorts) == 1, p


def test_quantized_topk_plan(spark, sf_dir):
    """quantized_topk keeps the brute-force contract: the cosine is a
    projection and the top-k compiles to TakeOrderedAndProject — no
    shuffle of vectors, no join."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    from sybil_spark.operators import similarity
    q = similarity.quantized_topk(emb, "embedding", k=5, query_id=0)
    p = I.formatted_plan(q)
    assert "TakeOrderedAndProject" in p, p
    assert I.shuffle_exchange_count(q) == 0, p


def test_span_dedup_plan_text_keyed_two_shuffles(spark, sf_dir):
    """The text-keyed plan stays exactly two shuffles — the
    first-occurrence window on the span and the per-doc reassembly
    agg; span construction stays array expressions over the scan."""
    from sybil_spark.operators import dedup
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = dedup.span_dedup(docs, "doc_id", "text", span_words=5)
    p = I.formatted_plan(q)
    assert I.shuffle_exchange_count(q) == 2, p
    assert "Window (" in p, p
    assert "posexplode" in p.lower(), p


def test_take_until_budget_pushes_bucket_filter(spark, sf_dir):
    """The two-phase budget plan: bucket predicates reach the parquet
    scan as DataFilters (whole better-buckets side), and the only
    SinglePartition exchange feeds the boundary-bucket window — never
    the full table."""
    from sybil_spark.operators import sampling
    from pyspark.sql import functions as F
    d = (spark.read.parquet(f"{sf_dir}/documents.parquet")
         .select("doc_id", "n_chars",
                 F.size(F.split(F.col("text"), " ")).alias("n_toks")))
    q = sampling.take_until_budget(d, "n_toks", 8000, "n_chars",
                                   "doc_id")
    p = I.formatted_plan(q)
    assert "SinglePartition" in p, p
    # the bucket arithmetic (FLOOR over the score) appears in filter
    # conditions below the exchange — i.e. the boundary bucket is
    # carved out BEFORE anything single-partitions; the union's other
    # branch (whole better-buckets) has no window at all
    assert "FLOOR" in p, p
    assert p.count("Window (") == 1, p


def test_tfidf_rank_limit_pushdown(spark, sf_dir):
    """tfidf_top_terms gets Spark's WindowGroupLimit (per-partition
    top-k truncation BEFORE the window shuffle) and broadcasts the
    vocabulary-sized dfreq side."""
    from sybil_spark.operators import quality
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = quality.tfidf_top_terms(docs, "doc_id", "text", k=3)
    p = I.formatted_plan(q)
    assert "WindowGroupLimit" in p, p
    assert I.broadcast_join_count(q) >= 1, p


def test_no_raw_text_shuffle_key_in_corpus(corpus_plans):
    """Global plan-smell gate #3: no corpus query may shuffle on the
    raw document text — `hashpartitioning(text#...)` (or an alias of
    it) in an Exchange means the full document is the shuffle KEY,
    the pattern every dedup operator avoids by keying on
    xxhash64(text) with a collision re-check (cluster_splits was the
    one offender, fixed r8). Exemptions: dedup_exact returns the
    text-keyed group table by CONTRACT (its output includes the text
    column; exact_groups documents the stance); dedup_keep_first and
    corpus_stats re-group only the multi-hash candidate rows on
    text — the collision re-check itself, by design bounded to the
    duplicate mass."""
    import re
    exempt = {"dedup_exact", "dedup_keep_first", "corpus_stats"}
    bad = {}
    for name, plan in corpus_plans.items():
        if name in exempt:
            continue
        keys = re.findall(r"hashpartitioning\(((?:text|ta|tb)#\d+)",
                          plan)
        if keys:
            bad[name] = keys
    assert not bad, bad
