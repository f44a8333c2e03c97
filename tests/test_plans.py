"""Plan-shape tests: broadcast where intended, pushdown reaching the scan,
column pruning keeping the fat html column out of non-extraction stages."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dmp_crawler_spark.plans import inspect


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")


@pytest.fixture(scope="module")
def part(spark):
    return spark.read.parquet("/root/testdata/sf0.001/part.parquet")


def test_dimension_join_is_broadcast(lineitem, part):
    df = lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
    assert inspect.uses_broadcast_join(df)


def test_filter_pushdown_reaches_scan(lineitem):
    df = lineitem.filter(F.col("l_orderkey") == 42).select("l_orderkey", "l_quantity")
    pushed = inspect.pushed_filters(df)
    assert "l_orderkey" in pushed


def test_column_pruning(lineitem):
    df = lineitem.select("l_orderkey", "l_quantity").filter(F.col("l_quantity") > 10)
    cols = inspect.read_schema_columns(df)
    assert set(cols) == {"l_orderkey", "l_quantity"}


def test_extract_stage_prunes_html_from_output(spark):
    """The fetch+extract pass consumes html inside the Python worker:
    html must not survive into the output plan."""
    from dmp_crawler_spark.corpus import generator
    from dmp_crawler_spark.extractors import udfs

    pages = generator.generate_pages(spark, 50, partitions=2)
    out = udfs.fetch_extract_pass(
        pages.withColumn("depth", F.lit(0)),
        ["url", "depth"],
        lambda row: (udfs._decode(row["html"]), row["lang"], row["text"]),
    )
    assert "html" not in out.columns


def test_admission_plan_single_shuffle(spark):
    """Politeness admission = exactly one hash exchange (on host)."""
    from dmp_crawler_spark.frontier import politeness

    fr = spark.createDataFrame(
        [(f"http://h{i%5}.x/{i}", f"h{i%5}.x", i % 3, 0, 1.0, 0) for i in range(100)],
        "url string, host string, depth int, discovery_iter int, score double, retry_count int",
    )
    admitted = politeness.admit(fr, per_host_budget=3)
    assert inspect.count_exchanges(admitted) == 1


def test_admission_plan_has_partial_window_group_limit(spark):
    """Skew safety of PLAIN admission (round-5 A/B evidence,
    BENCH/skew_admission_ab_r05*.json): the rank<=budget filter must
    compile to a partial WindowGroupLimit BEFORE the host exchange —
    map-side per-host top-k — so a Zipf-hot host contributes at most
    budget × map_partitions rows to its reducer. If this node disappears
    (conf change, Spark regression), hot-host admission silently becomes
    one-task-bound."""
    from dmp_crawler_spark.frontier import politeness

    fr = spark.createDataFrame(
        [(f"http://h{i%5}.x/{i}", f"h{i%5}.x", i % 3, 0, 1.0, 0) for i in range(100)],
        "url string, host string, depth int, discovery_iter int, score double, retry_count int",
    )
    admitted = politeness.admit(fr, per_host_budget=3)
    plan = inspect.physical_plan(admitted)
    first_wgl = plan.find("WindowGroupLimit")
    first_ex = plan.find("Exchange")
    assert first_wgl != -1, "WindowGroupLimit missing from admission plan"
    # physical plans print top-down: the map-side (partial) WindowGroupLimit
    # sits BELOW the exchange, i.e. appears AFTER it in the printed tree
    assert plan.rfind("WindowGroupLimit") > first_ex, (
        "no partial (pre-shuffle) WindowGroupLimit — map-side top-k lost"
    )


def test_global_budget_is_distributed_topk(spark):
    """The global cap must compile to TakeOrderedAndProject (distributed
    per-partition top-K), NOT a row_number over an unpartitioned Window
    (which funnels all admitted rows through one task). Round-1 verdict
    item 5."""
    from dmp_crawler_spark.frontier import politeness

    fr = spark.createDataFrame(
        [(f"http://h{i%5}.x/{i}", f"h{i%5}.x", i % 3, 0, 1.0, 0) for i in range(100)],
        "url string, host string, depth int, discovery_iter int, score double, retry_count int",
    )
    admitted = politeness.admit(fr, per_host_budget=3, global_budget=7)
    plan = inspect.physical_plan(admitted)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_c24_fold_stays_jvm_side(spark):
    """The C24 fragment fold must compile to pure Column expressions —
    no Python evaluation nodes, whole-stage codegen span present."""
    import __spark_entry__ as entrymod

    df = entrymod.c24_fragment_fold(spark, "/root/testdata/sf0.001")
    plan = inspect.physical_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert inspect.wholestage_codegen_ids(df) >= 1


def test_embedding_near_pairs_is_bucketed_not_cartesian(spark):
    """The oracle query must route through the banded-LSH bucket join —
    a hash join on (band, bucket), never a cartesian/nested-loop product."""
    import __spark_entry__ as entrymod

    df = entrymod.embedding_near_pairs(spark, "/root/testdata/sf0.001")
    plan = inspect.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_composed_job_queries_stay_jvm_side(spark):
    """The gpsspg pipeline and the C9 locale parse are pure Column
    plans — no Python evaluation nodes anywhere."""
    import __spark_entry__ as entrymod

    for name in ("gpsspg_bs_import", "c9_locale_parse"):
        df = entrymod.queries()[name](spark, "/root/testdata/sf0.001")
        plan = inspect.physical_plan(df)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_frontier_lsm_tombstone_join_is_broadcast(spark, tmp_path):
    """The LSM frontier view's tombstone anti-join must broadcast the
    O(admitted) tombstone side — the O(frontier) pending side never
    shuffles. A sort-merge anti-join here would re-shuffle 10^10 pending
    rows every iteration just to subtract the admitted set. The planner
    decides from spark.sql.autoBroadcastJoinThreshold: past it (here 1
    byte) the view plans no broadcast join and keeps the same rows."""
    from dmp_crawler_spark.frontier.scheduler import (
        FRONTIER_COLS, FRONTIER_SCHEMA, CrawlEngine,
    )

    rules = spark.createDataFrame(
        [("h.x", ".*", "article", 1.0)],
        "site string, url_regex string, page_class string, score double",
    )
    eng = CrawlEngine(spark, str(tmp_path / "state"), fetcher=None,
                      site_rules=rules)
    rows = [
        (f"http://h{i % 3}.x/{i}", f"h{i % 3}.x", i % 3, 0, 0, 1.0, 0)
        for i in range(50)
    ]
    base = spark.createDataFrame(rows, FRONTIER_SCHEMA)
    base.write.parquet(eng._p("frontier", "base_v000000"))
    ldir = eng._p("frontier", "log_v000001")
    adds = spark.createDataFrame(
        [(f"http://h0.x/new{i}", "h0.x", 0, 1, 1, 1.0, 0) for i in range(5)],
        FRONTIER_SCHEMA,
    )
    adds.select(
        *FRONTIER_COLS,
        F.lit(None).cast("long").alias("url_hash"),
        F.lit(None).cast("long").alias("url_hash2"),
        F.lit("add").alias("kind"),
    ).unionByName(
        base.limit(9).select(
            *[F.lit(None).cast(t).alias(c) for c, t in (
                ("url", "string"), ("host", "string"), ("host_hash", "long"),
                ("depth", "int"), ("discovery_iter", "int"),
                ("score", "double"))],
            F.col("retry_count"),
            F.xxhash64("url").alias("url_hash"),
            F.xxhash64("url", F.lit(1)).alias("url_hash2"),
            F.lit("tomb").alias("kind"),
        )
    ).write.partitionBy("kind").parquet(ldir)

    def view():
        return eng.frontier_view(
            1, {"path": eng._p("frontier", "base_v000000"), "upto": 0})

    plan = inspect.physical_plan(view())
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert view().count() == 50 + 5 - 9

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        plan = inspect.physical_plan(view())
        n = view().count()
    finally:
        spark.conf.set(key, prev)
    assert "LeftAnti" in plan and "Broadcast" not in plan
    assert n == 50 + 5 - 9


def test_oracle_queries_use_wholestage_codegen(spark):
    import __spark_entry__ as entrymod

    df = entrymod.q1_pricing_summary(spark, "/root/testdata/sf0.001")
    assert inspect.wholestage_codegen_ids(df) >= 1


def test_decontaminate_generate_consumes_bound_array(spark):
    """The Generate in decontaminate must explode a materialized column,
    not an inline shingle expression: CollapseProject re-inlining the
    O(len) array under the Generate measured 22x slower at sf0.01 (the
    third hit of the same trap — see BENCH/BASELINE.md s2t)."""
    import re

    from dmp_crawler_spark.operators import training as TR

    docs = spark.createDataFrame(
        [(i, "web", f"tok{i} " * 20) for i in range(10)],
        "doc_id long, source string, text string",
    )
    bench = docs.limit(2)
    plan = inspect.physical_plan(TR.decontaminate(docs, bench, n=8))
    gens = re.findall(r"Generate explode\(([^)]*)", plan)
    assert gens, "expected at least one Generate in the plan"
    for arg in gens:
        # a bound attribute looks like `_sh#123` / `sh#12`; an inlined
        # expression starts with CASE/array_distinct/transform
        assert re.fullmatch(r"\w+#\d+", arg.strip()), (
            "Generate explodes an inline expression (CollapseProject "
            "re-inlined the shingle array): " + arg[:80]
        )
    # and the benchmark gram set must ride a broadcast, never a shuffle join
    assert inspect.uses_broadcast_join(TR.decontaminate(docs, bench, n=8))


def test_pack_sequences_single_shuffle_no_global_sort(spark):
    """Packing = exactly one hash exchange (shard key) and no global Sort:
    rangepartitioning anywhere in the plan would mean a global ordering,
    which cannot exist at 10^10 docs."""
    from dmp_crawler_spark.operators import training as TR

    docs = spark.createDataFrame(
        [(i, f"s{i % 4}", 3) for i in range(100)],
        "doc_id long, shard string, n_tokens long",
    )
    out = TR.pack_sequences(docs, capacity=16)
    assert inspect.count_exchanges(out) == 1
    assert "rangepartitioning" not in inspect.physical_plan(out).lower()


@pytest.mark.parametrize("name", [
    "minhash_pairs", "ngram_jaccard", "dedup_clusters",
    "corpus_clean", "corpus_clean_v2",
])
def test_no_cache_outlives_query(spark, sf_dir, name):
    """A query materializes its intermediates per call: after its action
    the session's CacheManager is empty, and a second call's plan reads
    nothing an earlier call left behind (no InMemoryRelation)."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()[name]
    spark.catalog.clearCache()
    q(spark, sf_dir).write.format("noop").mode("overwrite").save()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    plan = q(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in plan
