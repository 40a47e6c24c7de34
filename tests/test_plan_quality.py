"""Physical-plan regression tests — the 100 TB discipline, asserted.

Correctness tests prove WHAT is computed; these prove HOW: dimension joins
broadcast (no shuffle of the fact side), filters and projections reach the
parquet scan, partition pruning fires on the hourly layout, and the heavy
LLM operators keep their exchange budget. A plan regression here is a scale
bug even when every value is still right.
"""

import pyspark.sql.functions as F
import pytest

from clickhousedatamocker_spark.queries import REGISTRY
from tests.conftest import SF_DIR, job_window


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_tpch_joins_broadcast_small_sides(spark):
    """At any SF, region/nation/supplier dims are broadcast-able; the
    lineitem fact side must never be shuffled for them."""
    for name in ["q5_local_supplier_volume", "join_broadcast_dims"]:
        plan = plan_of(REGISTRY[name].fn(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, f"{name}: dim join fell back to sort-merge"


def test_linear_growth_sides_never_broadcast(spark):
    """Any side that grows linearly with SF (lineitem/orders scans, or a
    constant-fraction customer filter like q3's BUILDING segment) must never
    be broadcast by an EXPLICIT hint: a hint overrides AQE's size check and
    OOMs every executor at sf1000. (Catalyst choosing to broadcast a
    statistics-small unhinted side at test SF is fine — that decision
    self-adjusts with scale.) Checked at the analyzed plan, where every
    broadcast hint is still a visible ResolvedHint subtree; plus the
    executed-plan ban on lineitem-in-BroadcastExchange, and q3/q5's pinned
    ShuffledHashJoin shape."""
    for name in [
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q10_returned_items",
        "q18_large_volume_customers",
    ]:
        df = REGISTRY[name].fn(spark, SF_DIR)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        for sub in _hint_subtrees(analyzed):
            for banned in ("customer", "lineitem", "orders"):
                assert banned not in sub, f"{name}: broadcast hint on linear-growth {banned}"
    # where the join strategy IS pinned by a hint (q3/q5's SHUFFLE_HASH),
    # the executed plan must keep lineitem out of every BroadcastExchange
    # and keep the shuffle-hash shape (q10 is unhinted: AQE may broadcast
    # its statistics-small sides at test SF, which is the correct behavior)
    for name in [
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q18_large_volume_customers",
    ]:
        plan = plan_of(REGISTRY[name].fn(spark, SF_DIR))
        for sub in _broadcast_subtrees(plan):
            assert "lineitem" not in sub, f"{name}: lineitem inside a BroadcastExchange"
        assert "ShuffledHashJoin" in plan, f"{name} lost its shuffle-hash shape"


def _hint_subtrees(analyzed: str) -> list[str]:
    """Subtrees under broadcast ResolvedHint nodes in an analyzed plan."""
    lines = analyzed.split("\n")
    subtrees = []
    for i, line in enumerate(lines):
        if "ResolvedHint" not in line or "broadcast" not in line.lower():
            continue
        d = len(line) - len(line.lstrip(" :+-"))
        body = [line]
        for nxt in lines[i + 1 :]:
            if nxt.strip() and (len(nxt) - len(nxt.lstrip(" :+-"))) <= d:
                break
            body.append(nxt)
        subtrees.append("\n".join(body))
    return subtrees


def _broadcast_subtrees(plan: str) -> list[str]:
    """Extract each BroadcastExchange node's subtree from a toString() plan
    using the tree-drawing indentation (':-', '+-', spaces)."""
    lines = plan.split("\n")

    def depth(line: str) -> int:
        i = 0
        while i < len(line) and line[i] in " :+-*(0123456789)":
            if line[i] not in " :":
                break
            i += 1
        return i

    subtrees = []
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        d = depth(line)
        body = [line]
        for nxt in lines[i + 1 :]:
            if nxt.strip() and depth(nxt) <= d:
                break
            body.append(nxt)
        subtrees.append("\n".join(body))
    return subtrees


def test_q1_partial_aggregation(spark):
    """Map-side combine: two HashAggregates (partial+final) around one
    exchange — never a raw shuffle of lineitem rows."""
    plan = plan_of(REGISTRY["q1_pricing_summary"].fn(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2
    # exactly: agg exchange + final sort exchange
    assert plan.count("Exchange") == 2, plan.count("Exchange")


def test_filter_and_projection_pushdown(spark):
    """Predicate + column pruning must reach the parquet scan."""
    df = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .filter(F.col("l_shipdate") <= "1998-09-02")
        .select("l_returnflag", "l_quantity")
    )
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # ReadSchema must contain only the 3 needed columns
    rs = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_returnflag" in rs and "l_quantity" in rs and "l_shipdate" in rs
    assert "l_extendedprice" not in rs and "l_orderkey" not in rs


def test_partition_pruning_on_hourly_layout(spark, tmp_path):
    """A filter on event_hour must prune partition directories at plan time
    (the toYYYYMMDDhh layout exists exactly for this)."""
    from clickhousedatamocker_spark.engine import Engine
    from clickhousedatamocker_spark.schema import test_local_spec
    from clickhousedatamocker_spark.sources.generator import BatchGenerator

    engine = Engine(spark, str(tmp_path / "wh"))
    engine.create_table(test_local_spec())
    gen = BatchGenerator(spark, seed=7, base_time="2026-01-01 12:00:00")
    engine.insert("test_local", gen.batch_with_partition(2000, batch_no=0))

    df = engine.read_table("test_local").filter(F.col("event_hour") == 2026010112)
    plan = plan_of(df)
    assert "PartitionFilters" in plan
    # the pruning predicate on event_hour must appear inside PartitionFilters
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "event_hour" in pf and "2026010112" in pf
    # pruned scan must read exactly 1 of the 24 hourly partitions
    scanned = df.count()
    per_hour = engine.read_table("test_local").groupBy("event_hour").count()
    expect = {r["event_hour"]: r["count"] for r in per_hour.collect()}[2026010112]
    assert scanned == expect


def test_minhash_single_exchange(spark):
    """Signature computation: repartition + reused partitioning in groupBy
    = exactly one exchange (see operators/dedup.py)."""
    from clickhousedatamocker_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(minhash_signatures(docs))
    assert plan.count("Exchange") == 1, plan.count("Exchange")


def test_brute_force_topk_no_corpus_shuffle(spark):
    """Query vectors broadcast; the corpus-side scan feeds the join without
    an exchange below the join."""
    from clickhousedatamocker_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = plan_of(brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=5))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    join_part = plan.split("Join")[0] if "Join" in plan else plan
    # only exchanges allowed: the rank window's (post-join) partitioning
    assert plan.count("Exchange hashpartitioning") <= 1


def test_generator_is_shuffle_free(spark):
    """Batch generation must be pure projection over range — zero exchanges,
    whole-stage codegen'd."""
    from clickhousedatamocker_spark.sources.generator import BatchGenerator

    gen = BatchGenerator(spark, seed=1, base_time="2026-01-01 12:00:00")
    plan = plan_of(gen.batch(10_000))
    assert "Exchange" not in plan
    assert plan.lstrip().startswith("*("), "not whole-stage codegen'd"


def test_no_python_udfs_in_relational_tier(spark):
    """Tier A/C queries must stay JVM-side (no BatchEvalPython/ArrowEval in
    their plans); only multimodal ops may use Python."""
    for name, spec in REGISTRY.items():
        if name.startswith("multimodal"):
            continue
        plan = plan_of(spec.fn(spark, SF_DIR))
        assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time Python UDF"


def test_range_join_is_equi_not_bnlj(spark):
    """The bucketed range join must plan as a hash join on the bucket key —
    never BroadcastNestedLoopJoin (the naive range-condition plan)."""
    plan = plan_of(REGISTRY["join_range_bucketed"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan  # broadcast or shuffled — either is fine


def test_connected_components_bounded_plan(spark):
    """Lineage must be truncated per round: after convergence the result
    plan of the distributed path is a projection over a materialized RDD,
    not 12 nested joins. The small-graph path (union-find on the driver)
    returns an Arrow local relation, which holds no join either."""
    from clickhousedatamocker_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)], ["id_a", "id_b"])
    for driver_threshold, leaf in [(0, ("ExistingRDD", "LogicalRDD")), (100_000, ("LocalRelation",))]:
        comp = connected_components(pairs, max_iter=15, driver_threshold=driver_threshold)
        rows = {r["node"]: r["component"] for r in comp.collect()}
        assert rows == {i: 0 for i in range(13)}
        plan = optimized_of(comp)
        assert any(name in plan for name in leaf), plan
        assert "Join" not in plan, "per-round joins still embedded in the final plan"


def test_q6_pushdown_and_single_exchange(spark):
    """Q6 is the pushdown showcase: all three predicates reach the parquet
    scan and the only exchange is the scalar-partials gather — never a data
    shuffle."""
    plan = plan_of(REGISTRY["q6_forecast_revenue"].fn(spark, SF_DIR))
    assert "PushedFilters" in plan
    pf = plan.split("PushedFilters: ")[1].split("\n")[0]
    assert "l_shipdate" in pf and "l_discount" in pf and "l_quantity" in pf
    assert plan.count("Exchange") == 1, plan.count("Exchange")
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_sample_filter_precedes_shuffle(spark):
    """The deterministic SAMPLE predicate is row-local: it must run in the
    scan stage, before the histogram aggregation's exchange."""
    plan = plan_of(REGISTRY["sample_histogram_events"].fn(spark, SF_DIR))
    assert plan.count("Exchange") <= 2  # agg + final sort, nothing else
    first_exchange = plan.index("Exchange")
    assert "Filter" in plan[first_exchange:], "sample filter missing entirely"
    # the filter on the scan side (bottom of the plan tree prints last)
    assert plan.rindex("Filter") > first_exchange


def test_pii_chunking_single_exchange(spark):
    """PII scrub + explode chunking is row-local; the only exchange is the
    presentation sort."""
    plan = plan_of(REGISTRY["pipeline_pii_chunking"].fn(spark, SF_DIR))
    assert plan.count("Exchange") == 1, plan.count("Exchange")
    assert "Generate explode" in plan or "Generate" in plan


def test_ch_showcase_broadcasts_tiny_aggregates(spark):
    """The three <=5-row sub-aggregates join broadcast — never sort-merge."""
    plan = plan_of(REGISTRY["agg_ch_showcase"].fn(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Same-bucketed tables join WITHOUT any shuffle: pay the exchange once
    at write time, never again per join (plans/bucketing.py)."""
    import uuid

    from clickhousedatamocker_spark.plans.bucketing import bucketed_join, write_bucketed
    from clickhousedatamocker_spark.sources.tables import load_table

    suffix = uuid.uuid4().hex[:8]
    orders = load_table(spark, SF_DIR, "orders")
    lineitem = load_table(spark, SF_DIR, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    ta, tb = f"b_orders_{suffix}", f"b_lineitem_{suffix}"
    # at fixture scale Catalyst would broadcast the small side (bucketing
    # "disabled by query planner"); pin the 100TB shape — SMJ — to show the
    # bucket layout eliminates its exchanges
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    saved_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        write_bucketed(orders, ta, "o_orderkey", 8)
        write_bucketed(lineitem, tb, "o_orderkey", 8)
        joined = bucketed_join(spark, ta, tb, "o_orderkey")
        plan = plan_of(joined)
        assert "Exchange" not in plan, "bucketed join still shuffles"
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        assert joined.count() == lineitem.join(orders, "o_orderkey").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        if saved_aqe is not None:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", saved_aqe)
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_mv_maintenance_never_rescans_base(spark, tmp_path):
    """Materialized-view maintenance is O(batch): the rollup plan reads the
    in-flight batch lineage, never the base table's files."""
    from clickhousedatamocker_spark.engine import Engine
    from clickhousedatamocker_spark.schema import test_local_spec
    from clickhousedatamocker_spark.sources.generator import BatchGenerator

    engine = Engine(spark, str(tmp_path / "wh"))
    engine.create_table(test_local_spec())
    engine.sql(
        "CREATE MATERIALIZED VIEW mv_probe AS "
        "SELECT event_type, count() AS n FROM test_local GROUP BY event_type"
    )
    gen = BatchGenerator(spark, seed=3, base_time="2026-01-01 12:00:00")
    engine.insert("test_local", gen.batch_with_partition(5000, batch_no=0))

    batch = gen.batch_with_partition(5000, batch_no=1)
    part = engine._select_over_batch(
        engine._materialized_views["mv_probe"]["sql"], "test_local", batch
    )
    plan = plan_of(part)
    assert "test_local" not in plan, "MV rollup re-scans the base table"
    assert "FileScan" not in plan and "Scan parquet" not in plan


def test_ann_xengine_is_bucketed_equijoin(spark):
    """The graded ANN pipeline must keep the production shape: bucketed
    equi-joins with the tiny query side broadcast — never a cross join of
    the corpus (BroadcastNestedLoopJoin is the naive ANN plan)."""
    plan = plan_of(REGISTRY["similarity_ann_lsh_ivf"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan, "ANN fell back to a cross join"
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # query-side broadcast into the buckets


def test_semantic_profile_plan_is_hash_equijoin(spark):
    """The graded SemDeDup profile's intra-cluster pair join must plan as a
    hash equi-join on cid — never cartesian/BNLJ (the quadratic trap).
    The registry entry now eagerly materializes its small report to
    release the pair cache (its returned plan is a LocalTableScan), so
    pin the plan of the same pair stage the profile builds."""
    from clickhousedatamocker_spark.operators.similarity import (
        _all_pairs_within,
        _nearest_cid,
        as_double,
        ivf_codebook_xengine,
        quantize_vec,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cb = ivf_codebook_xengine(emb, n_centroids=8)
    e = emb.select("vec_id", as_double("embedding").alias("v")).withColumn(
        "cid", _nearest_cid(quantize_vec(F.col("v")), cb)
    )
    plan = plan_of(_all_pairs_within(e, "vec_id", ["cid"], threshold=0.3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_xengine_scoring_is_row_local(spark):
    """The xengine DSIR score projection (rolling-poly buckets + literal
    log-ratio lookup) must add ZERO exchanges over the scan — scoring is
    row-local by design."""
    from clickhousedatamocker_spark.operators.importance import dsir_score

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    model = [1.0 / 64] * 64
    scored = dsir_score(docs, model, model, use_xengine_hash=True)
    plan = plan_of(scored)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_monitoring_poll_is_two_local_jobs(spark, tmp_path):
    """The reference's monitoring pair (query_metrics.sql + query_parts.sql,
    polled once per second next to ingest) over a 96-part table: one Spark
    job per query. The system views are single-partition local relations,
    so neither query starts a Python worker (no ExistingRDD scan) and
    neither ORDER BY nor GROUP BY plans an exchange."""
    from clickhousedatamocker_spark.engine import Engine
    from clickhousedatamocker_spark.harness import QUERY_METRICS_SQL, QUERY_PARTS_SQL
    from clickhousedatamocker_spark.schema import test_local_spec
    from clickhousedatamocker_spark.sources.generator import BatchGenerator

    engine = Engine(spark, str(tmp_path / "warehouse"))
    engine.create_table(test_local_spec())
    gen = BatchGenerator(spark, seed=7, base_time="2026-01-01 12:00:00")
    for i in range(4):
        engine.insert("test_local", gen.batch_with_partition(1000, batch_no=i))
    assert engine.flow_status("test_local").active_parts == 96

    with job_window(spark) as window:
        dfs = [
            engine.sql(QUERY_METRICS_SQL),
            engine.sql(QUERY_PARTS_SQL.format(database="default", table="test_local")),
        ]
        metrics, parts = (df.collect() for df in dfs)
    assert window.jobs <= 2
    assert len(metrics) == 10 and len(parts) == 20
    for df in dfs:
        plan = plan_of(df)
        assert "Exchange" not in plan, plan
        assert "ExistingRDD" not in plan, plan
