"""Physical-plan shape assertions — the scale contract, checked in CI:
broadcasts stay broadcasts, filters reach the scan, fused aggs shuffle once.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from raster_processor_spark.queries import REGISTRY
from tests.conftest import SF_ORACLE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# physical nodes that cross the JVM → Python boundary
_PYTHON_NODES = ("EvalPython", "InPandas", "InArrow")


def _grid_points(spark):
    # 400 points on a regular 20x20 lattice: every query resolves in ring 3
    return spark.createDataFrame(
        [(i, float(i // 20) * 0.01, float(i % 20) * 0.01) for i in range(400)],
        "key BIGINT, lat DOUBLE, lon DOUBLE",
    )


def test_pip_join_broadcasts_cover_table(spark):
    df = REGISTRY["pip_join"].spark(spark, SF_ORACLE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_filter_pushdown_reaches_parquet_scan(spark):
    d = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet").where(
        (F.col("l_quantity") > 25) & F.col("l_returnflag").isNotNull()
    ).select("l_orderkey", "l_quantity")
    plan = _plan(d)
    assert "PushedFilters: [" in plan and "GreaterThan(l_quantity,25" in plan
    # column pruning: the scan must read only the referenced columns
    assert "ReadSchema" in plan and "l_extendedprice" not in plan.split("ReadSchema")[1]


def test_fused_cell_agg_single_shuffle(spark):
    df = REGISTRY["wse_weighted_mean"].spark(spark, SF_ORACLE)
    plan = _plan(df)
    # one Exchange for the groupBy — partial/final hash agg, no extra shuffle
    assert plan.count("Exchange hashpartitioning") == 1
    assert "HashAggregate" in plan


def test_pip_refine_is_arrow_batched(spark):
    # the exact ray-cast refine is the PIP join's real Python boundary: an
    # iterator pandas UDF, not row-at-a-time PythonUDF
    plan = _plan(REGISTRY["pip_join"].spark(spark, SF_ORACLE))
    assert "ArrowEvalPython" in plan and "_refine" in plan
    assert "BatchEvalPython" not in plan


def test_kernel_agg_plan_shape(spark):
    """The qual roll-up must run as JVM partial/final hash aggregation with
    a JVM-side cell encode and a pruned scan — the codegen'd shape (Spark
    4's plan string omits WholeStageCodegen markers; assert structure)."""
    df = REGISTRY["qual_rollup"].spark(spark, SF_ORACLE)
    plan = _plan(df)
    assert "partial_max" in plan  # map-side combine before the shuffle
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere
    assert not [n for n in _PYTHON_NODES if n in plan]  # no Python at all
    # scan pruned to exactly the consumed lineitem columns
    read_schema = plan.split("ReadSchema:")[1]
    assert "l_quantity" not in read_schema and "l_shipdate" not in read_schema


def test_cell_encode_has_no_python_boundary(spark):
    # quad and hex cell encode are built-in expressions: neither the
    # hex_tile_assign query nor the flagship tiles stage ships rows to Python
    from raster_processor_spark.plans.images_pipeline import georef_tiles

    images = spark.range(100).selectExpr(
        "CAST(id AS STRING) AS image_id", "'c' AS caption", "id * 7919 AS phash"
    )
    tiles = georef_tiles(images)
    for df in (REGISTRY["hex_tile_assign"].spark(spark, SF_ORACLE), tiles):
        plan = _plan(df)
        assert not [n for n in _PYTHON_NODES if n in plan], plan


def test_driver_constants_are_local_relations(spark, tmp_path):
    # constants the driver builds reach the JVM as local relations: a plan
    # over an RDD of driver rows starts a Python worker to re-read them
    import re

    from raster_processor_spark import datagen
    from raster_processor_spark.sources.binary_scan import scan_decode_stats
    from raster_processor_spark.sources.tables import const_df

    c = const_df(spark, ("plan_guard",), lambda: [(1, 2.0)], "a BIGINT, b DOUBLE")
    assert c._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"
    assert [tuple(r) for r in c.collect()] == [(1, 2.0)]

    images = str(tmp_path / "images.parquet")
    datagen.write_images(spark, 200, images, partitions=4)
    plans = {n: REGISTRY[n].spark(spark, SF_ORACLE) for n in ("polygon_burn", "pip_join")}
    plans["scan_decode_stats"] = scan_decode_stats(spark, images)
    for name, df in plans.items():
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in opt and "ExistingRDD" not in opt, (name, opt)
    # one image file per decode task, with no exchange in front of it
    assert plans["scan_decode_stats"]._jdf.rdd().getNumPartitions() == 4
    assert "Exchange" not in _plan(plans["scan_decode_stats"])

    # knn_bucketed runs its ring phases (the offset cross join) as
    # build-time jobs and returns a plan over their local checkpoints: every
    # RDD scan the build ran must be such a checkpoint
    store = spark._jsparkSession.sharedState().statusStore()
    since = int(store.executionsCount())
    REGISTRY["knn_bucketed"].spark(spark, SF_ORACLE)
    execs = store.executionsList(since, int(store.executionsCount()) - since)
    it, origins = execs.iterator(), []
    while it.hasNext():
        origins += re.findall(
            r"Arguments: \[[^\]]*\], \w+\[\d+\] at (\w+)",
            it.next().physicalPlanDescription(),
        )
    assert origins and set(origins) == {"localCheckpoint"}, origins


def test_antimeridian_polygon_contributes_pairs(spark):
    # the dateline-wrap polygon (last poly id) must contribute containment
    # pairs — guards the cover-cell lon-split and the lon-circle refine
    from raster_processor_spark.queries import N_POLYS, REGISTRY
    from tests.conftest import SF_ORACLE

    pairs = REGISTRY["pip_join"].spark(spark, SF_ORACLE)
    n = pairs.where(pairs.poly_id == N_POLYS - 1).count()
    assert n > 0, "antimeridian polygon produced no containment pairs"


def test_ngram_df_cap_drops_hot_shingles(spark):
    # cap at 2: the shingle present in 3 docs must vanish from the index,
    # and Jaccard must be computed over the CAPPED sizes
    from pyspark.sql import functions as F

    from raster_processor_spark.operators import dedup as dd

    sh = spark.createDataFrame(
        # sid 1 in docs 1..3 (hot), sid 2 in docs 1..2, sid 3 only doc 1
        [(1, 1), (2, 1), (3, 1), (1, 2), (2, 2), (1, 3)],
        "doc_id BIGINT, sid BIGINT",
    )
    capped = dd.df_capped(sh, 2)
    got = sorted((r.doc_id, r.sid) for r in capped.collect())
    assert got == [(1, 2), (1, 3), (2, 2)]
    pairs = dd._jaccard_pairs(capped, None).collect()
    # docs 1 and 2 share sid 2; capped sizes: doc1 has {2,3}, doc2 has {2}
    assert len(pairs) == 1
    r = pairs[0]
    assert (r.doc_a, r.doc_b) == (1, 2) and abs(r.jaccard - 0.5) < 1e-12


def test_no_cartesian_product_in_any_registered_query(spark):
    # plan-only (no execution): a CartesianProduct anywhere is an
    # all-pairs explosion waiting for scale
    from raster_processor_spark.queries import REGISTRY
    from tests.conftest import SF_ORACLE

    offenders = []
    for name, spec in sorted(REGISTRY.items()):
        plan = spec.spark(spark, SF_ORACLE)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, f"CartesianProduct in: {offenders}"


def test_knn_plan_builds_without_eager_count(spark):
    # the density heuristic must come from parquet-footer metadata, never an
    # eager count() job (a full extra scan of the points table at 100 TB)
    import pyspark.sql.dataframe as dfmod

    orig = dfmod.DataFrame.count

    def _boom(self):
        raise AssertionError("knn plan construction ran an eager count()")

    dfmod.DataFrame.count = _boom
    try:
        df = REGISTRY["knn"].spark(spark, SF_ORACLE)
    finally:
        dfmod.DataFrame.count = orig
    assert df.columns == ["key", "neighbor_key", "dist2", "rank"]


def test_knn_empty_ring_schedule_falls_back_to_brute(spark):
    from raster_processor_spark.operators import knn as knn_op

    pts = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 0.0, 1.0), (3, 5.0, 5.0), (4, 5.0, 6.0)],
        "key BIGINT, lat DOUBLE, lon DOUBLE",
    )
    got = sorted(
        (r.key, r.neighbor_key, r.rank)
        for r in knn_op.knn_join(pts, 1, rings=(), n_hint=4).collect()
    )
    assert got == [(1, 2, 1), (2, 1, 1), (3, 4, 1), (4, 3, 1)]


def test_knn_short_circuit_elides_tail_when_rings_resolve_all(spark):
    # once the materialized phases hold n*k accepted rows, the remaining
    # phases and the brute tail are provably dead and must not appear in
    # the plan (each is a scheduled no-op job otherwise); the result must
    # stay identical to a call that does not know n (same res, no n_hint),
    # whose tail is structurally present
    from raster_processor_spark.operators import knn as knn_op

    pts = _grid_points(spark)
    for join, grid in ((knn_op.knn_join, knn_op.QUAD), (knn_op.knn_hex_join, knn_op.HEX)):
        out = join(pts, 2, n_hint=400)
        assert "BroadcastNestedLoopJoin" not in _plan(out), grid.name
        unknown = join(pts, 2, res=grid.density_res(400))
        assert "BroadcastNestedLoopJoin" in _plan(unknown), grid.name
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, unknown.collect())
        ), grid.name


@pytest.mark.parametrize("join", ["knn_join", "knn_hex_join"])
def test_knn_undercounted_n_hint_raises(spark, join):
    # every one of the 400 queries resolves in the first ring, so the
    # accepted rows (400*k) exceed n_hint*k: the hint is provably wrong and
    # must fail loudly instead of shaping the plan
    from raster_processor_spark.operators import knn as knn_op

    with pytest.raises(ValueError, match="n_hint=300"):
        getattr(knn_op, join)(_grid_points(spark), 2, n_hint=300)


def test_knn_is_stateless_no_cache_survives_the_query(spark):
    # knn_join must leave NOTHING cached behind (the round-3 version
    # persisted one ring per invocation for the session's lifetime — a
    # session-amplification source); each ring's accepted set is a
    # localCheckpoint, which is not a CacheManager entry.
    from raster_processor_spark.operators import knn as knn_op

    spark.catalog.clearCache()
    pts = spark.createDataFrame(
        [(i, float(i % 7), float(i % 11)) for i in range(40)],
        "key BIGINT, lat DOUBLE, lon DOUBLE",
    )
    out = knn_op.knn_join(pts, 3, rings=(3,), n_hint=40)
    assert out.count() > 0
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "knn_join left entries in the CacheManager"


def test_hex_center_distance_bound_enumeration():
    # knn_hex's resolve bound rests on: centers at hex graph distance d are
    # >= 1.5*size*d apart, i.e. q^2 + q*r + r^2 >= (3/4)*d^2 (|c|^2 =
    # 3*size^2*(q^2+qr+r^2)). Enumerate all cells out to distance 40.
    for q in range(-40, 41):
        for r in range(-40, 41):
            d = (abs(q) + abs(r) + abs(q + r)) // 2
            if d == 0:
                continue
            assert 4 * (q * q + q * r + r * r) >= 3 * d * d, (q, r, d)


def test_knn_hex_matches_quad_knn_exactly(spark):
    # same oracle, same output: the hex-ring index and the quad-ring index
    # must produce the identical exact kNN result
    from raster_processor_spark.queries import REGISTRY as R

    a = sorted(map(tuple, R["knn"].spark(spark, SF_ORACLE).collect()))
    b = sorted(map(tuple, R["knn_hex"].spark(spark, SF_ORACLE).collect()))
    assert a == b and len(a) > 0


@pytest.mark.parametrize("join", ["knn_join", "knn_hex_join"])
def test_knn_hot_cell_split_is_exact_on_skewed_corpus(spark, join):
    # the two-level split (hot cells re-run at a finer res) must
    # change the PLAN only, never the result: compare split-on vs split-off
    # on a corpus above the gate with a dense blob (7.5% of points in a
    # 0.2-degree cluster — one hot cell at the density-chosen res)
    from collections import Counter

    from raster_processor_spark.operators import knn as knn_op

    n = knn_op.HOT_SPLIT_MIN_ROWS + 4000
    hot = F.pmod(F.col("id"), F.lit(40)) < 3
    jit = lambda a: (F.pmod(F.col("id") * a, F.lit(2000)) - 1000) / 10000.0  # noqa: E731
    pts = spark.range(n).select(
        F.col("id").alias("key"),
        F.when(hot, 10.5 + jit(2654435761)).otherwise(
            F.pmod(F.col("id") * 48611, F.lit(1600)) / 10.0 - 80.0
        ).alias("lat"),
        F.when(hot, 21.0 + jit(2246822519)).otherwise(
            F.pmod(F.col("id") * 104729, F.lit(3200)) / 10.0 - 160.0
        ).alias("lon"),
    )
    fn = getattr(knn_op, join)
    a = Counter(map(tuple, fn(pts, 3, n_hint=n).collect()))
    b = Counter(map(tuple, fn(pts, 3, n_hint=n, hot_cap=None).collect()))
    assert a == b and sum(a.values()) == 3 * n


def test_knn_bucketed_matches_quad_knn_exactly(spark):
    # the storage-layout twin must produce the identical exact kNN result
    from raster_processor_spark.queries import REGISTRY as R

    a = sorted(map(tuple, R["knn"].spark(spark, SF_ORACLE).collect()))
    b = sorted(map(tuple, R["knn_bucketed"].spark(spark, SF_ORACLE).collect()))
    assert a == b and len(a) > 0


def test_knn_bucketed_corpus_scan_is_bucket_aligned(spark):
    # the candidate join's corpus side must read the committed bucketed
    # layout (no Exchange above the corpus scan): the scan itself reports
    # bucket alignment, and disabling bucketing must ADD exchanges to the
    # same query — write-time layout replacing run-time shuffle. The ring
    # phases run as build-time jobs, so the candidate join is read from
    # the SQL executions the shipped query ran while it was built.
    store = spark._jsparkSession.sharedState().statusStore()

    def phase_plan() -> str:
        since = int(store.executionsCount())
        REGISTRY["knn_bucketed"].spark(spark, SF_ORACLE)
        execs = store.executionsList(since, int(store.executionsCount()) - since)
        it = execs.iterator()
        plans = []
        while it.hasNext():
            plans.append(it.next().physicalPlanDescription())
        joins = [p for p in plans if "SortMergeJoin" in p]
        assert joins, "no ring-phase execution with the candidate join"
        return joins[0]

    plan = phase_plan()
    assert "Bucketed: true" in plan
    assert "SelectedBucketsCount: 16 out of 16" in plan
    n_bucketed = plan.count("Exchange")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "false")
    try:
        plan2 = phase_plan()
    finally:
        spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    assert plan2.count("Exchange") > n_bucketed, (
        f"bucketing saved no exchanges: {n_bucketed} vs {plan2.count('Exchange')}"
    )


def test_ranged_persist_caches_stay_bounded_across_invocations(spark):
    # the range-partitioned persists (rank cut, distributed percentile)
    # must release the previous invocation's cache — a long driver sweep
    # holds at most ONE cached corpus per operator family (the round-3
    # session-amplification class)
    from raster_processor_spark.operators import percentiles as pctl
    from raster_processor_spark.operators import text as tx
    from raster_processor_spark.queries import REGISTRY

    for _ in range(3):
        REGISTRY["quality_filter"].spark(spark, SF_ORACLE).count()
    assert len(tx._RANGED_CACHE) == 1
    for _ in range(2):
        REGISTRY["zonal_stats_weighted_dist"].spark(spark, SF_ORACLE).count()
    # one input persist + one ranged persist, for the LAST invocation only
    assert len(pctl._RANGED_CACHE) == 2


def test_zsw_dist_matches_windowed_and_bounds_tasks(spark):
    # the distributed weighted percentile must (a) equal the windowed form
    # bit-for-bit and (b) run its cumsum window partitioned by
    # (range-partition id, group) — never by the group alone, which would
    # sort a whole region in one task at scale
    a = sorted(map(tuple, REGISTRY["zonal_stats_weighted"].spark(spark, SF_ORACLE).collect()))
    df = REGISTRY["zonal_stats_weighted_dist"].spark(spark, SF_ORACLE)
    b = sorted(map(tuple, df.collect()))
    assert a == b and len(a) > 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(_pid" in plan, plan[:1500]


def test_bucketed_compare_join_is_exchange_free(spark):
    # both sides are bucketed+sorted on cell_id at write time, so the
    # full-outer SMJ must run with ZERO Exchange nodes — the write-time
    # layout replaces the run-time shuffle (the 100 TB co-located join)
    df = REGISTRY["bucketed_raster_compare"].spark(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan[:1500]
    assert "Exchange" not in plan, plan[:1500]


def test_raster_product_debug_flag_gates_classification_column(spark):
    # RasterUTMDebug mapping: same product, one extra flag-gated column
    from raster_processor_spark.queries import raster_product

    base = raster_product(spark, SF_ORACLE, debug=False)
    dbg = raster_product(spark, SF_ORACLE, debug=True)
    assert "classification" not in base.columns
    assert dbg.columns == [*base.columns, "classification"]


def test_rank_cut_scans_the_corpus_once(spark):
    # distributed_rank_cut has three consumers of the range-partitioned
    # corpus (ranked rows, per-pid counts, totals); spark_partition_id is
    # nondeterministic to Catalyst so exchange reuse can never dedupe them —
    # the persist() must, or the corpus is scanned and range-exchanged 3x.
    spark.catalog.clearCache()
    plan = (
        REGISTRY["quality_filter"].spark(spark, SF_ORACLE)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # all three consumers must read the single cached range-partitioned
    # corpus (the plan string reprints the cached subtree per consumer, so
    # count InMemoryTableScans, not raw FileScans)
    n_mem = plan.count("InMemoryTableScan")
    n_scan = plan.count("documents.parquet")
    assert n_mem == 3 and n_scan <= n_mem, (
        f"rank-cut persist lost: {n_mem} cache reads, {n_scan} scans"
    )
    spark.catalog.clearCache()


def test_quality_filter_has_no_constant_cardinality_rank_window(spark):
    # the cut must never rank inside a window partitioned ONLY by language
    # (constant-cardinality key -> one task sorts ~n/|langs| rows at scale).
    # distributed_rank_cut's windows all carry the range-partition pid in
    # their spec (as partition key for the local rank, as order key for the
    # offset cumsum) — assert every window in the plan mentions it.
    import re

    plan = (
        REGISTRY["quality_filter"].spark(spark, SF_ORACLE)
        ._jdf.queryExecution().executedPlan().toString()
    )
    specs = re.findall(r"windowspecdefinition\([^\n]*", plan)
    assert specs, "expected window specs in the quality_filter plan"
    offenders = [s for s in specs if "pid#" not in s.split("specifiedwindowframe")[0]]
    assert not offenders, f"rank window without pid partitioning: {offenders}"


def test_distributed_rank_cut_matches_window_rank_on_skewed_group(spark):
    # one language holds ~all rows (the corpus-scale skew shape); the
    # distributed cut must equal the textbook per-group rank filter exactly
    from raster_processor_spark.operators.text import distributed_rank_cut

    rows = [(i, "en" if i % 97 else "de", float((i * 37) % 211) / 211.0) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, lang STRING, q DOUBLE")
    got = sorted(
        (r.doc_id, r.lang)
        for r in distributed_rank_cut(df, "lang", ["q", "doc_id"], 250).collect()
    )

    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.col("q").asc(), F.col("doc_id").asc())
    wc = Window.partitionBy("lang")
    want = sorted(
        (r.doc_id, r.lang)
        for r in df.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wc))
        .where(F.col("rn") > F.floor(F.col("n") * 250 / 1000.0))
        .collect()
    )
    assert got == want and len(got) > 0


def test_interval_join_is_bucketed_equi_join(spark):
    # the range predicate must ride an equi-join on the time bucket — a
    # plain theta join would plan as BroadcastNestedLoopJoin (quadratic
    # compare work at scale even when broadcast fits)
    df = REGISTRY["interval_join"].spark(spark, SF_ORACLE)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "bucket" in plan and ("SortMergeJoin" in plan or "BroadcastHashJoin" in plan)
    # and the results are genuinely populated (overlaps exist)
    assert df.count() > 100


def test_no_row_at_a_time_python_in_any_registered_query(spark):
    # plan-only: BatchEvalPython is the row-at-a-time Python UDF operator —
    # 10-100x slower than Arrow-batched evaluation and banned engine-wide.
    # Python must appear only as ArrowEvalPython / FlatMapGroupsInPandas /
    # MapInPandas / FlatMapCoGroupsInPandas.
    offenders = []
    for name, spec in sorted(REGISTRY.items()):
        plan = (
            spec.spark(spark, SF_ORACLE)
            ._jdf.queryExecution().executedPlan().toString()
        )
        if "BatchEvalPython" in plan:
            offenders.append(name)
    assert not offenders, f"row-at-a-time Python UDF in: {offenders}"


def test_no_global_window_in_any_registered_query(spark):
    # plan-only: a Window whose partition spec is empty moves ALL rows to
    # one task (the round-1 vocab-window scale killer class). In the plan
    # text, windowspecdefinition's first top-level argument is an ORDER
    # expression (ends with NULLS FIRST/LAST) iff the partition list is
    # empty.
    import re

    from raster_processor_spark.queries import REGISTRY
    from tests.conftest import SF_ORACLE

    def first_top_level_arg(s: str) -> str:
        depth, start = 0, 0
        for i, ch in enumerate(s):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                return s[start:i]
        return s

    offenders = []
    for name, spec in sorted(REGISTRY.items()):
        plan = (
            spec.spark(spark, SF_ORACLE)
            ._jdf.queryExecution().executedPlan().toString()
        )
        for m in re.finditer(r"windowspecdefinition\(", plan):
            rest = plan[m.end():]
            arg0 = first_top_level_arg(rest)
            if arg0.strip().endswith(("NULLS FIRST", "NULLS LAST")):
                offenders.append(name)
                break
    assert not offenders, f"partition-less (single-task) window in: {offenders}"
