"""Physical-plan regression guards: the enrichment must stay
shuffle-free with broadcast joins, pruned columns, and pushed filters
(the properties that make it scale to 100 TB)."""

from fluent_plugin_kubernetes_metadata_filter_spark import queries as q

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_enrich_is_broadcast_and_shuffle_free(spark):
    df = q.q_enrich_flat(spark, SF)
    plan = _formatted(df)
    # formatted output mentions each join in tree + details; require the
    # tree section to contain exactly the two broadcast joins
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan  # no data shuffle
    # codegen spans appear once AQE finalizes — execute, then inspect
    df.limit(1).collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "WholeStageCodegen" in final or "isFinalPlan=false" in final


def test_scan_prunes_columns(spark):
    df = q.q_enrich_flat(spark, SF)
    lines = _formatted(df).splitlines()
    # locate the transcripts scan block, then its ReadSchema line:
    # role/text must be pruned away
    idx = next(i for i, l in enumerate(lines) if "transcripts.parquet" in l)
    schema_line = next(l for l in lines[idx:] if "ReadSchema" in l)
    assert "text" not in schema_line and "role" not in schema_line
    assert "tool" in schema_line  # the one wide column we DO need


def test_dim_scans_have_pushed_filters(spark):
    df = q.q_enrich_flat(spark, SF)
    plan = _formatted(df)
    assert "PushedFilters: [IsNotNull(namespace_name), IsNotNull(pod_name)]" in plan


def test_route_counts_is_partial_agg(spark):
    df = q.q_route_counts(spark, SF)
    plan = _plan(df)
    # two-phase aggregate: partial (map-side) then final after exchange
    assert plan.count("HashAggregate") >= 2


def test_no_python_udf_in_native_path(spark):
    from fluent_plugin_kubernetes_metadata_filter_spark import pipeline

    for df in (q.q_enrich_flat(spark, SF), pipeline.routed_output(spark, SF)):
        plan = _plan(df)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_routed_output_has_exactly_two_exchanges(spark):
    """The full job's only shuffles: the (conv_id) window for stable
    ordering and the (route, conv-salt) exchange feeding the write."""
    from fluent_plugin_kubernetes_metadata_filter_spark import pipeline

    df = pipeline.routed_output(spark, SF)
    plan = _formatted(df)
    tree = plan.split("\n\n")[0]
    shuffles = tree.count("- Exchange (")  # BroadcastExchange spelled out
    assert shuffles == 2, tree
    # enrichment joins stay broadcast even inside the full job
    assert tree.count("BroadcastHashJoin") == 2


def test_single_exchange_mode_has_one_exchange(spark):
    """route_exchange=False: the conv_id window is the job's ONLY
    shuffle — the full-width route exchange is gone."""
    from fluent_plugin_kubernetes_metadata_filter_spark import pipeline
    from fluent_plugin_kubernetes_metadata_filter_spark.config import PipelineConfig

    df = pipeline.routed_output(spark, SF, cfg=PipelineConfig(route_exchange=False))
    tree = _formatted(df).split("\n\n")[0]
    assert tree.count("- Exchange (") == 1, tree
    assert tree.count("BroadcastHashJoin") == 2


def test_single_exchange_mode_content_parity(spark, tmp_path):
    """Both physical layouts write identical routed content."""
    from fluent_plugin_kubernetes_metadata_filter_spark import pipeline
    from fluent_plugin_kubernetes_metadata_filter_spark.config import PipelineConfig

    a = pipeline.run(spark, SF, out_dir=str(tmp_path / "a"))
    b = pipeline.run(spark, SF, out_dir=str(tmp_path / "b"),
                     cfg=PipelineConfig(route_exchange=False))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    ra = spark.read.parquet(str(tmp_path / "a")).select("conv_id", "turn_seq", "text")
    rb = spark.read.parquet(str(tmp_path / "b")).select("conv_id", "turn_seq", "text")
    assert sorted(map(tuple, ra.collect())) == sorted(map(tuple, rb.collect()))


def test_tpch_probes_push_filters_and_prune(spark):
    """The scaling probes must reach the scan with their predicates and
    projections: a scan reading all columns for a 6-column aggregate is
    wrong at any scale."""
    plan = _plan(q.q_pricing_summary(spark, "/root/testdata/sf0.01"))
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "l_shipdate" in scan and "PushedFilters: [IsNotNull(l_shipdate)" in scan
    assert "l_partkey" not in scan  # unused columns pruned from the scan
    assert "partial" in plan.lower()  # map-side combine before the exchange

    plan2 = _plan(q.q_order_revenue(spark, "/root/testdata/sf0.01"))
    scans = [l for l in plan2.splitlines() if "FileScan" in l]
    assert len(scans) == 3
    for s in scans:
        assert "PushedFilters: [" in s and "IsNotNull" in s
