"""Physical-plan quality gates — the 100 TB checklist as assertions.

Each check pins a plan property that matters at scale: pruned scans,
pushed filters, broadcast vs shuffled joins, partial aggregation, and the
map-only shape of the broadcast PIP join. A regression here is a perf bug
even when results stay correct.
"""

import io
from contextlib import redirect_stdout

import pytest

from gdal_spark import queries as Q
from gdal_spark.operators import lines as LN
from gdal_spark.operators import poly_join as PJ

SF = "/root/testdata/sf0.001"


def _explain(df):
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _plan(spark, name):
    return _explain(Q.QUERIES[name](spark, SF))


def _python_before_exchange(p):
    """An ArrowEvalPython node precedes every Exchange in the data flow.
    Formatted explain prints the tree root-first but numbers operators
    children first, so compare the operator ids, not text positions."""
    import re

    exchanges = [int(i) for i in re.findall(r"^\((\d+)\) \w*Exchange", p, re.M)]
    python = [int(i) for i in re.findall(r"^\((\d+)\) ArrowEvalPython", p, re.M)]
    return bool(python) and min(python) < min(exchanges, default=10 ** 9)


def test_tile_assign_pruned_scan_no_shuffle(spark):
    p = _plan(spark, "tile_assign")
    assert "ReadSchema: struct<o_orderkey:bigint>" in p
    assert "Exchange" not in p


@pytest.mark.parametrize("name", ["pip_broadcast", "pip_cells_salted", "pip_cells_compact",
                                  "pip_zonal_stats", "pip_multipolygon"])
def test_pip_broadcast_map_only(spark, name):
    """Every PIP registry query runs the map-only join: the Python node
    comes before any exchange, and no join shuffles the points."""
    p = _plan(spark, name)
    assert _python_before_exchange(p)
    assert "ShuffledHashJoin" not in p


def _wide_points(spark):
    """64 points with a 500-byte text payload column."""
    from pyspark.sql import functions as F

    return spark.range(64).select(
        F.col("id").alias("i"),
        (F.pmod(F.col("id") * 37, F.lit(120)) - 60).cast("double").alias("lon"),
        (F.pmod(F.col("id") * 53, F.lit(160)) / 2 - 40).cast("double").alias("lat"),
        F.repeat(F.lit("x"), 500).alias("text"),
    )


@pytest.mark.parametrize("how", ["inner", "left"])
@pytest.mark.parametrize("first_match", [False, True])
def test_pip_join_one_python_node_over_coordinates(spark, how, first_match):
    """Every pip_join mode evaluates Python exactly once, and only the two
    coordinate columns cross the boundary — payload columns stay in the
    JVM."""
    import re

    from gdal_spark.data.pages import polygons_df
    from gdal_spark.operators.pip_join import pip_join

    out = pip_join(_wide_points(spark), polygons_df(spark), how=how, first_match=first_match)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    lines = buf.getvalue().splitlines()
    nodes = [
        (ln.split()[1], lines[k + 2])  # "(n) Name" header, Input, Arguments
        for k, ln in enumerate(lines)
        if re.match(r"\(\d+\) \w*(Python|InPandas|InArrow)", ln)
    ]
    assert [name for name, _ in nodes] == ["ArrowEvalPython"]
    udf_args = re.search(r"Arguments: \[\w+\(([^)]*)\)", nodes[0][1]).group(1)
    assert re.sub(r"#\d+L?", "", udf_args) == "lon, lat"


_PAIR_JOINS = {
    "poly_relate_join": lambda d: PJ.poly_relate_join(d.a, d.b),
    "poly_de9im_join": lambda d: PJ.poly_de9im_join(d.a, d.b),
    "layer_intersection_rect": lambda d: PJ.layer_intersection_rect(d.a, d.b),
    "layer_overlay_poly": lambda d: PJ.layer_overlay_poly(d.a, d.c),
    "line_poly_relate_join": lambda d: LN.line_poly_relate_join(d.lines, d.a),
    "line_line_intersection_join": lambda d: LN.line_line_intersection_join(d.lines, d.grid),
}


@pytest.mark.parametrize("name", sorted(_PAIR_JOINS))
def test_pair_join_one_python_node_over_geometries(spark, name):
    """Every pair join refines its candidate pairs in exactly one Python
    evaluation node, and only the two geometry columns cross the boundary —
    ids stay in the JVM."""
    import re
    from types import SimpleNamespace

    from gdal_spark.data import pages as P

    d = SimpleNamespace(
        a=P.polygons_df(spark), b=P.polygons_b_df(spark), c=P.polygons_c_df(spark),
        lines=P.lines_df(spark), grid=P.gridlines_df(spark),
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        _PAIR_JOINS[name](d).explain("formatted")
    lines = buf.getvalue().splitlines()
    nodes = [
        (ln.split()[1], lines[k + 2])  # "(n) Name" header, Input, Arguments
        for k, ln in enumerate(lines)
        if re.match(r"\(\d+\) \w*(Python|InPandas|InArrow)", ln)
    ]
    assert [node for node, _ in nodes] == ["ArrowEvalPython"]
    udf_args = re.search(r"Arguments: \[\w+\(([^)]*)\)", nodes[0][1]).group(1)
    assert re.sub(r"#\d+L?", "", udf_args) == "geom_a, geom_b"


def test_join_agg_broadcasts_dims(spark):
    p = _plan(spark, "sql_join_agg")
    assert "BroadcastHashJoin" in p
    assert "HashAggregate" in p


def test_rollup_partial_aggregation(spark):
    p = _plan(spark, "tile_rollup")
    assert p.count("HashAggregate") >= 2  # map-side partial + final


def test_predicates_pushed_to_scan(spark):
    p = _plan(spark, "sql_predicates")
    assert "PushedFilters: [" in p and "IsNotNull" in p


def test_orderby_limit_is_top_k(spark):
    p = _plan(spark, "sql_orderby_limit")
    assert "TakeOrderedAndProject" in p


def test_count_star_reads_no_columns(spark):
    p = _plan(spark, "sql_count_star")
    assert "ReadSchema: struct<>" in p


def test_curve_rank_no_single_partition_window(spark):
    """The curve-position rank must NOT collapse data into one partition:
    the plan has a rangepartitioning Exchange for the data, and its only
    SinglePartition exchange feeds the metadata-size offsets table (guarded
    by its broadcast)."""
    from gdal_spark.operators.curve_sort import curve_rank

    pts = Q.order_points(spark, SF).select("o_orderkey")
    # materialize=False: inspect the LAZY plan (the default eagerly
    # checkpoints, which replaces the plan with an ExistingRDD scan)
    ranked = curve_rank(pts, "o_orderkey", materialize=False)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        ranked.explain("formatted")
    p = buf.getvalue()
    assert "rangepartitioning" in p
    assert "BroadcastExchange" in p
    # the big side's window partitions by _pid (no empty PARTITION BY)
    assert "Window" in p


def test_curve_rank_matches_global_window(spark):
    from pyspark.sql import Window, functions as F

    from gdal_spark.operators.curve_sort import curve_rank

    pts = Q.order_points(spark, SF).select("o_orderkey", "lat")
    got = {
        r["o_orderkey"]: r["pos"]
        for r in curve_rank(pts, "lat", "o_orderkey",
                            num_partitions=7).collect()
    }
    w = Window.orderBy("lat", "o_orderkey")
    want = {
        r["o_orderkey"]: r["pos"]
        for r in pts.withColumn("pos", F.row_number().over(w)).collect()
    }
    assert got == want


def test_poly_relate_join_no_cartesian_no_distinct(spark):
    """Polygon↔polygon join plan: equi-join on the cell key (no
    CartesianProduct / BroadcastNestedLoopJoin) and reference-cell dedup is
    a map-side Filter (no extra dedup Exchange after the join)."""
    import io
    from contextlib import redirect_stdout

    from gdal_spark.data.pages import polygons_b_df, polygons_df
    from gdal_spark.operators.poly_join import poly_relate_join

    out = poly_relate_join(polygons_df(spark), polygons_b_df(spark))
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    p = buf.getvalue()
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "ArrowEvalPython" in p


def test_dissolve_single_shuffle(spark):
    """True dissolve: exactly one Exchange (the dissolve-key shuffle)."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from gdal_spark.data.pages import polygons_df
    from gdal_spark.operators.dissolve import dissolve_union

    out = dissolve_union(
        polygons_df(spark).filter(F.col("poly_id") < 64), key="eas_id"
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    p = buf.getvalue()
    import re

    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "FlatMapGroupsInPandas" in p


def test_range_join_is_equi_join_not_nested_loop(spark):
    """Range join plan: bucket equi-join (SortMerge/Hash/BroadcastHash),
    never BroadcastNestedLoopJoin on the range predicate."""
    import io
    from contextlib import redirect_stdout

    p_plan = _plan(spark, "range_price_join")
    assert "BroadcastNestedLoopJoin" not in p_plan
    assert "Join" in p_plan


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The benchmark (eval-set) side of the decontamination join is small by
    construction — it must broadcast, never shuffle the corpus on the hash."""
    p = _plan(spark, "corpus_decontaminate")
    assert "BroadcastHashJoin" in p
    assert "HashAggregate" in p  # partial-agg pair counts


def test_fill_nodata_is_windows_not_joins(spark):
    """fill_nodata's directional scans are window functions; the plan must
    contain NO join operator at all."""
    p = _plan(spark, "raster_fillnodata")
    assert "Window" in p
    assert "Join" not in p


def test_pansharpen_broadcasts_ms_side(spark):
    p = _plan(spark, "raster_pansharpen")
    assert "BroadcastHashJoin" in p


def test_utm_is_map_only(spark):
    """UTM projection is pure column math over the scan — zero Exchange."""
    p = _plan(spark, "utm_project")
    assert "Exchange" not in p
    assert "codegen id" in p  # whole-stage codegen spans the projection


def test_pii_scrub_is_map_only(spark):
    p = _plan(spark, "text_pii_scrub")
    assert "Exchange" not in p


def test_overlay_erase_kernel_is_map_only_stage(spark):
    """The geometric A-side erase streams map-only (B broadcast as a plain
    python list): its ArrowEvalPython must sit directly over the scan with
    no Exchange between."""
    from gdal_spark.data.pages import polygons_b_df, polygons_df
    from gdal_spark.operators import poly_join as PJ
    from gdal_spark.queries import _OVERLAY_B_IDS

    from pyspark.sql import functions as F

    a = polygons_df(spark).filter(F.col("poly_id") < 64)
    b = polygons_b_df(spark).filter(F.col("poly_id").isin(*_OVERLAY_B_IDS))
    assert _python_before_exchange(_explain(PJ.layer_erase_parts_rect(a, b)))


def test_s2_encode_single_agg_shuffle(spark):
    """S2 encode is one Arrow-batched kernel pass + a partial-agg shuffle
    on the 6 face keys — no per-row Python, no extra exchanges."""
    p = _plan(spark, "s2_cell_encode")
    assert "ArrowEvalPython" in p       # pandas UDF, not BatchEvalPython
    assert "BatchEvalPython" not in p
    # <=3 Exchange operators (x2 in formatted output: tree + details):
    # countDistinct partial/final + the output sort — nothing else.
    assert p.count("Exchange") <= 6
    assert "HashAggregate" in p


def test_laea_and_st_project_map_only(spark):
    for name in ("laea_project", "st_project"):
        p = _plan(spark, name)
        assert "Exchange" not in p, name  # TakeOrderedAndProject top-k
        assert "codegen id" in p, name    # stays in whole-stage codegen


def test_url_normalize_jvm_regex_only(spark):
    """URL canonicalization is JVM regexp column math: no Python eval of
    any kind in the plan."""
    p = _plan(spark, "url_normalize")
    assert "EvalPython" not in p
    assert "Aggregate" in p  # Hash- or Sort- (min(string) picks sort-based)


def test_wrapdateline_single_window_no_cartesian(spark):
    p = _plan(spark, "wrapdateline")
    assert "CartesianProduct" not in p
    # exactly one Window operator (appears twice in formatted output)
    assert p.count("Window") == 2


def test_voronoi_probe_scan_map_only(spark):
    """Probe assignment streams map-only over the probe scan (cells are a
    broadcast python list): the MapInPandas sits before any Exchange."""
    p = _plan(spark, "voronoi_assign")
    assert "MapInPandas" in p
    # only the output-sort Exchange (x2 in formatted output) — no join or
    # aggregation shuffle anywhere: cells ride a python-list broadcast.
    assert p.count("Exchange") <= 2
    assert "CartesianProduct" not in p and "Join" not in p


def test_line_dedup_pure_jvm_no_nested_loop(spark):
    """Corpus line dedup: explode + ONE agg shuffle on the line md5 + a
    hash join back + groupBy(doc) — all JVM (no Python eval), equi-joins
    only."""
    p = _plan(spark, "text_line_dedup")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "HashAggregate" in p  # partial agg on the line-hash count


def test_substring_dup_bucketed_equi_joins_only(spark):
    """ExactSubstr-lite: the window-hash candidate join must be an
    equi-join (the suffix-array replacement that scales)."""
    p = _plan(spark, "text_substring_dup")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_dither_bayer_map_only(spark):
    """Ordered dithering is pure column math over the pixel range — zero
    exchanges, zero Python."""
    p = _plan(spark, "raster_dither_bayer")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_rgb2pct_assignment_map_only(spark):
    """Palette application (after the bounded driver-side cut) is a
    map-only argmin over broadcast literals — no shuffle, no Python."""
    p = _plan(spark, "raster_rgb2pct")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_geoparquet_bbox_filters_pushed_to_scan(spark):
    """The covering-struct envelope filter must reach the parquet scan
    (row-group pruning at 100 TB) — all four bbox comparisons pushed."""
    import tempfile

    from gdal_spark import geoparquet as GP
    from gdal_spark.data.pages import polygons_df

    path = tempfile.mkdtemp(prefix="gdalspark_gp_plan_") + "/polys"
    GP.write_geoparquet(polygons_df(spark), path, sort_zoom=8)
    pruned = GP.read_geoparquet(
        spark, path, envelope=(-1.5, 30.5, 45.0, 47.0), decode=False
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    for frag in [
        "LessThanOrEqual(bbox.xmin,45.0)",
        "GreaterThanOrEqual(bbox.xmax,-1.5)",
        "LessThanOrEqual(bbox.ymin,47.0)",
        "GreaterThanOrEqual(bbox.ymax,30.5)",
    ]:
        assert frag in plan, f"missing pushed filter {frag}"
    # decode path stays Arrow-batched python on survivors only
    decoded = GP.read_geoparquet(
        spark, path, envelope=(-1.5, 30.5, 45.0, 47.0)
    )
    assert decoded.count() == 26


def test_line_relate_join_no_cartesian(spark):
    """Line↔polygon relate must candidate-generate via the cell equi-join —
    never a nested-loop over the layers."""
    p = _plan(spark, "line_poly_predicates")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_line_line_intersections_equi_join_only(spark):
    p = _plan(spark, "line_line_intersections")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_warp_reproject_block_equi_join(spark):
    """The warp's only wide operation is the block-key equi-join (plus the
    per-tile assembly shuffle) — no nested loop, no driver gather."""
    p = _plan(spark, "warp_reproject_nearest")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_warp_utm_block_equi_join(spark):
    """The UTM warp keeps the same physical shape as the Mercator warps:
    block-key equi-join + per-tile assembly — no nested loop, and the
    corner-envelope block-range derivation stays pure Column math."""
    p = _plan(spark, "warp_utm_grid")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p  # inverse is Column math / Arrow kernel


def test_mix_upsample_map_only(spark):
    """Upsampling is hash + map lookup + sequence explode — zero Exchange
    before the gate's fold-back aggregation."""
    import io as _io
    from contextlib import redirect_stdout as _rs

    from gdal_spark.operators.text import mix_upsample

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source"
    )
    up = mix_upsample(docs, {"src0": 1.5})
    buf = _io.StringIO()
    with _rs(buf):
        up.explain("formatted")
    assert "Exchange" not in buf.getvalue()


def test_c4_gopher_filters_no_shuffle(spark):
    from gdal_spark.operators.text import (
        c4_filter_columns,
        gopher_quality_columns,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for op in (c4_filter_columns, gopher_quality_columns):
        import io as _io
        from contextlib import redirect_stdout as _rs

        buf = _io.StringIO()
        with _rs(buf):
            op(docs).explain("formatted")
        assert "Exchange" not in buf.getvalue(), op.__name__


def test_kmeans_reassign_broadcasts_centroids(spark):
    """The Lloyd re-assignment must join the long-form vectors against a
    BROADCAST centroid table (k x dim rows) — a shuffled join here would
    move the whole corpus per iteration."""
    p = _plan(spark, "embed_kmeans_lloyd")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_bm25_no_cartesian_and_broadcast_stats(spark):
    """tf expansion is a broadcast nested loop over the |Q|-row term list;
    df/N/avgdl come back as broadcasts — never a shuffled cartesian."""
    p = _plan(spark, "text_bm25_topk")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_nearblack_extent_joins_broadcast(spark):
    """Row/column bright extents are metadata-scale aggregates; both
    joins back onto the pixel table must broadcast."""
    p = _plan(spark, "raster_nearblack")
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p


def test_mdim_slice_is_pushed_filter_no_shuffle_before_reduce(spark):
    """Long-form slice = filter (no shuffle); only the axis reduce and
    the rejoin shuffle."""
    from gdal_spark.operators.mdim import md_slice, md_transpose

    cube = spark.range(64).selectExpr(
        "id % 4 as t", "id div 4 as y", "id % 2 as x",
        "cast(id as double) as val")
    buf = io.StringIO()
    with redirect_stdout(buf):
        md_transpose(md_slice(cube, {"t": 2}), ["x", "y"]).explain(
            "formatted")
    assert "Exchange" not in buf.getvalue()


def test_semdedup_pairs_join_on_cluster_key(spark):
    """SemDeDup candidate pairs must key on the cluster id — an all-pairs
    cartesian across clusters is the scale-killer the operator exists to
    avoid."""
    p = _plan(spark, "embed_semdedup")
    assert "CartesianProduct" not in p


def test_warp_footprint_kernels_block_equi_join(spark):
    """The footprint kernels (-r average/sum/rms/mode) share the nearest
    warp's physical shape: block-key equi-join + per-tile assembly — no
    nested loop, no cartesian, no driver gather."""
    for name in ("warp_reproject_average", "warp_reproject_mode"):
        p = _plan(spark, name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_retile_single_destination_shuffle(spark):
    """gdal_retile ships pieces (not pixels) through exactly one
    hash exchange on the destination key before the stitch."""
    p = _plan(spark, "raster_retile")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_hex_kring_knn_equi_join_only(spark):
    """Hex k-ring kNN candidates come from a cell-key equi-join — never a
    query-by-base cartesian."""
    p = _plan(spark, "knn_hex_kring")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_geohash_and_winnowing_map_only(spark):
    """ST_GeoHash and the winnowing fingerprint projection are shuffle-free
    map-only plans (one whole-stage-codegen projection over the scan)."""
    for name in ("st_geohash", "text_winnowing"):
        p = _plan(spark, name)
        assert "Exchange" not in p, name


def test_pagerank_contribution_joins_no_cartesian(spark):
    """Every PageRank round is an edge->rank equi-join + integer partial
    aggregate; the plan must stay cartesian-free."""
    p = _plan(spark, "web_pagerank")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_raster_blend_and_focal_map_only(spark):
    # src-over compositing and 3x3 focal taps are single codegen
    # projections over the generated 64x64 grid: the only exchange allowed
    # is the broadcast of the 64-row axis (the grid cross product); a
    # hash/range shuffle would mean the column math left codegen
    for name in ("raster_blend", "raster_focal_menu"):
        p = _plan(spark, name)
        assert "Exchange hashpartitioning" not in p, name
        assert "rangepartitioning" not in p, name


def test_shortest_path_no_cartesian(spark):
    # every Bellman-Ford round relaxes through equi-joins on src/dst --
    # a CartesianProduct or BroadcastNestedLoopJoin would explode at
    # fact-scale edge tables
    p = _plan(spark, "network_shortest_path")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_invdistnn_single_rank_window(spark):
    # nearest-8 selection = ONE per-tile window sort; the weight fold is
    # an in-group array aggregate, not another shuffle
    p = _plan(spark, "grid_invdistnn")
    assert p.count("Window (") <= 1
    # Spark 4 pushes a partial WindowGroupLimit below the exchange: the
    # nearest-8 cut happens map-side before the per-tile shuffle
    assert p.count("WindowGroupLimit") >= 2
    assert "CartesianProduct" not in p


def test_corpus_shuffle_rank_is_range_partitioned(spark):
    # the global training-order rank must come from repartitionByRange
    # (sampled bounds), never a single-partition global window.  The
    # registry gate materializes (localCheckpoint) so its explain() shows
    # only the checkpoint scan; pin the plan on the lazy form instead.
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F
    from gdal_spark.operators.curve_sort import curve_rank

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.md5(F.col("id").cast("string")).alias("hk"))
    ranked = curve_rank(df, "hk", "doc_id", pos_name="shuffle_rank",
                        materialize=False)
    buf = io.StringIO()
    with redirect_stdout(buf):
        ranked.explain("formatted")
    p = buf.getvalue()
    # the FACT side is range-partitioned; the only SinglePartition stage
    # allowed is the partition-count offsets table (one row per partition,
    # bounded by the partition count, never by data size)
    assert "rangepartitioning" in p.lower()


def test_lineref_measures_broadcast_dimension(spark):
    # the segment-prefix table is dimension-sized: the measure join must
    # broadcast it, leaving the fact side shuffle-free for that join
    p = _plan(spark, "lineref_locate")
    assert "BroadcastHashJoin" in p


def test_triangles_and_lp_no_cartesian(spark):
    """Graph wedge/closure joins and LP vote joins must stay equi-joins —
    a CartesianProduct here is quadratic at web-graph scale."""
    for name in ("web_triangles", "web_communities_lp"):
        p = _plan(spark, name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_bloom_decontaminate_corpus_side_map_only(spark):
    """The bloom prefilter must evaluate as a plain Filter over the corpus
    scan (JVM HOF probe on a literal bitmap): no Exchange, no Python
    evaluator, before the first aggregation/join of the verify stage."""
    df = Q.QUERIES["corpus_decontaminate_bloom"](spark, SF)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # the probe itself is a Filter containing the bloom HOF call
    assert "exists(" in p and "shiftrightunsigned" in p


def test_kmeans_assignment_join_free(spark):
    """ST_ClusterKMeans assignment is a pure column expression over
    centroid LITERALS: the per-round update aggregate plan has no join
    and exactly one (partial+final) aggregation on the assignment key."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from gdal_spark.queries import _KM2D_SEEDS, order_points

    pts = order_points(spark, SF).select(
        F.floor(F.col("lon") * 10000.0 + 0.5).cast("long").alias("xu"),
        F.floor(F.col("lat") * 10000.0 + 0.5).cast("long").alias("yu"),
    )
    keys = [
        ((F.col("xu") - F.lit(cx)) * (F.col("xu") - F.lit(cx))
         + (F.col("yu") - F.lit(cy)) * (F.col("yu") - F.lit(cy))) * 8
        + F.lit(j)
        for j, (cx, cy) in enumerate(_KM2D_SEEDS)
    ]
    upd = (
        pts.withColumn("cluster_id", (F.least(*keys) % 8).cast("int"))
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        upd.explain("formatted")
    plan = buf.getvalue()
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2  # map-side partial + final


def test_coverage_simplify_keyed_joins_only(spark):
    p = _plan(spark, "coverage_simplify")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_inverted_index_partial_agg(spark):
    p = _plan(spark, "text_inverted_index")
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p or "ObjectHashAggregate" in p


def test_tpch_completion_no_cartesians(spark):
    """The 17 session-10 TPC-H gates must never degenerate to a cartesian:
    every join is hash-based (broadcast or shuffle) except the documented
    1-row broadcast scalar joins (q11/q15/q22 grand totals), which show as
    BroadcastNestedLoopJoin over a single-row side and are allowed."""
    for n in (2, 4, 7, 8, 9, 12, 13, 14, 16, 17, 18, 19, 20, 21):
        p = _plan(spark, f"tpch_q{n}")
        assert "CartesianProduct" not in p, f"tpch_q{n} has a cartesian"
        assert "BroadcastNestedLoopJoin" not in p, (
            f"tpch_q{n} has a nested-loop join"
        )


def test_tpch_q9_broadcasts_dimensions(spark):
    """Q9's part/partsupp/supplier/nation sides are all dimension-sized
    and must broadcast; at most one shuffle join (orders↔lineitem)."""
    p = _plan(spark, "tpch_q9")
    assert p.count("BroadcastHashJoin") >= 4
    assert p.count("SortMergeJoin") <= 1


def test_tpch_q21_semi_anti_share_shuffle_key(spark):
    """Q21's EXISTS/NOT-EXISTS pair must decorrelate to LeftSemi + LeftAnti
    hash joins — no correlated re-execution, no nested loop."""
    p = _plan(spark, "tpch_q21")
    assert "LeftSemi" in p and "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_hive_partition_prune_reads_two_partitions(spark):
    """hive_partition_prune's re-read must prune to the 2 matching
    lon_band directories (PartitionFilters carry the IN-list; the data
    filter never reaches the row scan as a parquet PushedFilter on the
    partition column — it is resolved at listing time)."""
    p = _plan(spark, "hive_partition_prune")
    assert "PartitionFilters" in p
    assert "lon_band" in p.split("PartitionFilters", 1)[1].split("]", 1)[0]


def test_sq8_arrow_kernel_partition_topk(spark):
    """SQ8 ANN: the code scan runs in ONE Arrow kernel with per-partition
    top-k pre-reduction — no join may appear; the only shuffle carries
    partitions x k x queries pre-reduced rows into the rank window."""
    p = _plan(spark, "embed_ann_sq8")
    assert "MapInPandas" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "BroadcastHashJoin" not in p


def test_kn_perplexity_no_cartesian_lm_joins(spark):
    """KN scorer: LM-table lookups are equi-joins on (v, w) / v / w plus
    the 1-row totals broadcast — no nested-loop join may appear beyond
    that single-row cross."""
    p = _plan(spark, "text_kn_perplexity")
    assert "CartesianProduct" not in p
    # two 1-row crosses only: nb x vsize totals build + totals broadcast
    import re
    nodes = set(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p))
    assert len(nodes) <= 2


def test_esrijson_read_map_only_after_scan(spark):
    """ESRI JSON scan: typed from_json + explode is map-only — the
    reader must not shuffle."""
    p = _plan(spark, "esrijson_roundtrip")
    post = p.split("Scan json")[-1]
    assert "Exchange" not in post.split("== Initial Plan")[0] or \
        "Exchange" not in post


def test_temperature_mix_bounded_windows_only(spark):
    """Temperature mix: the only window/sort runs on the source-bounded
    table; the corpus pass is one partial-agg shuffle."""
    p = _plan(spark, "corpus_temperature_mix")
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 2  # map-side partial on the corpus


def test_unigram_tokenizer_broadcast_lattice_joins(spark):
    """Unigram tokenizer: every lattice-extension join is a broadcast
    equi-join against the bounded piece table — no sort-merge join and
    no cartesian anywhere in the two EM enumerations."""
    p = _plan(spark, "text_unigram_tokenizer")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_prefix_sums_matches_global_window(spark):
    """Distributed two-level prefix scan == the single-window cumulative
    sum, and its lazy plan range-partitions the data (no single-partition
    window over the big side)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gdal_spark.operators.curve_sort import prefix_sums

    df = spark.range(1000).select(
        (F.col("id") * 37 % 991).alias("v"),
        (F.col("id") % 7).alias("a"),
        (F.col("id") % 3).alias("b"),
    ).groupBy("v").agg(F.sum("a").alias("a"), F.sum("b").alias("b"))
    got = prefix_sums(df, "v", ["a", "b"], num_partitions=8).toPandas() \
        .sort_values("v").reset_index(drop=True)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    want = df.select(
        "v", F.sum("a").over(w).alias("cum_a"),
        F.sum("b").over(w).alias("cum_b"),
    ).toPandas().sort_values("v").reset_index(drop=True)
    assert list(got["cum_a"]) == list(want["cum_a"])
    assert list(got["cum_b"]) == list(want["cum_b"])


def test_logreg_train_gradient_sanity(spark):
    """2-iteration trainer on a separable toy corpus: tokens 'good'/'bad'
    perfectly correlate with the label, so the learned weights must pull
    the two hash features apart (positive-class feature > negative's)."""
    from pyspark.sql import functions as F

    from gdal_spark.operators.text import logreg_quality_train

    rows = [(i, "good good") if i % 2 == 0 else (i, "bad bad")
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    label = (F.col("doc_id") % 2 == 0).cast("int")
    weights, n = logreg_quality_train(docs, label, dim=8, iters=2, lr=1)
    assert n == 40
    wm = dict(weights)
    import hashlib

    def feat(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 8

    assert wm[feat("good")] > 0 > wm[feat("bad")]
    # untouched features stay exactly 0
    used = {feat("good"), feat("bad")}
    assert all(v == 0 for f, v in wm.items() if f not in used)


def test_doremi_no_cartesian_and_broadcast_ref(spark):
    """DoReMi reweighting: the corpus-scale joins are equi-joins (tok →
    freq), and the domain-bounded ref/weight-sum sides ride
    BroadcastExchange — never a nested-loop over the corpus."""
    p = _plan(spark, "corpus_doremi_weights")
    assert "CartesianProduct" not in p
    assert "BroadcastExchange" in p


def test_ks_drift_range_partitioned_no_global_window(spark):
    """KS drift: the CDF scan is the two-level prefix pattern — the plan
    must show the rangepartitioning Exchange and keep its only
    single-partition window on the #partitions-row offsets side
    (guarded by its broadcast)."""
    p = _plan(spark, "corpus_ks_drift")
    assert "CartesianProduct" not in p
    assert "BroadcastExchange" in p


def test_unimax_single_corpus_aggregate(spark):
    """UniMax: exactly one corpus-scale aggregate feeds the bounded
    greedy — the returned plan is a parallelized local table (the
    language allocation is dimension-sized), so no corpus join remains."""
    p = _plan(spark, "corpus_unimax_alloc")
    assert "Join" not in p and "Exchange" not in p
