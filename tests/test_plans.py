"""Physical-plan shape assertions: the scale properties SURVEY.md §4
promises must be visible in explain() output, not just hoped for.

- parquet scans receive pushed filters + pruned columns
- the polygon side of bbox joins is broadcast (no shuffle of the big side)
- tile assignment is pure codegen (no Python evaluation node)
- extraction is shuffle-free (embarrassingly parallel)
- kNN candidates come from one Arrow pass against a ring index: no
  join, so never a cartesian product
"""

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tiff_to_geojson_csv_json_format_converter_spark.functions import cells
from tiff_to_geojson_csv_json_format_converter_spark.operators import extract, joins, tiling, zonal
from tiff_to_geojson_csv_json_format_converter_spark.sources import synth

SF = "/root/testdata/sf0.001"


def plan_str(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_nodes(node) -> list:
    """Every node of the physical plan under ``node`` (a DataFrame: its
    sparkPlan), parents before children; a cached relation's own plan
    not included."""
    if isinstance(node, DataFrame):
        node = node._jdf.queryExecution().sparkPlan()
    out, todo = [], [node]
    while todo:
        node = todo.pop()
        out.append(node)
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return out


def arrow_outputs(df) -> list:
    """The output column names of each MapInArrow node in ``df``'s
    physical plan."""
    return [[n.output().apply(i).name() for i in range(n.output().size())]
            for n in plan_nodes(df) if n.nodeName() == "MapInArrow"]


def test_parquet_scan_pushdown(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_quantity") > 30.0)
        .select("l_orderkey", "l_quantity")
    )
    p = plan_str(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)" in p
    assert "ReadSchema" in p and "l_partkey" not in p.split("ReadSchema")[1].splitlines()[0]


def test_bbox_join_is_broadcast(spark):
    images = synth.images_df(spark, "xs")
    polys = synth.polygons_df(spark)
    p = plan_str(joins.bbox_join(images, polys))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_tile_assignment_is_pure_codegen(spark):
    pts = spark.createDataFrame(
        [(77.2, 28.3)], "longitude double, latitude double"
    )
    df = tiling.assign_tiles(pts, 12)
    p = plan_str(df)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    # and numerically equal to the numpy twin
    row = df.collect()[0]
    assert row["cell_id"] == int(cells.cell_id(np.array([77.2]), np.array([28.3]), 12)[0])


def test_extraction_has_no_shuffle(spark):
    images = synth.images_df(spark, "xs")
    p = plan_str(extract.extract_points(images))
    assert "Exchange" not in p


@pytest.mark.parametrize("frame", ["extract", "cached", "filtered", "sample_cap"])
def test_zonal_stats_path_follows_its_input(spark, frame):
    """An untouched extract frame plans one MapInArrow over the images
    that emits the per-(image, band) partials, and no Python eval node;
    any other points frame takes the row path over its points: the
    clip's one ArrowEvalPython of the coordinates, and no MapInArrow of
    its own."""
    images = synth.images_df(spark, "xs").localCheckpoint()
    pts = extract.extract_points(images, valid_only=True,
                                 sample_cap=100 if frame == "sample_cap" else None)
    if frame == "cached":
        pts = pts.cache()
    elif frame == "filtered":
        pts = pts.filter("band = 0")
    try:
        df = zonal.zonal_stats(pts, [synth.GOLDEN_DELHI_RING])
        outs, p = arrow_outputs(df), plan_str(df)
        evals = [n.nodeName() for n in plan_nodes(df)].count("ArrowEvalPython")
    finally:
        pts.unpersist()
    partials = [f.split()[0] for f in zonal._PARTIALS_SCHEMA.split(", ")]
    points = [f.split()[0] for f in extract.POINTS_SCHEMA.split(", ")]
    if frame == "extract":
        assert outs == [partials]
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    elif frame == "cached":
        assert outs == [] and "InMemoryTableScan" in p and evals == 1
    else:
        assert outs == [points] and evals == 1


def test_tiles_plan_one_exchange_no_python_eval(spark):
    """Converter.tiles(): the partials are hash-partitioned by tile_id
    once, which serves both of countDistinct's aggregation stages."""
    import re

    from tiff_to_geojson_csv_json_format_converter_spark.api import Converter

    p = plan_str(Converter(spark, synth.images_df(spark, "xs")).tiles())
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1
    assert "hashpartitioning(tile_id" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_catalog_runs_one_job(spark, spark_jobs, monkeypatch):
    """Converter.catalog(): one collect() of the per-images-row summaries,
    a plan with no Exchange; the merge and the sort run on the driver."""
    from tiff_to_geojson_csv_json_format_converter_spark.api import Converter
    from tiff_to_geojson_csv_json_format_converter_spark.operators import sinks

    conv = Converter(spark, synth.images_df(spark, "xs"))
    seen = []
    real = sinks.catalog_document
    monkeypatch.setattr(sinks, "catalog_document",
                        lambda summaries: seen.append(summaries) or real(summaries))
    cat, n_jobs = spark_jobs(conv.catalog)
    assert cat["total_files"] == synth.SCALES["xs"][0]
    assert n_jobs == 1
    assert len(seen) == 1 and "Exchange" not in plan_str(seen[0])


def test_catalog_rollup_path_follows_its_input(spark):
    """catalog_rollup over a fresh extract frame plans one MapInArrow
    that emits the per-images-row summaries; over a cached copy it reads
    the cached points."""
    images = synth.images_df(spark, "xs").localCheckpoint()
    summaries = [f.split()[0] for f in extract.SUMMARY_SCHEMA.split(", ")]
    assert arrow_outputs(tiling.catalog_rollup(extract.extract_points(images))) == [summaries]
    cached = extract.extract_points(images).cache()
    try:
        df = tiling.catalog_rollup(cached)
        assert arrow_outputs(df) == [] and "InMemoryTableScan" in plan_str(df)
    finally:
        cached.unpersist()


def test_knn_has_no_cartesian_product(spark):
    pts = spark.createDataFrame(
        [(1, 77.2, 28.3)], "pixel_idx long, longitude double, latitude double"
    )
    qs = spark.createDataFrame([("q1", 77.2, 28.3)], "query_id string, lon double, lat double")
    p = plan_str(joins.knn_join(pts, qs, k=1))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


@pytest.mark.parametrize("query_frame", ["one_request", "cached_batch"])
def test_knn_plan_is_one_arrow_pass(spark, query_frame):
    """The executed (final AQE) kNN plan meets the points and the ring
    index inside ONE ``mapInArrow``: no broadcast exchange, no join node
    of any kind (so never a cartesian or nested loop) and no other
    Python node, whether the query side is a size-less createDataFrame
    request or a cached batch smaller than the points."""
    import re

    pts = spark.range(4096, numPartitions=4).selectExpr(
        "id as pixel_idx", "77.0D + (id % 64) * 0.002D as longitude",
        "28.0D + (id div 64) * 0.002D as latitude").cache()
    pts.count()
    if query_frame == "one_request":
        qs = spark.createDataFrame([("q1", 77.05, 28.05)], "query_id string, lon double, lat double")
    else:
        qs = spark.createDataFrame(
            [(f"q{i}", 77.0 + i * 0.0025, 28.0 + i * 0.0025) for i in range(48)],
            "query_id string, lon double, lat double").cache()
    try:
        df = joins.knn_join(pts, qs, k=2)
        assert len(df.collect()) > 0
        final = df._jdf.queryExecution().executedPlan().executedPlan().toString()
    finally:
        pts.unpersist()
        qs.unpersist()
    nodes = re.findall(r"^[\s:+|-]*(?:\*\(\d+\) )?(\w+)", final, re.M)
    assert nodes.count("MapInArrow") == 1, nodes
    assert not {"ArrowEvalPython", "MapInPandas", "BatchEvalPython", "BroadcastExchange"} & set(nodes)
    assert not [n for n in nodes if "Join" in n or "Cartesian" in n], nodes


def test_salted_repartition_plan_shuffles_on_salt(spark):
    pts = extract.extract_points(synth.images_df(spark, "xs"))
    tiled = tiling.assign_tiles(pts, 12)
    p = plan_str(tiling.salted_repartition(tiled, "cell_id", salt_buckets=4, num_partitions=8))
    assert "hashpartitioning(cell_id" in p and "_salt" in p


def test_cosine_pairs_has_no_cartesian_product(spark):
    """The exact near-dup pair operator must never plan a cartesian: the
    quadratic work lives in a broadcast numpy matmul, not the shuffle."""
    from tiff_to_geojson_csv_json_format_converter_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = plan_str(similarity.cosine_pairs(emb, threshold_e6=400_000))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Join" not in p  # no join at all: broadcast matmul only


def test_cosine_pairs_blocked_no_broadcast_no_collect(spark):
    """The blocked (100 TB) near-dup path must not contain ANY corpus-wide
    broadcast, cartesian, or driver collect: the corpus meets itself via a
    hash-block shuffle + one applyInPandas group per block pair."""
    from tiff_to_geojson_csv_json_format_converter_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = similarity.cosine_pairs_blocked(emb, threshold_e6=400_000, n_blocks=4)
    p = plan_str(df)
    assert "MapInPandas" in p  # the block-pair kernel (streamed batches)
    assert "hashpartitioning(bi" in p  # block pairs meet via a key shuffle
    assert "BroadcastExchange" not in p  # no single corpus-wide broadcast
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Join" not in p  # block pairing is a shuffle, not a join


def test_brute_topk_blocked_no_broadcast_no_collect(spark):
    """The grid-decomposed exact top-k must carry no corpus-wide
    broadcast, cartesian, or driver collect: queries and corpus meet
    via the (qb, cb) grid shuffle + one streamed kernel per cell,
    then a global window."""
    from tiff_to_geojson_csv_json_format_converter_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = similarity.brute_topk_blocked(emb, k=3, n_blocks=4)
    p = plan_str(df)
    assert "MapInPandas" in p  # the grid-cell kernel
    assert "hashpartitioning(qb" in p  # cells meet via the grid shuffle
    assert "BroadcastExchange" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Join" not in p  # grid pairing is a shuffle, not a join


def test_cosine_pairs_blocked_equals_broadcast(spark):
    """Bit-identical output across physical strategies and block counts,
    including adversarial non-contiguous ids (hash blocks must not rely
    on id order or density)."""
    from tiff_to_geojson_csv_json_format_converter_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").withColumn(
        "vec_id", F.col("vec_id") * 7 + 13
    )
    want = sorted(
        map(tuple, similarity.cosine_pairs(
            emb, threshold_e6=400_000, mode="broadcast").collect())
    )
    assert want  # non-vacuous
    for B in (1, 2, 5):
        got = sorted(
            map(tuple, similarity.cosine_pairs_blocked(
                emb, threshold_e6=400_000, n_blocks=B).collect())
        )
        assert got == want, f"blocked(B={B}) diverged from broadcast"
    # auto mode routes tiny corpora to broadcast, big thresholds to blocked
    got_auto = sorted(
        map(tuple, similarity.cosine_pairs(
            emb, threshold_e6=400_000, mode="auto", broadcast_max_rows=10,
            block_rows=40).collect())
    )
    assert got_auto == want


def test_cosine_pairs_blocked_wide_width_wire(spark):
    """Width-tagged wire escalation: vectors whose quantized values
    overflow int16 (and int32) must ride as int32/int64 blobs and still
    produce output bit-identical to the broadcast path."""
    import numpy as np

    from tiff_to_geojson_csv_json_format_converter_spark.operators import similarity

    rows = []
    rng = np.random.default_rng(3)
    for i in range(24):
        if i % 4 == 3:
            # one huge component -> int64 wire: q = 2.5e9 > int32 max
            # 2,147,483,647, while the exact int64 norm stays
            # representable (q^2 = 6.25e18 < 2^63 ~ 9.22e18)
            v = rng.normal(size=8)
            v[0] = 2.5e6 * (1 if i % 8 == 3 else -1)
            v = v.tolist()
        else:
            mag = [1.0, 1e2, 1e3][i % 4]  # int16 / int32 / int32 widths
            v = (rng.normal(size=8) * mag).tolist()
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    want = sorted(map(tuple, similarity.cosine_pairs(
        emb, threshold_e6=100_000, mode="broadcast").collect()))
    got = sorted(map(tuple, similarity.cosine_pairs_blocked(
        emb, threshold_e6=100_000, n_blocks=3).collect()))
    assert want and got == want


def test_ann_lsh_wire_tags_plan_the_declared_wire(spark):
    """The driver's ann_lsh_topk union must really PLAN both wires:
    the dim-64 leg scores JVM-side (zip_with aggregate, no Python in
    the re-rank), the dim-192 leg rides the binary wire (packed-blob
    Arrow scoring kernel — no zip_with anywhere in its plan)."""
    from tiff_to_geojson_csv_json_format_converter_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    narrow = plan_str(similarity.lsh_topk(emb, k=5))
    assert "zip_with" in narrow  # array wire: JVM lambda scoring
    wide_vec = F.concat(
        F.transform("embedding", lambda v: v.cast("double")),
        F.transform("embedding", lambda v: -v.cast("double")),
        F.transform("embedding", lambda v: v.cast("double") * F.lit(0.5)),
    )
    wide = emb.select("vec_id", wide_vec.alias("embedding"))
    wplan = plan_str(similarity.lsh_topk(wide, k=5, dim=192))
    assert "zip_with" not in wplan  # binary wire: no per-element lambda
    assert wplan.count("MapInPandas") >= 2  # bucket kernel + Arrow scoring kernel


def test_cosine_pairs_auto_routes_high_threshold_through_lsh(spark):
    """mode='auto' at near-dup thresholds (>= 0.9) must route through
    LSH candidates + exact verify: equi-joins on (table, bucket), no
    cartesian, no blocked explode fan-out, and — on planted near-dups —
    output equal to the exact blocked path."""
    from tiff_to_geojson_csv_json_format_converter_spark.operators import similarity

    rng = np.random.RandomState(7)
    rows = []
    for i in range(120):
        v = rng.normal(size=64)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    for j in range(25):
        # noisy copies: genuinely NEAR (not exact) duplicates at ~0.98
        base = np.array(rows[j][1]) + rng.normal(size=64) * 0.02
        rows.append((1000 + j, (base / np.linalg.norm(base)).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    routed = similarity.cosine_pairs(emb, threshold_e6=950_000, mode="auto")
    p = plan_str(routed)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "sequence(" not in p  # no blocked all-block replication fan-out
    assert "MapInPandas" in p  # signature stage
    assert "Join" in p  # bucket-candidate equi-join + verify joins

    want = sorted(map(tuple, similarity.cosine_pairs_blocked(
        emb, threshold_e6=950_000, n_blocks=3).collect()))
    got = sorted(map(tuple, routed.collect()))
    assert want and got == want


def test_clip_points_multi_single_pass_equals_per_polygon_union(spark):
    """clip_points_multi clips every polygon in one pass over the points:
    its (tag, point) rows are the union of independent clip_points runs,
    with a point in two polygons tagged twice."""
    rng = np.random.RandomState(11)
    pts = spark.createDataFrame(
        [(i, float(77 + rng.rand() * 0.6), float(28 + rng.rand() * 0.6), float(i % 50))
         for i in range(400)],
        "point_id long, longitude double, latitude double, elevation double",
    )
    sq1 = [[77.1, 28.1], [77.3, 28.1], [77.3, 28.3], [77.1, 28.3], [77.1, 28.1]]
    tri = [[77.2, 28.2], [77.55, 28.25], [77.3, 28.55], [77.2, 28.2]]
    polys = {"sq": [sq1], "tri": [tri]}

    multi = joins.clip_points_multi(pts, polys)
    assert multi.columns == [*pts.columns, "poly"]
    got = sorted(
        (r["poly"], r["point_id"]) for r in multi.select("poly", "point_id").collect()
    )
    want = sorted(
        (tag, r["point_id"])
        for tag, rings in polys.items()
        for r in joins.clip_points(pts, rings).select("point_id").collect()
    )
    assert want and got == want
    assert len({i for _, i in got}) < len(got)  # the overlap is tagged twice


def test_catalog_null_partition_keys_rejected(spark, tmp_path):
    """NULL partition keys are unwritable (isin() never matches NULL):
    both discovery mode and an explicit None part must fail up front
    with the clear error, not the data-loss RuntimeError."""
    from tiff_to_geojson_csv_json_format_converter_spark.plans.catalog import ParquetCatalog

    df = spark.createDataFrame(
        [("a", 1), (None, 2)], "k string, v int"
    )
    cat = ParquetCatalog(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="NULL partition keys unsupported"):
        cat.run_partitioned_job(df, "k", "s1")
    with pytest.raises(ValueError, match="NULL partition keys unsupported"):
        cat.run_partitioned_job(df, "k", "s1", parts=["a", None])


def test_multi_root_scan_is_broadcast_no_cartesian(spark):
    """A2: the roots table is broadcast; matching is a LIKE-filtered
    broadcast join, never a cartesian/shuffle of the catalog."""
    from tiff_to_geojson_csv_json_format_converter_spark.sources import multiroot

    cat = spark.createDataFrame([("r", "r/a.tif")], "root string, path string")
    df = multiroot.multi_root_scan(cat, ["r"], ["*.tif"], cap=5)
    p = plan_str(df)
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_union_clip_bbox_pushed_below_python(spark):
    """D7 union clip: the overall-bbox Filter sits below the one Python
    node, the cover kernel's keep mask, and a point inside two
    overlapping polygons comes once (OR of the members; even-odd over the stacked rings
    would XOR the overlap out)."""
    sq1 = [[77.0, 28.0], [77.2, 28.0], [77.2, 28.2], [77.0, 28.2], [77.0, 28.0]]
    sq2 = [[77.1, 28.1], [77.3, 28.1], [77.3, 28.3], [77.1, 28.3], [77.1, 28.1]]
    # overlap, only sq1, only sq2, outside both but inside the overall bbox
    xy = [(77.15, 28.15), (77.05, 28.05), (77.25, 28.25), (77.25, 28.05)]
    pts = spark.createDataFrame([(i, x, y) for i, (x, y) in enumerate(xy)],
                                "point_id long, longitude double, latitude double")
    df = joins.clip_points_union(pts, [[sq1], [sq2]])
    nodes = plan_nodes(df)
    arrow = [n for n in nodes if n.nodeName() == "ArrowEvalPython"]
    assert len(arrow) == 1
    assert not {"MapInArrow", "BatchEvalPython"} & {n.nodeName() for n in nodes}
    filters = [n for n in plan_nodes(arrow[0]) if n.nodeName() == "Filter"]
    assert filters and "77.3" in filters[0].condition().toString()
    assert sorted(r["point_id"] for r in df.collect()) == [0, 1, 2]
    stacked = joins.clip_points(pts, [sq1, sq2])
    assert sorted(r["point_id"] for r in stacked.collect()) == [1, 2]


def test_clip_operators_are_one_arrow_udf_above_the_bbox_filter(spark):
    """Each clip operator plans exactly one ArrowEvalPython, the cover
    kernel over the coordinates alone, with the overall-bbox Filter
    below it so the scan can prune; no other Python node and no
    nested-loop join. The other points columns never reach Python, and
    a column the caller does not read is pruned from the scan."""
    pts = spark.createDataFrame(
        [(1, 77.25, 28.25, 5.0)], "point_id long, longitude double, latitude double, elevation double"
    )
    sq = [[77.1, 28.1], [77.3, 28.1], [77.3, 28.3], [77.1, 28.3], [77.1, 28.1]]
    tri = [[77.2, 28.2], [77.55, 28.25], [77.3, 28.55], [77.2, 28.2]]
    # the point is inside both polygons: once per clip, once per tag
    for df, n_rows in ((joins.clip_points(pts, [sq]), 1),
                       (joins.clip_points_union(pts, [[sq], [tri]]), 1),
                       (joins.clip_points_multi(pts, {"sq": [sq], "tri": [tri]}), 2)):
        nodes = plan_nodes(df)
        names = [n.nodeName() for n in nodes]
        assert names.count("ArrowEvalPython") == 1, names
        assert not {"MapInArrow", "BatchEvalPython", "BroadcastNestedLoopJoin"} & set(names)
        arrow = nodes[names.index("ArrowEvalPython")]
        args = arrow.udfs().apply(0).children()
        assert [args.apply(i).name() for i in range(args.size())] == ["longitude", "latitude"]
        filters = [n.condition().toString() for n in plan_nodes(arrow) if n.nodeName() == "Filter"]
        assert len(filters) == 1 and "77.1" in filters[0] and "28.1" in filters[0], filters
        assert df.count() == n_rows
        pruned = [n for n in plan_nodes(df.select("point_id")) if n.nodeName() == "ArrowEvalPython"]
        assert "elevation" not in pruned[0].child().output().toString()


def test_jaccard_pairs_is_one_cell_pass(spark):
    """jaccard_pairs is one pass, blocked or not: shingle sets in
    codegen, the pack and the grid replication, ONE Exchange on the
    cell, one kernel. No window, join, aggregate, cached relation or
    cartesian product."""
    import re

    from tiff_to_geojson_csv_json_format_converter_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "abcdefgh", "s"), (2, "abcdefgx", "s")], "doc_id long, text string, source string"
    )
    for block_col in ("source", None):
        p = plan_str(dedup.jaccard_pairs(docs, 3, 500_000, block_col=block_col))
        nodes = re.findall(r"^\(\d+\) (?:\* )?(\w+)", p, re.M)
        assert nodes.count("Exchange") == 1, nodes
        assert [n for n in nodes if "Python" in n or n.startswith(("MapIn", "FlatMap"))] \
            == ["MapInPandas", "MapInPandas"], nodes
        assert not [n for n in nodes if n in ("Window", "InMemoryRelation", "InMemoryTableScan",
                                              "CartesianProduct")
                    or n.endswith(("Join", "Aggregate"))], nodes


def test_cell_cover_join_is_one_arrow_pass(spark):
    """D1-at-scale: the cover index is broadcast, and the points meet it
    inside ONE ``mapInArrow`` pass: no join node of any kind (so never a
    cartesian or nested loop), no shuffle, and no other Python node."""
    import re

    pts = spark.createDataFrame(
        [(1, 77.25, 28.25, 5.0)],
        "point_id long, longitude double, latitude double, elevation double",
    )
    polys = synth.polygons_df(spark)
    for df in (joins.cell_cover_join(pts, polys, level=8),
               joins.cell_cover_candidates(pts, polys, level=8)[0]):
        p = plan_str(df)
        nodes = re.findall(r"^\(\d+\) (?:\* )?(\w+)", p, re.M)
        assert nodes.count("MapInArrow") == 1, nodes
        assert not {"ArrowEvalPython", "MapInPandas", "BatchEvalPython", "Exchange"} & set(nodes)
        assert not [n for n in nodes if "Join" in n or "Cartesian" in n], nodes


def test_cell_cover_join_matches_numpy_pip(spark):
    """The join must agree with the numpy reference
    (``geometry.points_in_polygon``) on a hole polygon and an UNCLOSED
    ring (the wrap edge close_ring() adds). Level 8 is the default
    (every cover cell is a boundary cell here); level 12 also yields
    interior cells, so both branches of the kernel are exercised."""
    import json

    from tiff_to_geojson_csv_json_format_converter_spark.functions import (
        geometry as gf,
    )

    rings_by_id = {
        # hole polygon (closed rings)
        "h": [[[77.0, 28.0], [77.5, 28.0], [77.5, 28.5], [77.0, 28.5],
               [77.0, 28.0]],
              [[77.2, 28.2], [77.3, 28.2], [77.3, 28.3], [77.2, 28.3],
               [77.2, 28.2]]],
        # concave pentagon, UNCLOSED (first != last)
        "u": [[[77.1, 28.05], [77.4, 28.1], [77.45, 28.3],
               [77.25, 28.45], [77.05, 28.3]]],
    }
    polys = spark.createDataFrame(
        [(pid, json.dumps({"type": "Polygon", "coordinates": rr}),
          min(p[0] for p in rr[0]), min(p[1] for p in rr[0]),
          max(p[0] for p in rr[0]), max(p[1] for p in rr[0]))
         for pid, rr in rings_by_id.items()],
        "polygon_id string, geojson string, min_lon double, "
        "min_lat double, max_lon double, max_lat double",
    )
    pts_xy = [(i, 77.0 + (i % 23) * 0.025, 28.0 + (i // 23) * 0.025)
              for i in range(23 * 23)]
    pts = spark.createDataFrame(
        pts_xy, "point_id long, longitude double, latitude double")

    x = np.array([p[1] for p in pts_xy])
    y = np.array([p[2] for p in pts_xy])
    ids = np.array([p[0] for p in pts_xy])
    want = set()
    for pid, rr in rings_by_id.items():
        inside = gf.points_in_polygon(
            x, y, [np.asarray(r, dtype=np.float64) for r in rr])
        want |= {(int(i), pid) for i in ids[inside]}
    assert want

    for level, interior_kinds in ((8, {False}), (12, {False, True})):
        got = {(r["point_id"], r["polygon_id"])
               for r in joins.cell_cover_join(pts, polys, level=level).collect()}
        assert got == want, level
        cand = joins.cell_cover_candidates(pts, polys, level=level)[0]
        assert {r["interior"] for r in
                cand.select("interior").distinct().collect()} == interior_kinds


def test_cell_cover_join_schema_and_fails_loudly(spark):
    """Column ORDER is the points columns then ``polygon_id``
    (positional readers depend on it), the driver-collect cap raises,
    and unparseable / degenerate geometry fails loudly instead of
    dropping rows."""
    import json

    pts = spark.createDataFrame(
        [(1, 77.25, 28.25), (2, 77.05, 28.05)],
        "point_id long, longitude double, latitude double")

    def layer(coords):
        return spark.createDataFrame(
            [("p0", json.dumps({"type": "Polygon", "coordinates": coords})
              if not isinstance(coords, str) else coords,
              77.0, 28.0, 77.5, 28.5)],
            "polygon_id string, geojson string, min_lon double, "
            "min_lat double, max_lon double, max_lat double")

    square = [[[77.0, 28.0], [77.5, 28.0], [77.5, 28.5], [77.0, 28.5],
               [77.0, 28.0]]]
    assert joins.cell_cover_join(pts, layer(square)).columns == [
        "point_id", "longitude", "latitude", "polygon_id"]

    with pytest.raises(ValueError, match="max_layer_rows"):
        joins.cell_cover_join(pts, layer(square), max_layer_rows=0)

    # corrupt JSON: must raise, not emit partial rows
    bad = layer('{"type": "Polygon", "coordinates": [[[77.0, oops')
    with pytest.raises(Exception, match="Expecting value"):
        joins.cell_cover_join(pts, bad).collect()

    # degenerate 1-point ring: close_ring raises, never silent
    degen = layer([[[77.25, 28.25]]])
    with pytest.raises(Exception, match="ring must"):
        joins.cell_cover_join(pts, degen).collect()

    # no ring at all: refused on the driver, never left to a task
    with pytest.raises(ValueError, match="no rings"):
        joins.cell_cover_join(pts, layer([]))


def test_cell_cover_join_refuses_colliding_columns(spark):
    """A points column named like one the join emits is refused, never
    duplicated (two ``polygon_id`` columns would fail later, on an
    ambiguous reference, far from the cause)."""
    polys = synth.polygons_df(spark)
    base = "point_id long, longitude double, latitude double"
    for extra, fn in (("polygon_id string", joins.cell_cover_join),
                      ("polygon_id string", joins.cell_cover_candidates),
                      ("cell long", joins.cell_cover_candidates),
                      ("interior boolean", joins.cell_cover_candidates)):
        pts = spark.createDataFrame([], f"{base}, {extra}")
        with pytest.raises(ValueError, match=extra.split()[0]):
            fn(pts, polys)


def test_cell_cover_join_null_and_nan_coordinates_never_join(spark):
    """A null, NaN or infinite coordinate never joins. The polygon covers
    the (-180, 90) corner cell at level 8 as an interior cell: Spark's
    tile expression puts a null there (``greatest`` skips it) and a NaN
    (``floor`` casts it to 0), and the tile clamp puts -inf, +inf
    latitude and an off-grid -200 there. Only the control point inside
    the cell joins, and none of the others is even a candidate."""
    import json

    shell = [[-190.0, 80.0], [-170.0, 80.0], [-170.0, 100.0], [-190.0, 100.0]]
    polys = spark.createDataFrame(
        [("corner", json.dumps({"type": "Polygon", "coordinates": [shell]}),
          -190.0, 80.0, -170.0, 100.0)],
        "polygon_id string, geojson string, min_lon double, min_lat double, "
        "max_lon double, max_lat double")
    nan, inf = float("nan"), float("inf")
    pts = spark.createDataFrame(
        [(0, -179.5, 89.5), (1, None, None), (2, None, 89.5), (3, -179.5, None),
         (4, nan, nan), (5, nan, 89.5), (6, -179.5, nan), (7, -inf, 89.5),
         (8, -179.5, inf), (9, -200.0, 89.5)],
        "point_id long, longitude double, latitude double")
    cand = joins.cell_cover_candidates(pts, polys, level=8)[0]
    assert [(r["point_id"], r["interior"]) for r in cand.collect()] == [(0, True)]
    got = joins.cell_cover_join(pts, polys, level=8).collect()
    assert [(r["point_id"], r["polygon_id"]) for r in got] == [(0, "corner")]


def test_clip_fallback_ladder_rungs(spark):
    """D4 (test2.py:1264-1357): rung selection by geometry usability and
    per-rung membership semantics — exact PIP, bbox window, D5 center
    square."""
    from tiff_to_geojson_csv_json_format_converter_spark.functions import geometry as gf

    pts = spark.createDataFrame(
        [(i, 77.0 + (i % 10) * 0.05, 28.0 + (i // 10) * 0.05, float(i))
         for i in range(100)],
        "point_id long, longitude double, latitude double, elevation double",
    )
    sq = [[77.1, 28.1], [77.3, 28.1], [77.3, 28.3], [77.1, 28.3], [77.1, 28.1]]
    out, rung = joins.clip_fallback_ladder(pts, [sq])
    assert rung == "clip"
    want = {r["point_id"] for r in joins.clip_points(pts, [sq]).collect()}
    assert {r["point_id"] for r in out.collect()} == want

    # degenerate: two distinct vertices -> bbox-window rung, closed bounds
    deg = [[77.1, 28.1], [77.3, 28.3], [77.1, 28.1]]
    out, rung = joins.clip_fallback_ladder(pts, [deg])
    assert rung == "window"
    got = {r["point_id"] for r in out.collect()}
    want = {
        r["point_id"] for r in pts.filter(
            "longitude >= 77.1 and longitude <= 77.3 "
            "and latitude >= 28.1 and latitude <= 28.3").collect()
    }
    assert got == want and got

    # non-finite geometry -> center-square rung over the data extent
    # (frac=0.5 so the square actually contains grid points — the
    # comparison must be non-vacuous)
    bad = [[float("nan"), float("nan")]] * 4
    out, rung = joins.clip_fallback_ladder(pts, [bad], frac=0.5)
    assert rung == "center"
    ring = gf.center_sample_ring((77.0, 28.0, 77.45, 28.45), 0.5)
    want = {r["point_id"] for r in joins.clip_points(pts, [ring.tolist()]).collect()}
    got = {r["point_id"] for r in out.collect()}
    assert want and got == want

    # classification is driver-side and pure
    assert joins._classify_and_bbox([])[0] == "center"
    assert joins._classify_and_bbox([[[1.0, 1.0], [1.0, 1.0]]])[0] == "center"
    assert joins._classify_and_bbox([[[1.0, 1.0], [2.0, 1.0]]])[0] == "window"


def test_clip_fallback_ladder_classification_edge_cases(spark):
    """Hardened D4 triggers: a NaN hole poisons PIP (must fall through,
    not silently clip to empty), a collinear >= 3-vertex shell clips to
    nothing (must take the window), and a multi-shell list's window bbox
    spans EVERY ring's finite coordinates."""
    valid = [[77.1, 28.1], [77.3, 28.1], [77.3, 28.3], [77.1, 28.3], [77.1, 28.1]]
    nan_hole = [[float("nan"), float("nan")]] * 3
    # NaN hole: shell alone is usable, but PIP over [shell, hole] would
    # bbox-NaN to an empty result -> window rung over the finite coords
    assert joins._classify_and_bbox([valid, nan_hole])[0] == "window"
    # collinear shell with 3 distinct vertices and 2-D bbox extent
    assert joins._classify_and_bbox(
        [[[0.0, 0.0], [1.0, 1.0], [2.0, 2.0], [0.0, 0.0]]])[0] == "window"
    # degenerate first shell + valid second shell: window bbox must span both
    pts = spark.createDataFrame(
        [(1, 77.05, 28.05, 1.0), (2, 77.5, 28.5, 2.0), (3, 78.5, 29.5, 3.0)],
        "point_id long, longitude double, latitude double, elevation double",
    )
    deg = [[77.0, 28.0], [77.1, 28.1], [77.0, 28.0]]
    second = [[77.4, 28.4], [77.6, 28.4], [77.6, 28.6], [77.4, 28.6], [77.4, 28.4]]
    out, rung = joins.clip_fallback_ladder(pts, [deg, second])
    assert rung == "window"
    assert {r["point_id"] for r in out.collect()} == {1, 2}  # spans both rings

    # precomputed extent skips the aggregate and yields identical output
    bad = [[float("nan"), float("nan")]] * 4
    pts2 = spark.createDataFrame(
        [(i, 77.0 + i * 0.01, 28.0 + i * 0.01, 1.0) for i in range(40)],
        "point_id long, longitude double, latitude double, elevation double",
    )
    out1, _ = joins.clip_fallback_ladder(pts2, [bad], frac=0.5)
    out2, _ = joins.clip_fallback_ladder(
        pts2, [bad], frac=0.5, extent=(77.0, 28.0, 77.39, 28.39))
    got1 = {r["point_id"] for r in out1.collect()}
    got2 = {r["point_id"] for r in out2.collect()}
    assert got1 and got1 == got2


def test_tile_assign_null_image_id_keeps_distinct_semantics(spark):
    """tile_assign's rollup on a frame with a NULL image_id: n_images is
    COUNT(DISTINCT image_id) (NULL not counted) while n_points and the
    pyramid keep every point, as the oracle's COUNT(*) does."""
    from tiff_to_geojson_csv_json_format_converter_spark.plans import entry_queries

    pts = spark.createDataFrame(
        [(77.01, 28.41, 5.0, 1), (77.011, 28.411, 7.0, 2), (77.012, 28.412, 9.0, None),
         (77.013, 28.413, 4.0, 1), (77.9, 28.9, 3.0, None)],
        "lon double, lat double, z double, image_id long",
    )
    got = entry_queries._tile_rollups(pts)
    key = ["kind", "level", "tile_x", "tile_y"]
    tiles = pts.select(
        cells.tile_x_col(F.col("lon"), 12).alias("tile_x"),
        cells.tile_y_col(F.col("lat"), 12).alias("tile_y"), "image_id")
    want = {
        (r.tile_x, r.tile_y): (r.n_points, r.n_images)
        for r in tiles.groupBy("tile_x", "tile_y").agg(
            F.count("*").alias("n_points"),
            F.countDistinct("image_id").alias("n_images")).collect()
    }
    assign = {(r.tile_x, r.tile_y): (r.n_points, r.n_images)
              for r in got.filter("kind = 'assign'").select(*key, "n_points", "n_images").collect()}
    assert assign == want
    assert sorted(want.values()) == [(1, 0), (4, 2)]
    finest = got.filter("kind = 'pyramid' and level = 12").agg(F.sum("n_points")).first()[0]
    assert finest == 5


@pytest.mark.parametrize("edges", [4, 80])
def test_clip_points_multi_refuses_a_tag_column_clash(spark, edges):
    """A points column named like ``clip_points_multi``'s tag column is
    refused with a ValueError that names it, never duplicated (an
    ambiguous reference later) nor overwritten by the tag, whatever the
    polygon's size. ``clip_points`` and ``clip_points_union`` emit no
    column, so the caller's column passes through them."""
    ang = np.linspace(0.0, 2 * np.pi, edges, endpoint=False)
    ring = [[77.2 + 0.1 * np.cos(t), 28.2 + 0.1 * np.sin(t)] for t in ang]
    pts = spark.createDataFrame([(1, 77.2, 28.2, "mine")],
                                "point_id long, longitude double, latitude double, poly string")
    with pytest.raises(ValueError, match="'poly'"):
        joins.clip_points_multi(pts, {"c": [ring]})
    for df in (joins.clip_points(pts, [ring]), joins.clip_points_union(pts, [[ring]])):
        assert df.columns == pts.columns
        assert [tuple(r) for r in df.collect()] == [(1, 77.2, 28.2, "mine")]


def test_point_operators_leave_no_driver_temp_files(spark):
    """``clip_points``, ``cell_cover_join`` and ``knn_join`` carry their
    index in the pass's closure: twenty calls of each with a small index
    leave the driver's temp dir as it was. An explicit ``broadcast``
    writes a file there per call that outlives the frame, and so does
    PySpark's own broadcast of a closure above 1 MB."""
    import os

    pts = spark.createDataFrame([(1, 77.25, 28.25)], "point_id long, longitude double, latitude double")
    polys = synth.polygons_df(spark)
    qs = spark.createDataFrame([("q1", 77.25, 28.25)], "query_id string, lon double, lat double")
    sq = [[77.1, 28.1], [77.3, 28.1], [77.3, 28.3], [77.1, 28.3], [77.1, 28.1]]
    temp_dir = spark.sparkContext._temp_dir
    before = sorted(os.listdir(temp_dir))
    for _ in range(20):
        frames = (joins.clip_points(pts, [sq]), joins.cell_cover_join(pts, polys),
                  joins.knn_join(pts, qs))
    assert all(df.collect() for df in frames)
    assert sorted(os.listdir(temp_dir)) == before
