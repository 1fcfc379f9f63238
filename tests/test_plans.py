"""Physical-plan shape assertions: the scale properties SURVEY.md §4
promises must be visible in explain() output, not just hoped for.

- parquet scans receive pushed filters + pruned columns
- the polygon side of bbox joins is broadcast (no shuffle of the big side)
- tile assignment is pure codegen (no Python evaluation node)
- extraction is shuffle-free (embarrassingly parallel)
- kNN candidate generation is an equi-join, never a cartesian product
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tiff_to_geojson_csv_json_format_converter_spark.functions import cells
from tiff_to_geojson_csv_json_format_converter_spark.operators import extract, joins, tiling
from tiff_to_geojson_csv_json_format_converter_spark.sources import synth

SF = "/root/testdata/sf0.001"


def plan_str(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


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


def test_knn_has_no_cartesian_product(spark):
    pts = spark.createDataFrame(
        [(1, 77.2, 28.3)], "pixel_idx long, longitude double, latitude double"
    )
    qs = spark.createDataFrame([("q1", 77.2, 28.3)], "query_id string, lon double, lat double")
    p = plan_str(joins.knn_join(pts, qs, k=1))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


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
    Arrow scorer — no zip_with anywhere in its plan)."""
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
    assert wplan.count("MapInPandas") >= 2  # bucket kernel + Arrow scorer


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


def test_clip_points_multi_single_pass_equals_per_polygon_union(spark, monkeypatch):
    """clip_points_multi: small fixed layers clip via the LITERAL codegen
    ray-cast — zero python eval nodes in the plan (r7 optimization);
    the Arrow-kernel fallback (forced by shrinking the edge budget)
    must produce the identical rows, and both must equal the union of
    independent clip_points runs."""
    import numpy as np

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
    p = plan_str(multi)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    got = sorted(
        (r["poly"], r["point_id"]) for r in multi.select("poly", "point_id").collect()
    )
    want = sorted(
        (tag, r["point_id"])
        for tag, rings in polys.items()
        for r in joins.clip_points(pts, rings).select("point_id").collect()
    )
    assert want and got == want
    # force the Arrow-kernel fallback: identical rows, python node present
    monkeypatch.setattr(joins, "_PIP_LITERAL_MAX_EDGES", 0)
    fb = joins.clip_points_multi(pts, polys)
    assert "ArrowEvalPython" in plan_str(fb)
    got_fb = sorted(
        (r["poly"], r["point_id"]) for r in fb.select("poly", "point_id").collect()
    )
    assert got_fb == want


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


def test_union_clip_bbox_pushed_below_python(spark, monkeypatch):
    """D7 union clip: small fixed layers run the literal codegen OR-of-
    even-odd predicate — no python eval node at all (r7 optimization);
    the Arrow-kernel fallback keeps the bbox prefilter as a Catalyst
    Filter BELOW the python eval and returns identical rows."""
    pts = spark.createDataFrame(
        [(1, 77.25, 28.25, 5.0)], "point_id long, longitude double, latitude double, elevation double"
    )
    sq = [[77.0, 28.0], [77.5, 28.5], [77.5, 28.5], [77.0, 28.5], [77.0, 28.0]]
    df = joins.clip_points_union(pts, [[sq], [sq]])
    p = plan_str(df)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    rows = sorted(r["point_id"] for r in df.collect())
    monkeypatch.setattr(joins, "_PIP_LITERAL_MAX_EDGES", 0)
    fb = joins.clip_points_union(pts, [[sq], [sq]])
    pfb = plan_str(fb)
    assert "ArrowEvalPython" in pfb
    python_pos = pfb.index("ArrowEvalPython")
    assert ">= 77.0" in pfb[python_pos:] or "77.0" in pfb[python_pos:]
    assert sorted(r["point_id"] for r in fb.collect()) == rows


def test_jaccard_join_is_prefix_equi_join(spark):
    """Prefix-filter jaccard: the self-join is an equi-join on the hashed
    shingle (+block) — no cartesian anywhere in the plan."""
    from tiff_to_geojson_csv_json_format_converter_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "abcdefgh", "s"), (2, "abcdefgx", "s")], "doc_id long, text string, source string"
    )
    df = dedup.jaccard_pairs(docs, 3, 500_000, block_col="source")
    p = plan_str(df)
    assert "CartesianProduct" not in p
    assert "sh64" in p


def test_cell_cover_join_is_equi_join(spark):
    """D1-at-scale: points meet polygons on the cell key (shuffled
    equi-join), never a cartesian / broadcast nested loop."""
    pts = spark.createDataFrame(
        [(1, 77.25, 28.25, 5.0)],
        "point_id long, longitude double, latitude double, elevation double",
    )
    polys = synth.polygons_df(spark)
    df = joins.cell_cover_join(pts, polys, level=8)
    p = plan_str(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_cell_cover_codegen_scorer_bit_equal_and_jvm_only(spark):
    """The default 'codegen' PIP scorer must (a) plan NO Python
    evaluation node — the Arrow kernel's per-worker constants made the
    join scale negatively 8->32 cores (BENCH/r06_diag_cell_cover.json)
    — and (b) agree bit-for-bit with the Arrow kernel AND the numpy
    reference, including hole polygons and an UNCLOSED ring (the wrap
    edge close_ring() adds)."""
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

    got = {}
    for scorer in ("codegen", "arrow"):
        df = joins.cell_cover_join(pts, polys, level=8, scorer=scorer)
        got[scorer] = {(r["point_id"], r["polygon_id"])
                       for r in df.collect()}
        p = plan_str(df)
        if scorer == "codegen":
            assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert got["codegen"] == got["arrow"]

    x = np.array([p[1] for p in pts_xy])
    y = np.array([p[2] for p in pts_xy])
    ids = np.array([p[0] for p in pts_xy])
    want = set()
    for pid, rr in rings_by_id.items():
        inside = gf.points_in_polygon(
            x, y, [np.asarray(r, dtype=np.float64) for r in rr])
        want |= {(int(i), pid) for i in ids[inside]}
    assert got["codegen"] == want


def test_cell_cover_adaptive_levels(spark):
    """level=None picks the cover level PER POLYGON: identical result
    multiset to any fixed level (PIP refinement is exact, candidates
    only vary), strictly FEWER exact-scored boundary candidates on a
    mixed-size layer, and a plan that stays an equi-join. (Adaptive is
    an OPT-IN, not the default — BENCH/r06_inversion_ab.json measured
    it slower than level=8 on this data shape.)"""
    from collections import Counter

    pts = spark.read.parquet(f"{SF}/lineitem.parquet").selectExpr(
        "l_orderkey * 10 + l_linenumber as point_id",
        "77.0 + (l_partkey % 1000) * 0.0005 as longitude",
        "28.0 + (l_suppkey % 1000) * 0.0005 as latitude")
    polys = synth.polygons_df(spark)

    fixed = joins.cell_cover_join(pts, polys, level=8)
    adapt = joins.cell_cover_join(pts, polys, level=None)
    key = lambda r: (r["point_id"], r["polygon_id"])
    assert Counter(map(key, fixed.collect())) == Counter(
        map(key, adapt.collect()))
    p = plan_str(adapt)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p

    nb_fixed = joins.cell_cover_candidates(pts, polys, level=8)[0] \
        .filter("not interior").count()
    nb_adapt = joins.cell_cover_candidates(pts, polys, level=None)[0] \
        .filter("not interior").count()
    assert nb_adapt < nb_fixed

    # _auto_level: monotone in polygon size, capped cover, menu-valued
    lv_small = joins._auto_level(77.0, 28.0, 77.01, 28.01)
    lv_big = joins._auto_level(70.0, 20.0, 90.0, 35.0)
    assert lv_small > lv_big
    assert lv_small in joins._ADAPTIVE_LEVELS
    assert lv_big in joins._ADAPTIVE_LEVELS
    for lv, box in ((lv_small, (77.0, 28.0, 77.01, 28.01)),
                    (lv_big, (70.0, 20.0, 90.0, 35.0))):
        assert len(cells.cover_bbox(*box, lv)) <= 4096
    # the cap is a promise: an unsatisfiable cap raises, never over-covers
    with pytest.raises(ValueError, match="max_cover_cells"):
        joins._auto_level(-180.0, -90.0, 180.0, 90.0, max_cover_cells=100)


def test_cell_cover_scorers_agree_on_schema_and_fail_loudly(spark):
    """Scorer interchangeability and detect-don't-drop: identical column
    ORDER from both scorers (positional readers must not care which one
    ran), a driver-collect cap on the arrow path, and loud codegen
    failures for unparseable / degenerate geometry (a silent NULL
    parity would drop boundary rows while keeping interior rows)."""
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
    cols = {s: joins.cell_cover_join(pts, layer(square), scorer=s).columns
            for s in ("arrow", "codegen")}
    assert cols["arrow"] == cols["codegen"] == [
        "point_id", "longitude", "latitude", "polygon_id"]

    with pytest.raises(ValueError, match="max_layer_rows"):
        joins.cell_cover_join(pts, layer(square), scorer="arrow",
                              max_layer_rows=0)

    # corrupt JSON: must raise at evaluation, not emit partial rows
    # (the cover stage's json.loads detects it first — loud is loud)
    bad = layer('{"type": "Polygon", "coordinates": [[[77.0, oops')
    with pytest.raises(Exception,
                       match="Expecting value|unparseable polygon"):
        joins.cell_cover_join(pts, bad, scorer="codegen").collect()

    # degenerate 1-point ring: raised by whichever stage sees it first
    # (cover's close_ring or the codegen size guard), never silent
    degen = layer([[[77.25, 28.25]]])
    with pytest.raises(Exception, match="ring must"):
        joins.cell_cover_join(pts, degen, scorer="codegen").collect()

    # the parity predicate's own null guard (defense-in-depth for
    # rings that reach it as null elements, e.g. non-numeric coords
    # under the 3-level schema): loud error, not a NULL filter drop
    nul = pts.withColumn("rings_arr", F.from_json(
        F.lit('[[["a", "b"], ["c", "d"], ["e", "f"]]]'),
        "array<array<array<double>>>"))
    with pytest.raises(Exception, match="null or mis-nested"):
        nul.filter(joins._pip_parity_pred("longitude", "latitude")).collect()


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
    assert joins.classify_clip_geometry([]) == "center"
    assert joins.classify_clip_geometry([[[1.0, 1.0], [1.0, 1.0]]]) == "center"
    assert joins.classify_clip_geometry([[[1.0, 1.0], [2.0, 1.0]]]) == "window"


def test_clip_fallback_ladder_classification_edge_cases(spark):
    """Hardened D4 triggers: a NaN hole poisons PIP (must fall through,
    not silently clip to empty), a collinear >= 3-vertex shell clips to
    nothing (must take the window), and a multi-shell list's window bbox
    spans EVERY ring's finite coordinates."""
    valid = [[77.1, 28.1], [77.3, 28.1], [77.3, 28.3], [77.1, 28.3], [77.1, 28.1]]
    nan_hole = [[float("nan"), float("nan")]] * 3
    # NaN hole: shell alone is usable, but PIP over [shell, hole] would
    # bbox-NaN to an empty result -> window rung over the finite coords
    assert joins.classify_clip_geometry([valid, nan_hole]) == "window"
    # collinear shell with 3 distinct vertices and 2-D bbox extent
    assert joins.classify_clip_geometry(
        [[[0.0, 0.0], [1.0, 1.0], [2.0, 2.0], [0.0, 0.0]]]) == "window"
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


def test_clip_refuses_caller_barrier_column(spark):
    """A caller column named like the clip's internal barrier column is
    refused, never reused for the parity seed or dropped from the output."""
    pts = spark.createDataFrame(
        [(1, 77.2, 28.2, "keep")],
        f"point_id long, longitude double, latitude double, {joins._PIP_BARRIER_COL} string",
    )
    sq = [[77.1, 28.1], [77.3, 28.1], [77.3, 28.3], [77.1, 28.3], [77.1, 28.1]]
    with pytest.raises(ValueError, match=joins._PIP_BARRIER_COL):
        joins.clip_points(pts, [sq])
    with pytest.raises(ValueError, match=joins._PIP_BARRIER_COL):
        joins.clip_points_union(pts, [[sq]])


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
