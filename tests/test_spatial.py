"""Spatial engine tests: extraction, join (vs brute force), tiles, kNN."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkspatial import cells, extract, geom, join, tiles, zones
from sparkspatial.geocode import geocode_pandas
from sparkspatial.knn import knn_bruteforce, knn_join


@pytest.fixture(scope="module")
def points_df(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.select(
        F.concat_ws("/", "source", F.col("doc_id").cast("string")).alias("url"),
        F.col("source").alias("domain"), "lang")
    return extract.geotag(pages, "domain", "url").persist()


@pytest.fixture(scope="module")
def zones_df(spark):
    return zones.synthetic_zones(spark, n=48).persist()


def brute_force_pairs(points_pdf: pd.DataFrame, zones_pdf: pd.DataFrame) -> set:
    """Oracle: decode every zone, test every point (numpy PIP)."""
    out = set()
    for _, z in zones_pdf.iterrows():
        g = geom.wkb_loads(bytes(z.the_geom_wkb))
        mask = geom.points_in_geom(points_pdf["lon"].to_numpy(),
                                   points_pdf["lat"].to_numpy(), g)
        for u in points_pdf.loc[mask, "url"]:
            out.add((u, z.zone_id))
    return out


# ---------------------------------------------------------------- extraction

def test_extract_text_byte_identity():
    text = "Hello world — spatial page about Paris"
    html = extract.make_html(text, [(48.85, 2.35)])
    assert extract.extract_text(html) == text


def test_extract_points_markers(spark):
    rows = [("u1", extract.make_html("a", [(10.5, -20.25), (48.0, 2.0)])),
            ("u2", extract.make_html("b", [])),
            ("u3", extract.make_html("c", [(-33.9, 151.2)]))]
    pages = spark.createDataFrame(
        [(u, bytearray(h)) for u, h in rows], "url string, html binary")
    want = [("u1", 10.5, -20.25), ("u1", 48.0, 2.0), ("u3", -33.9, 151.2)]
    got = extract.extract_points(pages).orderBy("url", "lat").collect()
    assert [(r.url, r.lat, r.lon) for r in got] == want


def test_extract_text_udf_matches_python(spark):
    # texts must be whitespace-normalized (extract_text collapses ws)
    texts = ["short one", "longer text with spacing", "unicode é λ 漢字"]
    rows = [(f"u{i}", bytearray(extract.make_html(t, [(1.0, 2.0)])), t)
            for i, t in enumerate(texts)]
    pages = spark.createDataFrame(rows, "url string, html binary, text string")
    out = extract.extract_text_udf(pages).collect()
    for r in out:
        assert r.text_extracted == r.text  # byte-identical invariant


# ---------------------------------------------------------------- spatial join

def test_spatial_join_matches_bruteforce_broadcast(spark, points_df, zones_df):
    got = join.spatial_join(points_df, zones_df, how="inner", broadcast=True)
    pairs = {(r.url, r.zone_id) for r in got.select("url", "zone_id").collect()}
    want = brute_force_pairs(points_df.toPandas(), zones_df.toPandas())
    assert pairs == want
    assert len(pairs) > 0


def test_spatial_join_prebuilt_index_same_result(spark, points_df, zones_df):
    """ZoneIndex reuse (build-once polygon side) is plan sugar only —
    identical pairs, and the per-call stats pass is skipped."""
    base = join.spatial_join(points_df, zones_df, how="inner", broadcast=True)
    want = {(r.url, r.zone_id) for r in base.select("url", "zone_id").collect()}
    idx = join.build_zone_index(zones_df).persist()
    try:
        got_df = join.spatial_join(points_df, zones_df, how="inner",
                                   index=idx)
        got = {(r.url, r.zone_id)
               for r in got_df.select("url", "zone_id").collect()}
        assert got == want
        # reuse across a second call (the point of the index)
        n2 = join.spatial_join(points_df, zones_df, how="left_semi",
                               index=idx).count()
        assert n2 == len({u for u, _ in want})
    finally:
        idx.release()


def test_spatial_join_shuffle_and_salted_same_result(spark, points_df, zones_df):
    base = join.spatial_join(points_df, zones_df, how="inner", broadcast=True)
    want = {(r.url, r.zone_id) for r in base.select("url", "zone_id").collect()}
    shuffled = join.spatial_join(points_df, zones_df, how="inner", broadcast=False)
    got1 = {(r.url, r.zone_id) for r in shuffled.select("url", "zone_id").collect()}
    salted = join.spatial_join(points_df, zones_df, how="inner",
                               broadcast=False, salt=True, hot_threshold=10)
    got2 = {(r.url, r.zone_id) for r in salted.select("url", "zone_id").collect()}
    assert got1 == want
    assert got2 == want


def _count_jobs(spark, group: str, fn):
    """(Spark jobs `fn` ran, its result), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_zone_side_job_ceilings(spark, points_df, zones_df):
    """The zone side is one decode stage, one plan aggregate and a JVM
    explode: building + persisting a ZoneIndex runs at most 5 Spark
    jobs, an inline broadcast join at most 4 (8 and 7 with the old
    per-polygon stats pass)."""
    zones_df.count(), points_df.count()   # fixture caches filled first
    n_build, idx = _count_jobs(spark, "zone-index-build", lambda:
                               join.build_zone_index(zones_df).persist())
    idx.release()
    n_join, rows = _count_jobs(spark, "inline-spatial-join", lambda:
                               join.spatial_join(points_df, zones_df,
                                                 broadcast=True).collect())
    assert rows
    assert n_build <= 5 and n_join <= 4, (n_build, n_join)


# Boxes whose covers reach the clamped grid edge at the default
# resolution (lon 180, lat 90, lat -90, wholly past the domain) and one
# ordinary box.
_EDGE_BOXES = [("z_east", 179.95, 10.0, 180.0, 10.05),
               ("z_north", 20.0, 89.97, 20.05, 90.0),
               ("z_south", 30.0, -90.0, 30.05, -89.97),
               ("z_out", 180.1, 90.1, 180.2, 90.2),
               ("z_mid", 1.0, 1.0, 1.1, 1.05)]


def test_zone_cover_at_grid_edge_counts_its_rows(spark):
    """n_cover (the broadcast decision's input) is the cover's real row
    count where cells clamp at the grid edge, and each zone's cover is
    exactly cells.covering_cells of its bbox, for both index kinds."""
    zdf = spark.createDataFrame(
        [(z, bytearray(geom.wkb_dumps(_rect_poly(*b))))
         for z, *b in _EDGE_BOXES], "zone_id string, the_geom_wkb binary")
    for build in (join.build_zone_index, join.build_poly_zone_index):
        idx = build(zdf)
        assert idx.res == join.DEFAULT_RES
        assert idx.n_cover == idx.cover.count(), build.__name__
        got: dict = {}
        for r in idx.cover.select("zone_id", "cell").collect():
            got.setdefault(r.zone_id, []).append(r.cell)
        for z, *b in _EDGE_BOXES:
            want = cells.covering_cells(*b, idx.res).tolist()
            assert sorted(got[z]) == sorted(want), (build.__name__, z)


def _cell_poly(*rings):
    """Polygon from rings given in res-9 cell units (360/2^9 lon,
    180/2^9 lat), so every vertex lies on a cell line at res >= 9."""
    return ("Polygon", [np.array([(x * 360 / 512, y * 180 / 512)
                                  for x, y in r + r[:1]], dtype=np.float64)
                        for r in rings])


def _box(x0, y0, x1, y1):
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]


def test_grid_edge_zones_joins_match_bruteforce(spark):
    """Zones touching the antimeridian from both sides and both poles,
    one past the domain and a holed one, all edges on cell lines (the
    cover picks res 9). Points and half-cell probe rects on a half-cell
    lattice around each zone hit cell lines, edges and vertices. The
    point join (broadcast and salted shuffle) == numpy
    point-in-polygon; the polygon join (WKB and probe_rect paths) ==
    all-pairs geom.polygons_intersect."""
    zs = [("east", _cell_poly(_box(253, 50, 256, 54))),
          ("west", _cell_poly([(-256, 50), (-253, 50), (-256, 54)])),
          ("north", _cell_poly(_box(20, 254, 23, 256))),
          ("south", _cell_poly([(-30, -256), (-27, -256), (-27, -255),
                                (-29, -255), (-29, -253), (-30, -253)])),
          ("past", _cell_poly(_box(255, 255, 258, 258))),
          ("holed", _cell_poly(_box(-3, -3, 3, 3), _box(-1, -1, 1, 1)))]
    cw, ch = 360 / 512, 180 / 512
    lattice = sorted({(float(x), float(y)) for _, g in zs
                      for x0, y0, x1, y1 in [geom.bounds(g)]
                      for x in np.arange(x0 - cw, x1 + 1.5 * cw, cw / 2)
                      for y in np.arange(y0 - ch, y1 + 1.5 * ch, ch / 2)})
    zdf = spark.createDataFrame(
        [(z, bytearray(geom.wkb_dumps(g))) for z, g in zs],
        "zone_id string, the_geom_wkb binary")
    assert join.build_poly_zone_index(zdf).res == 9

    pdf = pd.DataFrame({"url": [f"p{i}" for i in range(len(lattice))],
                        "lat": [y for _, y in lattice],
                        "lon": [x for x, _ in lattice]})
    want = brute_force_pairs(pdf, zdf.toPandas())
    assert {z for _, z in want} == {z for z, _ in zs}
    for kw in ({"broadcast": True},
               {"broadcast": False, "salt": True, "hot_threshold": 50,
                "hot_relative": False}):
        out = join.spatial_join(spark.createDataFrame(pdf), zdf, **kw)
        assert {(r.url, r.zone_id) for r in out.collect()} == want, kw

    rects = [(f"r{i}", x, y, x + cw / 2, y + ch / 2)
             for i, (x, y) in enumerate(lattice)]
    want = {(p, z) for p, *b in rects for z, g in zs
            if geom.polygons_intersect(_rect_poly(*b), g)}
    assert {z for _, z in want} == {z for z, _ in zs}
    wkb = spark.createDataFrame(
        [(p, bytearray(geom.wkb_dumps(_rect_poly(*b)))) for p, *b in rects],
        "probe_id string, the_geom_wkb binary")
    box = spark.createDataFrame(rects, "probe_id string, minx double, "
                                       "miny double, maxx double, maxy double")
    for probes, kw in ((wkb, {}), (box, {"probe_rect": True})):
        got = join.spatial_join_polygons(probes, zdf, **kw).collect()
        assert {(r.probe_id, r.zone_id) for r in got} == want, kw


def _rebind_expr_ids(df, ids: dict):
    """`df` with each column in `ids` re-projected under that fixed
    expression id (the ids a frame gets when it is the first one built
    in its JVM)."""
    jvm = df.sparkSession._jvm
    cat = jvm.org.apache.spark.sql.catalyst
    # checkpointed under other names, so the optimizer can neither
    # collapse nor drop the re-binding aliases below
    renamed = df.select(*[F.col(c).alias(c + "_src") if c in ids else c
                          for c in df.columns]).localCheckpoint()
    src = renamed.select(*[F.col(c + "_src").alias(c) if c in ids else c
                           for c in df.columns])
    plan = src._jdf.queryExecution().analyzed()
    plist = plan.projectList()
    for i, c in enumerate(df.columns):
        if c in ids:
            a = plist.apply(i)
            fixed = cat.expressions.Alias(
                a.child(), a.name(),
                cat.expressions.ExprId(ids[c], a.exprId().jvmId()),
                a.qualifier(), a.explicitMetadata(),
                a.nonInheritableMetadataKeys())
            plist = plist.updated(i, fixed)
    jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        df.sparkSession._jsparkSession,
        cat.plans.logical.Project(plist, plan.child()))
    return DataFrame(jdf, df.sparkSession)


def test_spatial_join_point_side_with_low_expr_ids(spark, points_df,
                                                   zones_df):
    """Spark canonicalizes lambda variables to small expression ids, and
    filter inference reads that canonical form. With the points' lat/lon
    on the ids the PIP fold's lambda variables canonicalize to, the
    predicate looked cover-only: the optimizer copied it onto the cover
    side, where every task failed with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND
    (seen after a session's earlier history left the point frame with
    such ids). The broadcast and the salted shuffle join must both
    return the brute-force pairs."""
    import re

    probe = spark.createDataFrame(
        [], "lat double, lon double, "
            "edges array<struct<x0:double,y0:double,x1:double,y1:double>>")
    cond = (probe.where(join.pip_jvm_predicate("lat", "lon"))
            ._jdf.queryExecution().analyzed().condition())
    low = sorted({int(i) for i in re.findall(
        r"lambda none#(\d+)", cond.canonicalized().toString())})
    assert len(low) >= 2
    pts = _rebind_expr_ids(points_df.select("url", "lat", "lon"),
                           {"lat": low[0], "lon": low[1]})
    want = brute_force_pairs(points_df.select("url", "lat", "lon").toPandas(),
                             zones_df.toPandas())
    for kw in ({"broadcast": True},
               {"broadcast": False, "salt": True, "hot_threshold": 10,
                "hot_relative": False}):
        out = join.spatial_join(pts, zones_df, how="inner", **kw)
        got = {(r.url, r.zone_id)
               for r in out.select("url", "zone_id").collect()}
        assert got == want, kw


def test_spatial_join_modes(spark, points_df, zones_df):
    inner = join.spatial_join(points_df, zones_df, how="inner", broadcast=True)
    semi = join.spatial_join(points_df, zones_df, how="left_semi", broadcast=True)
    anti = join.spatial_join(points_df, zones_df, how="left_anti", broadcast=True)
    left = join.spatial_join(points_df, zones_df, how="left", broadcast=True)
    n_pts = points_df.count()
    matched_urls = {r.url for r in inner.select("url").distinct().collect()}
    assert semi.count() == len(matched_urls)
    assert anti.count() == n_pts - len(matched_urls)
    assert left.count() == inner.count() + anti.count()
    assert set(semi.columns) == set(points_df.columns)


def test_spatial_join_hole_semantics(spark):
    # point inside the hole must NOT match zhole but a shifted one does
    zdf = zones.synthetic_zones(spark, n=0, include_hotspots=True)
    pts = spark.createDataFrame(
        [("in_hole", 40.45, -73.9), ("in_shell", 40.0, -73.5)],
        "url string, lat double, lon double")
    got = join.spatial_join(pts, zdf, how="inner", broadcast=True)
    by_url = {}
    for r in got.collect():
        by_url.setdefault(r.url, set()).add(r.zone_id)
    assert "zhole" not in by_url.get("in_hole", set())
    assert "zhole" in by_url.get("in_shell", set())
    # overlapping pair: both zones match a point in the overlap region
    pts2 = spark.createDataFrame([("ov", 40.45, -74.05)],
                                 "url string, lat double, lon double")
    got2 = {r.zone_id for r in
            join.spatial_join(pts2, zdf, broadcast=True).collect()}
    assert {"zov_a", "zov_b"} <= got2


def _rect_poly(x0, y0, x1, y1):
    return ("Polygon", [np.array([[x0, y0], [x1, y0], [x1, y1],
                                  [x0, y1], [x0, y0]], dtype=np.float64)])


def test_polygons_intersect_cases():
    """Unit semantics of the polygon x polygon predicate: disjoint,
    containment both ways, edge-cross overlap, polygon-in-hole (no
    intersect under even-odd), island-in-hole nesting."""
    a = _rect_poly(0, 0, 10, 10)
    assert not geom.polygons_intersect(a, _rect_poly(20, 20, 30, 30))
    assert geom.polygons_intersect(a, _rect_poly(2, 2, 3, 3))   # B in A
    assert geom.polygons_intersect(_rect_poly(2, 2, 3, 3), a)   # A in B
    assert geom.polygons_intersect(a, _rect_poly(5, 5, 15, 15))  # cross
    holed = ("Polygon", [
        np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]],
                 dtype=np.float64),
        np.array([[2, 2], [8, 2], [8, 8], [2, 8], [2, 2]],
                 dtype=np.float64)])
    assert not geom.polygons_intersect(holed, _rect_poly(4, 4, 6, 6))
    assert geom.polygons_intersect(holed, _rect_poly(1, 1, 1.5, 1.5))
    assert geom.polygons_intersect(holed, _rect_poly(4, 4, 9, 9))
    multi = ("MultiPolygon", [_rect_poly(0, 0, 1, 1),
                              _rect_poly(5, 5, 6, 6)])
    assert geom.polygons_intersect(multi, _rect_poly(5.2, 5.2, 5.8, 5.8))
    assert not geom.polygons_intersect(multi, _rect_poly(2, 2, 4, 4))
    # island-in-hole: the island is part of the multipolygon, so a quad
    # inside the hole that covers the island DOES intersect
    island = ("MultiPolygon", [("Polygon", holed[1]),
                               _rect_poly(4, 4, 6, 6)])
    assert geom.polygons_intersect(island, _rect_poly(3.5, 3.5, 6.5, 6.5))
    assert not geom.polygons_intersect(island, _rect_poly(2.4, 2.4,
                                                          3.6, 3.6))


def test_spatial_join_polygons_rejects_same_id_name(spark):
    """probe_id == poly_id would duplicate the id column through the
    cell equi-join and corrupt the refine lookup (ADVICE r3) — the
    join must fail loudly up front, INCLUDING via the index path
    where poly_id resolves to index.poly_id after the early params
    (r4 self-review: the original guard ran before that resolution
    and a custom-poly_id index slipped past it)."""
    import pytest

    zdf = zones.synthetic_zones(spark, n=2)
    with pytest.raises(ValueError, match="alias one side"):
        join.spatial_join_polygons(zdf, zdf, probe_id="zone_id",
                                   probe_rect=True)
    idx = join.build_poly_zone_index(
        zdf.withColumnRenamed("zone_id", "gid"), poly_id="gid")
    with pytest.raises(ValueError, match="alias one side"):
        join.spatial_join_polygons(
            zdf.withColumnRenamed("zone_id", "gid"),
            index=idx, probe_id="gid", probe_rect=True)


def test_intersects_rects_matches_scalar():
    """The batched rect refine (PreparedPolygon.intersects_rects, the
    r4 vectorization of the overlay's per-pair Python loop) is
    bit-identical to per-rect geom.polygons_intersect across random
    rects vs a holed polygon, a multipolygon with an island-in-hole,
    and a concave self-touching shell — including rects that straddle
    hole boundaries and degenerate slivers."""
    rng = np.random.RandomState(31)
    holed = ("Polygon", [
        np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], float),
        np.array([[2, 2], [8, 2], [8, 8], [2, 8], [2, 2]], float)])
    island = ("MultiPolygon", [("Polygon", holed[1]),
                               _rect_poly(4, 4, 6, 6)])
    concave = ("Polygon", [np.array(
        [[0, 0], [4, 10], [8, 0], [4, 6], [0, 0]], float)])
    # a 3000-edge star polygon exercises the element-budget chunk
    # reduction (budget // (4 * E) < default chunk — r4 self-review:
    # leg-3 temporaries must scale with edge count)
    th = np.linspace(0, 2 * np.pi, 3001)
    rr = np.where(np.arange(3001) % 2 == 0, 5.0, 2.5)
    star = ("Polygon", [np.column_stack([5 + rr * np.cos(th),
                                         5 + rr * np.sin(th)])])
    for g, n_r in ((holed, 1500), (island, 1500), (concave, 1500),
                   (star, 200)):
        pz = geom.PreparedPolygon(g)
        x0 = rng.uniform(-3, 11, n_r)
        y0 = rng.uniform(-3, 11, n_r)
        x1 = x0 + rng.uniform(1e-3, 4, n_r)
        y1 = y0 + rng.uniform(1e-3, 4, n_r)
        fast = pz.intersects_rects(x0, y0, x1, y1, chunk=237)
        for k in range(len(x0)):
            slow = geom.polygons_intersect(
                _rect_poly(x0[k], y0[k], x1[k], y1[k]), prepared=pz)
            assert fast[k] == slow, (g[0], x0[k], y0[k], x1[k], y1[k])


def test_spatial_join_polygons_matches_bruteforce(spark):
    """spatial_join_polygons (same-res double cover + reference-cell
    dedup + exact refine) == all-pairs geom.polygons_intersect brute
    force, on a probe/zone set with containment, crossing, holes and
    multipolygons; broadcast and shuffle plans produce the same set."""
    rng = np.random.RandomState(7)
    probes = []
    for i in range(120):
        cx = float(rng.uniform(-20, 20))
        cy = float(rng.uniform(-20, 20))
        w = float(rng.uniform(0.05, 3.0))
        h = float(rng.uniform(0.05, 3.0))
        probes.append((f"p{i:03d}", _rect_poly(cx - w, cy - h,
                                               cx + w, cy + h)))
    zs = [
        ("z_rect", _rect_poly(-5, -5, 5, 5)),
        ("z_hole", ("Polygon", [
            np.array([[-18, -18], [-6, -18], [-6, -6], [-18, -6],
                      [-18, -18]], dtype=np.float64),
            np.array([[-15, -15], [-9, -15], [-9, -9], [-15, -9],
                      [-15, -15]], dtype=np.float64)])),
        ("z_multi", ("MultiPolygon", [_rect_poly(8, 8, 18, 18),
                                      _rect_poly(8, -18, 18, -8)])),
        ("z_pent", ("Polygon", [np.array(
            [[-2, 6], [4, 8], [6, 14], [0, 18], [-6, 12], [-2, 6]],
            dtype=np.float64)])),
    ]
    pdf_rows = [(pid, geom.wkb_dumps(g)) for pid, g in probes]
    zdf_rows = [(zid, geom.wkb_dumps(g)) for zid, g in zs]
    probes_df = spark.createDataFrame(
        [(p, bytearray(w)) for p, w in pdf_rows],
        "probe_id string, the_geom_wkb binary")
    zones_df = spark.createDataFrame(
        [(z, bytearray(w)) for z, w in zdf_rows],
        "zone_id string, the_geom_wkb binary")

    want = {(pid, zid) for pid, gp in probes for zid, gz in zs
            if geom.polygons_intersect(gp, gz)}
    assert len(want) > 30  # the fixture actually exercises the join

    got_b = {(r.probe_id, r.zone_id)
             for r in join.spatial_join_polygons(
                 probes_df, zones_df, broadcast=True).collect()}
    got_s = {(r.probe_id, r.zone_id)
             for r in join.spatial_join_polygons(
                 probes_df.repartition(7), zones_df,
                 broadcast=False).collect()}
    assert got_b == want
    assert got_s == want
    # reduction modes against the probe table
    semi = join.spatial_join_polygons(probes_df, zones_df,
                                      how="left_semi")
    anti = join.spatial_join_polygons(probes_df, zones_df,
                                      how="left_anti")
    matched_ids = {p for p, _ in want}
    assert {r.probe_id for r in semi.collect()} == matched_ids
    assert {r.probe_id for r in anti.collect()} == \
        {p for p, _ in pdf_rows} - matched_ids


def test_building_overlay_rect_path_equals_wkb_path(spark, sf_dir):
    """The driver query's JVM probe fast path (bbox codegen cover +
    probe_rect quad synthesis, ONE Python stage on the probe side)
    produces exactly the general WKB-probe path's pair set, and its
    plan carries no probe-side MapInPandas before the join."""
    import __spark_entry__ as entry

    rect_q = entry.q_building_overlay_polygon(spark, sf_dir)
    got_rect = {(r.url, r.zone_id) for r in rect_q.collect()}

    b_wkb = entry._buildings(spark, sf_dir)
    zdf = entry._poly_zones_df(spark)
    got_wkb = {(r.url, r.zone_id)
               for r in join.spatial_join_polygons(
                   b_wkb, zdf, probe_id="url",
                   broadcast=True).collect()}
    assert got_rect == got_wkb and len(got_rect) > 0

    # plan shape: 2 Python stages total (zone cover on the broadcast
    # side + the refine); the WKB path has 3 (probe cover chained).
    # AQE's toString prints Final AND Initial plans — count the final
    # section only.
    plan_rect = rect_q._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    assert plan_rect.count("MapInPandas") == 2, plan_rect


def test_jvm_refine_equals_python_refine(spark, points_df):
    """The codegen'd even-odd fold must match the numpy kernel on
    polygons with holes and overlaps (default zones set has both)."""
    zdf = zones.synthetic_zones(spark, n=24, include_hotspots=True)
    jvm = join.spatial_join(points_df, zdf, refine="jvm", broadcast=True)
    py = join.spatial_join(points_df, zdf, refine="exact", broadcast=True)
    a = {(r.url, r.zone_id) for r in jvm.select("url", "zone_id").collect()}
    b = {(r.url, r.zone_id) for r in py.select("url", "zone_id").collect()}
    assert a == b


# ---------------------------------------------------------------- tiles

def test_grid_indicators_rollup_consistent(spark, points_df):
    gi = tiles.grid_indicators(points_df, res=8, rollup_res=[5],
                               domain_col="domain", lang_col="lang").persist()
    fine = gi.where(F.col("res") == 8)
    coarse = gi.where(F.col("res") == 5)
    assert fine.agg(F.sum("page_count")).first()[0] == points_df.count()
    assert coarse.agg(F.sum("page_count")).first()[0] == points_df.count()
    # parent rollup equals re-aggregating fine level in pandas
    fine_pdf = fine.select("cell", "page_count").toPandas()
    fine_pdf["pcell"] = cells.parent(fine_pdf["cell"].to_numpy(), 5)
    want = fine_pdf.groupby("pcell")["page_count"].sum().to_dict()
    got = {r.cell: r.page_count for r in coarse.collect()}
    assert got == want
    # lang histogram sums to page_count at the fine level
    row = fine.where(F.col("lang_histogram").isNotNull()).first()
    assert sum(row.lang_histogram.values()) == row.page_count
    # EVERY indicator is carried to rollup levels (no NULL columns),
    # histograms still sum to page_count, and distinct_domains is the
    # exact distinct per parent cell (a domain spanning several child
    # cells counts once)
    for r in coarse.collect():
        assert r.distinct_domains is not None and r.distinct_domains >= 1
        assert r.lang_histogram is not None
        assert sum(r.lang_histogram.values()) == r.page_count
    pair_pdf = (tiles.assign_cells(points_df, res=8)
                .select("cell", "domain").distinct().toPandas())
    pair_pdf["pcell"] = cells.parent(pair_pdf["cell"].to_numpy(), 5)
    want_dd = pair_pdf.groupby("pcell")["domain"].nunique().to_dict()
    got_dd = {r.cell: r.distinct_domains for r in coarse.collect()}
    assert got_dd == want_dd


def test_cell_geometry_roundtrip(spark, points_df):
    pts = tiles.assign_cells(points_df.limit(20), res=9)
    withgeo = tiles.cell_geometry(pts).collect()
    for r in withgeo:
        g = geom.wkb_loads(bytes(r.cell_wkb))
        assert g[0] == "Polygon"
        assert r.cell_minx <= r.lon <= r.cell_maxx
        assert r.cell_miny <= r.lat <= r.cell_maxy
        # re-rasterizing the cell polygon yields the same cell
        rc = cells.encode(np.array([(r.cell_miny + r.cell_maxy) / 2]),
                          np.array([(r.cell_minx + r.cell_maxx) / 2]), 9)[0]
        assert rc == r.cell


def test_tessellate_zone(spark):
    zdf = zones.synthetic_zones(spark, n=0, include_hotspots=True).toPandas()
    hot = zdf[zdf.zone_id == "zhot"].iloc[0]
    tess = tiles.tessellate_zone(bytes(hot.the_geom_wkb), res=8)
    assert len(tess) > 0
    # every tessellation cell intersects the zone bbox
    minlon, minlat, maxlon, maxlat = cells.cell_bounds(tess["cell"].to_numpy())
    assert (maxlon >= hot.minx).all() and (minlon <= hot.maxx).all()


# ---------------------------------------------------------------- kNN

def test_nearest_zone_matches_bruteforce(spark, points_df):
    """nearest_zone == numpy brute-force argmin of planar squared
    envelope distance with (d2, zone_id) tie order; containment rows
    come back with dist_deg2 == 0."""
    from sparkspatial.join import nearest_zone
    rects = [("za", -74.5, 40.0, -73.5, 41.0),
             ("zb", 99.5, -11.0, 100.5, -9.0),
             ("zc", -75.0, 39.0, -74.5, 40.0)]
    out = {r.url: (r.zone_id, r.dist_deg2)
           for r in nearest_zone(points_df, rects).collect()}
    pdf = points_df.toPandas()
    assert len(out) == len(pdf)
    for _, row in pdf.iterrows():
        best = None
        for zid, minx, miny, maxx, maxy in rects:
            dx = max(minx - row.lon, row.lon - maxx, 0.0)
            dy = max(miny - row.lat, row.lat - maxy, 0.0)
            cand = (dx * dx + dy * dy, zid)
            best = cand if best is None or cand < best else best
        assert out[row.url] == (best[1], best[0]), row.url
    assert any(d == 0.0 for _, d in out.values())   # some contained
    assert any(d > 0.0 for _, d in out.values())    # some outside all


def test_nearest_zone_tie_breaks_by_zone_id(spark):
    """Two zones exactly equidistant (symmetric about the point):
    the lexicographically smaller zone_id wins, deterministically."""
    from sparkspatial.join import nearest_zone
    pts = spark.createDataFrame([("u", 0.0, 0.0)],
                                "url string, lat double, lon double")
    rects = [("zz", 1.0, -0.5, 2.0, 0.5),    # 1.0 east
             ("aa", -2.0, -0.5, -1.0, 0.5)]  # 1.0 west — same d2
    r = nearest_zone(pts, rects).collect()[0]
    assert (r.zone_id, r.dist_deg2) == ("aa", 1.0)


def test_nearest_zone_empty_list_rejected(spark):
    from sparkspatial.join import nearest_zone
    pts = spark.createDataFrame([("u", 0.0, 0.0)],
                                "url string, lat double, lon double")
    with pytest.raises(ValueError, match="empty zone list"):
        nearest_zone(pts, [])


def test_nearest_zones_topk_matches_bruteforce(spark, points_df):
    """nearest_zones_topk == brute-force (d2, zone_id) sort per
    point, rank-for-rank; rnk 1 row equals nearest_zone's pick; k
    bounds validated."""
    from sparkspatial.join import nearest_zone, nearest_zones_topk
    rects = [("za", -74.5, 40.0, -73.5, 41.0),
             ("zb", 99.5, -11.0, 100.5, -9.0),
             ("zc", -75.0, 39.0, -74.5, 40.0),
             ("zd", -76.0, 38.0, -75.5, 38.5)]
    got: dict = {}
    for r in nearest_zones_topk(points_df, rects, 3).collect():
        got.setdefault(r.url, {})[r.rnk] = (r.zone_id, r.dist_deg2)
    pdf = points_df.toPandas()
    for _, row in pdf.iterrows():
        cands = []
        for zid, minx, miny, maxx, maxy in rects:
            dx = max(minx - row.lon, row.lon - maxx, 0.0)
            dy = max(miny - row.lat, row.lat - maxy, 0.0)
            cands.append((dx * dx + dy * dy, zid))
        cands.sort()
        want = {i + 1: (z, d) for i, (d, z) in enumerate(cands[:3])}
        assert got[row.url] == want, row.url
    top1 = {r.url: r.zone_id
            for r in nearest_zone(points_df, rects).collect()}
    assert all(got[u][1][0] == z for u, z in top1.items())
    with pytest.raises(ValueError, match="k must be in"):
        nearest_zones_topk(points_df, rects, 5)


def test_nearest_zone_polygons_contracts(spark):
    """Loud driver-side errors: empty zone table, keep_cols missing
    from points (regression: the first draft KeyErrored inside the
    executor); empty keep_cols works (zone_id/dist only)."""
    from sparkspatial import geom
    from sparkspatial.join import nearest_zone_polygons
    from sparkspatial import zones as zonesmod
    pts = spark.createDataFrame([("u", 0.5, 0.5)],
                                "url string, lat double, lon double")
    zdf = spark.createDataFrame(
        [zonesmod.zone_row("z", geom.wkb_loads(
            geom.box_wkb(0.0, 0.0, 1.0, 1.0)))], zonesmod.ZONE_SCHEMA)
    with pytest.raises(ValueError, match="empty zone table"):
        nearest_zone_polygons(pts, zdf.limit(0))
    with pytest.raises(ValueError, match="keep_cols not in points"):
        nearest_zone_polygons(pts, zdf, keep_cols=("doc_id",))
    out = nearest_zone_polygons(pts, zdf, keep_cols=()).collect()
    assert [(r.zone_id, r.dist_deg2) for r in out] == [("z", 0.0)]


def _seg_d2_scalar(px, py, x0, y0, x1, y1):
    """Independent scalar point-to-segment squared distance (endpoint
    cases handled by explicit branches, not the clamp formulation the
    operator uses)."""
    dx, dy = x1 - x0, y1 - y0
    dot = (px - x0) * dx + (py - y0) * dy
    len2 = dx * dx + dy * dy
    if dot <= 0.0:
        return (px - x0) ** 2 + (py - y0) ** 2
    if dot >= len2:
        return (px - x1) ** 2 + (py - y1) ** 2
    t = dot / len2
    return (px - (x0 + t * dx)) ** 2 + (py - (y0 + t * dy)) ** 2


def test_nearest_zone_polygons_matches_bruteforce(spark):
    """nearest_zone_polygons == scalar brute force (different segment
    formulation) over concave / holed / multi zones, incl. a point
    INSIDE A HOLE (outside the polygon -> positive distance to the
    hole ring) and a contained point (0)."""
    from sparkspatial import geom
    from sparkspatial.join import nearest_zone_polygons, _poly_edges
    from sparkspatial import zones as zonesmod

    def poly(shell, holes=()):
        return ("Polygon", [list(shell)] + [list(h) for h in holes])

    zdefs = [
        ("conc", poly([(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (2.0, 1.5),
                       (0.0, 4.0)])),
        ("holed", poly([(6.0, 0.0), (10.0, 0.0), (10.0, 4.0), (6.0, 4.0)],
                       [[(7.0, 1.0), (9.0, 1.0), (9.0, 3.0), (7.0, 3.0)]])),
        ("multi", ("MultiPolygon",
                   [poly([(-5.0, -5.0), (-4.0, -5.0), (-4.0, -4.0),
                          (-5.0, -4.0)]),
                    poly([(12.0, 12.0), (13.0, 12.0), (13.0, 13.0),
                          (12.0, 13.0)])])),
    ]
    zdf = spark.createDataFrame(
        [zonesmod.zone_row(zid, g) for zid, g in zdefs],
        zonesmod.ZONE_SCHEMA)
    pts_rows = [("in_conc", 1.0, 0.5), ("in_hole", 2.0, 8.0),
                ("in_ring", 0.5, 6.5), ("far", 20.0, 20.0),
                ("notch", 3.0, 2.0), ("near_multi", -6.0, -4.5),
                ("on_edge", 0.0, 2.0)]
    pts = spark.createDataFrame(pts_rows,
                                "url string, lat double, lon double")
    got = {r.url: (r.zone_id, r.dist_deg2)
           for r in nearest_zone_polygons(pts, zdf).collect()}

    # scalar reference: even-odd inside via geom.points_in_geom-free
    # reimplementation (crossing count), distance via _seg_d2_scalar
    edges_by_zone = {zid: _poly_edges(g) for zid, g in zdefs}
    for url, lat, lon in pts_rows:
        best = None
        for zid in sorted(edges_by_zone):
            edges = edges_by_zone[zid]
            ncross = 0
            for x0, y0, x1, y1 in edges:
                if (y0 > lat) != (y1 > lat) and \
                        lon < x0 + (lat - y0) / (y1 - y0) * (x1 - x0):
                    ncross += 1
            if ncross % 2 == 1:
                d2 = 0.0
            else:
                d2 = min(_seg_d2_scalar(lon, lat, *e) for e in edges)
            cand = (d2, zid)
            best = cand if best is None or cand < best else best
        gz, gd = got[url]
        assert gz == best[1], url
        assert abs(gd - best[0]) < 1e-12, url
    assert got["in_conc"][1] == 0.0
    assert got["in_hole"][0] == "holed" and got["in_hole"][1] > 0.0
    assert got["in_ring"][1] == 0.0          # between shell and hole
    assert got["notch"][0] == "conc" and got["notch"][1] > 0.0


def test_nearest_zone_polygons_rect_equals_envelope_path(spark, points_df):
    """For rectangle zones the polygon path must equal nearest_zone
    (envelope distance == boundary distance outside, 0 inside),
    zone-for-zone and bit-for-bit on dist_deg2."""
    from sparkspatial import geom
    from sparkspatial.join import nearest_zone, nearest_zone_polygons
    from sparkspatial import zones as zonesmod
    rects = [("za", -74.5, 40.0, -73.5, 41.0),
             ("zb", 99.5, -11.0, 100.5, -9.0),
             ("zc", -75.0, 39.0, -74.5, 40.0)]
    zdf = spark.createDataFrame(
        [zonesmod.zone_row(z, geom.wkb_loads(geom.box_wkb(a, b, c, d)))
         for z, a, b, c, d in rects], zonesmod.ZONE_SCHEMA)
    want = {r.url: (r.zone_id, r.dist_deg2)
            for r in nearest_zone(points_df, rects).collect()}
    got = {r.url: (r.zone_id, r.dist_deg2)
           for r in nearest_zone_polygons(points_df, zdf).collect()}
    assert set(got) == set(want)
    for u, (wz, wd) in want.items():
        gz, gd = got[u]
        assert gz == wz, u
        assert abs(gd - wd) < 1e-15, u


def test_knn_matches_bruteforce(spark, points_df):
    queries = spark.createDataFrame(
        [("q0", 40.5, -74.0), ("q1", 40.9, -73.6), ("q2", -10.0, 100.0),
         ("q3", 48.85, 2.35)],
        "qid string, qlat double, qlon double")
    got = knn_join(points_df, queries, k=5, res=8)
    want = knn_bruteforce(points_df, queries, k=5)
    g = {(r.qid, r.rnk): (r.url, round(r.dist_m, 6)) for r in got.collect()}
    w = {(r.qid, r.rnk): (r.url, round(r.dist_m, 6)) for r in want.collect()}
    assert g == w


def test_knn_density_prefilter_exact_in_dense_cluster(spark):
    """The r6 density-aware prefilter engages when a query's ring
    window holds >> k points (it shrinks the candidate disc to an
    expected DENSITY_TARGET_K*k points). Results must stay bit-exact
    vs brute force in exactly that regime — a dense clustered blob
    with queries inside it, at its edge, and just outside it — and
    for a mixed set where sparse queries coexist (no tightening for
    them). Also exercises the prebuilt-index cell_counts path."""
    import itertools

    from sparkspatial.knn import build_knn_index

    # 40x40 dense lattice (1600 points in ~0.2 deg) around (40, -74):
    # any ring-1 window at res 8 holds far more than 8*k points
    rows = [(f"p{i}_{j}", 40.0 + i * 0.005, -74.0 + j * 0.005)
            for i, j in itertools.product(range(40), range(40))]
    # a sparse far-away pair so mixed query sets hit both regimes
    rows += [("s1", -20.0, 100.0), ("s2", -20.3, 100.4)]
    pts = spark.createDataFrame(rows, "url string, lat double, lon double")
    queries = spark.createDataFrame(
        [("inside", 40.101, -73.899),      # deep in the blob
         ("edge", 40.0001, -74.0001),      # blob corner
         ("outside", 40.31, -74.31),       # near the blob, locally empty
         ("sparse", -20.1, 100.2)],        # window spans the sparse pair
        "qid string, qlat double, qlon double")
    idx = build_knn_index(pts, res=8, k_max=8).persist()
    try:
        got = knn_join(pts, queries, k=8, res=8, index=idx)
        want = knn_bruteforce(pts, queries, k=8)
        g = {(r.qid, r.rnk): (r.url, round(r.dist_m, 6))
             for r in got.collect()}
        w = {(r.qid, r.rnk): (r.url, round(r.dist_m, 6))
             for r in want.collect()}
        assert g == w
    finally:
        idx.release()


def test_knn_query_far_from_all_points(spark):
    """Ring expansion exhausts without reaching distant data -> the
    brute-force fallback must still return the true neighbors
    (regression: used to return empty)."""
    pts = spark.createDataFrame(
        [("p1", 50.0, 50.0), ("p2", 51.0, 51.0)],
        "url string, lat double, lon double")
    q = spark.createDataFrame([("q", -50.0, -120.0)],
                              "qid string, qlat double, qlon double")
    got = knn_join(pts, q, k=2, res=8, max_ring=8)
    assert [(r.url, r.rnk) for r in got.orderBy("rnk").collect()] == [
        ("p1", 1), ("p2", 2)]


# res-8 cells are 1.40625 deg wide and 0.703125 deg tall; the lattice
# block spans cells x in [130, 154), y in [140, 164)
_LAT_RES, _LAT_NX, _LAT_NY, _LAT_X0, _LAT_Y0 = 8, 24, 24, 130, 140
_CELL_W, _CELL_H = 360.0 / 256, 180.0 / 256


def _lattice_point(x: float, y: float) -> tuple[float, float]:
    """(lat, lon) of fractional res-8 grid coordinates."""
    return -90.0 + y * _CELL_H, -180.0 + x * _CELL_W


@pytest.fixture(scope="module")
def knn_lattice(spark):
    """A persisted KnnIndex over exactly two jittered points in each of
    24 x 24 res-8 cells: mean occupied-cell density 2, so for k=8 the
    density start ring is 4, where ring 1's certified disc holds only
    ~3 points."""
    from sparkspatial.knn import build_knn_index

    rng = np.random.default_rng(11)
    rows = []
    for i in range(_LAT_NY):
        for j in range(_LAT_NX):
            for s, (fx, fy) in enumerate(((0.3, 0.3), (0.7, 0.7))):
                lat, lon = _lattice_point(
                    _LAT_X0 + j + fx + rng.uniform(-0.1, 0.1),
                    _LAT_Y0 + i + fy + rng.uniform(-0.1, 0.1))
                rows.append((f"p{i:02d}_{j:02d}_{s}", lat, lon))
    pts = spark.createDataFrame(
        rows, "url string, lat double, lon double").persist()
    idx = build_knn_index(pts, res=_LAT_RES, k_max=8).persist()
    # interior queries: at least 6 cells from every edge of the block
    inner = [(f"in{n}",) + _lattice_point(
        _LAT_X0 + 6 + rng.uniform(0, _LAT_NX - 12),
        _LAT_Y0 + 6 + rng.uniform(0, _LAT_NY - 12)) for n in range(12)]
    yield pts, idx, inner
    idx.release()
    pts.unpersist()


def _knn_rows(df):
    return {(r.qid, r.rnk): (r.url, r.dist_m) for r in df.collect()}


def test_knn_index_density_start_ring_one_round(spark, knn_lattice):
    """On a prebuilt index whose mean density calls for ring 4, every
    interior query certifies in the first round: the call, including
    collecting its output, runs at most 8 Spark jobs (starting at ring
    1 takes a second round and about twice the jobs) and equals brute
    force."""
    from sparkspatial.knn import _density_ring

    pts, idx, inner = knn_lattice
    assert (idx.n_points, idx.n_cells) == (2 * _LAT_NX * _LAT_NY,
                                           _LAT_NX * _LAT_NY)
    assert _density_ring(idx.n_points, idx.n_cells, 8) == 4
    q = spark.createDataFrame(inner, "qid string, qlat double, qlon double")
    want = _knn_rows(knn_bruteforce(pts, q, k=8))
    n_jobs, got = _count_jobs(spark, "knn-one-round", lambda: _knn_rows(
        knn_join(pts, q, k=8, res=_LAT_RES, index=idx)))
    assert got == want
    assert n_jobs <= 8, n_jobs


def test_knn_index_mixed_rounds_and_fallback(spark, knn_lattice):
    """Index path with queries that leave the loop three ways: interior
    ones certify in round 1, one 5 cells south of the block has an
    empty first disc and certifies after growth, and one far from all
    data exhausts max_ring and takes the brute-force fallback. Pins the
    observed-count exit and the certified/exhausted accounting."""
    pts, idx, inner = knn_lattice
    grow = ("grow",) + _lattice_point(_LAT_X0 + 12.5, _LAT_Y0 - 5.0)
    far = ("far", -60.0, -150.0)
    q = spark.createDataFrame(inner[:4] + [grow, far],
                              "qid string, qlat double, qlon double")
    got = _knn_rows(knn_join(pts, q, k=8, res=_LAT_RES, index=idx,
                             max_ring=12))
    want = _knn_rows(knn_bruteforce(pts, q, k=8))
    assert got == want
    assert {qid for qid, _ in got} == {r[0] for r in inner[:4]} | {
        "grow", "far"}


def test_range_join_matches_bruteforce(spark, points_df):
    from sparkspatial.knn import range_join
    from sparkspatial.geom import haversine_deg
    import pandas as pd

    queries = spark.createDataFrame(
        [("q0", 40.5, -74.0), ("q1", -30.0, 100.0)],
        "qid string, qlat double, qlon double")
    got = {(r.qid, r.url) for r in
           range_join(points_df, queries, radius_m=300_000.0, res=9)
           .collect()}
    ppdf = points_df.toPandas()
    want = set()
    for qid, qlat, qlon in [("q0", 40.5, -74.0), ("q1", -30.0, 100.0)]:
        d = haversine_deg(np.full(len(ppdf), qlat), np.full(len(ppdf), qlon),
                          ppdf["lat"].to_numpy(), ppdf["lon"].to_numpy())
        for u in ppdf.loc[d <= 300_000.0, "url"]:
            want.add((qid, u))
    assert got == want
    assert len(got) > 0


def _range_bruteforce(pts_rows, q_rows, radius_m):
    from sparkspatial.geom import haversine_deg
    want = set()
    lat = np.array([p[1] for p in pts_rows])
    lon = np.array([p[2] for p in pts_rows])
    for qid, qlat, qlon in q_rows:
        d = haversine_deg(np.full(len(pts_rows), qlat),
                          np.full(len(pts_rows), qlon), lat, lon)
        for i in np.flatnonzero(d <= radius_m):
            want.add((qid, pts_rows[i][0]))
    return want


def test_range_join_antimeridian_wrap(spark):
    """A query circle straddling +-180 must see points on the far
    side (regression: the pre-r4 cover clamped at the seam and a
    60 km query at lon 179.95 missed a point 16.7 km away)."""
    from sparkspatial.knn import range_join
    pts_rows = [("east", 0.0, 179.99), ("west", 0.0, -179.90),
                ("far_w", 0.0, -179.0), ("mid", 0.0, 0.0),
                ("west_hi", 30.0, -179.95), ("east_hi", 30.0, 179.80)]
    q_rows = [("q_e", 0.0, 179.95), ("q_w", 0.0, -179.97),
              ("q_hi", 30.0, 179.99)]
    pts = spark.createDataFrame(pts_rows, "url string, lat double, lon double")
    q = spark.createDataFrame(q_rows, "qid string, qlat double, qlon double")
    got = {(r.qid, r.url) for r in
           range_join(pts, q, radius_m=60_000.0, res=10).collect()}
    want = _range_bruteforce(pts_rows, q_rows, 60_000.0)
    assert got == want
    # the fix is only exercised if some pair actually crosses the seam
    assert ("q_e", "west") in want and ("q_w", "east") in want


def test_range_join_near_global_window(spark):
    """A polar query's longitude window spans the whole ring
    (dlon >= 180): one box, every point within the lat band matches,
    and no (query, point) pair joins twice."""
    from sparkspatial.knn import range_join
    pts_rows = [("np1", 89.5, 10.0), ("np2", 89.2, -170.0),
                ("np3", 88.0, 100.0), ("eq", 0.0, 0.0),
                ("np4", 89.9, -60.0)]
    q_rows = [("pole", 89.8, 0.0)]
    pts = spark.createDataFrame(pts_rows, "url string, lat double, lon double")
    q = spark.createDataFrame(q_rows, "qid string, qlat double, qlon double")
    out = range_join(pts, q, radius_m=120_000.0, res=10).collect()
    got = [(r.qid, r.url) for r in out]
    assert len(got) == len(set(got))  # no duplicate pairs
    assert set(got) == _range_bruteforce(pts_rows, q_rows, 120_000.0)


def test_range_join_full_window_off_zero_lon(spark):
    """A full-longitude window (dlon >= 180) at qlon != 0 must pin
    its cover box to [-180, 180] (regression: an unpinned
    [qlon-180, qlon+180] box was clamped by covering_cells and
    silently dropped the arc beyond the seam — a polar query at
    lon 100 missed a point 24.9 km away at lon -170)."""
    from sparkspatial.knn import range_join
    pts_rows = [("near", 89.9, -170.0), ("band", 89.3, -100.0),
                ("out", 85.0, 100.0), ("eq", 0.0, 100.0)]
    q_rows = [("pole", 89.8, 100.0)]
    pts = spark.createDataFrame(pts_rows, "url string, lat double, lon double")
    q = spark.createDataFrame(q_rows, "qid string, qlat double, qlon double")
    out = range_join(pts, q, radius_m=120_000.0, res=10).collect()
    got = [(r.qid, r.url) for r in out]
    assert len(got) == len(set(got))
    want = _range_bruteforce(pts_rows, q_rows, 120_000.0)
    assert set(got) == want
    assert ("pole", "near") in want  # the pair the clamp used to drop


def test_range_join_mixed_polar_equatorial(spark, points_df):
    """Per-query resolution (r4): one polar query must not coarsen
    the cover for the equatorial ones — the mixed set stays exact
    and matches the brute force pair-for-pair."""
    from sparkspatial.knn import range_join
    q_rows = [("q_eq", 40.5, -74.0), ("q_pole", 89.0, 0.0),
              ("q_seam", -30.0, 179.9), ("q_mid", -10.0, 100.0)]
    q = spark.createDataFrame(q_rows, "qid string, qlat double, qlon double")
    got = {(r.qid, r.url) for r in
           range_join(points_df, q, radius_m=250_000.0, res=10).collect()}
    ppdf = points_df.toPandas()
    pts_rows = list(zip(ppdf["url"], ppdf["lat"], ppdf["lon"]))
    assert got == _range_bruteforce(pts_rows, q_rows, 250_000.0)


def test_knn_fewer_than_k(spark):
    pts = spark.createDataFrame(
        [("a", 0.0, 0.0), ("b", 0.1, 0.1)], "url string, lat double, lon double")
    q = spark.createDataFrame([("q", 0.0, 0.05)],
                              "qid string, qlat double, qlon double")
    got = knn_join(pts, q, k=5, res=6, max_ring=4)
    assert got.count() == 2  # only two points exist


def test_knn_null_qid_rejected(spark):
    """A NULL qid would merge queries in the top-k window AND never
    leave the anti-join loop (null-unsafe equality) — knn_join must
    reject it loudly, not loop to max_ring and emit duplicates."""
    import pytest

    pts = spark.createDataFrame(
        [("a", 0.0, 0.0), ("b", 0.1, 0.1)], "url string, lat double, lon double")
    q = spark.createDataFrame([("q", 0.0, 0.05), (None, 1.0, 1.0)],
                              "qid string, qlat double, qlon double")
    with pytest.raises(ValueError, match="NULL 'qid'"):
        knn_join(pts, q, k=1, res=6, max_ring=4)


def test_ring_cells_jvm_matches_numpy_kring(spark):
    """The pure-JVM ring expansion (explode/pmod SQL) must produce
    exactly cells.kring's cell set for every query row — incl. pole
    clamp, antimeridian wrap, and a ring spanning the whole grid
    width (where the wrap would otherwise duplicate cells)."""
    from sparkspatial.knn import _ring_cells

    cases = [  # (qid, lat, lon, ring, res)
        ("mid", 40.5, -74.0, 1, 10),
        ("pole", 89.9, 10.0, 3, 8),
        ("spole", -89.95, -170.0, 2, 9),
        ("wrap", 0.0, 179.95, 2, 10),
        ("wrapw", 10.0, -179.99, 4, 7),
        ("whole", 5.0, 5.0, 3, 2),    # 2*3+1 = 7 >= grid width 4
        ("whole2", -40.0, 100.0, 9, 4),  # 19 >= 16
        ("big", 48.85, 2.35, 64, 10),
    ]
    for qid, lat, lon, ring, res in cases:
        q = spark.createDataFrame(
            [(qid, lat, lon, ring)],
            "qid string, qlat double, qlon double, ring int")
        got = sorted(r.cell for r in _ring_cells(q, res).collect())
        want = cells.kring(
            int(cells.encode(np.array([lat]), np.array([lon]), res)[0]),
            ring).tolist()
        assert got == want, (qid, res, ring)
        assert len(got) == len(set(got)), f"duplicate ring cells: {qid}"

    # randomized batch (seeded): 60 cases per resolution sweep in ONE
    # Spark job per res, exercising lat extremes plus rings over the
    # grid width — but only where full-grid coverage is cheap (res
    # <= 4); at res 7/10 an over-width ring enumerates ~2^{2res}
    # cells per query, so cap those rings small to keep the test
    # seconds, not minutes.
    rng = np.random.default_rng(42)
    for res in (2, 4, 7, 10):
        n = 60
        lats = rng.uniform(-90.0, 90.0, n)
        lats[:6] = [89.999, -89.999, 90.0, -90.0, 0.0, -0.0]
        lons = rng.uniform(-180.0, 180.0, n)
        lons[:4] = [179.999, -180.0, 0.0, -179.999]
        ring_hi = ((1 << res) + 2) if res <= 4 else 12
        rings = rng.integers(1, ring_hi, n)
        rows = [(str(i), float(lats[i]), float(lons[i]), int(rings[i]))
                for i in range(n)]
        q = spark.createDataFrame(
            rows, "qid string, qlat double, qlon double, ring int")
        got_by_q = {}
        for r in _ring_cells(q, res).collect():
            got_by_q.setdefault(r.qid, []).append(r.cell)
        for i in range(n):
            want = cells.kring(
                int(cells.encode(lats[i:i + 1], lons[i:i + 1], res)[0]),
                int(rings[i])).tolist()
            got = sorted(got_by_q.get(str(i), []))
            assert got == want, (res, lats[i], lons[i], rings[i])


def test_knn_index_exact_with_colocated_points(spark):
    """Prebuilt KnnIndex path: co-located points (the web-domain skew
    shape the index collapses) must still rank exactly — ties at one
    location break by id, interleaved with other locations at equal
    distance — and index misuse fails loudly."""
    from sparkspatial.knn import build_knn_index

    rows = [(f"colo{i:02d}", 40.5, -74.0) for i in range(40)]   # one loc
    rows += [(f"near{i}", 40.5 + 1e-4 * (i + 1), -74.0) for i in range(6)]
    rows += [("far", 42.0, -70.0), ("mirror00", 40.52, -74.02)]
    # a second location exactly equidistant from the query as colo*:
    # query sits midway in longitude, same latitude
    rows += [(f"tie{i}", 40.5, -73.9) for i in range(3)]
    pts = spark.createDataFrame(rows, "url string, lat double, lon double")
    q = spark.createDataFrame([("q", 40.5, -73.95), ("q2", 40.5, -74.0)],
                              "qid string, qlat double, qlon double")

    idx = build_knn_index(pts, res=9, k_max=8)
    got = knn_join(pts, q, k=8, res=9, index=idx)
    want = knn_bruteforce(pts, q, k=8)
    g = {(r.qid, r.rnk): (r.url, round(r.dist_m, 6)) for r in got.collect()}
    w = {(r.qid, r.rnk): (r.url, round(r.dist_m, 6)) for r in want.collect()}
    assert g == w

    # inline path (builds its own index) agrees too
    got2 = knn_join(pts, q, k=8, res=9)
    g2 = {(r.qid, r.rnk): (r.url, round(r.dist_m, 6))
          for r in got2.collect()}
    assert g2 == w

    with pytest.raises(ValueError, match="k_max"):
        knn_join(pts, q, k=9, res=9, index=idx)
    with pytest.raises(ValueError, match="res"):
        knn_join(pts, q, k=4, res=10, index=idx)


def test_knn_large_query_set_no_driver_state(spark):
    """10^4 queries through the DataFrame-native kNN loop at sf0.1:
    completes with no driver-side query collect / IN-list literals
    (the round loop only counts), and matches brute force on a sample."""
    import os

    sf_dir = "/root/testdata/sf0.1"
    if not os.path.isdir(sf_dir):
        pytest.skip("sf0.1 testdata not present")
    import __spark_entry__ as entrymod

    pts = entrymod._points(spark, sf_dir).select("url", "lat", "lon")
    base_q = pts.selectExpr("url AS qid", "lat AS qlat", "lon AS qlon")
    jittered = base_q.selectExpr("qid || '#j' AS qid",
                                 "qlat + 1e-4 AS qlat",
                                 "qlon + 1e-4 AS qlon")
    queries = base_q.unionByName(jittered)  # 10,000 queries
    assert queries.count() == 10_000

    out = knn_join(pts, queries, k=3, res=8).persist()
    per_q = out.groupBy("qid").count()
    assert per_q.count() == 10_000
    assert per_q.where("count <> 3").isEmpty()

    # exactness spot-check: 100 queries vs brute force
    sample_q = queries.where("qid LIKE '%7#j'").limit(100).persist()
    want = knn_bruteforce(pts, sample_q, 3)
    got = out.join(sample_q.select("qid"), "qid", "left_semi")
    w = {(r.qid, r.rnk): r.url for r in want.collect()}
    g = {(r.qid, r.rnk): r.url for r in got.collect()}
    assert set(g) == set(w)
    assert g == w
    out.unpersist()
    sample_q.unpersist()


def test_range_join_large_query_set_no_driver_state(spark):
    """10^4 queries through the DataFrame-native range join at sf0.1:
    only one scalar (max window width) reaches the driver; pair counts
    spot-checked against brute force on a sample of queries."""
    import os

    sf_dir = "/root/testdata/sf0.1"
    if not os.path.isdir(sf_dir):
        pytest.skip("sf0.1 testdata not present")
    import __spark_entry__ as entrymod
    from sparkspatial.knn import range_join

    pts = entrymod._points(spark, sf_dir).select("url", "lat", "lon")
    base_q = pts.selectExpr("url AS qid", "lat AS qlat", "lon AS qlon")
    jittered = base_q.selectExpr("qid || '#j' AS qid",
                                 "qlat + 1e-4 AS qlat",
                                 "qlon + 1e-4 AS qlon")
    queries = base_q.unionByName(jittered)
    assert queries.count() == 10_000

    out = range_join(pts, queries, radius_m=2000.0, res=8,
                     broadcast=False).persist()
    # every query contains at least its own point (or its jitter twin)
    assert out.select("qid").distinct().count() == 10_000

    # brute-force a sample of 5 queries
    from sparkspatial import geom as g
    import numpy as np
    sample = queries.where("qid LIKE '%0#j'").limit(5).collect()
    pts_pdf = pts.toPandas()
    for q in sample:
        d = g.haversine_deg(
            np.full(len(pts_pdf), q.qlat), np.full(len(pts_pdf), q.qlon),
            pts_pdf["lat"].to_numpy(), pts_pdf["lon"].to_numpy())
        want = int((d <= 2000.0).sum())
        got = out.where(F.col("qid") == q.qid).count()
        assert got == want, (q.qid, got, want)
    out.unpersist()
