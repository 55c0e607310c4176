"""OSM XML loader vs the reference's own golden rows, plus
self-contained hand-written inputs.

LoaderTest.groovy:455-744 pins the exact 10-table content for
sample.osm (the reference's test resource, read in place — never
copied); these tests replay every golden assertion against
osmxml.load_osm and then run the loaded tables through the transform
operators end-to-end. They skip when the reference resources are
absent; the tests that build their own XML always run.
"""

from __future__ import annotations

import datetime
import os

import pytest

from sparkspatial import geom, osmxml, transform

REF = "/root/reference/osm/src/test/resources/org/orbisgis/orbisanalysis/osm"

needs_ref = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference test resources not present")


@pytest.fixture(scope="module")
def sample_tables(spark):
    if not os.path.isdir(REF):
        pytest.skip("reference test resources not present")
    return osmxml.load_osm(spark, f"{REF}/sample.osm")


def test_sample_node_table_golden(sample_tables):
    rows = {r.id_node: r for r in sample_tables["node"].collect()}
    assert set(rows) == {256001, 256002, 256003, 256004, 256005}
    r = rows[256001]  # LoaderTest:478-494
    x, y = geom.wkb_loads(bytes(r.the_geom_wkb))[1]
    assert (x, y) == (32.8545692, 57.0465758)
    assert r.ele is None
    assert r.user_name == "UserTest" and r.uid == 5001
    assert r.visible is True and r.version == 1 and r.changeset == 6001
    # pinned reference quirk: node LAST_UPDATE is date-truncated
    assert r.last_update == datetime.datetime(2012, 1, 10, 0, 0, 0)
    assert r.name == ""
    assert rows[256004].name == "Just a house node"
    assert rows[256005].name == "Just a tree"


def test_sample_node_tag_excludes_name(sample_tables):
    got = {(r.id_node, r.tag_key, r.tag_value)
           for r in sample_tables["node_tag"].collect()}
    # LoaderTest:578-594: 2 rows, 'name' pulled into the node column
    assert got == {(256004, "building", "house"),
                   (256005, "natural", "tree")}


def test_sample_way_tables_golden(sample_tables):
    w = sample_tables["way"].collect()
    assert len(w) == 1 and w[0].id_way == 258001
    # way keeps the FULL timestamp (LoaderTest:617)
    assert w[0].last_update == datetime.datetime(2012, 1, 10, 23, 2, 55)
    assert w[0].name == ""
    wn = {(r.id_node, r.node_order)
          for r in sample_tables["way_node"].collect()}
    assert wn == {(256001, 1), (256002, 2), (256003, 3)}
    wt = {(r.id_way, r.tag_key, r.tag_value)
          for r in sample_tables["way_tag"].collect()}
    assert wt == {(258001, "highway", "primary")}


def test_sample_member_order_is_global(sample_tables):
    """LoaderTest:563-569: member ORDER is the 1-based position in the
    FULL member list — the way member gets 1, node members 2 and 3."""
    nm = {(r.id_node, r.role, r.node_order)
          for r in sample_tables["node_member"].collect()}
    assert nm == {(256004, "center", 2), (256005, "barycenter", 3)}
    wm = {(r.id_way, r.role, r.way_order)
          for r in sample_tables["way_member"].collect()}
    assert wm == {(258001, "outer", 1)}
    assert sample_tables["relation_member"].count() == 0


def test_sample_relation_tables_golden(sample_tables):
    rel = sample_tables["relation"].collect()
    assert len(rel) == 1 and rel[0].id_relation == 259001
    assert rel[0].last_update == datetime.datetime(2012, 1, 10, 23, 2, 55)
    rt = {(r.tag_key, r.tag_value)
          for r in sample_tables["relation_tag"].collect()}
    assert rt == {("ref", "123456"), ("route", "bus")}


@needs_ref
def test_real_osm_file_counts_match_local_parse(spark):
    """osmFileForTest.osm (1300+ elements): the distributed loader's
    per-table counts equal an independent local ElementTree count."""
    import xml.etree.ElementTree as ET

    tabs = osmxml.load_osm(spark, f"{REF}/osmFileForTest.osm")
    root = ET.parse(f"{REF}/osmFileForTest.osm").getroot()
    n_nodes = len(root.findall("node"))
    n_ways = len(root.findall("way"))
    n_rels = len(root.findall("relation"))
    assert n_nodes > 100 and n_ways > 0
    assert tabs["node"].count() == n_nodes
    assert tabs["way"].count() == n_ways
    assert tabs["relation"].count() == n_rels
    n_wn = sum(len(w.findall("nd")) for w in root.findall("way"))
    assert tabs["way_node"].count() == n_wn

    # relation coverage from the dedicated resource
    rel_tabs = osmxml.load_osm(spark, f"{REF}/osm_one_relation.osm")
    rel_root = ET.parse(f"{REF}/osm_one_relation.osm").getroot()
    assert rel_tabs["relation"].count() == \
        len(rel_root.findall("relation")) > 0
    n_members = sum(len(r.findall("member"))
                    for r in rel_root.findall("relation"))
    assert (rel_tabs["node_member"].count()
            + rel_tabs["way_member"].count()
            + rel_tabs["relation_member"].count()) == n_members


def test_loaded_tables_flow_through_transform(spark, sample_tables):
    """End-to-end: XML -> tables -> transform operators (the
    reference's load->transform pipeline)."""
    pts = transform.extract_nodes_as_points(
        sample_tables["node"], sample_tables["node_tag"],
        tags={"building": None})
    got = pts.collect()
    assert len(got) == 1
    x, y = geom.wkb_loads(bytes(got[0].the_geom_wkb))[1]
    assert (x, y) == (32.8845692, 57.0765758)

    lines = transform.extract_ways(
        sample_tables["way_tag"], sample_tables["way_node"],
        sample_tables["node"], tags={"highway": None}, as_polygon=False)
    lrows = lines.collect()
    assert len(lrows) == 1 and lrows[0].id == "w258001"


# ------------------------------------------------- redon.osm end-to-end

REDON = ("/root/reference/osm-noise/src/test/resources/org/orbisgis/"
         "orbisanalysis/osmnoise/redon.osm")


@pytest.mark.skipif(not os.path.isfile(REDON), reason="redon.osm absent")
def test_redon_full_noise_pipeline(spark):
    """The reference's flagship integration flow
    (OSMNoiseTests.GISLayersFromOSMFileTest +
    buildTrafficWGAENDataFromTestFile): load redon.osm -> building
    layer (no null nb_lev / height_wall / height_roof) -> road layer
    (no null wgaen_type / oneway / maxspeed) -> WG-AEN traffic (all 12
    per-period flow/speed columns present and positive). Same
    invariants, real 2.7 MB town extract, end to end on Spark.
    (The reference's own flow-column check `X is null and X<=0` is
    vacuously true SQL; the intent — non-null and positive — is
    asserted here.)"""
    from pyspark.sql import functions as F

    from sparkspatial import layers

    tabs = osmxml.load_osm(spark, REDON)

    polys = transform.to_polygons(tabs, {"building": None},
                                  layers.BUILDING_PARAMS["columns"])
    bl = layers.build_building_layer(polys).persist()
    n_b = bl.count()
    assert n_b > 1  # OSMNoiseTests:109
    assert bl.where("nb_lev IS NULL OR height_wall IS NULL "
                    "OR height_roof IS NULL").count() == 0

    lines = transform.to_lines(tabs, {"highway": None},
                               layers.ROAD_PARAMS["columns"])
    rl = layers.build_road_layer(lines).persist()
    n_r = rl.count()
    assert n_r > 1  # OSMNoiseTests:118
    assert rl.where("wgaen_type IS NULL OR oneway IS NULL "
                    "OR maxspeed IS NULL").count() == 0

    traffic = layers.wgaen_road_traffic(rl)
    n_t = traffic.count()
    assert n_t > 1
    # flows are >= 0 (Dead-end roads legitimately carry ZERO night
    # heavy-vehicle flow in the WG-AEN table — the reference's own
    # vacuous check never noticed); speeds are strictly positive
    hours = [f"{p}_{v}_hour" for p in ("day", "night", "ev")
             for v in ("lv", "hv")]
    speeds = [f"{p}_{v}_speed" for p in ("day", "night", "ev")
              for v in ("lv", "hv")]
    pred = " OR ".join([f"{c} IS NULL OR {c} < 0" for c in hours]
                       + [f"{c} IS NULL OR {c} <= 0" for c in speeds])
    assert traffic.where(pred).count() == 0
    bl.unpersist()
    rl.unpersist()


def test_dirty_osm_elements_do_not_crash(spark, tmp_path):
    """Planet-grade dirt: non-numeric ele, deleted node without
    lat/lon, timestamp with offset / fractional seconds — the load
    degrades per element instead of failing the job."""
    xml = """<?xml version="1.0" encoding="UTF-8"?>
<osm version="0.6" generator="test">
  <node id="1" lat="1.0" lon="2.0" timestamp="2012-01-10T23:02:55+00:00">
    <tag k="ele" v="~250"/>
  </node>
  <node id="2" visible="false" timestamp="2012-01-10T23:02:55.123Z"/>
  <node id="3" lat="3.0" lon="4.0" timestamp="oops">
    <tag k="ele" v="78.1"/>
  </node>
</osm>"""
    p = tmp_path / "dirty.osm"
    p.write_text(xml)
    tabs = osmxml.load_osm(spark, str(p))
    rows = {r.id_node: r for r in tabs["node"].collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].ele is None  # unparseable -> stays a tag
    assert rows[2].the_geom_wkb is None and rows[2].visible is False
    assert rows[3].ele == 78.1
    assert rows[3].last_update is None  # bad timestamp -> NULL
    assert rows[1].last_update == datetime.datetime(2012, 1, 10)
    tags = {(r.id_node, r.tag_key) for r in tabs["node_tag"].collect()}
    assert (1, "ele") in tags and (3, "ele") not in tags


def test_hand_written_osm_ten_tables(spark, tmp_path):
    """A hand-written document covering every element kind: 3 nodes, a
    tagged way over 3 of them, and a relation with a way member and a
    node member. Expected rows follow from the OSM 0.6 format and the
    loader's documented conventions (name pulled out of the tags, node
    timestamps date-truncated, `nd` and member order 1-based in
    document order, member order global across member types)."""
    xml = """<?xml version="1.0" encoding="UTF-8"?>
<osm version="0.6" generator="hand">
  <node id="11" lat="48.25" lon="-1.5" user="ann" uid="7" version="2"
        changeset="70" timestamp="2020-05-06T07:08:09Z"/>
  <node id="12" lat="48.5" lon="-1.25" visible="true">
    <tag k="name" v="Stop"/>
    <tag k="highway" v="bus_stop"/>
  </node>
  <node id="13" lat="48.75" lon="-1.0"/>
  <way id="21" user="bob" uid="8" version="1" changeset="71"
       timestamp="2020-05-06T07:08:09Z">
    <nd ref="13"/>
    <nd ref="11"/>
    <nd ref="12"/>
    <tag k="highway" v="residential"/>
    <tag k="name" v="Rue A"/>
  </way>
  <relation id="31" version="3" timestamp="2021-01-02T03:04:05Z">
    <member type="way" ref="21" role="outer"/>
    <member type="node" ref="12" role="stop"/>
    <tag k="type" v="route"/>
  </relation>
</osm>"""
    p = tmp_path / "hand.osm"
    p.write_text(xml)
    tabs = osmxml.load_osm(spark, str(p))

    nodes = {r.id_node: r for r in tabs["node"].collect()}
    assert set(nodes) == {11, 12, 13}
    assert {i: geom.wkb_loads(bytes(r.the_geom_wkb))[1]
            for i, r in nodes.items()} == {11: (-1.5, 48.25),
                                           12: (-1.25, 48.5),
                                           13: (-1.0, 48.75)}
    n11 = nodes[11]
    assert (n11.user_name, n11.uid, n11.version, n11.changeset) == \
        ("ann", 7, 2, 70)
    assert n11.visible is True and n11.name == "" and n11.ele is None
    assert n11.last_update == datetime.datetime(2020, 5, 6)
    assert nodes[12].name == "Stop" and nodes[13].last_update is None
    assert [tuple(r) for r in tabs["node_tag"].collect()] == \
        [(12, "highway", "bus_stop")]

    (w,) = tabs["way"].collect()
    assert (w.id_way, w.user_name, w.uid, w.version, w.changeset,
            w.name) == (21, "bob", 8, 1, 71, "Rue A")
    assert w.last_update == datetime.datetime(2020, 5, 6, 7, 8, 9)
    assert [tuple(r) for r in tabs["way_tag"].collect()] == \
        [(21, "highway", "residential")]
    assert sorted(tuple(r) for r in tabs["way_node"].collect()) == \
        [(21, 11, 2), (21, 12, 3), (21, 13, 1)]

    (rel,) = tabs["relation"].collect()
    assert (rel.id_relation, rel.version) == (31, 3)
    assert rel.last_update == datetime.datetime(2021, 1, 2, 3, 4, 5)
    assert [tuple(r) for r in tabs["way_member"].collect()] == \
        [(31, 21, "outer", 1)]
    assert [tuple(r) for r in tabs["node_member"].collect()] == \
        [(31, 12, "stop", 2)]
    assert tabs["relation_member"].count() == 0
    assert [tuple(r) for r in tabs["relation_tag"].collect()] == \
        [(31, "type", "route")]


@pytest.mark.skipif(not os.path.isfile(REDON), reason="redon.osm absent")
def test_spatial_join_over_real_building_footprints(spark):
    """Cell-cover + even-odd PIP against 1000+ REAL irregular OSM
    building polygons (not synthetic boxes): spatial_join results ==
    numpy brute force over every (point, building) pair."""
    import numpy as np
    from pyspark.sql import Row

    from sparkspatial import join as joinmod
    from sparkspatial import layers, zones

    tabs = osmxml.load_osm(spark, REDON)
    polys = transform.to_polygons(tabs, {"building": None},
                                  layers.BUILDING_PARAMS["columns"])
    bl = layers.build_building_layer(polys).select("id_source",
                                                   "the_geom_wkb")
    brows = bl.collect()
    assert len(brows) > 1000
    zone_rows = [zones.zone_row(r.id_source + f"#{i}",
                                geom.wkb_loads(bytes(r.the_geom_wkb)))
                 for i, r in enumerate(brows)]
    zdf = spark.createDataFrame(zone_rows, zones.ZONE_SCHEMA)

    # deterministic probe points over the town bbox
    minx = min(r.minx for r in zone_rows)
    maxx = max(r.maxx for r in zone_rows)
    miny = min(r.miny for r in zone_rows)
    maxy = max(r.maxy for r in zone_rows)
    rng = np.random.RandomState(17)
    n_pts = 4000
    lons = rng.uniform(minx, maxx, n_pts)
    lats = rng.uniform(miny, maxy, n_pts)
    pts = spark.createDataFrame(
        [Row(url=f"p{i}", lat=float(lats[i]), lon=float(lons[i]))
         for i in range(n_pts)], "url string, lat double, lon double")

    got = {(r.url, r.zone_id) for r in joinmod.spatial_join(
        pts, zdf, how="inner", res=12).select("url", "zone_id").collect()}

    want = set()
    for zr in zone_rows:
        g = geom.wkb_loads(bytes(zr.the_geom_wkb))
        inside = geom.points_in_geom(lons, lats, g)  # (px=x=lon, py=y=lat)
        for i in np.nonzero(inside)[0]:
            want.add((f"p{int(i)}", zr.zone_id))
    assert got == want and len(want) > 0
