"""Raster<->vector tiling and grid indicators.

The reference's grid-indicator outputs (zone extraction feeding
grid-based aggregation — BASELINE.json north_star) become hierarchical
cell rollups: assign each point its cell (pure JVM arithmetic), then
groupBy(cell) aggregates at the finest resolution and re-aggregates to
coarser ancestors with parent() arithmetic — partial aggregation makes
every rollup level a map-side combine over the previous one, so the
full pyramid costs barely more than the finest level.

raster->vector: a cell becomes its bounding polygon (WKB); vector->
raster is join.explode_bbox_cells over a polygon's bbox
(join.zone_cover). Round-tripping a zone through
vector->raster->vector yields the zone's cell tessellation —
the reference's grid view of a zone.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import cells, geom


def assign_cells(points: DataFrame, res: int, lat_col: str = "lat",
                 lon_col: str = "lon", cell_col: str = "cell") -> DataFrame:
    """Attach the res-level cell id — whole-stage-codegen arithmetic."""
    return points.withColumn(cell_col, F.expr(cells.cell_sql(lat_col, lon_col, res)))


def parent_col(cell_col: str, child_res: int, parent_res: int):
    """Column computing the ancestor cell (JVM arithmetic)."""
    return F.expr(cells.parent_sql(cell_col, child_res, parent_res, dialect="spark"))


def grid_indicators(points: DataFrame, res: int,
                    rollup_res: list[int] | None = None,
                    lat_col: str = "lat", lon_col: str = "lon",
                    domain_col: str | None = "domain",
                    lang_col: str | None = "lang") -> DataFrame:
    """Per-cell indicators at `res` plus hierarchical rollups.

    Output: (cell, res, page_count, distinct_domains, lang_histogram)
    with one row-group per resolution in {res} | rollup_res; EVERY
    indicator is carried to every level.

    Scale shape: three narrow fine-level pre-aggregations — per-cell
    counts, distinct (cell, domain) pairs, per-(cell, lang) counts —
    are computed once from the raw scan and persisted; each rollup
    level re-aggregates those (orders of magnitude smaller than the
    corpus) on parent-cell arithmetic. distinct_domains stays EXACT at
    every level because the pairs table re-distincts under the parent
    key (a domain spanning several child cells counts once).
    """
    from . import session as _session

    pts = assign_cells(points, res, lat_col, lon_col)
    base = (pts.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("page_count")).persist())
    _session.register_persisted(base)
    dom_pairs = lang_counts = None
    if domain_col:
        dom_pairs = pts.select("cell", domain_col).distinct().persist()
        _session.register_persisted(dom_pairs)
    if lang_col:
        lang_counts = (pts.groupBy("cell", lang_col)
                       .agg(F.count(F.lit(1)).alias("n")).persist())
        _session.register_persisted(lang_counts)

    def level(pr: int) -> DataFrame:
        def pcell(df):
            if pr == res:
                return df
            return (df.withColumn("_p", parent_col("cell", res, pr))
                    .drop("cell").withColumnRenamed("_p", "cell"))

        out = (pcell(base).groupBy("cell")
               .agg(F.sum("page_count").alias("page_count")))
        if dom_pairs is not None:
            dd = (pcell(dom_pairs).distinct().groupBy("cell")
                  .agg(F.count(F.lit(1)).alias("distinct_domains")))
            out = out.join(dd, "cell", "left")
        if lang_counts is not None:
            lm = (pcell(lang_counts)
                  .groupBy("cell", lang_col).agg(F.sum("n").alias("n"))
                  .groupBy("cell")
                  .agg(F.map_from_entries(
                      F.collect_list(F.struct(F.col(lang_col), F.col("n"))))
                      .alias("lang_histogram")))
            out = out.join(lm, "cell", "left")
        return out.withColumn("res", F.lit(pr))

    out = level(res)
    for pr in sorted(rollup_res or [], reverse=True):
        out = out.unionByName(level(pr))
    return out


def cell_geometry(df: DataFrame, cell_col: str = "cell") -> DataFrame:
    """raster->vector: add cell bbox columns (JVM-computable would need
    pow-of-two division — done vectorized in numpy) + polygon WKB."""
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
        + ["cell_minx double", "cell_miny double",
           "cell_maxx double", "cell_maxy double", "cell_wkb binary"])

    def _geo(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            c = pdf[cell_col].to_numpy(np.int64)
            minlon, minlat, maxlon, maxlat = cells.cell_bounds(c)
            pdf = pdf.assign(cell_minx=minlon, cell_miny=minlat,
                             cell_maxx=maxlon, cell_maxy=maxlat)
            pdf["cell_wkb"] = [
                geom.box_wkb(a, b, x, y)
                for a, b, x, y in zip(minlon, minlat, maxlon, maxlat)]
            yield pdf

    return df.mapInPandas(_geo, schema=out_schema)


def tessellate_zone(zone_wkb: bytes, res: int) -> pd.DataFrame:
    """vector->raster for one zone: exact cell tessellation (cells whose
    center or overlap intersects the polygon). Driver-side helper for
    building golden grids in tests."""
    g = geom.wkb_loads(bytes(zone_wkb))
    minx, miny, maxx, maxy = geom.bounds(g)
    cand = cells.covering_cells(minx, miny, maxx, maxy, res)
    minlon, minlat, maxlon, maxlat = cells.cell_bounds(cand)
    keep = np.array([
        geom.geom_intersects_box(g, a, b, x, y)
        for a, b, x, y in zip(minlon, minlat, maxlon, maxlat)])
    kept = cand[keep] if len(cand) else cand
    return pd.DataFrame({"cell": kept, "res": res})
