"""kNN via k-ring cell expansion with exact distance re-rank.

Extension beyond the reference (SURVEY.md §2.3: "kNN is required by the
north_rule"). For each query point: candidates are points whose cell
lies in the query's k-ring; candidates re-rank by exact haversine; the
result is certified exact when the k-th distance fits inside the
guaranteed-covered window of the searched ring, else the query re-runs
with a larger ring.

Ring growth is adaptive PER QUERY (r4): each uncertified query jumps
straight to the ring its own round-1 evidence suggests — the density
estimate (points observed inside the certified disc, which scales
with ring^2 just like the window, so sqrt(4k/seen) growth holds and
the disc/window area ratio only makes it conservative) — instead of
every query sharing one global doubling schedule. Certification is
re-checked exactly each round, so the jump heuristic can only affect
round count, never correctness. Dense-area queries finish in round 1;
sparse ones converge in ~2 rounds where doubling needed log2(need).

The loop is DataFrame-native: queries, ring-cell expansion,
certification, and the done/remaining split all stay distributed (no
per-round toPandas of query state, no IN-list literals in the plan).
Per round the driver reads one scalar stats row (query count, NULL-qid
count, ring-row total) and one certified-query count that a
DataFrame.observe carries out of the round's own checkpoint job, so
the operator survives query sets of 10^5+ rows. Round count is the
serial bottleneck (each round is a job barrier), so the round body is
a single eager localCheckpoint: rank, certification flag, and growth
evidence all materialize in one pass (three window functions over one
exchange), and when the observed count says every remaining query
certified, the loop exits with no further stats job or anti-join. A
persisted KnnIndex knows its mean occupied-cell density, so queries
start at the ring that density expects to certify k (not ring 1) and
typical data finishes in that one round; the inline path starts at
ring 1.

Coverage bounds are exact on the engine's sphere (R = 6371008.8 m,
matching geom.haversine_deg): one degree of latitude is pi*R/180 m; the
minimum great-circle distance to a point outside a +-W-degree longitude
window at latitude <= phi_max is 2*R*asin(cos(phi_max)*sin(W_rad/2)).
Ties break deterministically by (distance, point id).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from . import cells, geom

# exact meters per degree of latitude on the engine's sphere; the
# strict lower bound (for conservative padding) shaves a hair off it
M_PER_DEG_LAT = math.pi * geom.EARTH_RADIUS_M / 180.0
M_PER_DEG_LAT_LB = M_PER_DEG_LAT * (1.0 - 1e-9)

# broadcast the ring-cell table while |queries| * ring cells is small
BROADCAST_MAX_RING_ROWS = 4_000_000

# map-side candidate prefilter: drop dist > cover(ring) before the
# top-k window. EXACT with IDENTICAL per-round certification
# outcomes: certification requires kth < cover, so every member of
# a certified top-k survives the filter (dropped points are
# strictly farther than cover >= kth and cannot displace or tie
# one), and a query whose true kth lands at/beyond cover has < k
# in-disc survivors, failing certification with or without the
# filter — the filter changes no result, only the rows exchanged
# into the window (~7x fewer on the bench corpus: the ring window
# spans ~(2 ring+1)^2 cells, the certified disc is a fraction of
# it). Side effect on SCHEDULE (not results): the observed kth is
# capped at cover and cand_n counts in-disc points only, so ring
# growth is density-driven (see the growth comment in the loop);
# round counts may differ from an unfiltered loop. phi > 1
# (tighter discs) was measured and REJECTED: at phi=4, 11/113
# bench queries fell under k survivors and paid an extra full
# round, a net loss.
PREFILTER_PHI = 1.0

# Density-aware prefilter (r6): a query whose ring window holds far
# more points than k needs only a small disc around itself, not the
# whole guaranteed-covered disc. Each round estimates the window's
# point count from the index's per-cell totals and shrinks the filter
# radius so the disc is expected to hold DENSITY_TARGET_K * k points
# — still >> k, so failing certification from the shrink is a
# Poisson-tail event (P[X < 10 | E=80] ~ 3e-9 under local
# uniformity); non-uniform windows (a hot blob near a sparse query)
# fail certification exactly as an undersized ring always did and
# grow normally. EXACTNESS is untouched by ANY radius choice: the
# effective radius never exceeds the covered radius, and
# certification compares the k-th distance against the SAME effective
# radius, so a certified top-k provably saw every competitor (the
# PREFILTER_PHI argument above, applied to min(cover, r_est)).
# Measured r6: the hot-cell bench window shipped ~10^8 candidate rows
# into the per-qid top-k exchange without this (19.4 s); with it the
# exchange is ~10^5 rows.
DENSITY_TARGET_K = 8.0

# The probe costs a fixed ~2 extra broadcast exchanges per round
# (measured +0.3 s at local[32]) and its benefit scales with how many
# candidate rows it prunes, so it only engages when the location
# index is big enough that an unpruned hot window could actually
# flood the top-k exchange. Below this many locations the whole index
# scans in one cheap stage and the pre-r6 plan is strictly faster
# (sf0.1 A/B: 1.16 s without probe vs 1.47 s with). A prebuilt
# KnnIndex knows its size for free (persist() counts it); the inline
# path can't know and stays conservative (probe on).
DENSITY_PROBE_MIN_LOCS = 1_000_000

# Ring sizing target: both the prebuilt-index start ring and the
# per-query growth rule aim for a certified disc expected to hold
# RING_TARGET_K * k points (>= k with margin, so a typical query
# certifies in the round it is sized for).
RING_TARGET_K = 4.0


def _ring_cells(queries: DataFrame, res: int) -> DataFrame:
    """(qid, qlat, qlon, ring) -> one row per (query, k-ring cell).

    Pure-JVM twin of :func:`cells.kring` (same wrap/clamp semantics,
    pinned by pytest against the numpy version): two
    ``explode(sequence(...))`` generators stay inside codegen, so ring
    expansion costs no Python stage and the broadcast side evaluates
    without an Arrow round-trip. Latitude rows beyond the poles drop;
    longitude wraps via ``pmod``; when the ring spans the whole grid
    width the x range collapses to one absolute 0..n-1 pass so no
    (qid, cell) pair ever duplicates (a duplicate would double-count a
    candidate point in the top-k window)."""
    n = 1 << res
    gx = cells.grid_idx_sql("qlon", res, "x")
    gy = cells.grid_idx_sql("qlat", res, "y")
    return (queries
            .selectExpr("qid", "qlat", "qlon", "ring",
                        f"{gx} AS _gx", f"{gy} AS _gy")
            .withColumn("_y", F.explode(F.expr(
                "sequence(_gy - ring, _gy + ring)")))
            .where((F.col("_y") >= 0) & (F.col("_y") < n))
            .withColumn("_x", F.explode(F.expr(
                f"CASE WHEN 2 * ring + 1 >= {n} THEN sequence(0, {n - 1}) "
                f"ELSE transform(sequence(_gx - ring, _gx + ring), "
                f"v -> pmod(v, {n})) END")))
            .selectExpr("qid", "qlat", "qlon", "ring",
                        cells.compose_cell_sql("_x", "_y", res) + " AS cell"))


def _dbl(x: float) -> str:
    """A Python float as an exact Spark SQL DOUBLE literal (repr
    round-trips, and the D suffix keeps it out of DECIMAL)."""
    return f"{float(x)!r}D"


def _cover_m_sql(res: int) -> str:
    """Guaranteed-covered radius (meters) of a searched k-ring as a SQL
    expression over (qlat, ring) — everything within this haversine
    distance of the query provably lies inside the ring window, so a
    k-th neighbor closer than it certifies the result exact. `ring` is
    per query (adaptive radius).

    lat direction: the window spans >= ring*cell_h degrees, and one
    degree of latitude is exactly pi*R/180 m on the sphere.
    lon direction: min distance to a point outside a +-W-degree window
    at |lat| <= phi_max is 2*R*asin(cos(phi_max)*sin(min(W,360)/2))
    (haversine >= cos(lat1)*cos(lat2)*sin^2(dlon/2) term).
    """
    r_m = geom.EARTH_RADIUS_M
    h_deg = f"(CAST(ring AS DOUBLE) * {_dbl(180.0 / (1 << res))})"
    w_deg = f"(CAST(ring AS DOUBLE) * {_dbl(360.0 / (1 << res))})"
    phi_max = f"least(abs(qlat) + {h_deg}, 90.0D)"
    half_w = f"least(radians({w_deg}) / 2.0D, {_dbl(math.pi / 2.0)})"
    return (f"least(radians({h_deg}) * {_dbl(r_m)}, "
            f"{_dbl(2.0 * r_m)} "
            f"* asin(cos(radians({phi_max})) * sin({half_w})))")


def _cell_counts(loc: DataFrame) -> DataFrame:
    """Per-cell point totals (c_pts) and location counts (n_loc) of a
    location index — the density side table of the r6 prefilter (see
    DENSITY_TARGET_K) and the source of the start-ring estimate.
    Derived from loc, so it can never disagree with the candidate set;
    ~|occupied cells| rows."""
    return loc.groupBy("cell").agg(F.sum("n_pts").alias("c_pts"),
                                   F.count(F.lit(1)).alias("n_loc"))


def _density_ring(n_points: int, n_cells: int, k: int) -> int:
    """Smallest ring whose certified disc should hold RING_TARGET_K * k
    points at the mean occupied-cell density n_points / n_cells.

    Below 60 degrees of latitude the covered radius is `ring` cell
    heights (the latitude bound binds), and a cell is 2*cos(lat) cell
    heights wide, so the disc spans pi*ring^2 / (2 cos lat) >=
    pi*ring^2 / 2 cells. Heuristic only, like the growth rule:
    certification re-checks exactly, so the choice moves the round
    count, never an answer."""
    if not n_cells or not n_points:
        return 1
    dens = n_points / n_cells
    return max(1, math.ceil(math.sqrt(
        2.0 * RING_TARGET_K * k / (math.pi * dens))))


class KnnIndex:
    """Precomputed point-side kNN state: one row per distinct
    (cell, lat, lon) location with its point count and the `k_max`
    smallest point ids.

    EXACT collapse of co-located points — the dominant skew shape of
    web-geotagged data, where every page of a domain shares one
    geocode: all points at one location are equidistant from any
    query, and ties rank by id, so only a location's k smallest ids
    can ever reach a global top-k. The candidate window then sees
    ``min(k, n_pts)`` rows per location instead of ``n_pts``
    (measured 2.6M -> ~30k window rows on the 600k-page bench corpus).
    For all-distinct locations the index degenerates to the points
    table and the plan matches the naive one.

    Build-once pattern (SURVEY.md §2.8 P2/P3, same stance as
    ZoneIndex): one window pass over the points table, reusable
    across knn_join calls while the point set is unchanged.
    `persist()` pins it (caller owns the lifetime).

    Staleness contract: knn_join validates PARAMETERS (res, column
    names, k_max) loudly, but cannot detect that `points` changed
    since the index was built — like ZoneIndex, the caller owns
    rebuilding on data change; a stale index silently answers from
    the old point set (and the max_ring brute-force fallback would
    answer from the new one).
    """

    def __init__(self, loc: DataFrame, res: int, k_max: int,
                 point_id: str, lat_col: str, lon_col: str):
        self.loc = loc
        self.res = res
        self.k_max = k_max
        self.point_id = point_id
        self.lat_col = lat_col
        self.lon_col = lon_col
        self.cell_counts = _cell_counts(loc)
        # index shape, known after persist() at no extra job: n_loc
        # gates the density probe (see DENSITY_PROBE_MIN_LOCS);
        # n_points / n_cells is the mean occupied-cell density that
        # picks knn_join's start ring (see _density_ring)
        self.n_loc: int | None = None
        self.n_points: int | None = None
        self.n_cells: int | None = None

    def persist(self) -> "KnnIndex":
        from . import session as _session
        self.loc = self.loc.persist()
        _session.register_persisted(self.loc)
        self.cell_counts = _cell_counts(self.loc).persist()
        _session.register_persisted(self.cell_counts)
        # one job: scanning cell_counts builds both caches (loc's
        # blocks materialize as the groupBy reads them) and returns
        # the index shape
        n_loc, n_points, n_cells = self.cell_counts.agg(
            F.sum("n_loc"), F.sum("c_pts"), F.count(F.lit(1))).first()
        self.n_loc, self.n_points, self.n_cells = \
            int(n_loc or 0), int(n_points or 0), int(n_cells)
        return self

    def release(self) -> None:
        self.loc.unpersist()
        self.cell_counts.unpersist()


def build_knn_index(points: DataFrame, *, res: int = 10, k_max: int = 64,
                    point_id: str = "url", lat_col: str = "lat",
                    lon_col: str = "lon") -> KnnIndex:
    """One shuffle over the points table -> KnnIndex (see class doc).

    Window (not collect_list-then-slice) keeps per-location state
    bounded at k_max rows even for a location with millions of
    co-located points — the 100-TB-safe shape; the groupBy after it
    reuses the window's hash partitioning (no second exchange).
    """
    pts = points.withColumn(
        "cell", F.expr(cells.cell_sql(lat_col, lon_col, res)))
    wloc = Window.partitionBy("cell", lat_col, lon_col)
    ranked = (pts
              .withColumn("_r", F.row_number().over(
                  wloc.orderBy(F.col(point_id).asc())))
              .withColumn("n_pts", F.count(F.lit(1)).over(wloc)))
    loc = (ranked.where(F.col("_r") <= k_max)
           .groupBy("cell", lat_col, lon_col)
           .agg(F.first("n_pts").alias("n_pts"),
                F.sort_array(F.collect_list(point_id)).alias("top_ids")))
    return KnnIndex(loc, res, k_max, point_id, lat_col, lon_col)


def knn_join(points: DataFrame, queries: DataFrame, k: int, *,
             res: int = 10, point_id: str = "url",
             lat_col: str = "lat", lon_col: str = "lon",
             qid_col: str = "qid", qlat_col: str = "qlat",
             qlon_col: str = "qlon",
             max_ring: int = 64,
             index: KnnIndex | None = None) -> DataFrame:
    """Exact kNN: returns (qid, point_id, dist_m, rnk) with rnk 1..k.

    Query state never collects to the driver: each round is a
    (ring-cell x location-index) cell equi-join + ONE window pass
    computing the top-k rank, the certification flag, and the
    ring-growth evidence together, materialized by a single eager
    localCheckpoint; the done/remaining split reads the checkpointed
    frame. Per round the driver sees one scalar stats row (count +
    ring-row sum, for the NULL-qid check and the broadcast decision)
    and one observed count of the queries the round certified, which
    rides the checkpoint's own job; when every remaining query
    certified the loop exits without another stats job or anti-join.
    Uncertified queries grow their ring adaptively (see module
    docstring); certification is exact, so growth only affects round
    count.

    `index`: a prebuilt (usually persisted) KnnIndex over `points` —
    must match res/point_id/lat/lon and have k_max >= k. Without it
    the index builds inline (one extra shuffle over points per call).
    A persisted index also knows its mean occupied-cell density, so
    queries start at max(1, the ring that density certifies for k; see
    _density_ring), capped at max_ring — on typical data one round.
    The inline path starts at ring 1.
    """
    spark = points.sparkSession
    ring0 = 1
    if index is not None:
        if (index.res != res or index.point_id != point_id
                or index.lat_col != lat_col or index.lon_col != lon_col):
            raise ValueError(
                "KnnIndex was built with different res/point_id/lat/lon "
                f"({index.res}, {index.point_id!r}, {index.lat_col!r}, "
                f"{index.lon_col!r})")
        if index.k_max < k:
            raise ValueError(
                f"KnnIndex k_max={index.k_max} < requested k={k}")
        loc = index.loc
        cell_counts = index.cell_counts
        use_probe = index.n_loc is None \
            or index.n_loc >= DENSITY_PROBE_MIN_LOCS
        if index.n_cells is not None:
            ring0 = max(ring0, min(
                _density_ring(index.n_points, index.n_cells, k),
                int(max_ring)))
    else:
        use_probe = True
        # lazy localCheckpoint: materializes inside round 1's window
        # job and pins the built index so rounds 2+ reuse the stored
        # blocks instead of re-running the build shuffle per round
        loc = (build_knn_index(points, res=res, k_max=k, point_id=point_id,
                               lat_col=lat_col, lon_col=lon_col)
               .loc.localCheckpoint(eager=False))
        cell_counts = _cell_counts(loc)

    remaining = (queries.select(F.col(qid_col).cast("string").alias("qid"),
                                F.col(qlat_col).cast("double").alias("qlat"),
                                F.col(qlon_col).cast("double").alias("qlon"))
                 .withColumn("ring", F.lit(ring0).cast("int"))
                 # lazy like the in-loop checkpoints: round 1's stats
                 # job materializes it, saving one job per call
                 .localCheckpoint(eager=False))

    # the round's plan is a few SQL projections because every
    # DataFrame call is a driver round trip plus an analysis: built
    # from Column objects, the same expressions take ~60 py4j calls
    pid = f"`{point_id}`"
    base_cov = f"{_cover_m_sql(res)} / {_dbl(PREFILTER_PHI)}"
    if use_probe:
        # density-shrunk radius (r6, see DENSITY_TARGET_K): the disc
        # expected to hold DENSITY_TARGET_K * k points under the
        # window's mean density, never beyond the covered radius
        w_cells = "(CAST(ring AS DOUBLE) * 2.0D + 1.0D)"
        h_m = (f"({w_cells} * {_dbl(180.0 / (1 << res))} "
               f"* {_dbl(M_PER_DEG_LAT)})")
        w_m = (f"({w_cells} * {_dbl(360.0 / (1 << res))} "
               f"* {_dbl(M_PER_DEG_LAT)} "
               f"* greatest(cos(radians(qlat)), {_dbl(1e-6)}))")
        r_est = (f"sqrt({_dbl(DENSITY_TARGET_K * k)} * {h_m} * {w_m} "
                 f"/ ({_dbl(math.pi)} * n_window))")
        cov_eff = (f"CASE WHEN n_window > {_dbl(DENSITY_TARGET_K * k)} "
                   f"THEN least({base_cov}, {r_est}) ELSE {base_cov} END")
    else:
        # small index: the probe's fixed broadcast cost exceeds its
        # pruning benefit — keep the full covered disc (certification
        # unchanged)
        cov_eff = base_cov
    dist = haversine_sql("qlat", "qlon", f"`{lat_col}`", f"`{lon_col}`")
    growth = (f"least(greatest(2, ceil(sqrt({_dbl(RING_TARGET_K * k)} "
              f"/ greatest(cand_n, 1)))), 8)")

    results: list[DataFrame] = []
    exhausted: list[DataFrame] = []
    n_queries = n_certified = 0
    while True:
        # one tiny job: loop-exit count + exact ring-row total for the
        # broadcast decision (remaining is checkpointed or a shallow
        # anti-join over checkpointed frames, so this is cheap). The
        # null-qid count rides the same job: qid is the partition/join
        # key, so a NULL qid would merge queries in the top-k window
        # AND never leave `remaining` (null-unsafe anti-join) — reject
        # loudly instead of looping to max_ring and emitting dupes.
        n_remaining, ring_rows, n_null = remaining.selectExpr(
            "count(1)",
            "sum((CAST(ring AS BIGINT) * 2 + 1) "
            "* (CAST(ring AS BIGINT) * 2 + 1))",
            "count_if(qid IS NULL)").first()
        if n_null:
            raise ValueError(
                f"knn_join: {n_null} query rows have NULL {qid_col!r} — "
                "qid is the top-k key and must be non-null")
        n_queries = n_queries or n_remaining
        if not n_remaining:
            break
        ring_df = _ring_cells(remaining, res)
        if use_probe:
            # expected point count of each query's window from the
            # index's per-cell totals — one scan of the (persisted)
            # cell_counts table with the tiny ring table broadcast as
            # the build side; the per-query scalar then rides the ring
            # rows into the candidate join
            qdens = (F.broadcast(ring_df.select("qid", "cell"))
                     .join(cell_counts, "cell", "inner")
                     .groupBy("qid").agg(F.sum("c_pts").alias("n_window")))
            ring_df = ring_df.join(F.broadcast(qdens), "qid", "left")
        ring_df = ring_df.selectExpr("qid", "qlat", "qlon", "ring", "cell",
                                     f"{cov_eff} AS _cov_eff")
        if ring_rows <= BROADCAST_MAX_RING_ROWS:
            ring_df = F.broadcast(ring_df)
        # candidate = (query, LOCATION) pair; dist computes once per
        # location, then the capped id list explodes to <= k rows —
        # all JVM, and the explode is what keeps a 10^4-point
        # co-located cell from flooding the window below. The cheap
        # latitude-arc cut runs before the haversine: |dlat| meters
        # NEVER exceeds the haversine distance on the sphere, so it
        # drops no row the exact predicate would keep, and it spares
        # the libm calls on the ~97% of hot-window rows outside the
        # effective disc
        cand = (loc.join(ring_df, on="cell", how="inner")
                .where(f"abs(`{lat_col}` - qlat) * {_dbl(M_PER_DEG_LAT_LB)}"
                       " <= _cov_eff")
                .selectExpr("qid", "ring", "n_pts", "_cov_eff", "top_ids",
                            f"{dist} AS dist_m")
                .where("dist_m <= _cov_eff")
                .selectExpr("qid", "ring", "n_pts", "dist_m", "_cov_eff",
                            f"posexplode(slice(top_ids, 1, {k})) "
                            f"AS (_pos, {pid})"))

        # three windows, one exchange: rnk (sorted), cand_n (growth
        # evidence; each location counts its FULL population once, on
        # its _pos==0 row), kth (certification); then the exact
        # certification flag — certified against the SAME radius the
        # filter used: kth < cov_eff <= cover proves every competitor
        # was inside the window AND survived the filter. All
        # materialize in ONE checkpoint, whose job also delivers the
        # observed certified-query count (one rnk=1 row per qid).
        certified = Observation()
        flagged = (cand
                   .selectExpr(
                       "qid", pid, "dist_m", "ring", "_cov_eff",
                       "row_number() OVER (PARTITION BY qid "
                       f"ORDER BY dist_m, {pid}) AS rnk",
                       "sum(CASE WHEN _pos = 0 THEN n_pts END) "
                       "OVER (PARTITION BY qid) AS cand_n")
                   .where(f"rnk <= {k}")
                   .selectExpr(
                       "qid", pid, "dist_m", "rnk", "cand_n", "ring",
                       "_cov_eff",
                       f"max(CASE WHEN rnk = {k} THEN dist_m END) "
                       "OVER (PARTITION BY qid) AS kth")
                   .selectExpr("qid", pid, "dist_m", "rnk",
                               "kth IS NOT NULL AND kth < _cov_eff AS ok",
                               "cand_n", "ring")
                   .observe(certified,
                            F.expr("count_if(ok AND rnk = 1)").alias("n"))
                   .localCheckpoint(eager=True))
        n_ok = certified.get["n"]
        n_certified += n_ok

        results.append(flagged.where("ok")
                       .select("qid", point_id, "dist_m", "rnk"))
        if n_ok == n_remaining:
            break

        # uncertified queries: keep zero-candidate ones (absent from
        # flagged) via left_anti against the certified qid set, join
        # the growth evidence back, and jump the ring. ok/cand_n/kth
        # are constant per qid and row_number guarantees exactly one
        # rnk=1 row per qid, so both sets are plain filters over the
        # checkpointed frame — no distinct/groupBy exchange.
        done_q = flagged.where("ok AND rnk = 1").select("qid")
        ev = flagged.where("NOT ok AND rnk = 1").select("qid", "cand_n")
        not_done = (remaining.join(done_q, "qid", "left_anti")
                    .join(ev, "qid", "left"))
        exhausted.append(not_done.where(f"ring >= {int(max_ring)}")
                         .select("qid", "qlat", "qlon"))

        # growth: enough ring to expect ~RING_TARGET_K*k in-disc
        # candidates under the observed density. cand_n counts points
        # inside the certified disc, whose area scales with ring^2
        # exactly like the window's, so sqrt(4k/cand_n) is the right
        # growth factor (the disc/window area ratio only biases it
        # conservative — bigger jumps, never smaller). A kth-vs-cover
        # margin term would be dead code here: the prefilter caps every
        # observed dist at cover, so an uncertified query's kth is NULL
        # (fewer than k in-disc survivors) or == cover. >=2x keeps the
        # doubling worst case, <=8x bounds one bad estimate.
        # Heuristic only — certification re-checks exactly next round.
        # The lazy localCheckpoint materializes inside next round's
        # stats job (no extra job here) and keeps lineage flat —
        # without it the remaining-plan is an anti-join chain that
        # deepens and re-evaluates every round (quadratic in round
        # count on sparse data driving many rounds)
        remaining = (not_done.where(f"ring < {int(max_ring)}")
                     .selectExpr(
                         "qid", "qlat", "qlon",
                         f"CAST(least(CAST(ring AS BIGINT) * {growth}, "
                         f"{int(max_ring)}) AS INT) AS ring")
                     .localCheckpoint(eager=False))

    # ring expansion exhausted (queries far from all data, or fewer
    # than k points exist): exact brute-force for those queries —
    # bounded, since only uncertified-at-max_ring queries reach here.
    # A query leaves the loop certified (counted) or exhausted, so
    # when every query certified there is nothing to probe.
    if exhausted and n_certified != n_queries:
        ex = exhausted[0]
        for e in exhausted[1:]:
            ex = ex.unionByName(e)
        if not ex.isEmpty():
            results.append(knn_bruteforce(points, ex, k,
                                          point_id=point_id,
                                          lat_col=lat_col, lon_col=lon_col))

    if not results:
        return spark.createDataFrame(
            [], f"qid string, {point_id} string, dist_m double, rnk int")
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


def haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Haversine meters as a SQL expression over four column names
    (shared by kNN/range): one parse on the driver instead of a
    Column-builder call per operator."""
    return (f"{_dbl(2.0 * geom.EARTH_RADIUS_M)} * asin(sqrt("
            f"pow(sin(radians({lat2} - {lat1}) / 2), 2) "
            f"+ cos(radians({lat1})) * cos(radians({lat2})) "
            f"* pow(sin(radians({lon2} - {lon1}) / 2), 2)))")


def range_join(points: DataFrame, queries: DataFrame, radius_m: float, *,
               res: int = 10, point_id: str = "url",
               lat_col: str = "lat", lon_col: str = "lon",
               qid_col: str = "qid", qlat_col: str = "qlat",
               qlon_col: str = "qlon",
               broadcast: bool = True) -> DataFrame:
    """Within-radius join: all (query, point) pairs with haversine
    distance <= radius_m (the buffer/overlay range query; a range
    join the reference lacks — SURVEY.md §2.3 note).

    Each query's circle bbox explodes into covering cells
    (conservative spherical padding: exact lat arc, exact lon chord
    inversion); points equi-join on cell; the exact haversine
    predicate filters JVM-side.

    Query state stays distributed: the longitude window is a JVM
    column expression, the join resolution comes from ONE scalar
    aggregate (min+max window width), and the circle covers expand in
    an Arrow stage — no per-query toPandas, so the operator survives
    10^5+ query rows (the kNN-loop discipline; r1 verdict flagged the
    old driver-side collect). `broadcast=False` shuffles the cover
    instead of broadcasting for huge query sets.

    Resolution is PER QUERY (r4): each query covers at the finest of
    <= 4 levels whose bbox stays under 256 cells, so one polar/wide
    query no longer coarsens the index for the whole set (pre-r4 a
    single global res came from max(dlon)). The cell id encodes its
    res, so mixed-res covers join against `join.point_cells`' <= 4-way
    point-side expansion on plain cell equality; when every query
    agrees on one level the plan is identical to the single-res one.

    Covers WRAP at the antimeridian (r4 fix): a circle straddling
    +-180 splits into two lon ranges (pre-r4 the cover clamped at the
    seam and silently missed the far-side points).
    """
    import pandas as pd

    from . import join as joinmod

    spark = points.sparkSession
    qdf = queries.select(F.col(qid_col).cast("string").alias("qid"),
                         F.col(qlat_col).cast("double").alias("qlat"),
                         F.col(qlon_col).cast("double").alias("qlon"))
    dlat = radius_m / M_PER_DEG_LAT_LB
    # exact longitude window: a point within radius_m satisfies
    # sin(dlon/2) <= sin(radius/(2R)) / cos(phi_max)  (haversine bound)
    sin_half = math.sin(radius_m / (2.0 * geom.EARTH_RADIUS_M))
    phi_max = F.radians(F.least(F.abs(F.col("qlat")) + F.lit(dlat),
                                F.lit(90.0)))
    s = F.lit(sin_half) / F.greatest(F.cos(phi_max), F.lit(1e-12))
    dlon_col = F.when(s >= 1.0, F.lit(180.0)) \
        .otherwise(F.degrees(2.0 * F.asin(F.least(s, F.lit(1.0)))))
    qdf = qdf.withColumn("dlon", dlon_col)

    # level ladder: finest level for the narrowest window, coarsest
    # for the widest, at most 4 levels between them. min/max(dlon) are
    # the ONLY scalars that reach the driver; the per-query level
    # assignment below uses the same closed form, and dlon is
    # monotone in the level formula, so every assigned level lies in
    # [res_for(max_dlon), res_for(min_dlon)].
    row = qdf.agg(F.min("dlon"), F.max("dlon")).first()
    if row[0] is None:
        return spark.createDataFrame(
            [], f"qid string, {point_id} string, dist_m double")

    def _res_for(d: float) -> int:
        r = res
        while r > 0:
            nx = 2.0 * d / (360.0 / (1 << r)) + 2
            ny = 2.0 * dlat / (180.0 / (1 << r)) + 2
            if nx * ny <= 256:
                break
            r -= 1
        return r

    r_hi, r_lo = _res_for(float(row[0])), _res_for(float(row[1]))
    levels = sorted({r_lo, *(max(r_lo, r_hi - i) for i in range(3))})
    pts = joinmod.point_cells(points, levels,
                              lat_col=lat_col, lon_col=lon_col)

    def _cover(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"qid": pd.Series([], dtype=str),
                                    "qlat": [], "qlon": [], "cell": []})
                continue
            qlat = pdf["qlat"].to_numpy(np.float64)
            qlon = pdf["qlon"].to_numpy(np.float64)
            dlon = pdf["dlon"].to_numpy(np.float64)
            qid = pdf["qid"].to_numpy()
            # largest level whose bbox stays under 256 cells (count
            # grows with the level, so ascending assignment ends on
            # the finest admissible one)
            lvl = np.full(len(pdf), levels[0], dtype=np.int64)
            for r in levels[1:]:
                nx = 2.0 * dlon / (360.0 / (1 << r)) + 2
                ny = 2.0 * dlat / (180.0 / (1 << r)) + 2
                lvl[nx * ny <= 256.0] = r
            # antimeridian wrap: a window crossing +-180 becomes two
            # boxes; a window spanning the full ring (dlon >= 180)
            # stays ONE box pinned to [-180, 180] — pinning matters:
            # an unpinned [qlon-180, qlon+180] box would be clamped
            # by covering_cells and silently drop the arc beyond the
            # seam whenever qlon != 0 (review-caught r4)
            lo, hi = qlon - dlon, qlon + dlon
            full = dlon >= 180.0
            lo = np.where(full, -180.0, lo)
            hi = np.where(full, 180.0, hi)
            wrap_e = (hi > 180.0) & ~full
            wrap_w = (lo < -180.0) & ~full
            boxes = [(np.arange(len(pdf)),
                      np.where(wrap_w, -180.0, lo),
                      np.where(wrap_e, 180.0, hi))]
            if wrap_e.any():
                i = np.flatnonzero(wrap_e)
                boxes.append((i, np.full(len(i), -180.0), hi[i] - 360.0))
            if wrap_w.any():
                i = np.flatnonzero(wrap_w)
                boxes.append((i, lo[i] + 360.0, np.full(len(i), 180.0)))
            frames = []
            for r in levels:
                for pos, blo, bhi in boxes:
                    m = lvl[pos] == r
                    if not m.any():
                        continue
                    p = pos[m]
                    idx, cell = cells.covering_cells_many(
                        blo[m], qlat[p] - dlat, bhi[m], qlat[p] + dlat,
                        int(r))
                    frames.append(pd.DataFrame(
                        {"qid": qid[p][idx], "qlat": qlat[p][idx],
                         "qlon": qlon[p][idx], "cell": cell}))
            out = pd.concat(frames, ignore_index=True) if frames else \
                pd.DataFrame({"qid": pd.Series([], dtype=str),
                              "qlat": [], "qlon": [], "cell": []})
            if len(boxes) > 1:
                # near-global windows: the clamped split boxes can
                # overlap at the seam columns — dedup so no (query,
                # point) pair ever joins twice
                out = out.drop_duplicates(["qid", "cell"])
            yield out

    ring_df = qdf.mapInPandas(
        _cover, schema="qid string, qlat double, qlon double, cell long")
    if broadcast:
        ring_df = F.broadcast(ring_df)
    cand = pts.join(ring_df, on="cell", how="inner")
    dist = haversine_sql("qlat", "qlon", f"`{lat_col}`", f"`{lon_col}`")
    return (cand.withColumn("dist_m", F.expr(dist))
            .where(F.col("dist_m") <= radius_m)
            .select("qid", point_id, "dist_m"))


def knn_bruteforce(points: DataFrame, queries: DataFrame, k: int, *,
                   point_id: str = "url", lat_col: str = "lat",
                   lon_col: str = "lon", qid_col: str = "qid",
                   qlat_col: str = "qlat", qlon_col: str = "qlon") -> DataFrame:
    """Cross-join oracle (FIXTURES.md B.5) — small inputs only."""
    dist = 2.0 * F.lit(geom.EARTH_RADIUS_M) * F.asin(F.sqrt(
        F.pow(F.sin(F.radians(F.col(lat_col) - F.col(qlat_col)) / 2), 2)
        + F.cos(F.radians(F.col(qlat_col))) * F.cos(F.radians(F.col(lat_col)))
        * F.pow(F.sin(F.radians(F.col(lon_col) - F.col(qlon_col)) / 2), 2)))
    w = Window.partitionBy(qid_col).orderBy(F.col("dist_m").asc(),
                                            F.col(point_id).asc())
    return (queries.crossJoin(points)
            .withColumn("dist_m", dist)
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select(F.col(qid_col).alias("qid"), point_id, "dist_m", "rnk"))
