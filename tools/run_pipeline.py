"""spark-submit entry point for the flagship pipeline.

Cluster deployment (north_rule: pure-Python, no JARs):

    cd /root/repo && zip -r /tmp/sparkspatial.zip sparkspatial
    spark-submit --py-files /tmp/sparkspatial.zip \
        tools/run_pipeline.py \
        --pages  s3://bucket/pages/          \
        --zones  s3://bucket/zones.parquet   \
        --out    s3://bucket/out/            \
        --checkpoint /mnt/shared/_ck         \
        --res 12 --rollup 9 6 3 --salt

`--checkpoint` takes a POSIX path (no URI) on a file system that the
driver and every executor share: Spark writes the stage data there and
the driver reads the manifests and parquet footers from the same place.

Stages (each resumable through the fingerprinted checkpointer):
  1. extract: pages -> geo-marker points (Arrow UDTF)
  2. join:    points x zones spatial join (broadcast-or-shuffle,
              optional hot-cell salting)
  3. tiles:   per-cell indicators + hierarchical rollups
  4. overlay: polygon x polygon building overlay (--building-overlay)
  5. knn:     exact kNN for a hash-sampled query side (--knn K)
"""

from __future__ import annotations

import argparse
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--pages", required=True)
    p.add_argument("--zones", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--checkpoint", default=None)
    p.add_argument("--res", type=int, default=12)
    p.add_argument("--rollup", type=int, nargs="*", default=[9, 6])
    p.add_argument("--salt", action="store_true")
    p.add_argument("--broadcast", choices=["auto", "yes", "no"],
                   default="auto")
    p.add_argument("--code-version", default="v1")
    p.add_argument("--building-overlay", action="store_true",
                   help="additionally run the polygon x polygon "
                        "building overlay (quads of --bld-half-w/h "
                        "degrees around each extracted point) against "
                        "the zone polygons")
    p.add_argument("--bld-half-w", type=float, default=None,
                   help="default: join.RECT_HALF_W_DEG")
    p.add_argument("--bld-half-h", type=float, default=None,
                   help="default: join.RECT_HALF_H_DEG")
    p.add_argument("--knn", type=int, default=0, metavar="K",
                   help="additionally run exact kNN (r4 operator): "
                        "top-K neighbors for a deterministic "
                        "1/--knn-sample hash sample of the extracted "
                        "points against all points, through a "
                        "build-once KnnIndex")
    p.add_argument("--knn-sample", type=int, default=100,
                   help="query side = points with "
                        "xxhash64(url) %% N == 0 (default 100)")
    p.add_argument("--knn-res", type=int, default=10,
                   help="kNN cell-index resolution (default 10)")
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from sparkspatial import extract, join, tiles
    from sparkspatial.checkpoint import (Checkpointer, fingerprint_of,
                                         snapshot_id_of)
    from sparkspatial.session import get_spark

    spark = get_spark(app="sparkspatial-pipeline")
    pages = spark.read.parquet(args.pages)
    zones_df = spark.read.parquet(args.zones)

    ck = Checkpointer(args.checkpoint, spark) if args.checkpoint else None

    # fingerprints key on input SNAPSHOT ids, not just paths (r4
    # verdict item 8): appending files to the pages corpus changes
    # pages_snap and invalidates exactly the stages that read it,
    # while a zones-only change leaves the extract stage resumable.
    pages_snap = snapshot_id_of(args.pages)
    zones_snap = snapshot_id_of(args.zones)

    points = extract.extract_points(pages)
    if ck:
        points = ck.stage(points, "extract",
                          fingerprint_of(pages_snap, args.code_version,
                                         extract.EXTRACT_TEXT_VERSION))

    bcast = {"auto": None, "yes": True, "no": False}[args.broadcast]
    matched = join.spatial_join(points, zones_df, how="inner",
                                broadcast=bcast, salt=args.salt,
                                res=args.res)
    if ck:
        matched = ck.stage(matched, "join",
                           fingerprint_of(pages_snap, zones_snap,
                                          args.res, args.code_version))

    g = tiles.assign_cells(matched, res=args.res)
    fine = (g.groupBy("cell", "zone_id")
            .agg(F.count(F.lit(1)).alias("page_count")))
    fine.write.mode("overwrite").parquet(f"{args.out}/res={args.res}")
    for pr in args.rollup:
        level = (fine.withColumn("pcell",
                                 tiles.parent_col("cell", args.res, pr))
                 .groupBy("pcell", "zone_id")
                 .agg(F.sum("page_count").alias("page_count"))
                 .withColumnRenamed("pcell", "cell"))
        level.write.mode("overwrite").parquet(f"{args.out}/res={pr}")

    if args.building_overlay:
        # polygon x polygon overlay (round-3 operator) on the JVM
        # probe fast path: codegen bbox quads (shared construction,
        # join.rect_probes_from_points) -> prebuilt poly-zone index ->
        # pairs + per-zone counts
        half_w = (args.bld_half_w if args.bld_half_w is not None
                  else join.RECT_HALF_W_DEG)
        half_h = (args.bld_half_h if args.bld_half_h is not None
                  else join.RECT_HALF_H_DEG)
        pidx = join.build_poly_zone_index(zones_df)
        quads = join.rect_probes_from_points(points, half_w=half_w,
                                             half_h=half_h)
        pairs = join.spatial_join_polygons(
            quads, probe_id="url", probe_rect=True, broadcast=bcast,
            index=pidx)
        if ck:
            # EXTRACT_TEXT_VERSION is part of the fingerprint: the
            # quads derive from the extractor's points, so a bumped
            # extractor must invalidate this stage too
            pairs = ck.stage(pairs, "building_overlay",
                             fingerprint_of(pages_snap, zones_snap,
                                            half_w, half_h,
                                            args.code_version,
                                            extract.EXTRACT_TEXT_VERSION))
        pairs.write.mode("overwrite") \
            .parquet(f"{args.out}/building_overlay")
        # counts from the JUST-WRITTEN pairs: without a checkpoint the
        # pairs plan is unmaterialized, and re-running the refine join
        # for a tiny aggregate would double the stage's dominant cost
        (spark.read.parquet(f"{args.out}/building_overlay")
         .groupBy("zone_id")
         .agg(F.count(F.lit(1)).alias("building_count"))
         .write.mode("overwrite")
         .parquet(f"{args.out}/building_overlay_counts"))

    if args.knn:
        # exact kNN (round-4 operator) under the same deployment:
        # build-once location index (persisted for the certification
        # rounds), deterministic hash-sampled query side, checkpointed
        # like every other stage. Unlike the lazy stages, knn_join
        # RUNS its certification loop when called, so the checkpoint
        # hit must be checked BEFORE building anything.
        from sparkspatial import knn as knnmod

        knn_fp = fingerprint_of(pages_snap, args.knn, args.knn_sample,
                                args.knn_res, args.code_version,
                                extract.EXTRACT_TEXT_VERSION)
        if ck and ck.is_complete("knn", knn_fp):
            # read-only + self-validating: never recomputes, and raises
            # rather than serve a fingerprint that changed under us
            nn = ck.load(spark, "knn", expected_fingerprint=knn_fp)
            kidx = None
        else:
            kidx = knnmod.build_knn_index(points, res=args.knn_res,
                                          k_max=args.knn).persist()
            queries = (points
                       .where(F.pmod(F.xxhash64("url"),
                                     F.lit(args.knn_sample)) == 0)
                       .selectExpr("url AS qid", "lat AS qlat",
                                   "lon AS qlon"))
            nn = knnmod.knn_join(points, queries, args.knn,
                                 res=args.knn_res, index=kidx)
            if ck:
                nn = ck.stage(nn, "knn", knn_fp)
        nn.write.mode("overwrite").parquet(f"{args.out}/knn")
        if kidx is not None:
            kidx.release()

    if ck:
        ck.lineage(spark).show(20, truncate=False)
    print("pipeline complete:", args.out)


if __name__ == "__main__":
    main()
