"""Workload `pipeline_batches`: the flagship ingest in
tools/run_pipeline.py's stage shape, one batch of pages at a time.

cold batch:  extract.extract_points -> Checkpointer.stage("extract")
             -> join.spatial_join (broadcast, prebuilt ZoneIndex)
             -> Checkpointer.stage("join")
             -> tiles.assign_cells + parent_col rollup
resume pass: the same batch again against its completed checkpoint.

Each cold batch writes into an empty checkpoint directory. Batches are
seeded choices of files of bench.build_pages_cache's pages corpus.
"""

from __future__ import annotations

import itertools
import os

import pyarrow.parquet as pq

from . import harness
from .harness import bucket, digest, in_bucket
from .inputs import files_of

FILES_PER_BATCH = 4       # of the corpus's 64 files: ~37k pages a batch
N_BATCHES = 16
ZONES = 64
JOIN_RES = 10
TILE_RES = 9
ROLLUP_RES = 5


class PipelineBatches:
    item = "pages"
    primary = ("batch",)

    def __init__(self, run, seeded):
        self.run = run
        self.seeded = seeded
        self.ck_seq = itertools.count()

    def inputs(self) -> None:
        files = self.seeded.perm(files_of(self.run.pages_dir))
        self.batches = [files[i * FILES_PER_BATCH:(i + 1) * FILES_PER_BATCH]
                        for i in range(N_BATCHES)]
        # warm-up batch: the same plan over a single file
        self.batches.append(files[:1])
        self.pages = [sum(pq.ParquetFile(f).metadata.num_rows for f in b)
                      for b in self.batches]

    def setup(self) -> None:
        from sparkspatial import join, zones

        run = self.run
        self.zdf = zones.synthetic_zones(run.spark, n=ZONES).persist()
        dt, self.zidx = run.timed(
            "join.index_build",
            lambda: join.build_zone_index(self.zdf, res=JOIN_RES).persist())
        run.layer["join.index_build_s"] = dt

    # -- the operation ------------------------------------------------
    def _fp(self, b: int, stage: str) -> str:
        from sparkspatial.checkpoint import fingerprint_of
        return fingerprint_of(stage, *self.batches[b])

    def _rollup(self, matched):
        from pyspark.sql import functions as F

        from sparkspatial import tiles

        fine = (tiles.assign_cells(matched, res=TILE_RES)
                .groupBy("cell", "zone_id")
                .agg(F.count(F.lit(1)).alias("n")))
        coarse = (fine.withColumn("cell", tiles.parent_col(
                      "cell", TILE_RES, ROLLUP_RES))
                  .groupBy("cell", "zone_id").agg(F.sum("n").alias("n")))
        row = coarse.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64("cell", "zone_id", "n").cast("decimal(38,0)")),
            F.sum("n")).first()
        return int(row[0]), int(row[1] or 0), int(row[2] or 0)

    def _pass(self, b: int, ck_dir: str, traced: bool, cold: bool):
        """One pass over batch b; cold passes find ck_dir empty."""
        from sparkspatial import extract, join
        from sparkspatial.checkpoint import Checkpointer

        run, spark = self.run, self.run.spark
        ck = Checkpointer(ck_dir, spark)
        fp_e, fp_j = self._fp(b, "extract"), self._fp(b, "join")
        pages = spark.read.parquet(*self.batches[b])
        if not traced:
            pts = ck.stage(extract.extract_points(pages), "extract", fp_e)
            matched = ck.stage(
                join.spatial_join(pts, self.zdf, how="inner", broadcast=True,
                                  res=JOIN_RES, index=self.zidx),
                "join", fp_j)
            return b, ck_dir, self._rollup(matched)

        # traced: force each layer's output at its boundary, so the
        # checkpoint write times the write alone
        if cold:
            with run.span("extract") as c:
                p = extract.extract_points(pages).persist()
                c["points"] = p.count()
                c["pages"] = self.pages[b]
            with run.span("checkpoint.write"):
                pts = ck.stage(p, "extract", fp_e)
            with run.span("join.broadcast") as c:
                m = join.spatial_join(pts, self.zdf, how="inner",
                                      broadcast=True, res=JOIN_RES,
                                      index=self.zidx).persist()
                c["matched"] = m.count()
            with run.span("checkpoint.write"):
                matched = ck.stage(m, "join", fp_j)
            p.unpersist()
            m.unpersist()
        else:
            with run.span("checkpoint.resume") as c:
                c["hits"] = (ck.is_complete("extract", fp_e)
                             + ck.is_complete("join", fp_j))
                c["calls"] = 2
                pts = ck.stage(extract.extract_points(pages), "extract", fp_e)
                matched = ck.stage(
                    join.spatial_join(pts, self.zdf, how="inner",
                                      broadcast=True, res=JOIN_RES,
                                      index=self.zidx), "join", fp_j)
        with run.span("tiles"):
            return b, ck_dir, self._rollup(matched)

    def _group(self, b: int):
        # the untraced and traced twins of a group each get their own
        # empty checkpoint directory
        dirs = {t: str(self.run.work / "ck" / str(next(self.ck_seq)))
                for t in (False, True)}

        def cold(traced):
            with self.run.span("batch", traced):
                return self._pass(b, dirs[traced], traced, cold=True)

        def resume(traced):
            with self.run.span("resume", traced):
                return self._pass(b, dirs[traced], traced, cold=False)

        def candidates(traced):
            if traced:
                self._candidates(dirs[True])

        group = [("batch", self.pages[b], cold), ("resume", 0, resume)]
        if self.run.trace:
            group.append(("candidates", 0, candidates))
        return group

    def warm_shapes(self) -> dict:
        return {"batch+resume":
                lambda: [fn(False) for _, _, fn in self._group(N_BATCHES)]}

    def groups(self):
        for i in itertools.count():
            yield self._group(i % N_BATCHES)

    def _candidates(self, ck_dir: str) -> None:
        """Traced runs only, outside the batch's span: the cell-join
        candidate rows of a batch (the base of join.match_ratio) and the
        bytes its checkpoint wrote."""
        from sparkspatial import join
        from sparkspatial.checkpoint import Checkpointer

        ck = Checkpointer(ck_dir, self.run.spark)
        with self.run.span("join.candidates") as c:
            pts = join.point_cells(ck.load(self.run.spark, "extract"),
                                   [self.zidx.res])
            c["candidates"] = pts.join(self.zidx.cover.select("cell"),
                                       "cell").count()
            c["matched"] = ck.load(self.run.spark, "join").count()
            c["write_mb"] = sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(ck_dir) for f in fs) / 2 ** 20

    # -- checks -------------------------------------------------------
    def verify(self) -> None:
        """Outside the timed region: resume output == cold output, rollup
        totals == matched rows, and the join's rows on a hash bucket of
        the points == refine="exact" (Arrow/numpy point-in-polygon)."""
        from pyspark.sql import functions as F

        from sparkspatial import join
        from sparkspatial.checkpoint import Checkpointer

        run, spark = self.run, self.run.spark
        cold = [c for c in run.ops("batch", traced=None) if not c.error]
        resume = {r.out[1]: r for r in run.ops("resume", traced=None)
                  if not r.error}
        first: dict[int, tuple] = {}     # batch -> (ck_dir, rollup)
        for c in cold:
            b, ck_dir, out = c.out
            r = resume.get(ck_dir)
            if r is not None and r.out[2] != out:
                run.fail_op(r, f"resume {r.out[2]} != cold {out}")
            if first.setdefault(b, (ck_dir, out))[1] != out:
                run.fail_op(c, f"batch {b}: {out} != {first[b][1]}")

        cols = ["url", "lat", "lon", "zone_id"]
        got, pts = {}, []
        for b, (ck_dir, (_, _, total)) in first.items():
            ck = Checkpointer(ck_dir, spark)
            buckets = digest(ck.load(spark, "join").select(*cols), ["url"])
            if sum(n for _, n, _ in buckets) != total:
                for c in cold:
                    if c.out[0] == b:
                        run.fail_op(c, f"batch {b}: rollup total {total} "
                                       f"!= matched rows")
            got[b] = bucket(buckets)
            pts.append(in_bucket(ck.load(spark, "extract"), ["url"])
                       .withColumn("b", F.lit(b)))
        if not pts:
            return
        allpts = pts[0]
        for df in pts[1:]:
            allpts = allpts.unionByName(df)
        exact = join.spatial_join(allpts, self.zdf, how="inner",
                                  refine="exact", broadcast=True,
                                  res=JOIN_RES)
        want = {r[0]: (int(r[1]), int(r[2] or 0)) for r in exact.groupBy("b").agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))).collect()}
        for b, d in got.items():
            if d != want.get(b, (0, 0)):
                for c in cold:
                    if c.out[0] == b:
                        run.fail_op(c, f"batch {b}: join {d} != exact "
                                       f"{want.get(b)}")

    # -- per-layer metrics ---------------------------------------------
    def layers(self, tracer, stats) -> None:
        L = self.run.layer
        med = harness.median
        ex = tracer.named("extract")
        L["extract.busy_s"] = med([tracer.self_time(s) for s in ex])
        L["extract.points_per_page"] = (
            sum(s.counts["points"] for s in ex)
            / max(1, sum(s.counts["pages"] for s in ex)))
        L["join.broadcast_busy_s"] = med(
            [tracer.self_time(s) for s in tracer.named("join.broadcast")])
        cand = tracer.named("join.candidates")
        L["join.match_ratio"] = (sum(s.counts["matched"] for s in cand)
                                 / max(1, sum(s.counts["candidates"] for s in cand)))
        L["tiles.busy_s"] = med([s.dur for s in tracer.named("tiles")])
        writes = {}
        for s in tracer.named("checkpoint.write"):
            writes[s.run] = writes.get(s.run, 0.0) + s.dur
        L["checkpoint.write_s"] = med(list(writes.values()))
        L["checkpoint.write_mb"] = med([s.counts["write_mb"] for s in cand])
        L["checkpoint.resume_s"] = med([s.dur for s in tracer.named("resume")])
        res = tracer.named("checkpoint.resume")
        L["checkpoint.hit_ratio"] = (sum(s.counts["hits"] for s in res)
                                     / max(1, sum(s.counts["calls"] for s in res)))
