"""Workload `query_mix`: build-once indexes and corpora probed by a
seeded mix of spatial query shapes and text-curation shapes.

  knn_small     knn.knn_join on a KnnIndex below
                knn.DENSITY_PROBE_MIN_LOCS (1M locations)
  join_shuffle  join.spatial_join, shuffle path, salt=True, over the
                hotspot-skewed geocode
  trigram       text.trigram_familiarity over pages-derived docs plus a
                seeded file of long documents
  cosine_topk   sim.cosine_topk over the sf embeddings

One round runs every shape once, in a seeded order; the closed loop
runs whole rounds, so every run measures every shape.
"""

from __future__ import annotations

import pyarrow.parquet as pq

from . import harness
from .harness import bucket, digest, in_bucket
from .inputs import _path, files_of

RES = 10
K = 10
N_KNN_QUERIES = 64
N_EMB_QUERIES = 40
ZONES = 64
POINT_FILES = 4          # of 16 files of points_small: ~37k points
DOC_FILES = 1            # of 64 files of docs: ~9.4k short docs
# salt the hot cells of this small corpus: the engine's default
# thresholds are sized for 10^7+ rows and would salt nothing here
HOT_THRESHOLD = 1000

SHAPES = ("knn_small", "join_shuffle", "trigram", "cosine_topk")
SPANS = {"knn_small": "knn.small", "join_shuffle": "join.shuffle",
         "trigram": "text.trigram", "cosine_topk": "sim.topk"}


def _sample_points(files: list[str], n: int, rng) -> list[tuple]:
    t = pq.read_table(files, columns=["url", "lat", "lon"])
    t = t.take(sorted(rng.sample(range(t.num_rows), n)))
    return list(zip(t.column("url").to_pylist(), t.column("lat").to_pylist(),
                    t.column("lon").to_pylist()))


class QueryMix:
    item = "operations"
    primary = SHAPES

    def __init__(self, run, seeded):
        self.run = run
        self.seeded = seeded

    def inputs(self) -> None:
        sd = self.seeded
        self.point_files = sd.perm(files_of(_path("points_small")))[:POINT_FILES]
        self.knn_queries = _sample_points(self.point_files, N_KNN_QUERIES, sd.rng)
        self.doc_files = (sd.pick(files_of(_path("docs")), DOC_FILES)
                          + sd.pick(files_of(_path("longdocs")), 1))
        self.emb_qids = sorted(sd.rng.sample(range(2000), N_EMB_QUERIES))
        self.order = sd.perm(list(SHAPES))

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from sparkspatial import join, knn, zones

        run, spark = self.run, self.run.spark
        # persisted: left unpersisted, the salted shuffle join failed
        # with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND (NOTES.md)
        self.queries = spark.createDataFrame(
            self.knn_queries, "qid string, qlat double, qlon double").persist()
        self.queries.count()
        self.pts = spark.read.parquet(*self.point_files).persist()
        self.pts.count()
        self.zdf = zones.synthetic_zones(spark, n=ZONES).persist()
        self.zdf.count()
        dt, self.zidx = run.timed(
            "join.index_build",
            lambda: join.build_zone_index(self.zdf, res=RES).persist())
        run.layer["join.index_build_s"] = dt
        dt, self.kidx = run.timed(
            "knn.index_build",
            lambda: knn.build_knn_index(self.pts, res=RES, k_max=K).persist())
        run.layer["knn.index_build_s"] = dt

        self.corpus = spark.read.parquet(*self.doc_files)
        self.emb = spark.read.parquet(f"{run.sf_dir}/embeddings.parquet")
        self.emb_queries = (self.emb.where(F.col("vec_id").isin(self.emb_qids))
                            .select(F.col("vec_id").alias("qid"),
                                    F.col("embedding").alias("qvec")))

    # -- the shapes ---------------------------------------------------
    def _op(self, shape: str, corpus=None):
        """fn(traced) -> keyed digest of the shape's output."""
        from sparkspatial import join, knn, sim, text
        from sparkspatial.session import fan_out

        corpus = corpus or self.corpus
        build, key = {
            "knn_small": (lambda: knn.knn_join(
                self.pts, self.queries, K, res=RES, index=self.kidx), ["qid"]),
            "join_shuffle": (lambda: join.spatial_join(
                self.pts, self.zdf, how="inner", broadcast=False, salt=True,
                res=RES, index=self.zidx, hot_threshold=HOT_THRESHOLD,
                hot_relative=False), ["url"]),
            "trigram": (lambda: text.trigram_familiarity(fan_out(corpus)),
                        ["doc_id"]),
            # the scores' last bits depend on summation order, so the
            # check leaves them out, as the repo's DuckDB oracle does
            "cosine_topk": (lambda: sim.cosine_topk(
                self.emb, self.emb_queries, K).select("qid", "vec_id", "rnk"),
                ["qid"]),
        }[shape]

        def fn(traced):
            with self.run.span(SPANS[shape], traced):
                return digest(build(), key)
        return fn

    def warm_shapes(self) -> dict:
        # trigram warms on the long-document file alone: the same plan
        # at a seventh of the characters
        warm = self.run.spark.read.parquet(self.doc_files[-1])
        return {s: (lambda f=self._op(s, warm): f(False)) for s in self.order}

    def groups(self):
        rnd = []
        for s in self.order:
            rnd.append((s, 1, self._op(s)))
            if self.run.trace and s == "join_shuffle":
                rnd.append(("salt_plan", 0, self._salt_plan))
        while True:
            yield rnd

    def _salt_plan(self, traced):
        """Traced runs only: how many cells the salted join salts, by the
        same public skew functions it calls, and its cell-join candidate
        rows (the base of join.match_ratio)."""
        from sparkspatial import join, skew

        if not traced:
            return None
        with self.run.span("skew.plan") as c:
            pts = join.point_cells(self.pts, [self.zidx.res])
            hist = skew.cell_histogram(pts, "cell", sample_fraction=0.01)
            c["salted"] = skew.plan_salts(
                hist, "cell", hot_threshold=HOT_THRESHOLD).count()
            c["candidates"] = pts.join(self.zidx.cover.select("cell"),
                                       "cell").count()
        return None

    # -- checks -------------------------------------------------------
    def verify(self) -> None:
        """Bucket 0 of each output against a reference computed on bucket
        0 of its inputs."""
        from sparkspatial import join, knn

        def check_knn(out):
            ref = knn.knn_bruteforce(self.pts, in_bucket(self.queries, ["qid"]), K)
            return bucket(out), digest(ref.select("qid", "url", "dist_m", "rnk"))

        def check_join(out):
            # refine="exact": Arrow/numpy point-in-polygon, no index
            ref = join.spatial_join(in_bucket(self.pts, ["url"]), self.zdf,
                                    how="inner", refine="exact",
                                    broadcast=True, res=RES)
            return bucket(out), digest(ref.select("url", "lat", "lon", "zone_id"))

        self.run.verify_shapes({"knn_small": check_knn,
                                "join_shuffle": check_join,
                                "trigram": self._check_trigram,
                                "cosine_topk": self._check_topk})

    def _check_trigram(self, out):
        """The trigram model spans the whole corpus, so the reference is a
        run over a sample corpus (hash bucket 0 of the docs): Spark's
        trigram_familiarity there against the DuckDB twin
        text.trigram_familiarity_duckdb_sql on the same documents."""
        import duckdb

        from sparkspatial import text

        sample = in_bucket(self.corpus, ["doc_id"])
        got = digest(text.trigram_familiarity(sample))
        con = duckdb.connect()
        try:
            con.register("corpus", sample.toPandas())
            pdf = con.execute(text.trigram_familiarity_duckdb_sql("corpus")).df()
        finally:
            con.close()
        return got, digest(self.run.spark.createDataFrame(
            pdf, "doc_id long, n_tri long, fam_sum long"))

    def _check_topk(self, out):
        """Bucket 0 of the queries against exact cosine in numpy."""
        import numpy as np

        rows = self.emb.select("vec_id", "embedding").collect()
        ids = np.array([r[0] for r in rows])
        m = np.array([r[1] for r in rows], dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        qids = [r[0] for r in in_bucket(self.emb_queries, ["qid"])
                .select("qid").collect()]
        want = []
        for qi in sorted(qids):
            cos = m @ m[ids == qi][0]
            order = sorted((i for i in range(len(ids)) if ids[i] != qi),
                           key=lambda i: (-cos[i], ids[i]))[:K]
            want += [(int(qi), int(ids[i]), r + 1) for r, i in enumerate(order)]
        ref = self.run.spark.createDataFrame(
            want or [(-1, -1, -1)], "qid long, vec_id long, rnk int") \
            .where("qid >= 0")
        return bucket(out), digest(ref)

    # -- per-layer metrics ---------------------------------------------
    def layers(self, tracer, stats) -> None:
        run, L, med = self.run, self.run.layer, harness.median

        def p50(name):
            return med([s.dur for s in tracer.named(name)])

        def shuffle_mb(groups):
            return sum(g.shuffle_write_b for g in groups) / 2 ** 20 / max(1, len(groups))

        L["knn.small_p50_s"] = p50("knn.small")
        kg = run.stats_of(stats, "knn.small")
        L["knn.jobs_per_call"] = sum(g.jobs for g in kg) / max(1, len(kg))

        L["join.shuffle_busy_s"] = p50("join.shuffle")
        sh = run.stats_of(stats, "join.shuffle")
        L["join.shuffle_mb"] = shuffle_mb(sh)
        skews = []
        for g in sh:
            # the reduce stage: the one that read the most shuffle bytes
            st = max(g.stages.values(), key=lambda x: x.shuffle_read, default=None)
            if st and st.task_s and med(st.task_s) > 0:
                skews.append(max(st.task_s) / med(st.task_s))
        L["skew.task_skew"] = med(skews)
        plans = tracer.named("skew.plan")
        L["skew.salted_cells"] = med([s.counts["salted"] for s in plans])
        outs = [r.out for r in run.ops("join_shuffle", traced=True) if not r.error]
        if outs and plans:
            L["join.match_ratio"] = (sum(n for _, n, _ in outs[0])
                                     / max(1, plans[0].counts["candidates"]))

        L["text.trigram_s"] = p50("text.trigram")
        L["text.shuffle_mb"] = shuffle_mb(run.stats_of(stats, "text.trigram"))
        L["sim.topk_s"] = p50("sim.topk")
        sg = run.stats_of(stats, "sim.topk")
        L["sim.python_s"] = sum(g.python_s for g in sg) / max(1, len(sg))
