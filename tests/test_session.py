"""session.get_spark: the submitted master wins under spark-submit, and
the generated-class cache holds a round of the engine's operators."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import json, sys, time
sys.path.insert(0, {root!r})
from sparkspatial.session import get_spark

spark = get_spark(app="submit-master-test")
sc = spark.sparkContext
status = sc._jsc.sc().getExecutorMemoryStatus()  # driver included
deadline = time.monotonic() + 90
while status.size() < 3 and time.monotonic() < deadline:
    time.sleep(0.5)
    status = sc._jsc.sc().getExecutorMemoryStatus()
print(json.dumps({{"master": sc.master, "executors": status.size() - 1,
                  "rows": spark.range(1000).count(),
                  "codegen_cache": spark.conf.get(
                      "spark.sql.codegen.cache.maxEntries")}}))
spark.stop()
"""


def test_get_spark_honours_spark_submit_master(tmp_path):
    """Under ``spark-submit --master local-cluster[2,1,1024]`` get_spark
    keeps the submitted master, and both executors register (a
    hard-coded local[N] master would run everything in the driver).
    The builder's static settings still reach that session."""
    submit = shutil.which("spark-submit") or os.path.join(
        os.environ.get("SPARK_HOME", ""), "bin", "spark-submit")
    if not os.path.exists(submit):
        pytest.skip("spark-submit not found (PATH or SPARK_HOME)")
    script = tmp_path / "submit_master.py"
    script.write_text(SCRIPT.format(root=ROOT))
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    out = subprocess.run(
        [submit, "--master", "local-cluster[2,1,1024]",
         "--conf", "spark.ui.enabled=false", str(script)],
        capture_output=True, text=True, env=env, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {"master": "local-cluster[2,1,1024]", "executors": 2,
                   "rows": 1000, "codegen_cache": "2048"}


def test_repeated_round_compiles_nothing(spark, sf_dir):
    """A second round of the kNN, salted shuffle join, trigram and cosine
    top-k operators compiles no class: get_spark's codegen cache holds
    the round's working set, which is larger than Spark's default of
    100 entries (at that cap every class of the round recompiles)."""
    from pyspark.sql import functions as F

    from sparkspatial import extract, join, knn, sim, text, zones
    from tools.jobcount import compiles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pts = extract.geotag(docs.select(
        F.concat_ws("/", "source", F.col("doc_id").cast("string"))
        .alias("url"), F.col("source").alias("domain")),
        "domain", "url").persist()
    queries = (pts.where(F.xxhash64("url") % 8 == 0)
               .select(F.col("url").alias("qid"), F.col("lat").alias("qlat"),
                       F.col("lon").alias("qlon")).persist())
    zdf = zones.synthetic_zones(spark, n=48).persist()
    zidx = join.build_zone_index(zdf, res=10).persist()
    kidx = knn.build_knn_index(pts, res=10, k_max=5).persist()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb_q = emb.where("vec_id % 50 = 0").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    ops = [
        lambda: knn.knn_join(pts, queries, 5, res=10, index=kidx),
        lambda: join.spatial_join(pts, zdf, how="inner", broadcast=False,
                                  salt=True, res=10, index=zidx,
                                  hot_threshold=10, hot_relative=False),
        lambda: text.trigram_familiarity(docs),
        lambda: sim.cosine_topk(emb, emb_q, 5),
    ]

    def round_():
        for op in ops:
            df = op()
            df.agg(F.count(F.lit(1)), F.sum(F.xxhash64(*df.columns)
                                            .cast("decimal(38,0)"))).first()

    try:
        round_()
        before = compiles(spark)
        round_()
        assert compiles(spark) - before == 0
    finally:
        for df in (pts, queries, zdf):
            df.unpersist()
        zidx.release()
        kidx.release()
