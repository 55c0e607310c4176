"""Benchmark inputs: seed-independent base corpora derived from the sf
tables (built once per checkout, outside any timed region) and the
seeded choices each run makes from them.

Every base corpus is split into equal files so that a seeded choice of
files gives every seed the same input size with different content.
"""

from __future__ import annotations

import os
import random
import shutil
from pathlib import Path

from .harness import ROOT

CACHE = ROOT / ".perfbench_cache"

POINT_FILES = 16          # files per point corpus
DOC_FILES = 64            # files of pages-derived docs
LONG_FILES = 8            # files of long documents
LONG_PER_FILE = 48        # long documents per file
LONG_LINES = 64           # page-text lines per long document


def _path(name: str) -> Path:
    return CACHE / f"{name}.parquet"


def pages_dir(sf_dir: str) -> str:
    """Where bench.build_pages_cache keeps the x1 pages corpus."""
    import bench
    tag = sf_dir.strip("/").replace("/", "_")
    return os.path.join(bench.CACHE, f"pages_{tag}.parquet")


def files_of(path) -> list[str]:
    return sorted(str(Path(path) / f) for f in os.listdir(path)
                  if f.endswith(".parquet"))


def ready(sf_dir: str) -> bool:
    return (Path(pages_dir(sf_dir)) / "_SUCCESS").exists() and all(
        (_path(n) / "_SUCCESS").exists()
        for n in ("points_small", "docs", "longdocs"))


def _write(df, name: str, n_files: int) -> None:
    """Write atomically: a torn build never looks complete."""
    final, tmp = _path(name), _path(name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    df.repartition(n_files).write.mode("overwrite").parquet(str(tmp))
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)


def build(spark, sf_dir: str) -> None:
    """Build every missing base corpus (the only writes of inputs)."""
    import bench
    from pyspark.sql import functions as F

    from sparkspatial import extract

    pages = spark.read.parquet(bench.build_pages_cache(spark, sf_dir))
    CACHE.mkdir(exist_ok=True)

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    def points(df):
        sup = F.col("l_suppkey").cast("string")
        named = df.select(
            F.concat(F.lit("sup"), sup, F.lit(".example")).alias("domain"),
            F.concat(F.lit("sup"), sup, F.lit(".example/"),
                     F.col("l_orderkey").cast("string"), F.lit("-"),
                     F.col("l_linenumber").cast("string"), F.lit("-"),
                     F.col("copy").cast("string")).alias("url"))
        return extract.geotag(named, "domain", "url").select("url", "lat", "lon")

    if not (_path("points_small") / "_SUCCESS").exists():
        # a quarter of lineitem: ~150k points in 16 files
        _write(points(li.where("pmod(xxhash64(l_orderkey, l_linenumber), 4) = 0")
                      .withColumn("copy", F.lit(0))), "points_small", POINT_FILES)
    if not (_path("docs") / "_SUCCESS").exists():
        _write(pages.select(
            F.xxhash64("url").alias("doc_id"),
            F.concat(F.lit("nav home about\n"), F.col("text"),
                     F.lit("\ncopyright footer")).alias("text")),
            "docs", DOC_FILES)
    if not (_path("longdocs") / "_SUCCESS").exists():
        # long documents: LONG_LINES page texts each, so trigram and
        # shingle work per document is ~50x that of a page
        n = LONG_FILES * LONG_PER_FILE
        lines = (pages.select(F.xxhash64("url", F.lit(7)).alias("h"), "text")
                 .where(F.pmod("h", F.lit(24)) == 0)
                 .withColumn("d", F.pmod(F.xxhash64("text", "h"), F.lit(n)))
                 .groupBy("d")
                 .agg(F.slice(F.array_sort(F.collect_list(
                     F.struct("h", "text"))), 1, LONG_LINES).alias("ls")))
        _write(lines.select(
            (F.col("d") + F.lit(1 << 40)).alias("doc_id"),
            F.array_join(F.expr("transform(ls, x -> x.text)"), "\n")
            .alias("text")), "longdocs", LONG_FILES)


# ------------------------------------------------------------ seeded

class Seeded:
    """The run's seeded choices over the base corpora."""

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = random.Random(seed)

    def pick(self, files: list[str], k: int) -> list[str]:
        return self.rng.sample(files, k)

    def perm(self, files: list[str]) -> list[str]:
        out = list(files)
        self.rng.shuffle(out)
        return out
