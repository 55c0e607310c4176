"""sparkspatial — a PySpark-native spatial-join + tiling engine.

A from-scratch re-creation of the analytical capabilities of
orbisgis/orbisanalysis (reference surveyed in SURVEY.md) as idiomatic
PySpark DataFrame operators over web-scale page corpora:

- hierarchical cell index (H3/S2-style, dependency-free)      -> cells
- vectorized WKB geometry kernel (numpy, no native deps)      -> geom
- page -> point extraction (Arrow-batched, byte-deterministic)-> extract
- zone builders (fromArea / fromPlace analogs)                -> zones
- cell-partitioned broadcast-or-shuffle spatial join          -> join
- kNN via k-ring cell expansion + distance re-rank            -> knn
- raster<->vector hierarchical tiling / grid indicators       -> tiles
- skew handling (cell histograms + salting)                   -> skew
- OSM-table transform parity (points/lines/polygons, pivot)   -> transform
- building/road/traffic indicator layers                      -> layers
- training-data ops (dedup incl. line-level, minhash/simhash,
  lang-id, PII scrub, decontamination, packing, BPE counts, ...)
                                                              -> text
- embedding similarity search + SemDeDup (IVF-bucketed)       -> sim
- connected components for dedup clusters (hash-min)          -> graph
- real multimodal codecs (PPM / WAV / Y4M) + features         -> multimodal
- temporal as-of join                                         -> temporal
- bucketed/partitioned storage layouts (shuffle-free joins)   -> bucketing
- per-partition lineage + resumable checkpoints               -> checkpoint

Pure Python, `spark-submit --py-files`-shippable: no JARs, no native
wheels beyond numpy/pandas/pyarrow (all standard on Spark clusters).
"""

__version__ = "2.0.0"  # round 2
