"""Tests: multimodal PPM/WAV/Y4M decoders + resumable checkpoints."""

from __future__ import annotations

import os
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkspatial import multimodal as mm
from sparkspatial.checkpoint import Checkpointer, fingerprint_of


def test_checkpoint_resume(spark, tmp_path):
    ck = Checkpointer(str(tmp_path))
    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    fp = fingerprint_of("stage1", "v1")
    out1 = ck.stage(df, "stage1", fp)
    assert out1.count() == 1000
    assert set(out1.columns) == {"id", "v"}

    # second run resumes from the materialization (no recompute):
    # feed a PO~ISONED plan that would fail if executed
    bad = spark.range(10).withColumn(
        "v", F.expr("assert_true(false)").cast("long"))
    out2 = ck.stage(bad, "stage1", fp)
    assert out2.count() == 1000  # served from checkpoint, plan never ran

    # changed fingerprint -> recompute
    out3 = ck.stage(df.limit(10), "stage1", fingerprint_of("stage1", "v2"))
    assert out3.count() == 10

    lin = ck.lineage(spark, "stage1").collect()
    assert len(lin) >= 1
    assert all(r.rows_out >= 0 and r.wall_ms >= 0 for r in lin)
    assert {r.stage for r in lin} == {"stage1"}


def test_checkpoint_load_readonly(spark, tmp_path):
    """load() reads a completed stage WITHOUT a recompute path:
    unlike stage(), it can never materialize a caller's dummy frame
    under the real fingerprint if the manifest vanishes between the
    outer is_complete() check and the read (review-caught r4). Since
    r5 it is also SELF-VALIDATING (r4 ADVICE): no valid manifest, or
    a fingerprint mismatch, raises instead of silently serving stale
    or partially-written data."""
    from sparkspatial.checkpoint import StaleCheckpointError

    ck = Checkpointer(str(tmp_path))
    fp = fingerprint_of("ro", "v1")
    ck.stage(spark.range(7).withColumn("v", F.col("id") + 1), "ro", fp)
    out = ck.load(spark, "ro", expected_fingerprint=fp)
    assert out.count() == 7
    assert set(out.columns) == {"id", "v"}  # _pid stripped
    # a caller expecting a DIFFERENT fingerprint is told loudly
    with pytest.raises(StaleCheckpointError):
        ck.load(spark, "ro", expected_fingerprint=fingerprint_of("ro", "v2"))
    # with the manifest gone, load() raises rather than reading data
    # of unknown provenance (and still writes NOTHING)
    ck.invalidate("ro")
    with pytest.raises(StaleCheckpointError):
        ck.load(spark, "ro")
    assert not ck.is_complete("ro", fp)


def test_checkpoint_rejects_uri_before_creating_anything(tmp_path,
                                                         monkeypatch):
    """A URI base path raises instead of making a local `s3:/...` tree
    that would hold the manifests while Spark writes the data to the
    real store."""
    monkeypatch.chdir(tmp_path)
    for uri in ("s3://bucket/_ck", "file:///tmp/_ck"):
        with pytest.raises(ValueError, match="POSIX path"):
            Checkpointer(uri)
    assert os.listdir(tmp_path) == []


def test_checkpoint_invalidate(spark, tmp_path):
    ck = Checkpointer(str(tmp_path))
    fp = fingerprint_of("x")
    ck.stage(spark.range(5), "s", fp)
    assert ck.is_complete("s", fp)
    ck.invalidate("s")
    assert not ck.is_complete("s", fp)


def test_checkpoint_torn_manifest_never_validates(spark, tmp_path):
    """Crash-mid-write simulation (r4 verdict item 8): every torn
    prefix of a real manifest must fail validation — is_complete says
    False, load raises, and stage() recomputes rather than serving
    the orphaned data."""
    import os

    from sparkspatial.checkpoint import StaleCheckpointError

    ck = Checkpointer(str(tmp_path))
    fp = fingerprint_of("t", "v1")
    ck.stage(spark.range(9), "t", fp)
    manifest = os.path.join(str(tmp_path), "t", "_MANIFEST.json")
    full = open(manifest, "rb").read()
    for cut in range(len(full)):      # every possible crash point
        with open(manifest, "wb") as f:
            f.write(full[:cut])
        assert not ck.is_complete("t", fp), cut
        with pytest.raises(StaleCheckpointError):
            ck.load(spark, "t", expected_fingerprint=fp)
    # a recovering run recomputes and republishes atomically
    out = ck.stage(spark.range(9), "t", fp)
    assert out.count() == 9 and ck.is_complete("t", fp)


def test_checkpoint_concurrent_writers_stay_consistent(spark, tmp_path):
    """Two racing writers on one stage (r4 verdict item 8): attempts
    write to ATTEMPT-UNIQUE directories and publish via atomic
    rename, so whichever manifest wins references data that no other
    attempt ever touched — a reader can never observe manifest A with
    data torn by attempt B. Simulated at the dangerous interleave:
    A materializes, B materializes AND publishes, then A publishes
    (the in-process analog of two spark-submit jobs racing)."""
    import json
    import os

    ck_a = Checkpointer(str(tmp_path))
    ck_b = Checkpointer(str(tmp_path))
    fp_a = fingerprint_of("race", "writer-a")
    fp_b = fingerprint_of("race", "writer-b")

    # interleave: B commits BETWEEN A's materialization and A's
    # publish. stage() is atomic per call, so drive the interleave by
    # ordering the calls: B's full commit lands first, then A's —
    # A's publish must not corrupt B's data dirs, and vice versa.
    out_b = ck_b.stage(spark.range(100).withColumn("w", F.lit("b")),
                       "race", fp_b)
    assert out_b.count() == 100
    m_b = json.load(open(os.path.join(str(tmp_path), "race",
                                      "_MANIFEST.json")))
    out_a = ck_a.stage(spark.range(50).withColumn("w", F.lit("a")),
                       "race", fp_a)
    assert out_a.count() == 50
    m_a = json.load(open(os.path.join(str(tmp_path), "race",
                                      "_MANIFEST.json")))
    # last writer won the pointer; its directories are disjoint from
    # the loser's, and BOTH data dirs are still intact on disk
    assert m_a["fingerprint"] == fp_a
    assert m_a["data_dir"] != m_b["data_dir"]
    assert spark.read.parquet(os.path.join(
        str(tmp_path), "race", m_b["data_dir"])).count() == 100
    loaded = ck_b.load(spark, "race", expected_fingerprint=fp_a)
    assert loaded.count() == 50
    # lineage resolves through the winning manifest only
    lin = ck_a.lineage(spark, "race").collect()
    assert {r.fingerprint for r in lin} == {fp_a}
    # vacuum inside the retention window is a no-op (an unreferenced
    # dir may be an in-flight attempt about to publish, r5 review);
    # with the window waived it drops the lost attempt's directories
    # and keeps the winner's
    assert ck_a.vacuum("race") == 0
    removed = ck_a.vacuum("race", min_age_s=0)
    assert removed == 2  # B's data- and lineage- dirs
    assert ck_a.load(spark, "race", expected_fingerprint=fp_a) \
        .count() == 50


def test_checkpoint_vacuum_respects_inflight_marker(spark, tmp_path):
    """A LIVE writer's attempt is protected by its .inflight marker
    even when the attempt DIRECTORY's mtime is old (parquet
    materialization never touches the dir's own mtime — r5 review:
    age alone cannot prove an attempt dead); once the marker itself
    ages past the window (crashed writer), the attempt collects."""
    import os
    import time

    ck = Checkpointer(str(tmp_path))
    ck.stage(spark.range(3), "s", fingerprint_of("s", "v1"))
    root = os.path.join(str(tmp_path), "s")
    old = time.time() - 7200
    # simulate an in-flight attempt whose write started 2h ago
    stale_dir = os.path.join(root, "data-deadbeefcafe")
    os.makedirs(stale_dir)
    os.utime(stale_dir, (old, old))
    marker = os.path.join(root, ".inflight-deadbeefcafe")
    with open(marker, "w"):
        pass                          # fresh marker: writer alive
    assert ck.vacuum("s", min_age_s=3600) == 0
    assert os.path.isdir(stale_dir)
    # a marker naming a LIVE pid protects at ANY age (r5 review: a
    # 2h materialization outlives the retention window, and the
    # blocking write cannot heartbeat the marker's mtime)
    with open(marker, "w") as f:
        f.write(str(os.getpid()))
    os.utime(marker, (old, old))
    assert ck.vacuum("s", min_age_s=3600) == 0
    assert os.path.isdir(stale_dir)
    # the writer crashed 2h ago (dead pid, marker aged out) ->
    # collected. pid 1 is init: alive but never a writer we own —
    # use an impossible pid instead
    # pid recycling (r5 second review): a marker naming a LIVE pid
    # with a DIFFERENT /proc starttime is not our writer — the age
    # rule applies and the stale attempt collects
    from sparkspatial.checkpoint import _proc_starttime
    if _proc_starttime(os.getpid()) is not None:      # Linux only
        os.makedirs(stale_dir, exist_ok=True)
        os.utime(stale_dir, (old, old))
        with open(marker, "w") as f:
            f.write(f"{os.getpid()}:1")               # wrong starttime
        os.utime(marker, (old, old))
        assert ck.vacuum("s", min_age_s=3600) == 1
        assert not os.path.isdir(stale_dir)
    # the writer crashed 2h ago (dead pid, marker aged out) ->
    # collected
    os.makedirs(stale_dir, exist_ok=True)
    os.utime(stale_dir, (old, old))
    with open(marker, "w") as f:
        f.write("999999999")
    os.utime(marker, (old, old))
    assert ck.vacuum("s", min_age_s=3600) == 1
    assert not os.path.isdir(stale_dir)
    assert not os.path.exists(marker)  # orphan marker swept too


def test_checkpoint_failed_write_drops_inflight_marker(spark, tmp_path):
    """A failed materialization must NOT leave its .inflight marker:
    nothing can publish the attempt after the exception, and in a
    long-lived driver the writer's own still-alive pid would
    otherwise protect the partial directories from vacuum for the
    process's entire lifetime (r5 second review)."""
    import os

    from pyspark.sql import functions as F

    ck = Checkpointer(str(tmp_path))
    bad = spark.range(5).withColumn(
        "x", F.assert_true(F.col("id") < 2).cast("string"))
    with pytest.raises(Exception):
        ck.stage(bad, "boom", fingerprint_of("boom", "v1"))
    root = os.path.join(str(tmp_path), "boom")
    leftover = [d for d in os.listdir(root)] if os.path.isdir(root) else []
    assert not any(d.startswith(".inflight-") for d in leftover), leftover
    # with the marker gone, the partial attempt ages out normally
    old = __import__("time").time() - 7200
    for d in leftover:
        os.utime(os.path.join(root, d), (old, old))
    ck.vacuum("boom", min_age_s=3600)
    assert not any(d.startswith("data-")
                   for d in (os.listdir(root)
                             if os.path.isdir(root) else []))


def test_checkpoint_snapshot_id_keys_resume_to_input(spark, tmp_path):
    """Input-snapshot fingerprints (r4 verdict item 8): a corpus
    APPEND changes snapshot_id_of(corpus) and so invalidates exactly
    the stages fingerprinted on it; a stage reading an untouched
    input keeps its lineage rows byte-identical across the re-run."""
    import os

    from sparkspatial.checkpoint import snapshot_id_of

    corpus = tmp_path / "corpus"
    other = tmp_path / "other"
    spark.range(40).write.parquet(str(corpus))
    spark.range(7).write.parquet(str(other))
    snap_c0, snap_o0 = snapshot_id_of(str(corpus)), \
        snapshot_id_of(str(other))
    assert snapshot_id_of(str(corpus)) == snap_c0  # deterministic

    ck = Checkpointer(str(tmp_path / "ck"))
    ck.stage(spark.read.parquet(str(corpus)), "scan_corpus",
             fingerprint_of(snap_c0, "v1"))
    ck.stage(spark.read.parquet(str(other)), "scan_other",
             fingerprint_of(snap_o0, "v1"))
    lin_other_before = sorted(
        map(tuple, ck.lineage(spark, "scan_other").collect()))

    # append one file to the corpus (new parquet part): snapshot moves
    spark.range(40, 55).write.mode("append").parquet(str(corpus))
    snap_c1 = snapshot_id_of(str(corpus))
    assert snap_c1 != snap_c0
    assert snapshot_id_of(str(other)) == snap_o0  # untouched input

    # corpus stage invalidated exactly; other stage still resumable
    assert not ck.is_complete("scan_corpus", fingerprint_of(snap_c1, "v1"))
    assert ck.is_complete("scan_corpus", fingerprint_of(snap_c0, "v1"))
    assert ck.is_complete("scan_other", fingerprint_of(snap_o0, "v1"))

    out = ck.stage(spark.read.parquet(str(corpus)), "scan_corpus",
                   fingerprint_of(snap_c1, "v1"))
    assert out.count() == 55
    # the untouched stage's lineage rows are unchanged by the re-run
    manifest_mtime = os.path.getmtime(
        tmp_path / "ck" / "scan_other" / "_MANIFEST.json")
    ck.stage(spark.read.parquet(str(other)), "scan_other",
             fingerprint_of(snap_o0, "v1"))  # resume, no rewrite
    assert os.path.getmtime(
        tmp_path / "ck" / "scan_other" / "_MANIFEST.json") == manifest_mtime
    lin_other_after = sorted(
        map(tuple, ck.lineage(spark, "scan_other").collect()))
    assert lin_other_after == lin_other_before


def _count_jobs(spark, group: str, fn):
    """(Spark jobs `fn` ran, its result), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_checkpoint_stage_job_ceilings(spark, tmp_path):
    """A stage write is one Spark job (the data write): lineage comes
    from the committed files' footers and the returned frame reads with
    the manifest's schema. A resume and a load() run none (4 / 1 / 1
    when lineage re-scanned the data and reads inferred the schema)."""
    ck = Checkpointer(str(tmp_path))
    df = spark.range(0, 800, 1, 8).withColumn("v", F.col("id") * 3)
    fp = fingerprint_of("jobs", "v1")
    n_cold, out = _count_jobs(spark, "ck-cold",
                              lambda: ck.stage(df, "jobs", fp))
    n_resume, again = _count_jobs(spark, "ck-resume",
                                  lambda: ck.stage(df, "jobs", fp))
    n_load, loaded = _count_jobs(spark, "ck-load",
                                 lambda: ck.load(spark, "jobs", fp))
    assert n_cold <= 1 and n_resume == 0 and n_load == 0, \
        (n_cold, n_resume, n_load)
    for frame in (out, again, loaded):
        assert frame.schema.simpleString() == df.schema.simpleString()
        assert frame.count() == 800


def _nested(spark):
    """A struct holding a leaf also named `_pid` (path `s._pid`, which
    must not be mistaken for the top-level column) and an array."""
    return (spark.range(0, 300, 1, 5)
            .withColumn("s", F.struct(F.col("id").alias("_pid"),
                                      F.lit("x").alias("tag")))
            .withColumn("arr", F.array(F.col("id"), F.col("id") + 1)))


@pytest.mark.parametrize("case", ["eight", "empty", "many_files", "nested"])
def test_checkpoint_footer_lineage_equals_data_scan(spark, tmp_path, case):
    """rows_out per partition_id, taken from the parquet footers, equals
    a groupBy("_pid").count() over the committed data directory, and
    the rows sum to load().count()."""
    import json

    import pyarrow.parquet as pq

    from sparkspatial.checkpoint import _LINEAGE_ARROW

    frames = {
        "eight": lambda: spark.range(0, 1000, 1, 8),
        "empty": lambda: spark.range(0, 0, 1, 3).withColumn("v", F.lit(1)),
        "many_files": lambda: spark.range(0, 95, 1, 3),
        "nested": lambda: _nested(spark),
    }
    ck = Checkpointer(str(tmp_path))
    fp = fingerprint_of("scan", case)
    key = "spark.sql.files.maxRecordsPerFile"
    old = spark.conf.get(key)
    if case == "many_files":
        spark.conf.set(key, "10")
    try:
        ck.stage(frames[case](), "scan", fp)
    finally:
        spark.conf.set(key, old)
    m = json.load(open(tmp_path / "scan" / "_MANIFEST.json"))
    data = str(tmp_path / "scan" / m["data_dir"])
    if case == "many_files":         # one partition spans several files
        parts = [f for f in os.listdir(data) if f.startswith("part-")]
        assert len(parts) > 3, parts

    want = {r["_pid"]: r["count"] for r in
            spark.read.parquet(data).groupBy("_pid").count().collect()}
    lin = ck.lineage(spark, "scan").collect()
    got = {r.partition_id: r.rows_out for r in lin}
    assert len(lin) == len(got) and got == want
    assert {(r.stage, r.fingerprint) for r in lin} <= {("scan", fp)}
    assert sum(got.values()) == ck.load(spark, "scan", fp).count()
    if case == "empty":
        assert lin == []
    lineage_dir = tmp_path / "scan" / m["lineage_dir"]
    for f in os.listdir(lineage_dir):
        if f.endswith(".parquet"):
            assert pq.read_schema(lineage_dir / f) == _LINEAGE_ARROW


def test_checkpoint_footer_counts_fall_back_to_column_read(tmp_path):
    """Files without `_pid` statistics, or whose row group spans
    several values, are counted by reading their `_pid` column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkspatial.checkpoint import _rows_per_pid

    t = pa.table({"_pid": pa.array([2, 2, 5], pa.int32()),
                  "v": [1, 2, 3]})
    pq.write_table(t, tmp_path / "part-00000.parquet",
                   write_statistics=False)
    pq.write_table(t, tmp_path / "part-00001.parquet")   # min 2 != max 5
    pq.write_table(t.slice(0, 2), tmp_path / "part-00002.parquet")
    pq.write_table(t, tmp_path / "_ignored.parquet")
    assert _rows_per_pid(str(tmp_path)) == {2: 6, 5: 2}


def test_checkpoint_manifest_without_schema_loads_by_inference(spark,
                                                               tmp_path):
    """A manifest written before the schema was recorded still loads
    and resumes, through schema inference."""
    import json

    ck = Checkpointer(str(tmp_path))
    fp = fingerprint_of("old", "v1")
    df = _nested(spark)
    ck.stage(df, "old", fp)
    path = tmp_path / "old" / "_MANIFEST.json"
    m = json.load(open(path))
    del m["schema"]
    path.write_text(json.dumps(m))
    for out in (ck.load(spark, "old", fp), ck.stage(df, "old", fp)):
        assert out.columns == df.columns
        assert out.count() == 300
        assert out.agg(F.sum("s._pid")).first()[0] == sum(range(300))


# ------------------------------------------------------------ PPM codec

def test_ppm_roundtrip_and_meta(spark):
    imgs = []
    for i, (w, h) in enumerate([(16, 9), (3, 5), (64, 64)]):
        arr = ((np.arange(h * w * 3) * (i + 7)) % 256) \
            .astype(np.uint8).reshape(h, w, 3)
        imgs.append((f"img{i}", mm.encode_ppm(arr)))
    imgs.append(("bad", b"not a ppm at all"))
    df = spark.createDataFrame(imgs, "url string, payload binary")
    meta = {r.url: (r.width, r.height, r.valid)
            for r in mm.image_features(df).collect()}
    assert meta["img0"] == (16, 9, True)
    assert meta["img1"] == (3, 5, True)
    assert meta["bad"] == (0, 0, False)


def test_ppm_image_features(spark):
    solid = np.full((4, 4, 3), 200, dtype=np.uint8)
    dark = np.zeros((2, 2, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [("solid", mm.encode_ppm(solid)), ("dark", mm.encode_ppm(dark)),
         ("junk", b"\x00\x01")],
        "url string, payload binary")
    got = {r.url: r for r in mm.image_features(df).collect()}
    assert got["solid"].mean_r == 200.0
    assert abs(got["solid"].mean_luma - 200.0) < 1e-9
    assert list(got["solid"].luma_hist)[6] == 16  # 200/32 = bin 6
    assert got["dark"].mean_luma == 0.0
    assert not got["junk"].valid


# ------------------------------------------------------------ WAV codec

def test_wav_roundtrip_and_features(spark):
    rng = np.random.RandomState(3)
    mono = (rng.randint(-3000, 3000, 500)).astype(np.int16)
    stereo = np.stack([mono, -mono], axis=1)
    rows = [("mono", mm.encode_wav(mono, 8000)),
            ("stereo", mm.encode_wav(stereo, 44100, 2)),
            ("junk", b"RIFFxxxx"), ("empty", b""),
            # sample rate 0 would divide by zero in duration_s
            ("rate0", mm.encode_wav(mono, 0))]
    df = spark.createDataFrame(rows, "url string, payload binary")
    got = {r.url: r for r in mm.audio_features(df).collect()}

    assert got["mono"].sample_rate == 8000
    assert got["mono"].n_samples == 500
    assert got["mono"].n_channels == 1
    x = mono.astype(np.float64)
    assert abs(got["mono"].rms - np.sqrt((x ** 2).mean())) < 1e-9
    assert got["mono"].peak == int(np.abs(mono).max())
    assert got["stereo"].n_channels == 2
    assert got["stereo"].sample_rate == 44100
    assert not got["junk"].valid and not got["empty"].valid
    assert not got["rate0"].valid


def test_wav_chunk_walker_skips_unknown_chunks():
    s = np.array([7, -7, 7], dtype=np.int16)
    b = mm.encode_wav(s, 8000)
    # splice a LIST chunk (odd size -> word-align padding) before fmt
    extra = struct.pack("<4sI", b"LIST", 5) + b"INFOx" + b"\x00"
    patched = b[:12] + extra + b[12:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    dec = mm.decode_wav(patched)
    assert dec is not None
    pcm, sr = dec
    assert sr == 8000 and np.array_equal(pcm[:, 0], s)


# ------------------------------------------------------------ Y4M codec

def test_y4m_roundtrip_and_frame_sampling(spark):
    fr = (np.arange(5 * 6 * 8) % 256).astype(np.uint8).reshape(5, 6, 8)
    # non-positive sizes: one used to yield a bogus frame, the other
    # raised inside the UDF and failed the whole query
    neg_w = b"YUV4MPEG2 W-4 H2 F30:1 C420jpeg\nFRAME\n" + bytes(64)
    neg_wh = b"YUV4MPEG2 W-4 H-2 F30:1 C420jpeg\nFRAME\n" + bytes(64)
    df = spark.createDataFrame(
        [("clip", mm.encode_y4m(fr, 30)), ("junk", b"nope"),
         ("neg_w", neg_w), ("neg_wh", neg_wh)],
        "url string, payload binary")
    got = mm.sample_frames_y4m(df, every_n=2).collect()
    by_idx = {r.frame_idx: r for r in got if r.url == "clip"}
    assert set(by_idx) == {0, 2, 4}
    assert by_idx[0].width == 8 and by_idx[0].height == 6
    for i, r in by_idx.items():
        # frame payload is a PPM of the gray luma plane, pixel-exact
        arr = mm.decode_ppm(bytes(r.frame))
        assert np.array_equal(arr[..., 0], fr[i])
        assert abs(r.mean_luma - fr[i].astype(np.float64).mean()) < 1e-9
    assert {r.url for r in got} == {"clip"}


def test_codecs_never_crash_or_alloc_bomb():
    """Adversarial-payload contract for the PPM, WAV and Y4M decoders:
    3,000 fuzz trials (random bytes, truncations, byte flips of valid
    payloads) return None-or-value without raising, and headers
    declaring ~2^31 pixels or a 2 GB data chunk are rejected or
    bounded by the payload length before allocating."""
    rng = np.random.RandomState(0)
    img = rng.randint(0, 256, (6, 8, 3)).astype(np.uint8)
    srcs = (mm.encode_ppm(img),
            mm.encode_wav(rng.randint(-3000, 3000, 64).astype(np.int16),
                          8000),
            mm.encode_y4m(np.stack([img[..., 0]] * 3), 25))
    decoders = (mm.decode_ppm, mm.decode_wav, mm.decode_y4m)
    for trial in range(3000):
        src = srcs[trial % 3]
        mode = trial % 5
        if mode == 0:
            b = bytes(rng.randint(0, 256,
                                  rng.randint(1, 400)).astype(np.uint8))
        elif mode == 1:
            b = src[:rng.randint(0, len(src))]
        else:
            ba = bytearray(src)
            for _ in range(rng.randint(1, 8)):
                ba[rng.randint(0, len(ba))] = rng.randint(0, 256)
            b = bytes(ba)
        for dec in decoders:
            dec(b)

    assert mm.decode_ppm(b"P6\n46341 46341\n255\n" + bytes(64)) is None
    assert mm.decode_y4m(b"YUV4MPEG2 W46341 H46341 F25:1 C420jpeg\n"
                         b"FRAME\n" + bytes(64)) is None
    # data chunk declaring 2 GB behind a 64-byte body
    wav = bytearray(srcs[1])
    di = bytes(wav).find(b"data")
    struct.pack_into("<I", wav, di + 4, 1 << 31)
    assert mm.decode_wav(bytes(wav))[0].shape == (64, 1)
