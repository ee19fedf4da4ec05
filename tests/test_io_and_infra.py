"""CDB IO, sampling, salting parity, checkpoint/resume, multimodal,
streaming, CLI."""

import json
import os

from pyspark.sql import functions as F

from rayjoin_spark.operators.lsi import lsi_join
from rayjoin_spark.plans.layers import build_edges
from rayjoin_spark.plans.scaling import GridSpec, compute_scaling
from rayjoin_spark.plans import cells
from rayjoin_spark.plans.cells import explode_edges_to_cells, join_grid, layer_split
from rayjoin_spark.plans.skew import hot_cells, lsi_join_salted
from rayjoin_spark.sources.cdb import read_cdb, write_cdb_text, cdb_to_parquet
from rayjoin_spark.sources.datagen import lattice_chains, transformed_lattice, synthetic_pages
from rayjoin_spark.sources.sampling import sample_map, sample_edges


def _write_cdb_fixture(spark, m, path):
    ca, pa = lattice_chains(spark, m)
    rows = {r["chain_id"]: r for r in ca.collect()}
    pts = {}
    for r in pa.collect():
        pts.setdefault(r["chain_id"], []).append((r["seq"], r["x"], r["y"]))
    with open(path, "w") as f:
        f.write("# comment line\n")
        for cid in sorted(rows):
            c = rows[cid]
            ps = sorted(pts[cid])
            f.write(f"{cid} {len(ps)} 0 0 {c['left_polygon_id']} {c['right_polygon_id']}\n")
            for _, x, y in ps:
                f.write(f"{x:.10e} {y:.10e}\n")
    return ca, pa


def test_cdb_roundtrip(spark, tmp_path):
    path = str(tmp_path / "lat.cdb")
    ca, pa = _write_cdb_fixture(spark, 3, path)
    chains, points = read_cdb(spark, path)
    assert chains.count() == ca.count()
    assert points.count() == pa.count()
    got = {(r["chain_id"], r["left_polygon_id"], r["right_polygon_id"]) for r in chains.collect()}
    want = {(r["chain_id"], r["left_polygon_id"], r["right_polygon_id"]) for r in ca.collect()}
    assert got == want
    # parquet cache conversion
    out = str(tmp_path / "cache")
    cdb_to_parquet(spark, path, out)
    assert spark.read.parquet(f"{out}/chains.parquet").count() == ca.count()
    # text writer roundtrip
    out_txt = str(tmp_path / "out.cdb")
    write_cdb_text(chains, points, out_txt)
    chains2, points2 = read_cdb(spark, out_txt)
    assert chains2.count() == chains.count() and points2.count() == points.count()


def test_sampling(spark):
    ca, pa = lattice_chains(spark, 4)
    # subdivide: fake interior points by unioning midpoint rows
    w_pts = pa.count()
    chains, sampled = sample_map(ca, pa, rate=0.5)
    # 2-point chains: endpoints always kept -> identical
    assert sampled.count() == w_pts
    scaling = compute_scaling(pa)
    e = build_edges(ca, pa, scaling)
    se = sample_edges(e, 0.5)
    n, sn = e.count(), se.count()
    assert 0 < sn < n
    # deterministic
    assert sample_edges(e, 0.5).count() == sn


def test_salted_lsi_row_parity(spark, monkeypatch):
    ca, pa = lattice_chains(spark, 6)
    cb, pb = transformed_lattice(spark, 6)
    scaling = compute_scaling(pa, pb)
    ea, eb = build_edges(ca, pa, scaling), build_edges(cb, pb, scaling)
    grid = GridSpec(8)
    plain = {(r["eid_a"], r["eid_b"]) for r in lsi_join(ea, eb, grid).collect()}
    # threshold 0 -> every joint cell is 'hot' -> everything salted, each
    # cell into min(SALT_MAX, workload) buckets: the split is real
    jg = join_grid(ea, eb, grid)
    buckets = hot_cells(explode_edges_to_cells(ea, jg), explode_edges_to_cells(eb, jg), 0)
    n_buckets = [r["_p"] * r["_q"] for r in buckets.collect()]
    assert max(n_buckets) > 1
    salted = lsi_join_salted(ea, eb, grid)
    got = [(r["eid_a"], r["eid_b"]) for r in salted.collect()]
    assert len(got) == len(set(got))
    assert set(got) == plain
    # fine grid: the m=4 pair's edges span hundreds of cells at gsize
    # 2048, so with the join pinned there (join_grid would coarsen it)
    # the core's long-edge split (and its dedup) fires here too
    ca, pa = lattice_chains(spark, 4)
    cb, pb = transformed_lattice(spark, 4)
    scaling = compute_scaling(pa, pb)
    ea, eb = build_edges(ca, pa, scaling), build_edges(cb, pb, scaling)
    fine = GridSpec(2048)
    monkeypatch.setattr(cells, "join_grid", lambda a, b, g: g)
    assert layer_split(eb, fine)[0] is not None
    want = {(r["eid_a"], r["eid_b"]) for r in lsi_join(ea, eb, fine).collect()}
    salted = lsi_join_salted(ea, eb, fine)
    got3 = [(r["eid_a"], r["eid_b"]) for r in salted.collect()]
    assert len(got3) == len(set(got3))
    assert set(got3) == want and want


def _job_ids(spark) -> set:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


def test_skewed_fixture_salting(spark, monkeypatch):
    """The power-law fixture really is skewed (hot cells exist at a
    threshold that uniform data would not hit), and a plain lsi_join salts
    it once HOT_WORKLOAD is the median cell workload: some hot cell gets
    more than one bucket, the salted (cx, cy, _si, _sj) join runs, the
    rows equal the unsalted join's, and a second join on the same frames
    reads the cached gate without a job."""
    from rayjoin_spark.sources.datagen import skewed_segments

    ca, pa = skewed_segments(spark, 2000, exponent=3)
    cb, pb = skewed_segments(spark, 2000, exponent=3, salt=101, eid_offset=1 << 18)
    scaling = compute_scaling(pa, pb)
    ea = build_edges(ca, pa, scaling)
    eb = build_edges(cb, pb, scaling)
    grid = GridSpec(64)
    plain = {(r["eid_a"], r["eid_b"]) for r in lsi_join(ea, eb, grid).collect()}
    assert len(plain) > 0
    # the workloads of the cells the core joins: its grid, its explodes
    jg = join_grid(ea, eb, grid)
    sides = [explode_edges_to_cells(e, jg, layer_split(e, jg)[0]) for e in (ea, eb)]
    loads = sorted((r["workload"] for r in hot_cells(*sides, 0).collect()), reverse=True)
    assert len(loads) > 10
    # skew: the hottest cell carries >10x the median cell's workload
    median = loads[len(loads) // 2]
    assert loads[0] > 10 * median, loads[:5]
    assert max(r["_p"] * r["_q"] for r in hot_cells(*sides, median).collect()) > 1

    monkeypatch.setattr(cells, "HOT_WORKLOAD", median)
    salted = lsi_join(ea, eb, grid)
    got = [(r["eid_a"], r["eid_b"]) for r in salted.collect()]
    assert len(got) == len(set(got)) and set(got) == plain
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert any("Join" in line and "_si" in line and "_sj" in line for line in plan.splitlines())

    before = _job_ids(spark)
    lsi_join(ea, eb, grid)
    assert _job_ids(spark) == before


def test_small_layers_start_no_salting_job(spark):
    """When est_a * est_b is within HOT_WORKLOAD no cell can be hot: the
    join is planned plain without a gate job."""
    ca, pa = lattice_chains(spark, 4)
    cb, pb = transformed_lattice(spark, 4)
    scaling = compute_scaling(pa, pb)
    ea, eb = build_edges(ca, pa, scaling), build_edges(cb, pb, scaling)
    grid = GridSpec(64)
    jg = join_grid(ea, eb, grid)
    assert layer_split(ea, jg)[1] * layer_split(eb, jg)[1] <= cells.HOT_WORKLOAD
    before = _job_ids(spark)
    df = lsi_join(ea, eb, grid)
    assert _job_ids(spark) == before
    assert "_si" not in df._jdf.queryExecution().analyzed().toString()


def test_tablestore_roundtrip_and_pruning(spark, tmp_path):
    """TableStore (Iceberg with parquet fallback): cell-prefix-partitioned
    round-trip, and a prefix filter must PRUNE partitions at scan time."""
    from rayjoin_spark.plans.cells import explode_edges_to_cells
    from rayjoin_spark.plans.layers import build_edges
    from rayjoin_spark.plans.scaling import compute_scaling
    from rayjoin_spark.sources.tables import TableStore, with_cell_prefix

    ca, pa = lattice_chains(spark, 8)
    scaling = compute_scaling(pa)
    cells = with_cell_prefix(
        explode_edges_to_cells(build_edges(ca, pa, scaling), GridSpec(64)),
        GridSpec(64), prefix_bits=4,
    )
    store = TableStore(spark, str(tmp_path / "wh"))
    # sandbox has no Iceberg jar -> exercised path is the parquet fallback;
    # the iceberg branch is the same call seam (probed, not reachable here)
    assert store.backend() in ("iceberg", "parquet")
    store.write(cells, "edges_a_cells", partition_by=["p_cx"])
    back = store.read("edges_a_cells")
    assert back.count() == cells.count()
    assert set(back.columns) == set(cells.columns)
    # partition pruning: the p_cx predicate must land in the scan's
    # PartitionFilters (directory-level pruning), not a post-scan Filter
    one = back.filter(F.col("p_cx") == 1)
    assert one.count() > 0
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    part_section = plan.split("PartitionFilters")[1][:200]
    assert "p_cx" in part_section, part_section


def test_tablestore_upsert_and_rollback(spark, tmp_path):
    """The Iceberg seam's upsert/snapshot/rollback semantics, exercised
    via the parquet fallback (hardlink-snapshot versions + dynamic
    partition overwrite + atomic pointer): upsert replaces ONLY the
    partitions present in the batch; rollback restores the pre-upsert
    table; a real catalog is a config change, not a code change."""
    from rayjoin_spark.sources.tables import TableStore

    store = TableStore(spark, str(tmp_path / "wh"))
    base = spark.range(100).select(
        F.col("id"),
        F.pmod(F.col("id"), 4).alias("p"),
        (F.col("id") * 10).alias("val"),
    )
    store.write(base, "t", partition_by=["p"])
    v1 = store.snapshots("t")[-1]

    # upsert a batch touching ONLY partition p=1 (new vals, fewer rows)
    batch = spark.range(5).select(
        (F.col("id") + 1000).alias("id"),
        F.lit(1).cast("bigint").alias("p"),
        F.lit(-1).cast("bigint").alias("val"),
    )
    store.upsert(batch, "t", partition_by=["p"])
    after = store.read("t")
    # p=1 fully replaced, other partitions untouched
    assert after.filter("p = 1").count() == 5
    assert after.filter("p = 1").agg(F.min("val")).collect()[0][0] == -1
    assert after.filter("p != 1").count() == 75
    assert after.filter("p = 2").agg(F.sum("val")).collect()[0][0] == \
        base.filter("p = 2").agg(F.sum("val")).collect()[0][0]
    assert len(store.snapshots("t")) == 2

    # rollback to the pre-upsert snapshot: same rows as the original
    # (hive partition read-back reorders columns and narrows the partition
    # col to int — canonicalize before the multiset compare)
    def canon(df):
        return df.select(
            F.col("id").cast("long"), F.col("p").cast("long"), F.col("val").cast("long")
        )

    store.rollback("t", v1)
    restored = store.read("t")
    assert restored.count() == 100
    assert canon(restored).exceptAll(canon(base)).isEmpty()
    assert canon(base).exceptAll(canon(restored)).isEmpty()
    # roll forward again (snapshots are retained, not destroyed)
    store.rollback("t", store.snapshots("t")[-1])
    assert store.read("t").filter("p = 1").count() == 5
    # unknown snapshot refused
    import pytest as _pytest
    with _pytest.raises(ValueError):
        store.rollback("t", 999)


def test_checkpoint_resume(spark, tmp_path):
    from rayjoin_spark.plans.checkpoint import CheckpointManager

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).withColumn("v", F.col("id") * 2)

    cm = CheckpointManager(spark, str(tmp_path), "t1")
    df1 = cm.stage("s1", build, fingerprint="v1")
    assert df1.count() == 100 and calls["n"] == 1
    # resume in a fresh manager: replays from parquet, no recompute
    cm2 = CheckpointManager(spark, str(tmp_path), "t1")
    df2 = cm2.stage("s1", build, fingerprint="v1")
    assert df2.count() == 100 and calls["n"] == 1
    # changed fingerprint invalidates
    cm2.stage("s1", build, fingerprint="v2")
    assert calls["n"] == 2
    pm = cm2.partition_metrics("s1")
    assert pm.agg(F.sum("n_rows")).collect()[0][0] == 100
    assert any(r["stage"] == "s1" for r in cm2.lineage())


def test_multimodal_features(spark):
    from rayjoin_spark.functions.multimodal import extract_features, synthetic_media

    media = synthetic_media(spark, 50)
    out = extract_features(media)
    rows = out.collect()
    assert len(rows) == 50
    assert all(r["decode_ok"] for r in rows)
    assert all(len(r["feature"]) == 8 for r in rows)
    # image rows alternate REAL PNG / REAL baseline JPEG (media_id%6==3):
    # both decode paths parse true dimensions
    imgs = [r for r in rows if r["kind"] == "image"]
    pngs = [r for r in imgs if r["media_id"] % 6 == 0]
    jpgs = [r for r in imgs if r["media_id"] % 6 == 3]
    assert pngs and all(r["decoder"] == "png" for r in pngs)
    assert all((r["width"], r["height"]) == (4, 3) for r in pngs)
    assert jpgs and all(r["decoder"] == "jpeg" for r in jpgs)
    for r in jpgs:
        k = r["media_id"] % 8
        assert (r["width"], r["height"]) == (8 + 8 * (k % 2), 8)
        assert r["feature"][7] == 4.0
    # audio rows went through the REAL WAV decoder: feature carries the
    # parsed sample rate / channels / frame count (+ the 2.0 audio tag)
    auds = [r for r in rows if r["kind"] == "audio"]
    assert auds and all(r["decoder"] == "wav" and r["width"] is None for r in auds)
    for r in auds:
        k = r["media_id"] % 8
        assert r["feature"][0] == float(8000 + 100 * k)
        assert r["feature"][1] == float(1 + (k % 2))
        assert r["feature"][2] == float(16 + k)
        assert r["feature"][7] == 2.0
    # video rows went through the REAL Y4M decoder: parsed dims + frame
    # count + fps (+ the 3.0 video tag)
    vids = [r for r in rows if r["kind"] == "video"]
    assert vids and all(r["decoder"] == "y4m" for r in vids)
    for r in vids:
        k = r["media_id"] % 8
        assert (r["width"], r["height"]) == (4 + 2 * (k % 2), 4)
        assert r["feature"][0] == float(2 + (k % 3))  # n_frames
        assert r["feature"][1] == float(24 + k)  # fps
        assert r["feature"][7] == 3.0
    # deterministic: same payload -> same sha/feature
    again = {r["media_id"]: r["sha256"] for r in extract_features(media).collect()}
    assert all(again[r["media_id"]] == r["sha256"] for r in rows)


def test_png_codec_roundtrip():
    """stdlib PNG encode -> decode round-trip: exact dims + channel means,
    plus filtered-scanline decode (Sub/Up/Average/Paeth paths)."""
    import struct as _struct
    import zlib as _zlib

    from rayjoin_spark.functions.multimodal import PNG_SIG, decode_png, encode_png

    px = [[(x * 10, y * 20, (x + y) * 5) for x in range(5)] for y in range(4)]
    data = encode_png(5, 4, px)
    w, h, ch, means = decode_png(data)
    assert (w, h, ch) == (5, 4, 3)
    flat = [v for row in px for p in row for v in p]
    want = [
        sum(flat[c::3]) / 20 / 255.0 for c in range(3)
    ]
    assert all(abs(a - b) < 1e-12 for a, b in zip(means, want))

    # hand-build a PNG whose rows use filters 1-4; decode must invert them
    def chunk(tag, body):
        return (_struct.pack(">I", len(body)) + tag + body
                + _struct.pack(">I", _zlib.crc32(tag + body) & 0xFFFFFFFF))

    rows = [bytes([10, 20, 30, 40, 50, 60]), bytes([5, 5, 5, 5, 5, 5]),
            bytes([100, 0, 50, 25, 75, 125]), bytes([1, 2, 3, 4, 5, 6])]
    filtered = b""
    prev = bytes(6)
    for ft, row in zip([1, 2, 3, 4], rows):
        enc = bytearray(row)
        if ft == 1:
            for x in range(5, 2, -1):
                enc[x] = (enc[x] - row[x - 3]) & 0xFF
        elif ft == 2:
            enc = bytearray((row[x] - prev[x]) & 0xFF for x in range(6))
        elif ft == 3:
            enc = bytearray(
                (row[x] - (((row[x - 3] if x >= 3 else 0) + prev[x]) >> 1)) & 0xFF
                for x in range(6)
            )
        elif ft == 4:
            from rayjoin_spark.functions.multimodal import _paeth

            enc = bytearray(
                (row[x] - _paeth(row[x - 3] if x >= 3 else 0, prev[x],
                                 prev[x - 3] if x >= 3 else 0)) & 0xFF
                for x in range(6)
            )
        filtered += bytes([ft]) + bytes(enc)
        prev = row
    ihdr = _struct.pack(">IIBBBBB", 2, 4, 8, 2, 0, 0, 0)
    data2 = (PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", _zlib.compress(filtered))
             + chunk(b"IEND", b""))
    w2, h2, ch2, means2 = decode_png(data2)
    assert (w2, h2, ch2) == (2, 4, 3)
    flat2 = [v for row in rows for v in row]
    want2 = [sum(flat2[c::3]) / 8 / 255.0 for c in range(3)]
    assert all(abs(a - b) < 1e-12 for a, b in zip(means2, want2))


def test_wav_codec_roundtrip():
    """stdlib WAV encode -> decode round-trip: exact rate/channels/frames
    + per-channel means; malformed payloads raise ValueError."""
    import struct as _struct

    import pytest as _pytest

    from rayjoin_spark.functions.multimodal import decode_wav, encode_wav

    frames = [(100 * i - 300, -50 * i) for i in range(7)]
    data = encode_wav(22050, frames)
    sr, ch, nf, means = decode_wav(data)
    assert (sr, ch, nf) == (22050, 2, 7)
    want = [sum(f[c] for f in frames) / 7 / 32768.0 for c in range(2)]
    assert all(abs(a - b) < 1e-12 for a, b in zip(means, want))

    with _pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxNOPE")
    with _pytest.raises(ValueError):
        decode_wav(data[:20])  # truncated: no data chunk
    # float-format WAV (fmt=3) is unsupported -> ValueError, not garbage
    bad = bytearray(data)
    fmt_off = data.index(b"fmt ") + 8
    bad[fmt_off:fmt_off + 2] = _struct.pack("<H", 3)
    with _pytest.raises(ValueError):
        decode_wav(bytes(bad))


def test_y4m_codec_roundtrip():
    """stdlib Y4M encode -> decode round-trip: exact dims/frames/fps +
    per-plane means; malformed payloads raise ValueError; frame-sample
    kernel returns every k-th frame's luma mean."""
    import pytest as _pytest

    from rayjoin_spark.functions.multimodal import (
        _y4m_frame_y_means, decode_y4m, encode_y4m,
    )

    frames = []
    for f in range(5):
        y = bytes((f * 40 + i) % 256 for i in range(4 * 4))
        u = bytes((f * 7 + i) % 256 for i in range(4))
        v = bytes((f * 9 + i) % 256 for i in range(4))
        frames.append((y, u, v))
    data = encode_y4m(4, 4, (25, 1), frames)
    w, h, nf, fn, fd, means = decode_y4m(data)
    assert (w, h, nf, fn, fd) == (4, 4, 5, 25, 1)
    want = [
        sum(sum(fr[p]) for fr in frames) / (5 * len(frames[0][p])) / 255.0
        for p in range(3)
    ]
    assert all(abs(a - b) < 1e-12 for a, b in zip(means, want))

    samp = _y4m_frame_y_means(data, 2)
    assert [i for i, _ in samp] == [0, 2, 4]
    for idx, ym in samp:
        assert abs(ym - sum(frames[idx][0]) / 16 / 255.0) < 1e-12

    with _pytest.raises(ValueError):
        decode_y4m(b"YUV4MPEG2 W4 H4 F0:1\n")  # bad fps
    with _pytest.raises(ValueError):
        decode_y4m(b"YUV4MPEG2 W3 H4 F25:1\nFRAME\n")  # odd width
    with _pytest.raises(ValueError):
        decode_y4m(data[: len(data) - 3])  # truncated frame payload
    with _pytest.raises(ValueError):
        decode_y4m(data.replace(b"C420jpeg", b"C444mono"))  # colorspace


def test_sample_video_frames(spark):
    """Frame-sampling DataFrame op: one row per sampled frame for Y4M
    payloads; non-video payloads degrade to decode_ok=false rows."""
    from pyspark.sql import types as T

    from rayjoin_spark.functions.multimodal import (
        _y4m_variants, sample_video_frames,
    )

    vars_ = _y4m_variants()
    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ])
    media = spark.createDataFrame(
        [(0, bytearray(vars_[0])), (1, bytearray(vars_[2])),
         (2, bytearray(b"not a video"))],
        schema,
    )
    rows = sample_video_frames(media, every=2).collect()
    good = [r for r in rows if r["decode_ok"]]
    bad = [r for r in rows if not r["decode_ok"]]
    # variant 0 has 2 frames (samples frame 0), variant 2 has 4 (0 and 2)
    assert sorted((r["media_id"], r["frame_idx"]) for r in good) == [
        (0, 0), (1, 0), (1, 2)
    ]
    assert all(0.0 <= r["y_mean"] <= 1.0 for r in good)
    assert len(bad) == 1 and bad[0]["media_id"] == 2 and bad[0]["error"]


def test_multimodal_malformed_payloads(spark):
    """Malformed PNG-signature payloads must degrade to decode_ok=False
    rows (not fail the task): truncated IHDR (struct.error), 0x0 image
    (div-by-zero guard), bad zlib stream."""
    import struct as _struct
    import zlib as _zlib

    from pyspark.sql import types as T

    from rayjoin_spark.functions.multimodal import PNG_SIG, extract_features

    def chunk(tag, body):
        return (_struct.pack(">I", len(body)) + tag + body
                + _struct.pack(">I", _zlib.crc32(tag + body) & 0xFFFFFFFF))

    trunc = PNG_SIG + _struct.pack(">I", 13) + b"IHDR" + b"\x00\x00"  # cut mid-IHDR
    zero = (PNG_SIG + chunk(b"IHDR", _struct.pack(">IIBBBBB", 0, 0, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", _zlib.compress(b"")) + chunk(b"IEND", b""))
    badz = (PNG_SIG + chunk(b"IHDR", _struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", b"not-zlib") + chunk(b"IEND", b""))
    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("payload", T.BinaryType()),
    ])
    media = spark.createDataFrame(
        [(0, "image", bytearray(trunc)), (1, "image", bytearray(zero)),
         (2, "image", bytearray(badz))],
        schema,
    )
    rows = {r["media_id"]: r for r in extract_features(media).collect()}
    assert len(rows) == 3
    assert all(not r["decode_ok"] and r["error"] for r in rows.values())


def test_event_rollup_negative_epoch(spark):
    """Pre-1970 timestamps: the bucket id must FLOOR (match DuckDB //),
    not truncate toward zero."""
    import duckdb

    from rayjoin_spark.functions.eventops import event_rollup

    rows = [
        (1, "1969-12-31 23:30:00", 7, "click", 1.0, '{"k": 3}'),
        (2, "1969-12-31 22:59:59", 7, "click", 2.0, '{"k": 4}'),
        (3, "1970-01-01 00:30:00", 8, "view", 3.0, '{"k": 5}'),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string, "
              "value double, props string"
    ).select(
        "event_id", F.col("ts_s").cast("timestamp_ntz").alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    got = {
        (r["bucket"], r["event_type"]): (r["n_events"], r["sum_k"])
        for r in event_rollup(ev).collect()
    }
    # floor(-30min / 1h) = -1, floor(-61min / 1h) = -2, floor(30min) = 0
    assert got == {(-1, "click"): (1, 3), (-2, "click"): (1, 4), (0, "view"): (1, 5)}
    # and the oracle's positive-mod floor formula agrees (note: DuckDB's
    # bare BIGINT // truncates toward zero, same as Spark DIV — BOTH
    # engines use the subtract-pmod-first floor form)
    con = duckdb.connect()
    dk = con.execute(
        "SELECT (epoch_us(TIMESTAMP '1969-12-31 23:30:00')"
        " - ((epoch_us(TIMESTAMP '1969-12-31 23:30:00') % 3600000000 + 3600000000)"
        " % 3600000000)) // 3600000000"
    ).fetchone()[0]
    assert dk == -1


def test_write_cdb_orphan_points(tmp_path, spark):
    """A point row whose chain_id is absent from chains must be skipped —
    not wedge the merge and drop all later chains' points."""
    from rayjoin_spark.operators.overlay import write_cdb

    chains = spark.createDataFrame(
        [(2, 2, 0, 1, 1, 0), (4, 2, 2, 3, 2, 0)],
        "chain_id long, n_points long, first_point_id long, last_point_id long, "
        "left_face long, right_face long",
    )
    pts = spark.createDataFrame(
        [(1, 0, 9.0, 9.0),  # orphan: chain 1 not in chains
         (2, 0, 0.0, 0.0), (2, 1, 1.0, 0.0),
         (3, 0, 8.0, 8.0),  # orphan between chains
         (4, 0, 2.0, 0.0), (4, 1, 3.0, 0.0)],
        "chain_id long, seq long, x double, y double",
    )
    out = str(tmp_path / "o.cdb")
    write_cdb(chains, pts, out)
    lines = open(out).read().strip().splitlines()
    assert lines[0].startswith("2 2") and lines[3].startswith("4 2")
    assert lines[1] == "0.000000 0.000000" and lines[2] == "1.000000 0.000000"
    assert lines[4] == "2.000000 0.000000" and lines[5] == "3.000000 0.000000"
    assert len(lines) == 6  # orphans skipped, later chains intact


def test_streaming_tile_counts(spark, tmp_path):
    from rayjoin_spark.plans.scaling import Scaling
    from rayjoin_spark.streaming.pages_stream import streaming_tile_counts

    src = str(tmp_path / "pages_in")
    synthetic_pages(spark, 500).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    scaling = Scaling.from_bbox(0.0, 100.0, 0.0, 100.0)
    agg = streaming_tile_counts(stream, scaling, GridSpec(64), (0.0, 100.0, 0.0, 100.0))
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("tiles_out")
        .start()
    )
    try:
        q.processAllAvailable()
        n = spark.sql("SELECT sum(n_pages) FROM tiles_out").collect()[0][0]
        assert n == 500
    finally:
        q.stop()


def test_exactly_once_sink(spark, tmp_path):
    """foreachBatch exactly-once: replayed epochs are no-ops, partial
    (uncommitted) epochs are invisible to readers and safely overwritten."""
    from rayjoin_spark.streaming.pages_stream import ExactlyOnceParquetSink

    sink = ExactlyOnceParquetSink(str(tmp_path / "out"))
    df = spark.range(10).withColumnRenamed("id", "v")
    sink(df, 0)
    sink(spark.range(5).withColumnRenamed("id", "v"), 1)
    # replay epoch 0 with DIFFERENT data: must be ignored (already committed)
    sink(spark.range(99).withColumnRenamed("id", "v"), 0)
    got = sink.read_committed(spark)
    assert got.count() == 15
    # crash simulation: partial write without marker -> not visible, retried
    partial = spark.range(3).withColumnRenamed("id", "v")
    partial.write.mode("overwrite").parquet(str(tmp_path / "out" / "epoch=2"))
    assert not sink.committed(2)
    assert sink.read_committed(spark).count() == 15
    sink(spark.range(4).withColumnRenamed("id", "v"), 2)  # retry commits
    assert sink.read_committed(spark).count() == 19
    # end-to-end through an actual stream: each micro-batch lands once
    src = str(tmp_path / "stream_src")
    spark.range(20).withColumnRenamed("id", "v").write.parquet(src)
    stream = spark.readStream.schema("v long").parquet(src)
    sink2 = ExactlyOnceParquetSink(str(tmp_path / "out2"))
    q = (
        stream.writeStream.foreachBatch(sink2)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sink2.read_committed(spark).count() == 20


def test_cli_convert_and_query(spark, tmp_path, capsys):
    from rayjoin_spark import cli

    path = str(tmp_path / "lat.cdb")
    _write_cdb_fixture(spark, 3, path)
    out = str(tmp_path / "conv")
    assert cli.main(["convert", "--cdb", path, "--out", out]) == 0
    assert cli.main(
        ["query", "--poly1", out, "--poly2", out, "--query", "lsi", "--grid-size", "16"]
    ) == 0
    lines = [l for l in capsys.readouterr().out.strip().splitlines() if l.startswith("{")]
    rec = json.loads(lines[-1])
    assert rec["query"] == "lsi" and rec["rows"] >= 0


def test_cli_check_histo_gen(spark, tmp_path, capsys):
    """--check (grid cross-verify), --histo (workload histogram), and the
    gen subcommand (reference -gen_n/-gen_t synthetic workloads)."""
    from rayjoin_spark import cli

    path = str(tmp_path / "lat.cdb")
    _write_cdb_fixture(spark, 3, path)
    out = str(tmp_path / "conv")
    assert cli.main(["convert", "--cdb", path, "--out", out]) == 0
    # lsi with --check --histo: coarser-grid rerun must agree exactly
    assert cli.main(
        ["query", "--poly1", out, "--poly2", out, "--query", "lsi",
         "--grid-size", "16", "--check", "--histo"]
    ) == 0
    recs = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()
            if l.startswith("{")]
    chk = [r for r in recs if "check" in r]
    assert chk and chk[-1]["check_ok"]
    assert chk[-1]["check"]["missing"] == 0 and chk[-1]["check"]["extra"] == 0
    assert any("bucket" in r for r in recs)  # histogram lines printed
    # pip with --check
    assert cli.main(
        ["query", "--poly1", out, "--poly2", out, "--query", "pip",
         "--grid-size", "16", "--check"]
    ) == 0
    recs = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()
            if l.startswith("{")]
    chk = [r for r in recs if "check" in r]
    assert chk and chk[-1]["check_ok"] and chk[-1]["check"]["errors"] == 0
    # gen: synthetic LSI + PIP workloads land as readable parquet
    gdir = str(tmp_path / "gen_lsi")
    assert cli.main(["gen", "--kind", "lsi", "--gen-n", "64", "--gen-t", "2.0",
                     "--bbox", "0,10,0,10", "--out", gdir]) == 0
    gch = spark.read.parquet(f"{gdir}/chains.parquet")
    gpt = spark.read.parquet(f"{gdir}/points.parquet")
    assert gch.count() > 0 and gpt.count() == 2 * gch.count()
    pdir = str(tmp_path / "gen_pip")
    assert cli.main(["gen", "--kind", "pip", "--gen-n", "32", "--out", pdir]) == 0
    assert spark.read.parquet(f"{pdir}/points.parquet").count() == 32
    # overlay --check: coarser-grid rerun must produce identical chains
    assert cli.main(
        ["overlay", "--poly1", out, "--poly2", out, "--grid-size", "16", "--check"]
    ) == 0
    recs = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()
            if l.startswith("{")]
    chk = [r for r in recs if "check" in r]
    assert chk and chk[-1]["check_ok"]


def test_pyfiles_zip_is_importable(tmp_path):
    """The spark-submit --py-files artifact must be a self-contained
    importable package: build it, then import rayjoin_spark from the ZIP
    ONLY (fresh interpreter, repo root stripped from sys.path) — the same
    zipimport mechanism executors use for --py-files."""
    import subprocess
    import sys

    from rayjoin_spark.pyfiles import build_zip

    zp = build_zip(str(tmp_path / "rayjoin_spark.zip"))
    probe = (
        "import sys; sys.path = [p for p in sys.path if 'repo' not in p]; "
        f"sys.path.insert(0, {zp!r}); "
        "import rayjoin_spark, rayjoin_spark.operators.clip, "
        "rayjoin_spark.functions.textops, rayjoin_spark.cli; "
        "print(rayjoin_spark.__name__)"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        capture_output=True, text=True, timeout=120,
        cwd=str(tmp_path),  # not the repo root
        env={"PATH": "/usr/bin:/bin", "PYTHONDONTWRITEBYTECODE": "1"},
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "rayjoin_spark"


def test_jpeg_codec_solid_and_gradient():
    """Solid mid-gray: the quantized DCT is DC-only, so the DC-derived
    channel means are hand-derivable (128/255 on all three YCbCr
    channels). Gradient: encoder->decoder means must match the source
    plane means within lossy tolerance; bytes must be deterministic."""
    import numpy as np

    from rayjoin_spark.functions.multimodal import decode_jpeg, encode_jpeg

    px = [[(128, 128, 128)] * 8 for _ in range(8)]
    w, h, nc, means = decode_jpeg(encode_jpeg(8, 8, px))
    assert (w, h, nc) == (8, 8, 3)
    assert all(abs(m - 128 / 255) < 1e-3 for m in means)

    px = [[(16 * x, 8 * y + 64, 200) for x in range(16)] for y in range(8)]
    b = encode_jpeg(16, 8, px)
    assert encode_jpeg(16, 8, px) == b  # deterministic
    w, h, nc, means = decode_jpeg(b)
    assert (w, h, nc) == (16, 8, 3)
    rgb = np.array(px, dtype=float)
    y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
    cb = 128 - 0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] + 0.5 * rgb[..., 2]
    cr = 128 + 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] - 0.081312 * rgb[..., 2]
    for i, plane in enumerate((y, cb, cr)):
        assert abs(means[i] - plane.mean() / 255) < 0.02


def test_jpeg_decoder_on_third_party_file():
    """Decode a REAL baseline JPEG from the Spark distribution (4:2:0
    subsampled, not produced by our encoder): dims must parse and every
    MCU must entropy-decode (a desynced Huffman read raises)."""
    import os

    import pytest

    from rayjoin_spark.functions.multimodal import decode_jpeg

    path = (
        "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/"
        "multi-channel/chr30.4.184.jpg"
    )
    if not os.path.exists(path):
        pytest.skip("spark distribution sample image not present")
    with open(path, "rb") as f:
        w, h, nc, means = decode_jpeg(f.read())
    assert (w, h, nc) == (300, 215, 3)
    assert all(0.0 <= m <= 1.0 for m in means)


def test_jpeg_decoder_rejects_progressive_and_garbage():
    import pytest

    from rayjoin_spark.functions.multimodal import decode_jpeg, encode_jpeg

    good = encode_jpeg(8, 8, [[(0, 0, 0)] * 8] * 8)
    for bad in (b"nope", b"\xff\xd8\xff", good[:40]):
        with pytest.raises(ValueError):
            decode_jpeg(bad)
    # flip SOF0 -> SOF2 (progressive): loud unsupported, not garbage out
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError, match="unsupported SOF"):
        decode_jpeg(prog)


def test_jpeg_decoder_normalizes_lowlevel_errors():
    """Malformed-but-plausible streams whose natural failure is KeyError/
    IndexError/ZeroDivisionError must surface as ValueError (the
    degrade-to-error-row contract), never a raw low-level exception."""
    import pytest

    from rayjoin_spark.functions.multimodal import decode_jpeg, encode_jpeg

    good = bytearray(encode_jpeg(8, 8, [[(10, 20, 30)] * 8] * 8))
    # SOS selecting only 1 of 3 SOF components -> sel[...] KeyError path
    i = bytes(good).find(b"\xff\xda")
    mangled = good[:i] + bytearray(
        b"\xff\xda" + (8).to_bytes(2, "big") + bytes([1, 1, 0x00, 0, 63, 0])
    ) + good[i + 14:]
    with pytest.raises(ValueError):
        decode_jpeg(bytes(mangled))
    # truncated SOS component list -> IndexError path
    trunc = good[:i + 5]
    with pytest.raises(ValueError):
        decode_jpeg(bytes(trunc))
    # zero-height SOF -> loud unsupported, not a ZeroDivisionError
    j = bytes(good).find(b"\xff\xc0")
    zh = bytearray(good)
    zh[j + 5:j + 7] = b"\x00\x00"  # height field
    with pytest.raises(ValueError):
        decode_jpeg(bytes(zh))
