"""Behavioral tests for the approximate / stubbed LLM-data operators —
the cross-checks their rows-only driver entries lean on:

* SimHash candidate pairs must cover the exact high-Jaccard pairs
  (pigeonhole guarantee of the 4×16-bit banding).
* LSH ANN must achieve high recall against brute-force top-k.
* The multimodal decoders (real PPM/BMP parsers) must round-trip and
  every Spark-side feature/resize value must equal a local recompute.
"""

from __future__ import annotations

import pytest

from ws_to_kafka_spark.operators import QUERIES
from ws_to_kafka_spark.operators.multimodal import (
    decode_image,
    encode_png,
    encode_ppm,
    mean_pixel,
    render_payload_py,
    render_png_py,
    render_ppm_py,
    resize_image,
)


def test_simhash_covers_exact_near_dups(spark, sf_dir):
    """Docstring claim in q_dedup_simhash: near-identical docs (exact
    Jaccard >= 0.8) should also be SimHash-close (their word sets nearly
    coincide, so bit votes nearly coincide)."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["q_dedup_near"].fn(spark, sf_dir).collect()
        if r.jaccard >= 0.95
    }
    simhash = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["q_dedup_simhash"].fn(spark, sf_dir).collect()
    }
    assert exact, "fixtures are built to contain near-duplicates"
    covered = len(exact & simhash) / len(exact)
    assert covered >= 0.9, f"simhash covered only {covered:.0%} of exact pairs"


def test_ann_recall_vs_brute_force(spark, sf_dir):
    brute = {
        (r.query_id, r.vec_id) for r in QUERIES["q_sim_topk"].fn(spark, sf_dir).collect()
    }
    ann = {
        (r.query_id, r.vec_id) for r in QUERIES["q_sim_ann"].fn(spark, sf_dir).collect()
    }
    recall = len(brute & ann) / len(brute)
    assert recall >= 0.6, f"ANN recall {recall:.0%} too low"


def test_simhash_web_point_is_tight_subset(spark, sf_dir):
    """Both registered operating points are EXACT for their Hamming budget
    (pigeonhole over their band counts), so the web point (4×16 bands, d≤3)
    must equal the fixture point (8×8 bands, d≤7) filtered to distance ≤3."""
    base = {
        (r.doc_a, r.doc_b): r.hamming
        for r in QUERIES["q_dedup_simhash"].fn(spark, sf_dir).collect()
    }
    web = {
        (r.doc_a, r.doc_b): r.hamming
        for r in QUERIES["q_dedup_simhash_web"].fn(spark, sf_dir).collect()
    }
    assert web == {p: h for p, h in base.items() if h <= 3}


def test_lsh_bucket_occupancy(spark, sf_dir):
    """The round-2 scale defect was 4-bit band keys -> buckets of ~n/16 and
    O(n^2/16) candidate pairs.  With 16-bit random-hyperplane keys the
    largest bucket must stay near-singleton — far below n/16."""
    from pyspark.sql import functions as F

    from ws_to_kafka_spark import tables
    from ws_to_kafka_spark.operators.similarity import _as_double, _sign_signature

    emb = tables.load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("e")
    )
    n = emb.count()
    occ = (
        emb.select(
            F.posexplode(_sign_signature(F.col("e"))).alias("band_idx", "band_key")
        )
        .groupBy("band_idx", "band_key")
        .count()
        .agg(F.max("count").alias("max_bucket"))
        .collect()[0]["max_bucket"]
    )
    assert occ <= 8, f"max bucket {occ} — keys too narrow"
    assert occ < n / 16, f"max bucket {occ} not ≪ n/16 = {n / 16:.0f}"


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    brute = {
        (r.query_id, r.vec_id) for r in QUERIES["q_sim_topk"].fn(spark, sf_dir).collect()
    }
    ivf = {
        (r.query_id, r.vec_id) for r in QUERIES["q_sim_ivf"].fn(spark, sf_dir).collect()
    }
    recall = len(brute & ivf) / len(brute)
    # measured 0.84-1.0 across SFs with one Lloyd iteration + 2/16 probes
    assert recall >= 0.6, f"IVF recall {recall:.0%} too low"


def test_pq_recall_vs_brute_force(spark, sf_dir):
    """PQ/ADC with 4k-deep exact re-rank must recover most of the brute
    force top-k; with 8 subspaces x 16 codes on random 64-dim vectors the
    ADC ordering is a coarse but usable proxy for the true dot product."""
    brute = {
        (r.query_id, r.vec_id) for r in QUERIES["q_sim_topk"].fn(spark, sf_dir).collect()
    }
    pq = {
        (r.query_id, r.vec_id) for r in QUERIES["q_sim_pq"].fn(spark, sf_dir).collect()
    }
    recall = len(brute & pq) / len(brute)
    assert recall >= 0.3, f"PQ recall {recall:.0%} too low"


def test_ivf_lloyd_improves_quantization(spark, sf_dir):
    """Lloyd's algorithm monotonically improves the quantization objective
    (mean best-cell similarity); recall on random fixtures can wiggle
    either way, so assert the invariant Lloyd actually guarantees."""
    from ws_to_kafka_spark.operators.similarity import ivf_quantization_quality

    q = ivf_quantization_quality(spark, sf_dir)
    assert q["refined"] >= q["seed"], q


def test_ppm_decoder_round_trips():
    """encode_ppm -> decode_image is identity on dims + raster, including
    a 1-pixel image and a comment-bearing header."""
    import pytest

    px = bytes(range(48))  # 4x4 RGB
    img = decode_image(encode_ppm(4, 4, px))
    assert (img["width"], img["height"], img["format"]) == (4, 4, "ppm")
    assert img["pixels"] == px
    one = decode_image(b"P6\n1 1\n255\n\xab\xcd\xef")
    assert one["pixels"] == b"\xab\xcd\xef"
    commented = b"P6\n# made by a tool\n2 1\n255\n" + bytes(6)
    assert decode_image(commented)["width"] == 2
    with pytest.raises(ValueError):
        decode_image(b"P6\n2 2\n255\n\x00")  # truncated raster
    with pytest.raises(ValueError):
        decode_image(b"GIF89a not supported")


def test_bmp_decoder_handles_padding_and_row_order():
    """24-bit BMP: 3x2 image -> 9-byte rows padded to 12, stored
    bottom-up in BGR; the decoder must emit top-down RGB."""
    # target top-down RGB pixels: row0 = red green blue, row1 = white black gray
    rows_rgb = [
        [(255, 0, 0), (0, 255, 0), (0, 0, 255)],
        [(255, 255, 255), (0, 0, 0), (128, 128, 128)],
    ]
    import struct as _s

    w, h = 3, 2
    stride = (w * 3 + 3) & ~3
    raster = bytearray()
    for row in reversed(rows_rgb):  # bottom-up storage
        line = bytearray()
        for r, g, b in row:
            line += bytes([b, g, r])  # BGR on disk
        line += bytes(stride - len(line))
        raster += line
    header = b"BM" + _s.pack("<IHHI", 54 + len(raster), 0, 0, 54)
    dib = _s.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 0, 0, 0, 0)
    img = decode_image(header + dib + raster)
    assert (img["width"], img["height"], img["format"]) == (3, 2, "bmp")
    expect = bytes(c for row in rows_rgb for px in row for c in px)
    assert img["pixels"] == expect


def test_png_roundtrip():
    """encode_png -> decode_image recovers every pixel byte, and the
    render twins (PPM vs PNG container of the same text) decode to the
    identical raster."""
    px = bytes(range(256)) * 3  # 16x16 RGB, all byte values exercised
    img = decode_image(encode_png(16, 16, px))
    assert (img["width"], img["height"], img["format"]) == (16, 16, "png")
    assert img["pixels"] == px
    text = "the quick brown fox jumps over the lazy dog " * 8
    assert (
        decode_image(render_png_py(text))["pixels"]
        == decode_image(render_ppm_py(text))["pixels"]
    )


def test_png_decoder_unfilters_all_five_filter_types():
    """A hand-assembled PNG whose five rows use filter types 0..4 (None,
    Sub, Up, Average, Paeth) — encode_png only emits type 0, so this is
    the only coverage of the unfilter arithmetic real encoders rely on."""
    import struct as _s
    import zlib as _z

    from ws_to_kafka_spark.operators.multimodal import _PNG_SIG, _png_chunk

    w, h, bpp = 3, 5, 3
    rng_px = bytes((7 * i + 13) % 256 for i in range(w * h * bpp))
    rows = [rng_px[r * w * bpp : (r + 1) * w * bpp] for r in range(h)]

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    raw = bytearray()
    for r, ftype in enumerate(range(h)):
        orig, prev = rows[r], rows[r - 1] if r else bytes(w * bpp)
        raw.append(ftype)
        for i in range(w * bpp):
            a = orig[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ftype == 0:
                f = orig[i]
            elif ftype == 1:
                f = orig[i] - a
            elif ftype == 2:
                f = orig[i] - b
            elif ftype == 3:
                f = orig[i] - ((a + b) >> 1)
            else:
                f = orig[i] - paeth(a, b, c)
            raw.append(f & 0xFF)
    ihdr = _s.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    payload = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _z.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )
    img = decode_image(payload)
    assert img["pixels"] == rng_px


def test_png_decoder_drops_rgba_alpha_and_rejects_exotics():
    import struct as _s
    import zlib as _z

    import pytest as _pytest

    from ws_to_kafka_spark.operators.multimodal import _PNG_SIG, _png_chunk

    # 2x2 RGBA, filter 0: alpha bytes must be dropped, RGB preserved
    rgba = bytes(
        [10, 20, 30, 255, 40, 50, 60, 0,
         70, 80, 90, 128, 100, 110, 120, 7]
    )
    raw = b"\x00" + rgba[:8] + b"\x00" + rgba[8:]
    ihdr = _s.pack(">IIBBBBB", 2, 2, 8, 6, 0, 0, 0)
    payload = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _z.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    img = decode_image(payload)
    assert img["pixels"] == bytes(
        [10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120]
    )
    # paletted / 16-bit / interlaced are rejected, not mis-decoded
    for depth, color, interlace in ((8, 3, 0), (16, 2, 0), (8, 2, 1)):
        bad = (
            _PNG_SIG
            + _png_chunk(b"IHDR", _s.pack(">IIBBBBB", 2, 2, depth, color, 0, 0, interlace))
            + _png_chunk(b"IDAT", _z.compress(b"\x00"))
            + _png_chunk(b"IEND", b"")
        )
        with _pytest.raises(ValueError):
            decode_image(bad)


def test_resize_is_block_mean():
    """2x2 average pooling on a constructed 4x2 image, checked by hand."""
    # two 2x2 blocks per channel; left block red-ish, right block exact gray
    px = bytes(
        [100, 0, 0, 200, 0, 0, 50, 50, 50, 50, 50, 50,
         100, 0, 0, 200, 0, 0, 50, 50, 50, 50, 50, 50]
    )
    out = decode_image(resize_image(encode_ppm(4, 2, px)))
    assert (out["width"], out["height"]) == (2, 1)
    assert out["pixels"] == bytes([150, 0, 0, 50, 50, 50])


def test_mm_features_match_local_recompute(spark, sf_dir):
    """The Spark-rendered PPM payload and its REAL decode must both equal
    the local Python twin, byte for byte and stat for stat."""
    from ws_to_kafka_spark import tables

    rows = QUERIES["q_mm_features"].fn(spark, sf_dir).collect()
    texts = {
        r.doc_id: r.text
        for r in tables.load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    assert len(rows) == len(texts)
    seen_formats = set()
    for r in rows[:50]:
        payload = render_payload_py(r.doc_id, texts[r.doc_id])
        img = decode_image(payload)
        assert r.n_bytes == len(payload)
        want_fmt = "ppm" if r.doc_id % 2 == 0 else "png"
        assert (r.width, r.height, r.format) == (16, 16, want_fmt)
        assert r.mean_pixel == round(mean_pixel(img["pixels"]), 4)
        seen_formats.add(r.format)
        # the PNG container must yield the IDENTICAL raster as the PPM
        # twin of the same text — codec choice cannot change pixels
        assert img["pixels"] == decode_image(render_ppm_py(texts[r.doc_id]))["pixels"]
    assert seen_formats == {"ppm", "png"}


def test_shingle_cache_evicts_stale_apps(spark, sf_dir):
    """The cache key is applicationId (ADVICE round 2: id(spark) is
    GC-reusable and entries grew unboundedly); entries from other apps must
    be unpersisted and dropped on the next access."""
    from ws_to_kafka_spark.operators import dedup as D

    app_id = spark.sparkContext.applicationId
    live = D._shingled_docs(spark, sf_dir)
    stale = spark.range(1).persist()
    D._SHINGLE_CACHE[("dead-app-123", sf_dir, "shingles")] = stale
    again = D._shingled_docs(spark, sf_dir)
    assert again is live, "same-app entry must be served from cache"
    assert ("dead-app-123", sf_dir, "shingles") not in D._SHINGLE_CACHE
    assert stale.storageLevel.useMemory is False, "stale entry not unpersisted"
    assert all(k[0] == app_id for k in D._SHINGLE_CACHE)


def test_mm_resize_matches_local_recompute(spark, sf_dir):
    """Real decode -> 2x2 pool -> re-encode: every OUTPUT BYTE must match
    the local recompute over the same rendered payload."""
    from ws_to_kafka_spark import tables
    from ws_to_kafka_spark.operators.multimodal import _decode_ppm

    rows = QUERIES["q_mm_resize"].fn(spark, sf_dir).collect()
    texts = {
        r.doc_id: r.text
        for r in tables.load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    assert len(rows) == len(texts)
    for r in rows[:50]:
        payload = render_payload_py(r.doc_id, texts[r.doc_id])
        expected = resize_image(payload)
        assert r.n_bytes_in == len(payload)
        assert r.n_bytes_out == len(expected)
        assert (r.width_out, r.height_out) == (8, 8)
        assert bytes(r.payload_out) == expected
        ex_img = _decode_ppm(expected)
        assert r.mean_out == round(mean_pixel(ex_img["pixels"]), 4)


def test_embed_neardup_recall_on_planted_duplicates(spark, tmp_path):
    """Recall guarantee at the REAL operating point: the fixture corpora are
    random vectors (max cosine ~0.5, no true near-dups), so the oracle only
    proves blocking determinism there. This plants genuine near-duplicate
    pairs (cos >= ~0.98) in a random corpus and requires q_dedup_embed to
    recover EVERY planted pair — the 8-band x 16-bit hyperplane keys give
    p ~ 1-(1-p_bit^16)^8 > 0.99 per pair at cos 0.99, and the planted
    perturbation is small enough that all bands agree deterministically
    for most pairs; any missed pair here means the banding broke."""
    import numpy as np
    from pyspark.sql import functions as F

    from ws_to_kafka_spark.operators import QUERIES

    rng = np.random.default_rng(42)
    dim, n_random, n_pairs = 64, 200, 20
    rows = []
    for i in range(n_random):
        rows.append((i, [float(x) for x in rng.normal(size=dim)], 0))
    # planted pairs: vec and vec + tiny noise -> cosine ~0.999
    for j in range(n_pairs):
        base = rng.normal(size=dim)
        near = base + rng.normal(size=dim) * 0.01
        rows.append((1000 + 2 * j, [float(x) for x in base], 1))
        rows.append((1000 + 2 * j + 1, [float(x) for x in near], 1))
    dst = str(tmp_path / "planted")
    spark.createDataFrame(
        rows, schema="vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(f"{dst}/embeddings.parquet")
    found = {
        (r.vec_a, r.vec_b)
        for r in QUERIES["q_dedup_embed"].fn(spark, dst).collect()
    }
    planted = {(1000 + 2 * j, 1000 + 2 * j + 1) for j in range(n_pairs)}
    missed = planted - found
    assert not missed, f"banding missed planted near-dups: {sorted(missed)}"


def test_kmeans_matches_numpy_lloyd_and_lowers_inertia(spark, sf_dir):
    """q_embed_kmeans vs an independent numpy Lloyd implementation over
    the same quantized inputs: every assignment and 6dp distance must
    match, and the Lloyd guarantee (total inertia non-increasing across
    the two centroid updates) must hold — the invariant the DuckDB oracle
    can't express."""
    import numpy as np

    from ws_to_kafka_spark import tables
    from ws_to_kafka_spark.operators.similarity import _KM_K, _KM_SCALE, _KM_UPDATES

    rows = (
        tables.load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows])
    order = np.argsort(ids)
    ids = ids[order]
    q = np.floor(
        np.array([r.embedding for r in rows], dtype=np.float64)[order] * _KM_SCALE
    )
    cent = q[ids < _KM_K]

    inertias = []

    def assign(cent):
        # same |v|^2 - 2<v,c> + |c|^2 expansion, rounded at 6dp, cluster
        # tie-break by lowest id (np.argmin takes the first minimum)
        d2 = np.round(
            (q * q).sum(1)[:, None]
            - 2 * q @ cent.T
            + (cent * cent).sum(1)[None, :],
            6,
        )
        a = d2.argmin(1)
        return a, d2[np.arange(len(q)), a]

    a, d = assign(cent)
    inertias.append(d.sum())
    live = sorted(set(a))
    for _ in range(_KM_UPDATES):
        cent = np.array([q[a == c].mean(0) for c in live])
        a_idx, d = assign(cent)
        a = np.array([live[i] for i in a_idx])
        inertias.append(d.sum())
        live = sorted(set(a))
    got = {
        r.vec_id: (r.cluster_id, r.d2)
        for r in QUERIES["q_embed_kmeans"].fn(spark, sf_dir).collect()
    }
    assert len(got) == len(ids)
    for i, vid in enumerate(ids):
        assert got[vid][0] == a[i], f"vec {vid}: {got[vid][0]} != {a[i]}"
        assert abs(got[vid][1] - d[i]) < 1e-6, f"vec {vid} distance"
    assert inertias[0] >= inertias[1] >= inertias[2], inertias


def test_coreset_matches_numpy_greedy_and_radius_monotone(spark, sf_dir):
    """q_embed_coreset vs an independent numpy farthest-point traversal
    over the same quantized inputs: the selection sequence must match
    exactly, and the d2_at_pick coverage-radius curve must be monotone
    non-increasing (the Gonzalez-greedy invariant the docstring
    promises)."""
    import numpy as np

    from ws_to_kafka_spark import tables
    from ws_to_kafka_spark.operators.similarity import _CORESET_K

    rows = (
        tables.load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows])
    order = np.argsort(ids)
    ids = ids[order]
    q = np.floor(
        np.array([r.embedding for r in rows], dtype=np.float64)[order] * 1000
    )
    sel = [int(np.where(ids == 0)[0][0])]
    mind2 = ((q - q[sel[0]]) ** 2).sum(axis=1)
    expect = [(1, 0, None)]
    for rank in range(2, _CORESET_K + 1):
        mind2[sel] = -1  # exclude already-selected
        best = int(np.lexsort((ids, -mind2))[0])
        expect.append((rank, int(ids[best]), int(mind2[best])))
        sel.append(best)
        mind2 = np.minimum(mind2, ((q - q[best]) ** 2).sum(axis=1))
    got = sorted(
        (
            (r.rank, r.vec_id, r.d2_at_pick)
            for r in QUERIES["q_embed_coreset"].fn(spark, sf_dir).collect()
        )
    )
    assert got == expect
    radii = [d for _, _, d in expect if d is not None]
    assert radii == sorted(radii, reverse=True), "coverage radius not monotone"


def test_pca_direction_matches_numpy_power_iteration(spark, sf_dir):
    """q_embed_pca vs numpy: the same quantized integer co-moment matrix
    and two all-ones-seeded power iterations must produce the identical
    normalized direction (6dp) and lambda estimate (4dp)."""
    import math

    import numpy as np

    from ws_to_kafka_spark import tables
    from ws_to_kafka_spark.operators.similarity import _PCA_SCALE

    rows = (
        tables.load(spark, sf_dir, "embeddings").select("embedding").collect()
    )
    q = np.floor(np.array([r.embedding for r in rows], dtype=np.float64) * _PCA_SCALE)
    n, d = q.shape
    s = q.sum(axis=0)
    smat = q.T @ q
    cmat = np.floor((n * smat - np.outer(s, s)) / n)
    v1 = cmat.sum(axis=0)  # C @ ones
    v2 = cmat.T @ v1
    m1, m2 = np.abs(v1).max(), np.abs(v2).max()
    exp_pc1 = {
        j + 1: math.floor(v2[j] / m2 * 1e6 + 0.5) / 1e6 for j in range(d)
    }
    exp_lambda = math.floor(m2 / m1 * 1e4 + 0.5) / 1e4
    out = {r.dim: r for r in QUERIES["q_embed_pca"].fn(spark, sf_dir).collect()}
    assert len(out) == d
    for j in range(1, d + 1):
        assert abs(out[j].pc1 - exp_pc1[j]) < 1e-9
        assert abs(out[j].lambda_est - exp_lambda) < 1e-9
        assert out[j].c_diag == int(cmat[j - 1][j - 1])


def test_jpeg_codec_roundtrip_properties():
    """Baseline JPEG encode/decode pins: deterministic bytes, exact
    container fields, lossy-but-bounded pixels on smooth content, and
    quarantine rejection of unsupported shapes."""
    import numpy as np

    from ws_to_kafka_spark.operators.multimodal import (
        _decode_jpeg,
        encode_jpeg,
    )

    flat = bytes([100, 150, 200] * 256)
    jp = encode_jpeg(16, 16, flat)
    assert jp[:2] == b"\xff\xd8" and jp[-2:] == b"\xff\xd9"
    assert encode_jpeg(16, 16, flat) == jp, "encoder must be deterministic"
    d = _decode_jpeg(jp)
    assert (d["width"], d["height"], d["format"]) == (16, 16, "jpeg")
    assert _decode_jpeg(jp)["pixels"] == d["pixels"], "decode deterministic"
    a = np.frombuffer(flat, np.uint8).astype(int)
    b = np.frombuffer(d["pixels"], np.uint8).astype(int)
    assert np.abs(a - b).max() <= 3, "flat color must survive quantization"
    # non-multiple-of-8 dimensions exercise edge-replication padding
    pix = bytes(min(255, x * 9 + y * 5) for y in range(9) for x in range(13) for _ in range(3))
    d2 = _decode_jpeg(encode_jpeg(13, 9, pix))
    assert (d2["width"], d2["height"], len(d2["pixels"])) == (13, 9, 13 * 9 * 3)
    # dispatch through the public entry point
    assert decode_image(jp)["format"] == "jpeg"
    # truncated / non-jpeg payloads quarantine
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _decode_jpeg(b"\xff\xd8\xff\xc2" + b"\x00\x04\x08\x00")  # SOF2


def test_mm_jpeg_matches_local_recompute(spark, sf_dir):
    """q_mm_jpeg: every Spark-side stat must equal rendering + decoding
    the same document text locally through the identical codec path."""
    from ws_to_kafka_spark import tables
    from ws_to_kafka_spark.operators.multimodal import render_jpeg_py

    rows = QUERIES["q_mm_jpeg"].fn(spark, sf_dir).collect()
    texts = {
        r.doc_id: r.text
        for r in tables.load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    assert len(rows) == len(texts)
    for r in rows[:40]:
        payload = render_jpeg_py(texts[r.doc_id])
        img = decode_image(payload)
        assert img["format"] == "jpeg"
        assert r.n_bytes == len(payload)
        assert (r.width, r.height, r.format) == (16, 16, "jpeg")
        assert r.mean_pixel == round(mean_pixel(img["pixels"]), 4)


def test_wav_codec_roundtrip_and_quarantine():
    from ws_to_kafka_spark.operators.multimodal import decode_wav, encode_wav

    import pytest as _pytest

    s = [0, 1, -1, 32767, -32768, 1000, -999]
    d = decode_wav(encode_wav(s, rate=8000))
    assert d["rate"] == 8000 and d["samples"] == s
    assert decode_wav(encode_wav([])) == {"rate": 16000, "samples": []}
    with _pytest.raises(ValueError):
        decode_wav(b"not audio at all")
    with _pytest.raises(ValueError):
        decode_wav(b"RIFF\x00\x00\x00\x00WAVE")  # no data chunk
    # stereo/8-bit forms quarantine
    import struct as _struct

    bad_fmt = (
        b"RIFF" + _struct.pack("<I", 40) + b"WAVE"
        + b"fmt " + _struct.pack("<IHHIIHH", 16, 1, 2, 16000, 64000, 4, 16)
        + b"data" + _struct.pack("<I", 4) + b"\x00\x00\x00\x00"
    )
    with _pytest.raises(ValueError):
        decode_wav(bad_fmt)


def test_mm_audio_matches_local_recompute(spark, sf_dir):
    """q_mm_audio: every Spark-side stat must equal rendering + decoding
    the same text locally through the identical WAV chain."""
    import math

    from ws_to_kafka_spark import tables
    from ws_to_kafka_spark.operators.multimodal import (
        decode_wav,
        render_wav_py,
    )

    rows = QUERIES["q_mm_audio"].fn(spark, sf_dir).collect()
    texts = {
        r.doc_id: r.text
        for r in tables.load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    assert len(rows) == len(texts)
    for r in rows[:40]:
        payload = render_wav_py(texts[r.doc_id])
        d = decode_wav(payload)
        s = d["samples"]
        assert r.n_bytes == len(payload)
        assert (r.rate, r.n_samples) == (16000, len(s))
        assert r.duration_ms == round(len(s) * 1000.0 / 16000, 4)
        assert r.rms == round(math.sqrt(sum(x * x for x in s) / len(s)), 4)
        assert r.peak == max(abs(x) for x in s)


def test_mjpeg_codec_roundtrip_and_quarantine():
    import pytest as _pytest

    from ws_to_kafka_spark.operators.multimodal import (
        decode_mjpeg,
        encode_jpeg,
        encode_mjpeg,
        render_mjpeg_py,
    )

    f1 = encode_jpeg(16, 16, bytes([50, 100, 150] * 256))
    f2 = encode_jpeg(16, 16, bytes([200, 10, 90] * 256))
    frames = decode_mjpeg(encode_mjpeg([f1, f2]))
    assert len(frames) == 2
    assert frames[0]["pixels"] != frames[1]["pixels"]
    assert render_mjpeg_py("abc") == render_mjpeg_py("abc")
    with _pytest.raises(ValueError):
        decode_mjpeg(b"notvideo")
    with _pytest.raises(ValueError):
        decode_mjpeg(encode_mjpeg([f1]) + b"trailing-garbage")
    with _pytest.raises(ValueError):
        decode_mjpeg(f1[:-2])  # frame without EOI
    with _pytest.raises(ValueError):
        encode_mjpeg([b"\xff\xd8nope"])


def test_mm_video_matches_local_recompute(spark, sf_dir):
    """q_mm_video: every per-frame stat must equal rendering + decoding
    the same text locally through the identical MJPEG chain."""
    from ws_to_kafka_spark import tables
    from ws_to_kafka_spark.operators.multimodal import (
        decode_mjpeg,
        render_mjpeg_py,
    )

    rows = QUERIES["q_mm_video"].fn(spark, sf_dir).collect()
    texts = {
        r.doc_id: r.text
        for r in tables.load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    assert len(rows) == 4 * len(texts)
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id in list(by_doc)[:15]:
        local = decode_mjpeg(render_mjpeg_py(texts[doc_id]))
        got = sorted(by_doc[doc_id], key=lambda r: r.frame_idx)
        assert [r.frame_idx for r in got] == [0, 1, 2, 3]
        for r, fr in zip(got, local):
            assert (r.width, r.height, r.n_frames) == (16, 16, 4)
            assert r.mean_pixel == round(
                mean_pixel(fr["pixels"]), 4
            )
        # frames must actually differ (the rotation makes indexing bugs
        # visible as stat mismatches)
        assert len({r.mean_pixel for r in got}) > 1


def test_graph_search_recall_vs_brute_force(spark, sf_dir):
    """q_sim_graph_search is oracle-checked for exact replayability; this
    pins its QUALITY: deterministic beam search over the symmetrized
    fixture k-NN graph must recover a healthy share of the true top-5
    (measured 0.8; asserted >= 0.6 to absorb fixture regeneration)."""
    from ws_to_kafka_spark.operators import QUERIES

    exact = {
        (r.query_id, r.vec_id)
        for r in QUERIES["q_sim_topk"].fn(spark, sf_dir).collect()
        if r.query_id < 3
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in QUERIES["q_sim_graph_search"].fn(spark, sf_dir).collect()
    }
    assert len(approx) == len(exact)  # full top-5 emitted per query
    assert len(exact & approx) / len(exact) >= 0.6


def test_knn_ann_recall_and_exactness_on_fixture(spark, sf_dir):
    """q_embed_knn_ann vs the exact build on the RANDOM-vector fixture —
    the adversarial regime for any ANN build (uniform 64-d vectors put
    the true top-5 ≈3σ from the cosine bulk; separating them without
    near-exhaustive scoring is information-theoretically impossible, see
    the operator docstring). Floor pinned at the measured 0.77 minus
    regeneration slack. Every edge BOTH builds emit must carry a
    bit-identical cosine (shared quantized-integer arithmetic) — the
    precision-1.0-by-construction claim."""
    exact = {
        (r.vec_id, r.nbr): r.cosine
        for r in QUERIES["q_embed_knn_graph"].fn(spark, sf_dir).collect()
    }
    ann = {
        (r.vec_id, r.nbr): r.cosine
        for r in QUERIES["q_embed_knn_ann"].fn(spark, sf_dir).collect()
    }
    assert len(ann) == len(exact)  # full degree-5 graph on both sides
    common = set(exact) & set(ann)
    recall = len(common) / len(exact)
    assert recall >= 0.65, f"ANN graph recall {recall:.0%} too low"
    assert all(exact[e] == ann[e] for e in common)


def test_semdedup_planted_duplicate_groups(spark, tmp_path, monkeypatch):
    """q_dedup_semantic at the PRODUCTION operating point (τ=0.95 — the
    registered gate runs a fixture-scaled τ, see _SEMDEDUP_TAU): plant
    explicit semantic-duplicate groups (near-copies, cosine ≈0.9999)
    among distinct cluster members (cosine ≈0.6 to each other) and pin
    the paper's behavior — exactly one survivor per duplicate group,
    every distinct vector kept, every dropped row naming the group's
    kept maximum as keeper."""
    from ws_to_kafka_spark.operators import similarity as S

    # splitmix64 over a counter, output in [-1, 1). NOT the sibling
    # tests' LCG-with->>33 helper: that one lands in [-1, 0) — every
    # component negative puts all vectors in ONE orthant (baseline
    # cosine 0.75 between independent vectors) and its consecutive
    # draws are lattice-correlated, both fatal for tight cosine
    # thresholds. Measured here: distinct members max cos 0.76,
    # planted dups >= 0.9999 — clean margins on both sides of 0.95.
    ctr = 0x5EED
    def nxt():
        nonlocal ctr
        ctr = (ctr + 0x9E3779B97F4A7C15) % (1 << 64)
        z = ctr
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) % (1 << 64)
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) % (1 << 64)
        z = z ^ (z >> 31)
        return (z >> 32) / float(1 << 31) - 1.0

    rows, groups, vid = [], [], 0
    for c in range(10):
        center = [nxt() for _ in range(64)]
        base_ids = []
        for _m in range(8):
            vec = [center[d] + 0.8 * nxt() for d in range(64)]
            rows.append((vid, [float(x) for x in vec], 0))
            base_ids.append((vid, vec))
            vid += 1
        if c < 5:  # plant a 4-member duplicate group on member 0
            g = [base_ids[0][0]]
            proto = base_ids[0][1]
            for _ in range(3):
                dup = [proto[d] + 0.01 * nxt() for d in range(64)]
                rows.append((vid, [float(x) for x in dup], 0))
                g.append(vid)
                vid += 1
            groups.append(g)
    dst = str(tmp_path / "sf_semdedup")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(f"{dst}/embeddings.parquet")

    monkeypatch.setattr(S, "_SEMDEDUP_TAU", 0.95)
    out = {
        r.vec_id: r
        for r in QUERIES["q_dedup_semantic"].fn(spark, dst).collect()
    }
    assert len(out) == vid  # one row per vector, always
    dup_ids = {v for g in groups for v in g}
    # every distinct (non-planted) vector is kept
    for v, r in out.items():
        if v not in dup_ids:
            assert r.keep and r.keeper_id is None, (v, r)
    # exactly one survivor per planted group, and the dropped members
    # name it (all-pairs-similar group => keeper is the group maximum)
    for g in groups:
        kept = [v for v in g if out[v].keep]
        assert len(kept) == 1, (g, kept)
        for v in g:
            if v != kept[0]:
                assert out[v].keeper_id == kept[0], (v, out[v])


@pytest.mark.heavy  # ~80 s: constructed beyond-fixture-scale corpus —
# scale evidence, not operator correctness (fast-lane budget, r14)
def test_semdedup_adaptive_k_beyond_fixture_scale(spark, tmp_path):
    """q_dedup_semantic's n-adaptive cluster count (k = max(8, n//250))
    engages only ABOVE fixture sizes — this pin constructs a
    3000-vector corpus (k = 12) and requires (a) more than the fixed 8
    clusters actually materialize and (b) exact oracle agreement, i.e.
    the scalar-subquery k in the DuckDB chain computes the same value
    as the driver-side //. Without this, the linearity claim's
    mechanism is never executed by any gate (every fixture sits at
    k = 8)."""
    import duckdb

    ctr = 0xADA9
    def nxt():
        nonlocal ctr
        ctr = (ctr + 0x9E3779B97F4A7C15) % (1 << 64)
        z = ctr
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) % (1 << 64)
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) % (1 << 64)
        z = z ^ (z >> 31)
        return (z >> 32) / float(1 << 31) - 1.0

    rows = [
        (i, [float(nxt()) for _ in range(64)], 0) for i in range(3000)
    ]
    dst = str(tmp_path / "sf_adaptk")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(f"{dst}/embeddings.parquet")

    spec = QUERIES["q_dedup_semantic"]
    df = spec.fn(spark, dst)
    got = {r.vec_id: r for r in df.collect()}
    n_clusters = df.select("cluster_id").distinct().count()
    assert n_clusters > 8, f"adaptive k did not engage: {n_clusters}"

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{dst}/embeddings.parquet/*.parquet')"
    )
    cur = con.execute(spec.oracle)
    cols = [d[0] for d in cur.description]
    want = {row[cols.index("vec_id")]: dict(zip(cols, row)) for row in cur.fetchall()}
    assert set(got) == set(want) and len(got) == 3000
    for vid, r in got.items():
        w = want[vid]
        # decision columns: EXACT cross-engine agreement
        assert (r.cluster_id, r.keep, r.keeper_id) == (
            w["cluster_id"], w["keep"], w["keeper_id"]
        ), (vid, r, w)
        # d2 passes through ROUND(x, 6) of NON-integer arithmetic
        # (centroid coords are IEEE divisions), so at this super-fixture
        # scale a row can land on a rounding boundary where the engines'
        # last-ulp disagreement shows in the 6th decimal (observed: one
        # of 3000 rows, 16922118.756879 vs ...878 — the CLAUDE.md
        # float-determinism note). d2 is DISPLAY-ONLY since round 12:
        # keep/keeper decisions order on the exact int64 ikey
        # (= cnt²·d2, cnt² cancelling within a cluster), so the
        # tolerance below covers only the cosmetic column and the
        # decision assertions above are structurally boundary-proof.
        assert abs(r.d2 - w["d2"]) <= 2e-6, (vid, r.d2, w["d2"])


def test_score_pairs_dispatch_paths_bit_identical(spark, sf_dir, monkeypatch):
    """The _score_pairs_exact physical dispatch (round 11) must be
    invisible in results: the broadcast-gather path (fixtures, corpora
    under _SCORE_BCAST_MAX_VECS) and the shuffle-join path (the 100 TB
    fallback) share the arithmetic expression-for-expression, so
    forcing the join path by zeroing the cap must reproduce
    q_dedup_semantic and q_embed_knn_ann BIT-IDENTICALLY — the SCC
    local-kernel/distributed equivalence discipline applied to the
    scorer gate. Without this pin no test executes the join path at
    all (every fixture fits the broadcast gate)."""
    from ws_to_kafka_spark.operators import similarity as S

    def snap_sem():
        return {
            tuple(r)
            for r in QUERIES["q_dedup_semantic"].fn(spark, sf_dir).collect()
        }

    def snap_knn():
        return {
            tuple(r)
            for r in QUERIES["q_embed_knn_ann"].fn(spark, sf_dir).collect()
        }

    bcast_sem, bcast_knn = snap_sem(), snap_knn()
    monkeypatch.setattr(S, "_SCORE_BCAST_MAX_VECS", 0)
    assert snap_sem() == bcast_sem
    assert snap_knn() == bcast_knn


def test_kmeans_twolevel_dispatch_bit_identical(spark, sf_dir, monkeypatch):
    """The two-level Lloyd-assignment dispatch (round 12: super-centroid
    probe with triangle-inequality pruning above _KM_TWOLEVEL_MIN_K
    centroids — the scale path that makes q_dedup_semantic's assignment
    stage n·O(√k) instead of n·k) must be EXACT, not approximate: the
    pruning bound is sound and the surviving candidates run the same
    d2 expression + argmin window as the exhaustive crossJoin, so
    forcing the probe path at fixture scale (k=8, 4 supers of 2) must
    reproduce the whole kmeans family and SemDeDup BIT-IDENTICALLY —
    the scorer-gate / SCC dispatch-equivalence discipline. Without
    this pin no fixture gate executes the probe path at all (it
    engages organically only at k > 64, i.e. corpora above ~16k
    vectors)."""
    from ws_to_kafka_spark.operators import similarity as S

    def snap(q):
        return {tuple(r) for r in QUERIES[q].fn(spark, sf_dir).collect()}

    exact = {
        q: snap(q)
        for q in ("q_embed_kmeans", "q_embed_outliers", "q_dedup_semantic")
    }
    monkeypatch.setattr(S, "_KM_FORCE_TWOLEVEL", True)
    for q, want in exact.items():
        assert snap(q) == want, f"two-level probe diverged on {q}"


def test_kmeans_twolevel_tiny_and_empty_corpus(spark, tmp_path, monkeypatch):
    """Degenerate-corpus pins for the forced two-level path: k < 4
    centroids must not index the super matrix past its end (the round-12
    kp = min(k, max(4, √k)) bound — max-outermost computed kp=4 > k and
    S[s] raised on the empty supers), and an empty corpus must yield an
    empty assignment, matching the exhaustive path on both."""
    from ws_to_kafka_spark.operators import similarity as S

    tiny = str(tmp_path / "sf_tiny")
    rows = [(i, [float((i * 7 + d) % 13) / 13 for d in range(64)], 0)
            for i in range(3)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(f"{tiny}/embeddings.parquet")
    empty = str(tmp_path / "sf_empty")
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(f"{empty}/embeddings.parquet")

    def snap(sf):
        return {
            tuple(r)
            for r in QUERIES["q_dedup_semantic"].fn(spark, sf).collect()
        }

    want_tiny, want_empty = snap(tiny), snap(empty)
    assert len(want_tiny) == 3 and want_empty == set()
    monkeypatch.setattr(S, "_KM_FORCE_TWOLEVEL", True)
    assert snap(tiny) == want_tiny
    assert snap(empty) == want_empty


def test_kmeans_converge_loop_bit_identical_and_exits(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Round-14 pin (VERDICT r13 item 4): the size-gated driver-fed
    Lloyd convergence loop must (a) reproduce the embedded fixed-round
    plan BIT-IDENTICALLY on the fixtures (where it never exits early —
    both paths run all _KM_UPDATES), and (b) actually EXIT on a corpus
    whose assignment reaches its exact fixed point after one update
    (tight, well-separated clusters), still bit-identical to the
    fixed-round result — the exit fires only when the remaining passes
    are provably no-ops, so equality holds by construction and this
    pins it. Covers the exhaustive AND forced two-level paths."""
    from ws_to_kafka_spark.operators import similarity as S

    def snap(q, sf):
        return {tuple(r) for r in QUERIES[q].fn(spark, sf).collect()}

    # (a) fixture equality + no early exit on unconverged data.
    # kmeans (fixed-k exhaustive) + semantic (n-adaptive k) cover both
    # loop variants; q_embed_outliers shares kmeans' assignment frame
    # verbatim, so it adds runtime and no path coverage here (fast-lane
    # budget)
    want = {
        q: snap(q, sf_dir)
        for q in ("q_embed_kmeans", "q_dedup_semantic")
    }
    monkeypatch.setattr(S, "_KM_FORCE_CONVERGE", True)
    for q, w in want.items():
        assert snap(q, sf_dir) == w, f"converge loop diverged on {q}"
    assert S._KM_LAST_UPDATES_RUN == S._KM_UPDATES  # fixtures don't converge

    # (b) converged corpus: 8 tight, far-apart clusters — assignment is
    # stable after the first update, so update 2's centroids equal
    # update 1's bit-for-bit and the loop exits one pass early
    rows, next_id = [], 8
    for c in range(8):
        # seed (vec_id = c: centroid seeding takes the first k vec_ids)
        base = [200.0 * (c + 1) if d == c else 0.0 for d in range(64)]
        rows.append((c, base))
        for m in range(5):  # tight members: within-cluster spread ~1,
            v = list(base)  # between-cluster separation ~200+
            v[32 + m] = 0.25 * (m + 1)
            rows.append((next_id, v))
            next_id += 1
    conv = str(tmp_path / "sf_conv")
    spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    ).coalesce(1).write.parquet(f"{conv}/embeddings.parquet")

    monkeypatch.setattr(S, "_KM_FORCE_CONVERGE", False)
    ref = snap("q_embed_kmeans", conv)
    assert S._KM_LAST_UPDATES_RUN == S._KM_UPDATES
    monkeypatch.setattr(S, "_KM_FORCE_CONVERGE", True)
    assert snap("q_embed_kmeans", conv) == ref
    assert S._KM_LAST_UPDATES_RUN < S._KM_UPDATES, (
        "converged corpus did not trigger the fixed-point exit"
    )


def test_embeddings_bytes_sizes_uri_paths(spark, sf_dir):
    """The convergence gate's input size comes from the Hadoop
    FileSystem, so a URI ``sf_dir`` (file:// here; s3a://, hdfs://
    alike) reads the same size as the plain path; os.path cannot size a
    URI, and without this the size-gated exit could never engage off the
    local disk. Checksum side files are not data."""
    import os

    from ws_to_kafka_spark.operators import similarity as S

    p = f"{sf_dir}/embeddings.parquet"
    want = os.path.getsize(p) if os.path.isfile(p) else sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(p)
        for f in fs
        if not f.startswith(".")
    )
    assert want > 0
    uri = "file://" + os.path.abspath(sf_dir)
    assert S._embeddings_bytes(spark, uri) == want
    assert S._embeddings_bytes(spark, sf_dir) == want
    assert S._embeddings_bytes(spark, uri + "/no_such_dir") == 0


def test_knn_ann_recall_clustered_corpus(spark, tmp_path_factory):
    """The regime the approximate build exists for: clustered embeddings
    (25 centers × 20 members, the shape of real model embeddings). LSH
    buckets isolate clusters and NN-descent completes them — recall ≥0.9
    (the round-8 VERDICT bar) at a candidate volume far under all-pairs."""
    import numpy as np

    rng_state = 0xC1A55
    def nxt():
        nonlocal rng_state
        rng_state = (
            rng_state * 6364136223846793005 + 1442695040888963407
        ) % (1 << 64)
        return (rng_state >> 33) / float(1 << 31) - 1.0

    rows = []
    vid = 0
    for _c in range(25):
        center = [nxt() for _ in range(64)]
        for _m in range(20):
            vec = [center[d] + 0.15 * nxt() for d in range(64)]
            rows.append((vid, [float(x) for x in vec], 0))
            vid += 1
    dst = str(tmp_path_factory.mktemp("sf_clustered"))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(f"{dst}/embeddings.parquet")

    exact = {
        (r.vec_id, r.nbr)
        for r in QUERIES["q_embed_knn_graph"].fn(spark, dst).collect()
    }
    ann = {
        (r.vec_id, r.nbr)
        for r in QUERIES["q_embed_knn_ann"].fn(spark, dst).collect()
    }
    recall = len(exact & ann) / len(exact)
    assert recall >= 0.9, f"clustered-corpus recall {recall:.0%} < 0.9"


def test_graph_search_over_ann_index(spark, sf_dir, monkeypatch):
    """The 100 TB combination: q_sim_graph_search navigating the
    APPROXIMATE build's graph (_GRAPH_INDEX_ANN flag). No oracle — the
    registered one replays the exact graph — so pin shape (full top-5
    per query) and quality vs brute force."""
    from ws_to_kafka_spark.operators import similarity

    monkeypatch.setattr(similarity, "_GRAPH_INDEX_ANN", True)
    got = QUERIES["q_sim_graph_search"].fn(spark, sf_dir).collect()
    per_query: dict = {}
    for r in got:
        per_query.setdefault(r.query_id, []).append(r)
    assert len(per_query) == 3  # _BEAM_QUERIES
    assert all(len(v) == 5 for v in per_query.values())
    brute = {
        (r.query_id, r.vec_id)
        for r in QUERIES["q_sim_topk"].fn(spark, sf_dir).collect()
        if r.query_id < 3
    }
    approx = {(r.query_id, r.vec_id) for r in got}
    assert len(brute & approx) / len(brute) >= 0.4
