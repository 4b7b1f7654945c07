"""Semantic tests for the LLM-pipeline operators beyond oracle parity:
the approximate paths must actually approximate the exact ones, and the
stubs must be loud.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from big_data_data_lake_spark.operators import dedup as dd
from big_data_data_lake_spark.operators import multimodal as mm
from big_data_data_lake_spark.queries import load_all

SF = "/root/testdata/sf0.001"
REG = load_all()


def test_ann_lsh_recall_vs_brute_force(spark):
    """The LSH-bucketed ANN must recover a solid fraction of the exact
    top-10 neighborhood (4 planes on near-orthogonal random vectors is
    intentionally coarse — this guards plumbing, not tuning)."""
    exact = {
        (r.qid, r.nid) for r in REG["ann_cosine_topk"].fn(spark, SF).collect()
    }
    approx = {(r.qid, r.nid) for r in REG["ann_lsh_topk"].fn(spark, SF).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"LSH ANN recall collapsed: {recall:.2f}"


def test_minhash_estimates_track_exact_jaccard(spark):
    """For pairs found by both the exact bigram-Jaccard scan and the
    MinHash LSH, the signature estimate must be within 0.25 of truth."""
    exact = {
        (r.d1, r.d2): r.jaccard
        for r in REG["audit_ngram_jaccard_pairs"].fn(spark, SF).collect()
    }
    est = {
        (r.d1, r.d2): r.est_sim for r in REG["minhash_lsh_pairs"].fn(spark, SF).collect()
    }
    both = set(exact) & set(est)
    assert both, "MinHash LSH found none of the planted near-dup pairs"
    for pair in both:
        assert abs(exact[pair] - est[pair]) <= 0.25, (pair, exact[pair], est[pair])


def test_planted_near_dups_found(spark):
    """The corpus has planted near-duplicates (bigram jaccard >= 0.3);
    every near-dup detector must surface a non-trivial set."""
    n_exact = REG["audit_ngram_jaccard_pairs"].fn(spark, SF).count()
    n_minhash = REG["minhash_lsh_pairs"].fn(spark, SF).count()
    n_simhash = REG["simhash_near_dups"].fn(spark, SF).count()
    assert n_exact > 0 and n_minhash > 0 and n_simhash > 0, (
        n_exact,
        n_minhash,
        n_simhash,
    )


@pytest.fixture(scope="module")
def degenerate_sf_dir(spark, tmp_path_factory):
    """An sf dir whose documents table carries degenerate rows (empty
    text, one token, two tokens) alongside the real corpus — the rows
    that used to throw INVALID_ARRAY_INDEX_IN_ELEMENT_AT in the
    shingle expressions under ANSI mode."""
    import os

    src = SF
    dst = tmp_path_factory.mktemp("degenerate_sf")
    for name in os.listdir(src):
        if name != "documents.parquet":
            os.symlink(os.path.join(src, name), dst / name)
    import duckdb

    duckdb.sql(
        f"""
        COPY (
            SELECT * FROM '{src}/documents.parquet'
            UNION ALL
            SELECT * FROM (VALUES
                (9001, '', 'en', 'degenerate', 0),
                (9002, 'solo', 'en', 'degenerate', 4),
                (9003, 'two tokens', 'en', 'degenerate', 10),
                (9004, 'two tokens', 'en', 'degenerate', 10),
                (9005, NULL, 'en', 'degenerate', 0),
                (9006, NULL, 'en', 'degenerate', 0),
                (9007, NULL, 'en', 'degenerate', 0),
                (9008, 'lone', 'en', 'degenerate', 4)
            ) t(doc_id, text, lang, source, n_chars)
        ) TO '{dst}/documents.parquet' (FORMAT PARQUET)
        """
    )
    return str(dst)


@pytest.mark.parametrize(
    "name",
    [
        "ngram_jaccard_pairs",
        "minhash_lsh_pairs",
        "simhash_signatures",
        "simhash_near_dups",
        "minhash_dup_summary",
        "simhash_dup_summary",
        "fuzzy_dup_summary",
        "fuzzy_dup_lsh_summary",
    ],
)
def test_shingle_queries_survive_short_documents(spark, degenerate_sf_dir, name):
    """Empty / one-token / NULL-text documents must neither crash the
    shingle expressions (Spark's sequence(1,0) counts DOWN; element_at
    throws under ANSI) nor diverge from the oracle, whose
    generate_series is empty for the same rows. The NULL-text rows pin
    the r11-advice minhash_dup_summary bug: all-NULL signatures group
    TOGETHER under Window.partitionBy while the oracle's equi-joins
    reject them, so without the isNotNull pre-filter the summary
    falsely reported every degenerate doc as a near-dup (est 1.0)."""
    from big_data_data_lake_spark.testing import check_query

    issues = check_query(spark, name, sf_dir=degenerate_sf_dir)
    assert not issues, f"{name}: " + "; ".join(issues)


def test_ppm_decode_roundtrip():
    import numpy as np

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 9, 3), dtype=np.uint8)
    assert (mm.decode_image(mm.encode_ppm(img)) == img).all()
    # header comments are legal PPM
    with_comment = b"P6\n# a comment\n9 5\n255\n" + img.tobytes()
    assert (mm.decode_image(with_comment) == img).all()
    # a "\r\n"-terminated header must not shift the raster
    crlf = b"P6\r\n9 5\r\n255\r\n" + img.tobytes()
    assert (mm.decode_ppm(crlf) == img).all()


def test_bmp_decode_real_pixels():
    import numpy as np

    # hand-built 2x2 24-bit BMP, bottom-up BGR rows padded to 4 bytes:
    # top row (red, green), bottom row (blue, white)
    rows = [
        b"\xff\x00\x00" + b"\xff\xff\xff" + b"\x00\x00",  # bottom: blue, white
        b"\x00\x00\xff" + b"\x00\xff\x00" + b"\x00\x00",  # top: red, green
    ]
    pixel_data = b"".join(rows)
    header = (
        b"BM" + (54 + len(pixel_data)).to_bytes(4, "little") + b"\0\0\0\0"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + (2).to_bytes(4, "little", signed=True)   # width
        + (2).to_bytes(4, "little", signed=True)   # height (bottom-up)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")               # bpp
        + (0).to_bytes(4, "little")                # BI_RGB
        + b"\0" * 20
    )
    img = mm.decode_image(header + pixel_data)
    expect = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 255]]], dtype=np.uint8
    )
    assert (img == expect).all()


def test_compressed_decode_is_a_loud_stub():
    # video containers (here: an MP4 ftyp box) still need ffmpeg
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"\x00\x00\x00\x18ftypisom....")


def test_jpeg_roundtrip_smooth_image():
    import numpy as np
    from _encoders import encode_jpeg

    h, w = 24, 33  # non-multiple-of-8 width exercises edge padding
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(yy * 7) % 256, (xx * 5) % 256, ((yy + xx) * 3) % 256], axis=2
    ).astype(np.uint8)
    blob = encode_jpeg(img)
    # spec structure: SOI ... EOI, with DQT/SOF0/DHT/SOS segments
    assert blob[:2] == b"\xff\xd8" and blob[-2:] == b"\xff\xd9"
    for marker in (b"\xff\xdb", b"\xff\xc0", b"\xff\xc4", b"\xff\xda"):
        assert marker in blob
    dec = mm.decode_image(blob)  # dispatches through decode_image
    assert dec.shape == img.shape
    err = np.abs(dec.astype(int) - img.astype(int))
    # smooth content survives Annex-K quantization nearly intact
    assert err.max() <= 12 and err.mean() < 3.0


def test_jpeg_flat_block_is_near_exact():
    import numpy as np

    from _encoders import encode_jpeg

    from big_data_data_lake_spark.operators import jpeg as J

    flat = np.full((8, 8, 3), 77, dtype=np.uint8)
    dec = J.decode_jpeg(encode_jpeg(flat))
    assert np.abs(dec.astype(int) - 77).max() <= 2


def test_jpeg_unsupported_profiles_are_loud():
    import numpy as np

    from _encoders import encode_jpeg

    from big_data_data_lake_spark.operators import jpeg as J

    blob = bytearray(encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8)))
    # rewrite the SOF0 marker (FFC0) to SOF2 (progressive)
    i = bytes(blob).find(b"\xff\xc0")
    blob[i + 1] = 0xC2
    with pytest.raises(NotImplementedError):
        J.decode_jpeg(bytes(blob))
    with pytest.raises(ValueError):
        J.decode_jpeg(b"\xff\xd8\xff\xd9")  # no SOF/SOS at all


def test_png_roundtrip():
    import numpy as np
    from _encoders import encode_png

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(7, 5, 3), dtype=np.uint8)
    blob = encode_png(img)
    assert blob[:8] == b"\x89PNG\r\n\x1a\n"
    assert (mm.decode_image(blob) == img).all()


def _png_with_filters(img, filters):
    """Hand-filter scanlines with the spec formulas (straight from RFC
    2083 §6) and assemble a PNG, so decode_png's unfilter paths are
    checked against an independent implementation."""
    import zlib

    import numpy as np

    h, w, ch = img.shape
    px = img.astype(np.int32)
    raw = bytearray()
    for y in range(h):
        f = filters[y % len(filters)]
        raw.append(f)
        for x in range(w * ch):
            cur = int(px[y, x // ch, x % ch])
            a = int(px[y, (x - ch) // ch, x % ch]) if x >= ch else 0
            b = int(px[y - 1, x // ch, x % ch]) if y else 0
            c = int(px[y - 1, (x - ch) // ch, x % ch]) if (y and x >= ch) else 0
            if f == 0:
                out = cur
            elif f == 1:
                out = cur - a
            elif f == 2:
                out = cur - b
            elif f == 3:
                out = cur - ((a + b) >> 1)
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                out = cur - pred
            raw.append(out & 0xFF)

    def chunk(typ, data):
        return (
            len(data).to_bytes(4, "big")
            + typ
            + data
            + (zlib.crc32(typ + data) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    ctype = {1: 0, 3: 2, 4: 6}[ch]
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, ctype, 0, 0, 0])
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_all_filter_types_unfilter_correctly():
    import numpy as np

    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, size=(10, 6, 3), dtype=np.uint8)
    # cycle through every filter type across the scanlines
    blob = _png_with_filters(img, [0, 1, 2, 3, 4])
    assert (mm.decode_png(blob) == img).all()


def test_png_gray_and_rgba_normalize_to_rgb():
    import numpy as np

    rng = np.random.default_rng(17)
    gray = rng.integers(0, 256, size=(4, 3, 1), dtype=np.uint8)
    got = mm.decode_png(_png_with_filters(gray, [0, 1, 2]))
    assert (got == np.repeat(gray, 3, axis=2)).all()

    rgba = rng.integers(0, 256, size=(4, 3, 4), dtype=np.uint8)
    got = mm.decode_png(_png_with_filters(rgba, [4, 3, 0]))
    assert (got == rgba[:, :, :3]).all()


def test_png_unsupported_profiles_are_loud():
    import numpy as np
    from _encoders import encode_png

    img = np.zeros((2, 2, 3), dtype=np.uint8)
    blob = bytearray(encode_png(img))
    # flip IHDR bit depth (byte 8 of the 13-byte IHDR payload) to 16
    depth_off = 8 + 8 + 8  # sig + len/type + width/height
    blob[depth_off] = 16
    with pytest.raises(NotImplementedError):
        mm.decode_png(bytes(blob))
    with pytest.raises(ValueError):
        mm.decode_png(b"\x89PNG\r\n\x1a\n")  # truncated: no chunks


def test_resize_does_real_pixel_work(spark):
    import numpy as np

    # 4x2 gradient -> 2x1: nearest-neighbor picks columns 0 and 2
    img = np.arange(4 * 2 * 3, dtype=np.uint8).reshape(2, 4, 3)
    small = mm.resize_nearest(img, 2, 1)
    assert (small == img[[0]][:, [0, 2]]).all()

    df = spark.createDataFrame(
        [(1, bytearray(mm.encode_ppm(img)))], "doc_id long, blob binary"
    )
    out = mm.resize_images(df, target_w=2, target_h=1).collect()[0]
    decoded = mm.decode_image(bytes(out.resized))
    assert decoded.shape == (1, 2, 3)
    assert (decoded == small).all()


def test_multimodal_batch_plumbing(spark):
    """mapInPandas must preserve row count and produce the declared
    schema over real Arrow binary batches."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    feats = mm.extract_features(mm.attach_blob(docs))
    assert feats.schema.simpleString() == (
        "struct<doc_id:bigint,blob_len:int,first_byte:int,checksum:int>"
    )
    assert feats.count() == docs.count()


def test_minhash_constants_are_pinned():
    """Oracle SQL is generated from these constants — a drift here
    silently invalidates recorded correctness results."""
    assert dd.MINHASH_A[:3] == [1103527591, 59559189, 1163074433]
    assert dd.N_MINHASH == 32 and dd.N_BANDS * dd.ROWS_PER_BAND == dd.N_MINHASH


def test_ann_ivf_recall_vs_brute_force(spark):
    """IVF with nprobe=3 of 8 lists must recover a solid fraction of
    the exact top-10 neighborhood."""
    exact = {
        (r.qid, r.nid) for r in REG["ann_cosine_topk"].fn(spark, SF).collect()
    }
    approx = {(r.qid, r.nid) for r in REG["ann_ivf_topk"].fn(spark, SF).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.25, f"IVF ANN recall collapsed: {recall:.2f}"


def test_resize_plumbing_shapes(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = mm.resize_images(mm.attach_blob(docs), target_w=8, target_h=8)
    rows = out.limit(5).collect()
    assert out.schema.simpleString() == (
        "struct<doc_id:bigint,width:int,height:int,resized:binary>"
    )
    assert all(len(r.resized) == 64 for r in rows)


def test_ngram_df_cap_bounds_fanout(spark, tmp_path):
    """The max_df cap must (a) drop pairs whose only overlap is a
    stopword-like hot shingle and (b) bound the inverted-index key
    fan-out at max_df — the property that makes the join safe at
    100 TB."""
    import duckdb

    from big_data_data_lake_spark.queries.llm_ops import _ngram_jaccard_pairs

    dst = tmp_path / "corpus"
    dst.mkdir()
    duckdb.sql(
        f"""
        COPY (
            SELECT * FROM (VALUES
                (0, 'the cat', 'en', 'web', 7),
                (1, 'the cat', 'en', 'web', 7),
                (2, 'the cat', 'en', 'web', 7),
                (3, 'the cat', 'en', 'web', 7)
            ) t(doc_id, text, lang, source, n_chars)
        ) TO '{dst}/documents.parquet' (FORMAT PARQUET)
        """
    )
    uncapped = _ngram_jaccard_pairs(spark, str(dst), max_df=None)
    capped = _ngram_jaccard_pairs(spark, str(dst), max_df=2)
    assert uncapped.count() == 6  # all pairs share the single shingle
    assert capped.count() == 0    # hot shingle excluded -> no index keys

    # the surviving index in the real corpus respects the bound
    from big_data_data_lake_spark.queries.llm_ops import NGRAM_CAPPED_MAX_DF
    from big_data_data_lake_spark.operators import dedup as dd
    from big_data_data_lake_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    ex = (
        docs.selectExpr("doc_id", "split(text, ' ') AS t")
        .selectExpr("doc_id", dd.spark_shingles_expr(2) + " AS s")
        .select("doc_id", F.explode("s").alias("g"))
    )
    df_counts = ex.groupBy("g").count()
    hot = df_counts.where(F.col("count") > NGRAM_CAPPED_MAX_DF).select("g")
    surviving_max = (
        ex.join(F.broadcast(hot), "g", "left_anti")
        .groupBy("g").count().agg(F.max("count")).collect()[0][0]
    )
    assert surviving_max <= NGRAM_CAPPED_MAX_DF


def test_wav_roundtrip_and_rms():
    """Real audio decode: a 440 Hz int16 sine round-trips encode/decode
    and its RMS lands at amplitude/sqrt(2)."""
    import numpy as np
    from _encoders import encode_wav

    from big_data_data_lake_spark.operators import multimodal as mm

    rate, amp = 8000, 0.5
    t = np.arange(rate)  # 1 second
    wave = (amp * 32767 * np.sin(2 * np.pi * 440 * t / rate)).astype(np.int16)
    blob = encode_wav(wave, rate)
    decoded, got_rate = mm.decode_wav(blob)
    assert got_rate == rate and decoded.shape == (rate, 1)
    assert np.array_equal(decoded[:, 0], wave)
    x, _ = mm._as_mono_float(blob)
    assert abs(float(np.sqrt(np.mean(x * x))) - amp / np.sqrt(2)) < 0.01


def test_audio_features_real_stats_and_u8_fallback(spark):
    """audio_features: real per-clip stats on decoded WAV. Non-WAV
    blobs fall back to the u8-PCM interpretation instead of failing."""
    import numpy as np
    from _encoders import encode_wav

    from big_data_data_lake_spark.operators import multimodal as mm

    rate = 8000
    silent = np.zeros(rate, dtype=np.int16)
    burst = silent.copy()
    burst[2000:4000] = 16000  # a loud square in an otherwise silent clip
    rows = [
        (1, bytearray(encode_wav(burst, rate))),
        (2, bytearray(encode_wav(silent, rate))),
        (3, bytearray(b"not audio at all")),  # u8-PCM fallback
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")

    feats = {r["doc_id"]: r for r in mm.audio_features(df).collect()}
    assert feats[1]["duration_ms"] == 1000.0 and feats[1]["sample_rate"] == rate
    assert feats[2]["rms"] == 0.0 and feats[1]["rms"] > 0.1
    assert feats[3]["n_samples"] == 16  # fallback decoded, not crashed


def test_jpeg_decode_skips_eoi_inside_marker_payload():
    """An FF D9 byte pair may legally occur INSIDE a marker segment
    payload (e.g. an EXIF APP1 thumbnail's own EOI). The decoder walks
    segments by their length fields, so the embedded EOI does not end
    the image."""
    import numpy as np
    from _encoders import encode_jpeg

    from big_data_data_lake_spark.operators import jpeg as J

    img = (np.mgrid[0:16, 0:16][0] * 9 % 256).astype(np.uint8)
    img = np.stack([img, img, img], axis=2)
    frame = encode_jpeg(img)
    # inject an APP1 segment right after SOI whose payload embeds EOI
    payload = b"Exif\x00\x00" + b"\xff\xd9" + b"trailing"
    app1 = b"\xff\xe1" + (len(payload) + 2).to_bytes(2, "big") + payload
    poisoned = frame[:2] + app1 + frame[2:]
    assert np.array_equal(J.decode_jpeg(poisoned), J.decode_jpeg(frame))


def test_jpeg_decode_skips_fill_bytes_before_markers():
    """T.81 allows any number of 0xFF fill bytes before a marker; the
    decoder must skip them instead of misreading a fill byte as a
    marker and the following bytes as a segment length (advisor
    finding, r5)."""
    import numpy as np
    from _encoders import encode_jpeg

    from big_data_data_lake_spark.operators import jpeg as J

    img = (np.mgrid[0:8, 0:8][1] * 30 % 256).astype(np.uint8)
    img = np.stack([img, img, img], axis=2)
    blob = encode_jpeg(img)
    padded = blob[:2] + b"\xff\xff\xff" + blob[2:]  # fill before 1st marker
    assert np.array_equal(J.decode_jpeg(padded), J.decode_jpeg(blob))


def test_quantized_gram_matches_naive_and_power_iteration(spark):
    from big_data_data_lake_spark.operators.similarity import (
        power_iteration_top_eigen,
        quantized_gram,
    )

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(40, 6)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    ).repartition(4)  # partial Grams must merge across partitions
    rows = quantized_gram(df, "embedding", 1000).collect()
    q = np.floor(vecs.astype(np.float64) * 1000).astype(np.int64)
    expect = q.T @ q
    got = {(r.i, r.j): r.s for r in rows}
    for i in range(6):
        for j in range(i, 6):
            assert got[(i + 1, j + 1)] == expect[i, j]
    # driver-side PCA on the collected Gram matches dense eigh
    lam, v = power_iteration_top_eigen(
        [(r.i, r.j, r.s) for r in rows], dim=6, n=len(vecs)
    )
    w, u = np.linalg.eigh(expect.astype(np.float64))
    assert abs(lam - w[-1]) / w[-1] < 1e-6
    assert abs(abs(v @ u[:, -1]) - 1.0) < 1e-6  # same direction up to sign


def test_assign_nearest_centroid_matches_fold_and_breaks_ties_low(spark):
    """The broadcast-matrix Arrow argmin must reproduce the expression
    form it replaced exactly: per-centroid distances accumulate in
    dimension order (left fold), and an exact distance TIE goes to
    the LOWEST centroid index (array_sort struct semantics / the
    oracle's ORDER BY dist2, cen)."""
    from pyspark.sql import functions as F

    from big_data_data_lake_spark.operators import similarity as sim

    # centroid 0 and 1 are identical -> every vector ties; 2 is far
    cents = [[0.0, 0.0], [0.0, 0.0], [10.0, 10.0]]
    df = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, [9.9, 9.8]), (3, [5.0, 5.0]), (4, [5.1, 5.0])],
        "vec_id long, v array<double>",
    ).repartition(3)
    got = {
        r.vec_id: r.cen
        for r in sim.assign_nearest_centroid(df, cents).collect()
    }
    assert got[1] == 0  # tie between 0 and 1 -> lowest index
    assert got[2] == 2
    # reference argmin via the exact fold expressions
    ref = df.select(
        "vec_id",
        F.array_sort(
            F.array(
                *[
                    F.struct(
                        sim.dist2(
                            F.col("v"), F.array(*[F.lit(x) for x in c])
                        ).alias("d"),
                        F.lit(j).alias("cen"),
                    )
                    for j, c in enumerate(cents)
                ]
            )
        )[0]["cen"].alias("cen"),
    )
    assert got == {r.vec_id: r.cen for r in ref.collect()}


def test_cell_components_matches_global_label_propagation(spark):
    """Per-cell union-find must produce the identical (id, min-label)
    frame the global min-label propagation computes on the same
    within-cell tau-graph — including transitive chains through a
    cell and singleton self-labels."""
    import numpy as np

    from big_data_data_lake_spark.operators import similarity as sim
    from big_data_data_lake_spark.operators.graph import min_label_components

    rng = np.random.default_rng(7)
    rows = []
    # two cells; cell 0 holds a planted chain a~b~c (pairwise cosine
    # high between neighbors only), cell 1 holds clones + a loner
    base = rng.normal(size=8)
    rows.append((10, list(base), 0))
    rows.append((11, list(base + 0.02 * rng.normal(size=8)), 0))
    rows.append((12, list(base + 0.04 * rng.normal(size=8)), 0))
    far = rng.normal(size=8)
    rows.append((20, list(far), 1))
    rows.append((21, list(far * 1.001), 1))
    rows.append((22, list(rng.normal(size=8)), 1))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], c) for i, v, c in rows],
        "vec_id long, v array<double>, cen int",
    ).repartition(3)
    tau = 0.95
    got = {
        r.vec_id: r.label for r in sim.cell_components(df, tau).collect()
    }
    pairs = sim.cell_threshold_pairs(df, tau)
    ref = {
        r.vec_id: r.label
        for r in min_label_components(
            df.select("vec_id"), pairs, max_rounds=16
        ).collect()
    }
    assert got == ref
    assert got[20] == got[21] == 20  # clone pair labels to min id
    assert got[22] == 22  # singleton labels itself


def test_repetition_metrics_kernel_matches_hof_forms(spark):
    """The fused Arrow kernel must agree with the HOF expression forms
    it replaced on every metric, bit for bit — including texts with
    doubled/trailing spaces (empty tokens are REAL tokens under
    split-by-space in Spark, DuckDB, and Python alike) — and drop
    sub-2-token rows exactly like the size filter did."""
    from pyspark.sql import functions as F

    from big_data_data_lake_spark.operators import text as tx

    rows = [
        (1, "en", "web", "a a a b"),
        (2, "en", "web", "x  y  x"),          # doubled spaces -> empty tokens
        (3, "es", "lab", "one two three four five one two"),
        (4, "es", "lab", "solo"),              # 1 token -> dropped
        (5, "fr", "lab", "a b a b a b a b"),
        (6, "fr", "web", "tail space "),       # trailing empty token
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, source string, text string")
    got = {
        (r.lang, r.source, r.ttr, r.dupbg, r.toptok)
        for r in tx.repetition_metrics(df, "text", ("lang", "source")).collect()
    }
    toks = tx.tokenize("text")
    ref = {
        (r.lang, r.source, r.ttr, r.dupbg, r.toptok)
        for r in df.where(F.size(toks) >= 2)
        .select(
            "lang",
            "source",
            tx.type_token_ratio(toks).alias("ttr"),
            tx.dup_bigram_fraction(toks).alias("dupbg"),
            tx.top_token_fraction(toks).alias("toptok"),
        )
        .collect()
    }
    assert got == ref
    assert len(got) == 5  # the 1-token doc dropped


def test_cosine_to_keyed_centroid_matches_sequential_fold(spark):
    """The broadcast-map Arrow cosine kernel must agree bit-for-bit
    with a sequential per-row float64 dimension fold (the oracle's
    list_reduce shape), and must emit null (pandas NaN -> Arrow null)
    — not a wrong number — for rows whose key has no centroid and
    rows where either norm is zero."""
    import math

    from big_data_data_lake_spark.operators import similarity as sim

    cents = {0: [1.0, 2.0, 3.0], 1: [-0.5, 0.25, 4.0], 7: [0.0, 0.0, 0.0]}
    rows = [
        (1, [0.3, -1.2, 2.5], 0),
        (2, [1e-3, 1e3, -7.5], 1),
        (3, [1.0, 2.0, 3.0], 0),   # exact clone of its centroid -> cos 1.0
        (4, [1.0, 1.0, 1.0], 99),  # no centroid for key 99 -> NaN
        (5, [0.0, 0.0, 0.0], 0),   # zero vector norm -> NaN
        (6, [1.0, 1.0, 1.0], 7),   # zero CENTROID norm -> NaN
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, v array<double>, label int"
    ).repartition(3)
    got = {
        r.vec_id: r.cos
        for r in sim.cosine_to_keyed_centroid(
            df, cents, key_col="label", vec_col="v", out_col="cos"
        ).collect()
    }
    for vid, v, lab in rows[:3]:
        c = cents[lab]
        dot = nv = nc = 0.0
        for d in range(3):  # sequential left fold, float64 throughout
            dot += v[d] * c[d]
            nv += v[d] * v[d]
            nc += c[d] * c[d]
        assert got[vid] == dot / (math.sqrt(nv) * math.sqrt(nc)), vid
    assert got[3] == 1.0
    for vid in (4, 5, 6):
        assert got[vid] is None, vid


def test_blocked_argmin_matches_unblocked_and_ties_break_low():
    """The blocked running-argmin (the r6 accumulator item: peak
    memory (batch x block), not (batch x k)) must return the SAME
    (dist, index) as a single-block pass for every block size,
    including ties that straddle block boundaries — equal-distance
    ties must keep the LOWEST centroid index (np.argmin's
    first-occurrence rule), which is what the oracle's
    ORDER BY dist2, cen replays."""
    import numpy as np

    from big_data_data_lake_spark.operators.similarity import (
        _blocked_argmin_dist2,
    )

    rng_free = [(i * 37 + d * 11) % 13 - 6 for i in range(23) for d in range(5)]
    c = np.array(rng_free, dtype=np.float64).reshape(23, 5)
    # duplicate centroids at indices (2, 9) and (7, 21): ties across
    # different blocks at block=3 (blocks 0|3|6... and 2|7)
    c[9] = c[2]
    c[21] = c[7]
    a = np.vstack([c[2] + 0.25, c[7], c[15] - 0.5, np.zeros(5)])
    d_full, i_full = _blocked_argmin_dist2(a, c, block=10**9)
    for block in (1, 2, 3, 4, 7, 23, 64):
        d_b, i_b = _blocked_argmin_dist2(a, c, block=block)
        assert np.array_equal(d_b, d_full), block
        assert np.array_equal(i_b, i_full), block
    assert i_full[1] == 7  # exact tie with c[21] -> lowest index wins


def test_assign_fine_within_cell_matches_bruteforce(spark):
    """The cogroup fine-assignment must agree with a per-row brute
    force over its own cell's fine centroids (dist2 left fold, ties
    to the lowest fine index), and must never consult another cell's
    centroids."""
    import numpy as np

    from big_data_data_lake_spark.operators import similarity as sim

    vecs = [
        (1, [0.0, 0.0], 0),
        (2, [5.0, 5.0], 0),
        (3, [0.1, -0.1], 0),
        (4, [9.0, 9.0], 1),   # cell 1: nearest GLOBAL centroid is cell 0's
        (5, [-2.0, 3.0], 1),
    ]
    fine = [
        (0, 0, [0.0, 0.0]),
        (0, 1, [5.0, 5.0]),
        (0, 2, [0.0, 0.0]),  # duplicate of fcen 0: ties must pick 0
        (1, 0, [-100.0, -100.0]),
        (1, 1, [-2.0, 3.0]),
    ]
    assigned = spark.createDataFrame(
        vecs, "vec_id long, v array<double>, ccen int"
    )
    fdf = spark.createDataFrame(fine, "ccen int, fcen int, fv array<double>")
    got = {
        r.vec_id: r.fcen
        for r in sim.assign_fine_within_cell(assigned, fdf).collect()
    }
    expect = {}
    fm = {(c, i): np.array(v) for c, i, v in fine}
    for vid, v, cc in vecs:
        best = min(
            (float(np.sum((np.array(v) - fv) ** 2)), i)
            for (c, i), fv in fm.items()
            if c == cc
        )
        expect[vid] = best[1]
    assert got == expect
    assert got[1] == 0  # tie between fcen 0 and its duplicate fcen 2
    assert got[4] == 1  # cell 1 row never sees cell 0's (9,9)-near centroid


def test_fine_assign_salting_invariant_and_bounded(spark):
    """r7 verdict item #2: the hot-cell salting escape is BUILT, not
    just documented. A deliberately skewed population (one coarse cell
    owning ~95% of the vectors) must (a) produce IDENTICAL fine
    assignments at salt=1 and salt=4 — fine assignment is row-local
    within the cell, so splitting a cell across tasks cannot change
    any result — and (b) actually bound per-task rows: every
    (cell, salt) cogroup slice is a strict subset of the hot cell."""
    import random

    from pyspark.sql import functions as F

    from big_data_data_lake_spark.operators import similarity as sim

    rnd = random.Random(7)
    rows = [
        (i, [rnd.uniform(-1, 1), rnd.uniform(-1, 1)], 0) for i in range(190)
    ] + [(1000 + i, [rnd.uniform(5, 6), rnd.uniform(5, 6)], 1) for i in range(10)]
    fine = [
        (0, 0, [-0.5, -0.5]),
        (0, 1, [0.5, 0.5]),
        (0, 2, [0.0, 0.0]),
        (1, 0, [5.5, 5.5]),
    ]
    assigned = spark.createDataFrame(
        rows, "vec_id long, v array<double>, ccen int"
    )
    fdf = spark.createDataFrame(fine, "ccen int, fcen int, fv array<double>")

    base = {
        r.vec_id: r.fcen
        for r in sim.assign_fine_within_cell(assigned, fdf).collect()
    }
    SALT = 4
    salted = {
        r.vec_id: r.fcen
        for r in sim.assign_fine_within_cell(
            assigned, fdf, salt=SALT, salt_key="vec_id"
        ).collect()
    }
    assert salted == base  # result-invariant under the split

    # the realized slice sizes under the salted cogroup key: the hot
    # cell (190 rows) must be split across several strictly smaller
    # tasks, each bounded well under the unsalted cell size
    sizes = (
        assigned.groupBy(
            "ccen",
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(SALT)).alias("s"),
        )
        .count()
        .where(F.col("ccen") == 0)
        .collect()
    )
    assert len(sizes) >= 2  # the hot cell really is split
    assert max(r["count"] for r in sizes) < 190  # every slice strictly smaller
    assert sum(r["count"] for r in sizes) == 190  # partition, not sample


def test_fine_assign_idx_limit_guard(spark):
    """ADVICE r7: callers that pack (ccen, fcen) into ccen * LIMIT +
    fcen must fail LOUD when a fine index reaches the limit instead of
    silently colliding composite ids across adjacent coarse cells."""
    import pytest

    from big_data_data_lake_spark.operators import similarity as sim

    assigned = spark.createDataFrame(
        [(1, [0.0, 0.0], 0)], "vec_id long, v array<double>, ccen int"
    )
    fine = spark.createDataFrame(
        [(0, i, [float(i), 0.0]) for i in range(5)],
        "ccen int, fcen int, fv array<double>",
    )
    # limit 5 is fine (max index 4) ...
    ok = sim.assign_fine_within_cell(assigned, fine, idx_limit=5).collect()
    assert len(ok) == 1
    # ... limit 4 must raise: index 4 reaches the shift
    with pytest.raises(Exception, match="composite-id"):
        sim.assign_fine_within_cell(assigned, fine, idx_limit=4).collect()


def test_semantic_index_maintained_equals_recomputed(spark, tmp_path):
    """r8: the lake-maintained semantic archive index (frozen
    codebooks + assignment table appended across N_SEM_INDEX_COMMITS
    daily slices) must equal a one-shot recomputation of the archive
    assignment through the same quantizer — the invariant that makes
    the index-fed twin's shared oracle meaningful. Also pins that the
    assignment table really was maintained incrementally."""
    from pyspark.sql import functions as F

    from big_data_data_lake_spark.operators import similarity as sim
    from big_data_data_lake_spark.queries.llm_ops import (
        N_SEM_INDEX_COMMITS,
        _SEMDEDUP_CELL_SHIFT,
        _build_semantic_archive_index,
        _semdedup_sizes,
        _spread,
        _t,
    )
    from big_data_data_lake_spark.sources.metadata import LakeTable

    sf = "/root/testdata/sf0.001"
    path = str(tmp_path / "semidx")
    _build_semantic_archive_index(spark, sf, path)
    assign_t = LakeTable(spark, path + "/assign")
    assert N_SEM_INDEX_COMMITS >= 3
    assert assign_t.latest_version() == N_SEM_INDEX_COMMITS - 1
    ops = [h["operation"] for h in assign_t.history()]
    assert ops.count("append") == N_SEM_INDEX_COMMITS - 1

    # one-shot recomputation through the same (lake-read) codebooks
    emb = _spread(spark, _t(spark, sf, "embeddings"))
    e = emb.select("vec_id", sim.to_double("embedding").alias("v"))
    arch = e.where(F.col("vec_id") % 5 != 0)
    coarse = LakeTable(spark, path + "/coarse").read().orderBy("ccen").collect()
    fine = LakeTable(spark, path + "/fine").read()
    want = sim.assign_fine_within_cell(
        sim.assign_nearest_centroid(arch, [r.v for r in coarse], out_col="ccen"),
        fine,
        idx_limit=_SEMDEDUP_CELL_SHIFT,
    ).withColumn(
        "cen",
        F.col("ccen").cast("bigint") * F.lit(_SEMDEDUP_CELL_SHIFT)
        + F.col("fcen"),
    )
    got = assign_t.read()
    assert got.count() == arch.count()
    assert {r.vec_id: r.cen for r in got.collect()} == {
        r.vec_id: r.cen for r in want.collect()
    }
    # codebook sizing matches the recomputing twin's
    _, kc = _semdedup_sizes(arch.count())
    assert len(coarse) == kc


def test_semdedup_driver_state_sublinear_in_corpus(spark):
    """r6 verdict item #1, closed: the ONLY driver-resident /
    broadcast structure in the SemDeDup quantizer is the coarse
    codebook of ceil(sqrt(k)) rows — sublinear in the corpus. Assert
    the sizing directly at planet scale, and structurally that the
    executed query reaches the fine codebook through a cogroup
    (FlatMapCoGroupsInPandas), i.e. as a distributed frame, never a
    collect."""
    from big_data_data_lake_spark.queries import REGISTRY
    from big_data_data_lake_spark.queries.llm_ops import _semdedup_sizes

    for n in (10**6, 10**8, 10**10):
        k, kc = _semdedup_sizes(n)
        assert kc * kc >= k  # coarse x fine covers the target cell count
        assert kc <= 2 * (k ** 0.5) + 2, (n, k, kc)  # O(sqrt k), small const
    # 1B vectors: flat quantizer collected 4M rows; hierarchical: 2000.
    assert _semdedup_sizes(10**9)[1] == 2000

    df = REGISTRY["semantic_dedup_clusters"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan, plan[:3000]


def test_cell_cross_max_cos_sides_and_guards(spark):
    """The batch-vs-archive kernel must (a) compare ONLY across sides
    within a cell — never batch-batch, archive-archive, or across
    cells; (b) agree with a per-pair sequential float64 fold; (c)
    exclude zero-norm rows on either side exactly like the oracle's
    norm guard (a batch row whose cell has only zero-norm archive rows
    emits nothing)."""
    import math

    from big_data_data_lake_spark.operators import similarity as sim

    rows = [
        # cell 0: batch 1 vs archive 100, 101; batch 2 is zero-norm
        (1, [1.0, 0.0], 0, True),
        (2, [0.0, 0.0], 0, True),
        (100, [1.0, 1.0], 0, False),
        (101, [-1.0, 0.5], 0, False),
        # cell 1: identical twin of batch 3 sits in cell 0's archive —
        # must NOT be seen; cell 1's own archive is orthogonal
        (3, [1.0, 1.0], 1, True),
        (200, [-2.0, 2.0], 1, False),
        # cell 2: batch only -> no output row
        (4, [1.0, 2.0], 2, True),
        # cell 3: archive whose only row is zero-norm -> no output row
        (5, [1.0, 2.0], 3, True),
        (300, [0.0, 0.0], 3, False),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, v array<double>, cen int, is_b boolean"
    )
    got = {
        r.vec_id: r.max_cos
        for r in sim.cell_cross_max_cos(df, "is_b").collect()
    }

    def cosf(a, b):
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
            na += x * x
            nb += y * y
        return dot / (math.sqrt(na) * math.sqrt(nb))

    assert set(got) == {1, 3}
    assert got[1] == max(cosf([1.0, 0.0], [1.0, 1.0]), cosf([1.0, 0.0], [-1.0, 0.5]))
    assert got[3] == cosf([1.0, 1.0], [-2.0, 2.0])  # cell 0's twin unseen


def test_cosine_to_keyed_centroid_none_key_is_skipped(spark):
    """A None key in the centroid map (a null-label row upstream)
    must not crash the kernel (sorted(cm) used to raise TypeError on
    None-vs-int), and null-key ROWS must score NULL — SQL join
    semantics, mirroring the oracle's JOIN USING(label) dropping
    null-label rows (r6 advisory)."""
    from big_data_data_lake_spark.operators import similarity as sim

    cents = {0: [1.0, 0.0], None: [9.0, 9.0], 2: [0.0, 1.0]}
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [1.0, 0.0], None), (3, [0.0, 2.0], 2)],
        "vec_id long, v array<double>, label int",
    )
    got = {
        r.vec_id: r.cos
        for r in sim.cosine_to_keyed_centroid(
            df, cents, key_col="label", vec_col="v", out_col="cos"
        ).collect()
    }
    assert got[1] == 1.0
    assert got[2] is None  # null label matches nothing, even a None key
    assert got[3] == 1.0


def test_embedding_prototypicality_tolerates_null_labels(spark):
    """End-to-end guard for the advisory crash: inject a null-label
    embedding row and assert the query still runs and its per-label
    profile over the surviving rows is unchanged (null-label rows
    contribute to no centroid and no output row, exactly like the
    oracle's join)."""
    from big_data_data_lake_spark.queries import REGISTRY

    q = REGISTRY["embedding_prototypicality"].fn
    base = {r.label: r for r in q(spark, SF).collect()}

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    nulled = emb.limit(1).withColumn(
        "label", F.lit(None).cast(emb.schema["label"].dataType)
    ).withColumn("vec_id", F.lit(-999).cast(emb.schema["vec_id"].dataType))
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        emb.unionByName(nulled).write.parquet(f"{td}/embeddings.parquet")
        got = {r.label: r for r in q(spark, td).collect()}
    assert set(got) == set(base)
    for lab, row in base.items():
        assert got[lab].n_vecs == row.n_vecs
        assert got[lab].mean_cos == row.mean_cos


def test_simhash_dup_summary_consistent_with_pairs(spark):
    """The bounded per-doc summary (r10, r9 verdict #1) must be an
    exact aggregate of the raw pair form: every doc appearing in a
    pair appears once, degrees sum to 2x the pair count, and each
    doc's min_hamming equals the min over its incident pairs."""
    from pyspark.sql import functions as F

    pairs = REG["simhash_near_dups"].fn(spark, SF).collect()
    summary = {
        r["doc_id"]: (r["n_near_dups"], r["min_hamming"])
        for r in REG["simhash_dup_summary"].fn(spark, SF).collect()
    }
    want: dict[int, list[int]] = {}
    for p in pairs:
        want.setdefault(p["d1"], []).append(p["hamming"])
        want.setdefault(p["d2"], []).append(p["hamming"])
    assert set(summary) == set(want)
    assert sum(n for n, _ in summary.values()) == 2 * len(pairs)
    for doc, (n, mh) in summary.items():
        assert n == len(want[doc]) and mh == min(want[doc]), doc


@pytest.mark.parametrize(
    "best, in_group, score_type, scores, want_best",
    [(F.max, 1.0, "double", (0.6, 0.8), 0.8), (F.min, 0, "int", (3, 5), 3)],
)
def test_two_level_summary_kernel(spark, best, in_group, score_type, scores, want_best):
    """The shared near-dup kernel on a hand-built sketch: key 10 is a
    group of three with no cross neighbour, keys 20 (two docs) and 30
    (three docs) neighbour the singleton key 40, key 50 is a singleton
    with no neighbour, and two NULL-key docs are filtered out as the
    contract requires."""
    rows = [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20), (6, 30), (7, 30), (8, 30),
            (9, 40), (10, 50), (11, None), (12, None)]
    sketch = spark.createDataFrame(rows, "doc_id long, k long").where(F.col("k").isNotNull())
    edges = spark.createDataFrame(
        [(20, 40, scores[0]), (30, 40, scores[1])], f"k1 long, k2 long, score {score_type}"
    )

    def rep_pairs(grp):
        a = grp.select(F.col("k").alias("k1"), F.col("rep").alias("r1"), F.col("g").alias("g1"))
        b = grp.select(F.col("k").alias("k2"), F.col("rep").alias("r2"), F.col("g").alias("g2"))
        return edges.join(a, "k1").join(b, "k2").select("r1", "r2", "g1", "g2", "score")

    out = dd.two_level_summary(sketch, ["k"], rep_pairs, in_group, best, ("n", "best"))
    assert out.columns == ["doc_id", "n", "best"]
    got = {r.doc_id: (r.n, r.best) for r in out.collect()}
    assert got == {
        1: (2, in_group), 2: (2, in_group), 3: (2, in_group),
        4: (2, in_group), 5: (2, in_group),
        6: (3, in_group), 7: (3, in_group), 8: (3, in_group),
        9: (5, want_best),
    }
