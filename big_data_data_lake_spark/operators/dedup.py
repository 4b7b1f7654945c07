"""Near-duplicate detection for LLM training data (SURVEY §7 Phase 4):
exact, n-gram Jaccard, MinHash+LSH banding, SimHash.

All hash functions are *portable integer arithmetic* (polynomial char
hash, affine universal hashes mod a Mersenne prime) rather than
engine-builtin murmur/xxhash: the identical computation is expressible
in any ANSI engine, which is what lets every operator here carry an
exact DuckDB oracle. At production scale swap `_token_hash` for
``xxhash64`` (one line) — the plan shapes don't change.

Scale shapes:
- exact/fingerprint dedup: one hash shuffle on an 8-byte key.
- MinHash LSH: signatures are row-local (no shuffle); candidate
  generation is a self-equi-join on (band, key) — the classic
  band-bucket shuffle whose fan-out is controlled by band width, not
  corpus size. No O(n²) anywhere.
- SimHash: row-local 62-bit sketch (widened affine rehash of the
  31-bit shingle hashes); pair generation is a pigeonhole equi-join on
  14-bit keys, one per 2-of-8 block combination
  (``simhash_combo_keys``) — bucketed shuffle, no O(n²).
- Per-document near-dup summaries: ``two_level_summary`` collapses
  identical sketches to one representative and runs the pair search
  between representatives only.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import scoped_persist

MERSENNE_P = 2_147_483_647  # 2^31 - 1

# Deterministic affine-hash constants, shared verbatim by the Spark
# expressions and the generated oracle SQL. LCG-derived, pinned.
N_MINHASH = 32


def _lcg(seed: int) -> int:
    return (1_103_515_245 * seed + 12_345) % MERSENNE_P


MINHASH_A = [(_lcg(k + 1) | 1) % MERSENNE_P for k in range(N_MINHASH)]
MINHASH_B = [_lcg(k + 101) for k in range(N_MINHASH)]

# LSH banding: 16 bands x 2 rows — candidate probability at Jaccard
# j is 1-(1-j^2)^16 (≈0.99 at j=0.5, ≈0.07 at j=0.07), matched to the
# planted near-dup band in the corpus.
N_BANDS = 16
ROWS_PER_BAND = N_MINHASH // N_BANDS

# SimHash sketch geometry. Token/shingle hashes are 31-bit (mod the
# Mersenne prime), so a wide sketch first WIDENS each hash to 62 bits
# with two independent affine rehashes (low = (A1*h+B1) % P, high =
# (A2*h+B2) % P, widened = high * 2^31 + low) — every product stays
# under 2^62, so the identical arithmetic runs on Spark longs and
# DuckDB bigints with no 128-bit support needed. 62 bits / 7 chunks
# gives 8-bit chunk slots (256 values each), the width at which the
# pigeonhole candidate join's bucket fan-out stays sub-quadratic at
# corpus scale — the r2-flagged failure mode of the old 32-bit / 8-
# chunk config (16 values per slot => buckets grow as n/16).
N_SIMHASH_BITS = 62
SIMHASH_HAMMING_BUDGET = 6  # Manku et al. use k=3 on 64 bits; 6 is looser
N_SIMHASH_CHUNKS = SIMHASH_HAMMING_BUDGET + 1  # C > H => >= 1 exact chunk
SIMHASH_W_A1 = (_lcg(501) | 1) % MERSENNE_P
SIMHASH_W_B1 = _lcg(601)
SIMHASH_W_A2 = (_lcg(701) | 1) % MERSENNE_P
SIMHASH_W_B2 = _lcg(801)

# Deterministic sampling hash shared by every sample-gated query
# (lsh_pr_audit, ngram_jaccard_pairs, embedding_topk_pairs) and the
# curation sampling operators: affine step mod the Mersenne prime,
# then a QUADRATIC mixing step (h² + c mod p) before the
# small-modulus reduction. The square breaks the residue lattice a
# purely affine hash leaves on sequential ids (measured in
# queries/curation.py). All intermediates stay < 2^62 for any 64-bit
# id — identical integer arithmetic on Spark longs and DuckDB
# bigints, which is what makes sampled queries hash-matchable across
# engines. Constants are independent of curation's split routing so
# samples never correlate with split assignment.
SAMPLE_A, SAMPLE_B, SAMPLE_C = 48_271, 7_919, 7_127


def mix_mod_sql(col: str, a: int, b: int, c: int, mod: int) -> str:
    """Portable SQL for the quadratic-mix sampling hash of ``col``
    reduced mod ``mod`` — paste-identical into F.expr and DuckDB."""
    h = f"(({col} % {MERSENNE_P}) * {a} + {b}) % {MERSENNE_P}"
    return f"(({h}) * ({h}) + {c}) % {MERSENNE_P} % {mod}"


def _gram_starts(arr: Column, n: int) -> Column:
    """1-based start indices of each n-gram, [] when the document is
    shorter than n tokens. The guard matters under ANSI mode:
    ``sequence(1, size-n+1)`` counts DOWN when size < n (e.g.
    sequence(1,0) = [1,0]) and the subsequent element_at(toks, 0/OOB)
    throws — whereas DuckDB's generate_series(1, len-n+1) is empty for
    the same row. Empty-on-short keeps both engines aligned and makes
    one-token/empty documents yield an empty shingle set instead of a
    job-killing INVALID_ARRAY_INDEX error."""
    return F.when(
        F.size(arr) >= n, F.sequence(F.lit(1), F.size(arr) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))


def shingles(text: Column | str, n: int = 2) -> Column:
    """Distinct word n-gram shingles of a document; [] when the
    document has fewer than n tokens (matches generate_series)."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(c, " ")
    if n == 1:
        return F.array_distinct(toks)
    # element_at is 1-based; _gram_starts guards the short-doc case
    grams = F.transform(
        _gram_starts(toks, n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(n)]
        ),
    )
    return F.array_distinct(grams)


def _poly_hash(token: Column) -> Column:
    """Polynomial char hash mod 2^31-1 (portable token hash)."""
    return F.aggregate(
        F.transform(F.split(token, ""), lambda ch: F.ascii(ch)),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x.cast("long")) % F.lit(MERSENNE_P),
    )


POLY_HASH_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split({tok}, ''), c -> CAST(ascii(c) AS BIGINT))), "
    f"(acc, x) -> (acc * 31 + x) % {MERSENNE_P})"
)


def token_hashes(shingle_arr: Column) -> Column:
    """Hash every shingle to an int in [0, 2^31-1)."""
    return F.transform(shingle_arr, _poly_hash)


SHINGLE_COMBINE = 8191


def shingle_hashes(text: Column | str, n: int = 2) -> Column:
    """Distinct hashed word n-gram shingles, token-first: each token is
    char-hashed once, then n-gram hashes combine token hashes with an
    affine fold — ~n× less interpreted per-char work than hashing the
    concatenated shingle strings, and no string allocation. The sketch
    consumers (MinHash, SimHash) only need the hash set, never the
    shingle text."""
    c = F.col(text) if isinstance(text, str) else text
    th = F.transform(F.split(c, " "), _poly_hash)
    if n == 1:
        return F.array_distinct(th)

    def gram(i: Column) -> Column:
        acc = F.lit(0).cast("long")
        for j in range(n):
            acc = (acc * SHINGLE_COMBINE + F.element_at(th, (i + j).cast("int"))) % F.lit(
                MERSENNE_P
            )
        return acc

    return F.array_distinct(F.transform(_gram_starts(th, n), gram))


TOKEN_HASHES_SQL = (
    "list_transform(string_split({text}, ' '), g -> " + POLY_HASH_SQL.format(tok="g") + ")"
)


def shingle_hashes_sql(n: int = 2) -> str:
    """DuckDB expression over a token-hash list ``th`` computing the
    same distinct n-gram hash set (identical fold arithmetic)."""
    if n == 1:
        return "list_distinct(th)"
    acc = "CAST(0 AS BIGINT)"
    for j in range(n):
        acc = f"(({acc}) * {SHINGLE_COMBINE} + th[i+{j}]) % {MERSENNE_P}"
    return (
        f"list_distinct(list_transform(generate_series(1, len(th) - {n - 1}), i -> {acc}))"
    )


def minhash_bands(sig_prefix: str = "s") -> Column:
    """Array of (band_index, band_key) structs for LSH banding.

    The band key packs the band's ROWS_PER_BAND signature values into
    ONE int64 (each value is a 31-bit residue mod MERSENNE_P, so two
    pack losslessly into 62 bits): key equality <=> per-value equality,
    exactly like the previous '_'-joined string key, but the band join
    shuffles an 8-byte long instead of a ~20-byte string and compares/
    hashes it in one instruction (guide §2.3 — narrower join keys;
    measured 2.71 -> 2.18 s on the sf1 rep-pair candidate join). NULL
    signatures (degenerate docs) now yield a NULL key the equi-join
    drops, where concat_ws("_") yielded "" and joined every degenerate
    doc against every other — those junk candidates never survived the
    NULL agreement estimate, so results are identical (oracle-attested
    by every consumer) and the junk fan-out is gone. The DuckDB oracle
    keeps its string key: equality semantics coincide (signature
    renders are digit-only, '_' is unambiguous)."""
    assert ROWS_PER_BAND <= 2, "int64 band key packs at most two 31-bit values"
    bands = []
    for b in range(N_BANDS):
        cols = [
            F.col(f"{sig_prefix}{b * ROWS_PER_BAND + r}")
            for r in range(ROWS_PER_BAND)
        ]
        key = cols[0].cast("long")
        for c in cols[1:]:
            key = key * F.lit(1 << 31).cast("long") + c
        bands.append(F.struct(F.lit(b).alias("band"), key.alias("bkey")))
    return F.array(*bands)


def widen_hashes(hash_arr: Column) -> Column:
    """Widen each 31-bit hash to 62 bits: low word = (A1*h+B1) mod p,
    high word = (A2*h+B2) mod p, widened = high * 2^31 + low. Compute
    this ONCE per row (materialize it in its own projection) and feed
    the result to ``simhash`` — widening inside every per-bit vote
    would redo the affine arithmetic ``bits`` times per token."""

    def widen(h: Column) -> Column:
        lo = (F.lit(SIMHASH_W_A1).cast("long") * h + SIMHASH_W_B1) % MERSENNE_P
        hi = (F.lit(SIMHASH_W_A2).cast("long") * h + SIMHASH_W_B2) % MERSENNE_P
        return hi * F.lit(1 << 31).cast("long") + lo

    return F.transform(hash_arr, widen)


def simhash(widened_arr: Column, bits: int = N_SIMHASH_BITS) -> Column:
    """SimHash sketch over a PRE-WIDENED hash array (``widen_hashes``):
    bit j set iff the sum over tokens of (2*bit_j(h)-1) is
    non-negative. Row-local.

    An empty hash set sketches to 0 — matching the oracle SQL, where
    list_sum over an empty list is NULL so every CASE votes 0 (a
    fold-from-zero would instead set all bits via 0 >= 0)."""

    def vote(j: int):
        def apply(acc: Column, h: Column) -> Column:
            return acc + (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1)

        return apply

    out = F.lit(0).cast("long")
    for j in range(bits):
        bit_sum = F.aggregate(widened_arr, F.lit(0).cast("long"), vote(j))
        out = out + F.when(bit_sum >= 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0))
    return F.when(F.size(widened_arr) > 0, out).otherwise(F.lit(0).cast("long"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


# Chunk banding for Hamming-distance candidate generation. With the
# sketch split into C equal chunks and a Hamming budget of H < C, any
# pair within the budget has at most H differing chunks, so at least
# C - H > 0 chunks match EXACTLY (pigeonhole) — an equi-join on
# (chunk_idx, chunk_val) finds every qualifying pair with zero false
# negatives, replacing the O(n²) all-pairs scan with a bucketed
# shuffle. (Bits beyond width*C are simply uncovered by any chunk —
# harmless: total Hamming <= H bounds covered-bit Hamming too.)


def simhash_chunks(
    h: Column, bits: int = N_SIMHASH_BITS, n_chunks: int = N_SIMHASH_CHUNKS
) -> Column:
    """Array of (ci, cv) structs: the sketch split into ``n_chunks``
    equal bit slices for pigeonhole candidate banding. Row-local.

    Guarded: a chunk narrower than 8 bits has < 256 distinct join-key
    values per slot, so candidate buckets grow as n/2^width and the
    equi-join degenerates toward quadratic fan-out — the exact failure
    the r2 advice flagged for the old 32-bit/8-chunk config. Widen the
    sketch or lower ``n_chunks`` (keeping C > the Hamming budget)."""
    width = bits // n_chunks
    if width < 8:
        raise ValueError(
            f"simhash chunk width {width} bits ({bits} bits / {n_chunks} "
            f"chunks) gives only {1 << width} values per slot — bucket "
            "fan-out degenerates toward n² at corpus scale; widen the "
            "sketch or reduce n_chunks (must stay > the Hamming budget)"
        )
    mask = (1 << width) - 1
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("ci"),
                F.shiftright(h, i * width).bitwiseAND(F.lit(mask)).alias("cv"),
            )
            for i in range(n_chunks)
        ]
    )


# Combination banding (Manku et al.'s permuted-table scheme, WSDM'07
# §3, expressed as block combinations instead of permutations): split
# the sketch into B > H + 1 blocks; a pair within Hamming budget H has
# differing bits in at most H blocks, so at least B - H blocks agree
# EXACTLY — hence the pair matches on at least one (B - H)-sized block
# COMBINATION, and an equi-join on (combo_idx, concatenated block
# values) still finds every qualifying pair with zero false negatives.
# vs single-chunk banding the join key widens from ``bits/C`` to
# ``(B-H) * bits/B`` bits, shrinking candidate buckets by orders of
# magnitude at the cost of C(B, B-H) explode rows per doc — the knob
# that keeps the candidate join linear past the point where 8-bit
# slots bucket thousands of docs per cell (r10 verdict #3: 500k docs
# at sf10 bucketed ~2k per cell => ~2k^2 comparisons per cell).
N_SIMHASH_BLOCKS = SIMHASH_HAMMING_BUDGET + 2  # B=8: combos of 2 blocks


def simhash_combo_keys(
    h: Column,
    bits: int = N_SIMHASH_BITS,
    n_blocks: int = N_SIMHASH_BLOCKS,
    budget: int = SIMHASH_HAMMING_BUDGET,
) -> Column:
    """Array of (ki, kv) structs: one entry per (n_blocks - budget)-
    sized block combination, kv = the combination's block values
    packed into one long. Row-local. With the default B=8 on a 62-bit
    sketch: 7-bit blocks, C(8,2)=28 combos, 14-bit keys — candidate
    buckets of n/2^14 docs vs the single-chunk scheme's n/2^8, i.e.
    64x smaller buckets (4,096x fewer in-bucket comparisons per doc
    pair budget) for 4x the explode rows. Guarded like
    simhash_chunks: the packed key must carry >= 12 bits or buckets
    degenerate toward n^2 fan-out at corpus scale.

    The >16M-doc escalation is n_blocks=9 (6-bit blocks, C(9,3)=84
    combos, 18-bit keys) — property-tested and pinned to the Python
    replica at B=9 in tests/test_properties.py, A/B-executed at sf10
    (SCALE.md r12). When ``bits % n_blocks != 0`` the top
    ``bits - n_blocks*width`` sketch bits fall in NO block (B=9 on 62
    bits leaves 8 uncovered); a flip there affects zero blocks, so
    the zero-false-negative guarantee is unharmed — those bits just
    stop contributing key entropy, and the Hamming re-check still
    reads all 62 bits."""
    from itertools import combinations

    if n_blocks <= budget:
        raise ValueError(
            f"{n_blocks} blocks with Hamming budget {budget} breaks the "
            "pigeonhole guarantee (need n_blocks > budget)"
        )
    width = bits // n_blocks
    csize = n_blocks - budget
    if width * csize < 12:
        raise ValueError(
            f"combo key width {width * csize} bits ({csize} blocks x "
            f"{width} bits) gives only {1 << (width * csize)} values per "
            "combo slot — bucket fan-out degenerates toward n² at corpus "
            "scale; widen the sketch or reduce n_blocks"
        )
    mask = (1 << width) - 1

    def block(i: int) -> Column:
        return F.shiftright(h, i * width).bitwiseAND(F.lit(mask))

    entries = []
    for ki, combo in enumerate(combinations(range(n_blocks), csize)):
        kv: Column | None = None
        for i in combo:
            kv = block(i) if kv is None else F.shiftleft(kv, width) + block(i)
        entries.append(
            F.struct(F.lit(ki).alias("ki"), kv.alias("kv"))
        )
    return F.array(*entries)


# ---------------------------------------------------------------------------
# Generated Spark-SQL expression strings (same constants, same arithmetic)
#
# The Column-combinator functions above are the composable API; the hot
# query paths use these string generators instead because one
# ``selectExpr`` ships the whole expression to the JVM in a single py4j
# call and parses there — measured >2x faster end-to-end than building
# the identical tree node-by-node from Python (thousands of py4j round
# trips). Values are bit-identical to the Column versions (asserted by
# the DuckDB oracle parity suite, which is generated from the same
# constants below).
# ---------------------------------------------------------------------------


def spark_token_hashes_expr(text: str = "text") -> str:
    """Spark-SQL: per-token polynomial char hashes of ``text``."""
    return (
        f"transform(split({text}, ' '), t -> aggregate(split(t, ''), 0L, "
        f"(acc, c) -> (acc * 31 + ascii(c)) % {MERSENNE_P}))"
    )


def _spark_gram_starts(arr: str, n: int) -> str:
    """Spark-SQL twin of ``_gram_starts`` (same ANSI-mode guard)."""
    return (
        f"CASE WHEN size({arr}) >= {n} THEN sequence(1, size({arr}) - {n - 1}) "
        f"ELSE CAST(array() AS array<int>) END"
    )


def _spark_gram_at(arr: str, j: int) -> str:
    return f"element_at({arr}, i)" if j == 0 else f"element_at({arr}, CAST(i + {j} AS int))"


def spark_shingles_expr(n: int = 2, toks: str = "t") -> str:
    """Spark-SQL: distinct word n-gram shingles over a token array."""
    if n == 1:
        return f"array_distinct({toks})"
    parts = ", ".join(_spark_gram_at(toks, j) for j in range(n))
    return (
        f"array_distinct(transform({_spark_gram_starts(toks, n)}, "
        f"i -> concat_ws(' ', {parts})))"
    )


def spark_shingle_hashes_expr(n: int = 2, th: str = "th") -> str:
    """Spark-SQL: distinct hashed n-gram shingles over token hashes
    (identical affine fold to ``shingle_hashes``)."""
    if n == 1:
        return f"array_distinct({th})"
    acc = "0L"
    for j in range(n):
        acc = f"(({acc}) * {SHINGLE_COMBINE} + {_spark_gram_at(th, j)}) % {MERSENNE_P}"
    return f"array_distinct(transform({_spark_gram_starts(th, n)}, i -> {acc}))"


def positional_shingle_hashes_sql(n: int) -> str:
    """DuckDB: hashed n-grams in POSITION ORDER, no distinct — element
    i (1-based) is the shingle STARTING at token i. The positional
    twin of ``shingle_hashes_sql`` for span arithmetic (where a
    repeated shingle's every occurrence matters and the array index
    must stay aligned to the token stream)."""
    acc = "CAST(0 AS BIGINT)"
    for j in range(n):
        acc = f"(({acc}) * {SHINGLE_COMBINE} + th[i+{j}]) % {MERSENNE_P}"
    return f"list_transform(generate_series(1, len(th) - {n - 1}), i -> {acc})"


def spark_positional_shingle_hashes_expr(n: int, th: str = "th") -> str:
    """Spark-SQL twin of ``positional_shingle_hashes_sql`` (identical
    fold, identical 1-based start-position alignment)."""
    acc = "0L"
    for j in range(n):
        acc = f"(({acc}) * {SHINGLE_COMBINE} + {_spark_gram_at(th, j)}) % {MERSENNE_P}"
    return f"transform({_spark_gram_starts(th, n)}, i -> {acc})"


def spark_minhash_sig_exprs(hs: str = "hs") -> list[str]:
    """Spark-SQL: the N_MINHASH signature columns ``s0..s{K-1}``."""
    return [
        f"array_min(transform({hs}, h -> ({a}L * h + {b}) % {MERSENNE_P})) AS s{k}"
        for k, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]


def spark_minhash_sig_array_expr(text: str = "text") -> str:
    """Spark-SQL: ALL N_MINHASH signature values as ONE array<bigint>
    expression over ``text``, with the token fold and the shingle fold
    each evaluated exactly once per row.

    The 32 per-column forms (``spark_minhash_sig_exprs``) re-evaluate
    whatever expression is substituted for ``hs`` once PER SIGNATURE
    when CollapseProject merges the chained projections — the 32x-fold
    class r12 papered over with an extra shingle-frame persist (two
    corpus-scale caches, the r12 verdict's top finding). Here the fold
    and shingle results are bound to lambda variables via single-
    element ``transform`` wrappers, so no optimizer rewrite can inline
    them: ``element_at(transform(array(X), v -> body), 1)`` evaluates
    X once and ``body`` sees it as a value. Values are bit-identical
    to the per-column forms (element k == s{k}; oracle-attested by
    every consumer)."""
    fold = spark_token_hashes_expr(text)
    sh = spark_shingle_hashes_expr(2, th="th")
    mins = ", ".join(
        f"array_min(transform(hs, h -> ({a}L * h + {b}) % {MERSENNE_P}))"
        for a, b in zip(MINHASH_A, MINHASH_B)
    )
    return (
        f"element_at(transform(array({fold}), th -> "
        f"element_at(transform(array({sh}), hs -> array({mins})), 1)), 1)"
    )


# Spark-SQL predicate: ``text`` has at least one bigram shingle, i.e.
# its minhash signature is not NULL (NULL text and one-token documents
# fail it). Filter degenerate documents with this, not with a test on
# the signature itself: Catalyst pushes a filter on the signature alias
# below the round-robin repartition, so the whole sketch would run a
# second time on the scan's single partition.
SPARK_HAS_SHINGLES = "size(split(text, ' ')) >= 2"


def spark_widened_hashes_expr(hs: str = "hs") -> str:
    """Spark-SQL: widen each 31-bit hash to 62 bits (two independent
    affine rehashes; see the constants block). Compute this ONCE per
    row and feed the result to ``spark_simhash_expr`` — inlining the
    widening into every per-bit vote would redo the affine arithmetic
    ``bits`` times per token."""
    lo = f"(({SIMHASH_W_A1}L * h + {SIMHASH_W_B1}) % {MERSENNE_P})"
    hi = f"(({SIMHASH_W_A2}L * h + {SIMHASH_W_B2}) % {MERSENNE_P})"
    return f"transform({hs}, h -> {hi} * 2147483648L + {lo})"


def widened_hashes_sql(hs: str = "hs") -> str:
    """DuckDB twin of ``spark_widened_hashes_expr``."""
    lo = f"(({SIMHASH_W_A1} * h + {SIMHASH_W_B1}) % {MERSENNE_P})"
    hi = f"(({SIMHASH_W_A2} * h + {SIMHASH_W_B2}) % {MERSENNE_P})"
    return f"list_transform({hs}, h -> {hi} * 2147483648 + {lo})"


def spark_simhash_expr(wh: str = "wh", bits: int = N_SIMHASH_BITS) -> str:
    """Spark-SQL: the simhash sketch over a PRE-WIDENED hash array
    (``spark_widened_hashes_expr``) — same bit-majority votes, same
    empty-set => 0 definition as ``simhash``."""
    terms = [
        f"CASE WHEN aggregate({wh}, 0L, (acc, h) -> "
        f"acc + (CAST((shiftright(h, {j}) & 1) AS BIGINT) * 2 - 1)) >= 0 "
        f"THEN {1 << j}L ELSE 0L END"
        for j in range(bits)
    ]
    return f"CASE WHEN size({wh}) > 0 THEN ({' + '.join(terms)}) ELSE 0L END"


# ---------------------------------------------------------------------------
# Generated oracle SQL fragments (same constants, same arithmetic)
# ---------------------------------------------------------------------------


def minhash_sig_sql_columns() -> str:
    """SELECT-list fragment computing s0..s{K-1} from a hash list `hs`."""
    cols = []
    for k, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B)):
        cols.append(
            f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MERSENNE_P})) AS s{k}"
        )
    return ",\n           ".join(cols)


def minhash_bands_sql(doc_col: str = "doc_id") -> str:
    """UNION ALL band projection from a `sig` CTE."""
    selects = []
    for b in range(N_BANDS):
        keys = " || '_' || ".join(
            f"CAST(s{b * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
        )
        selects.append(f"SELECT {doc_col}, {b} AS band, {keys} AS bkey FROM sig")
    return "\n    UNION ALL ".join(selects)


def minhash_est_sim_sql(left: str = "x", right: str = "y") -> str:
    terms = " + ".join(
        f"CASE WHEN {left}.s{k} = {right}.s{k} THEN 1 ELSE 0 END" for k in range(N_MINHASH)
    )
    return f"({terms}) / {float(N_MINHASH)}"


def simhash_sql(wh: str = "wh", bits: int = N_SIMHASH_BITS) -> str:
    """Expression computing the simhash from a PRE-WIDENED hash list
    (``widened_hashes_sql``). list_sum over an empty list is NULL, so
    an empty document sketches to 0 — same definition as the Spark
    side."""
    terms = []
    for j in range(bits):
        terms.append(
            f"CASE WHEN list_sum(list_transform({wh}, h -> ((h >> {j}) & 1) * 2 - 1)) >= 0 "
            f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


# ---------------------------------------------------------------------------
# Two-level near-dup summaries
# ---------------------------------------------------------------------------


def two_level_summary(
    sketch: DataFrame,
    group_cols: list[str],
    rep_pairs: Callable[[DataFrame], DataFrame],
    in_group_score: float | int,
    best: Callable[[str], Column],
    out_cols: tuple[str, str],
) -> DataFrame:
    """Per-document near-dup degree and best score, computed between
    distinct sketches instead of between documents.

    ``sketch`` has one row per document: ``doc_id`` plus
    ``group_cols``, with NULL-key rows already filtered out (groupBy
    puts NULL keys in one group, while an equi-join never matches
    them). Documents with equal ``group_cols`` form a group of size
    ``g`` whose representative ``rep`` is its smallest ``doc_id``.

    ``rep_pairs(grp)`` receives the persisted group table
    (``group_cols``, ``g``, ``rep``) and must return exactly one row
    per near-dup pair of DIFFERENT groups, with columns ``r1 < r2``
    (the two reps), ``g1``, ``g2`` (their group sizes) and ``score``.
    A duplicate row would be counted twice. Candidacy and score must
    depend on the group key alone, so that every member of a group is
    a near-dup of every other member at ``in_group_score``, and a rep
    pair stands for ``g1 * g2`` document pairs.

    The result has ``doc_id``, ``out_cols[0]`` = (g - 1) + the summed
    sizes of neighbouring groups (bigint), and ``out_cols[1]`` =
    ``in_group_score`` when g > 1, else ``best`` over the doc's rep
    pairs. Documents with no near-dup are absent. The duplication
    rate drops out of the pair search: its input is the group table.
    """
    sketch = scoped_persist(sketch)
    # map-side partial aggregation collapses duplicates before the
    # exchange; read by rep_pairs and by the final expansion join
    grp = scoped_persist(
        sketch.groupBy(*group_cols).agg(
            F.count(F.lit(1)).alias("g"), F.min("doc_id").alias("rep")
        )
    )
    # symmetrize in one explode-array pass: a unionAll of two selects
    # would run the whole rep_pairs lineage twice
    sym = rep_pairs(grp).select(
        F.explode(
            F.array(
                F.struct(F.col("r1").alias("rep"), F.col("g2").alias("g_other"), "score"),
                F.struct(F.col("r2").alias("rep"), F.col("g1").alias("g_other"), "score"),
            )
        ).alias("e")
    ).select("e.rep", "e.g_other", "e.score")
    cross = sym.groupBy("rep").agg(
        F.sum("g_other").alias("cross_deg"), best("score").alias("cross_best")
    )
    n = (F.col("g") - 1 + F.coalesce(F.col("cross_deg"), F.lit(0))).cast("bigint")
    score = F.when(F.col("g") > 1, F.lit(in_group_score)).otherwise(F.col("cross_best"))
    return (
        sketch.join(grp.select(*group_cols, "g", "rep"), group_cols)
        .join(cross, "rep", "left")
        .where(n >= 1)
        .select("doc_id", n.alias(out_cols[0]), score.alias(out_cols[1]))
    )


def band_candidates(grp: DataFrame) -> DataFrame:
    """Distinct ``(r1, r2)`` pairs, ``r1 < r2``, of reps in ``grp``
    (``rep`` plus a ``sigarr`` array of the N_MINHASH signature values)
    that collide in at least one LSH band.

    The pairs are deduplicated here, before any verification join: at
    ~4x duplication a pair collides in up to 16 bands, and verifying
    every collision measured slower at sf10. A bucket-local variant
    (collect each band bucket, explode its pairs) gave no gain at sf10
    and loses AQE skew splitting on a hot bucket (OPTIMIZATION_r13.md).
    """
    sigs = grp.selectExpr("rep", *[f"sigarr[{k}] AS s{k}" for k in range(N_MINHASH)])
    bands = sigs.select("rep", F.explode(minhash_bands()).alias("bk")).select(
        "rep", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey")
    )
    a = bands.select(F.col("rep").alias("r1"), "band", "bkey")
    b = bands.select(F.col("rep").alias("r2"), "band", "bkey")
    return (
        a.join(b, ["band", "bkey"])
        .where(F.col("r1") < F.col("r2"))
        .select("r1", "r2")
        .dropDuplicates(["r1", "r2"])
    )
