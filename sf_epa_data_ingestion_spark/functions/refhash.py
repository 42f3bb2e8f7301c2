"""Pure-Python reference implementations of Spark's hash primitives.

Spark's ``F.hash`` (Murmur3 x86_32, seed 42) and ``F.xxhash64`` (XXH64,
seed 42) are the deterministic backbone of the MinHash / SimHash dedup
family, but they are JVM-internal — DuckDB cannot reproduce them, which is
why those queries were rows-only for four rounds.  Both algorithms are
public (Austin Appleby's MurmurHash3 and Yann Collet's xxHash; Spark's
variants live in ``Murmur3_x86_32.java`` / ``XXH64.java`` in the Spark
source tree), so this module re-implements them bit-for-bit in Python.
That makes the signature pipelines *independently* computable outside the
JVM: ``tools/make_golden_sigs.py`` uses these to derive content-addressed
golden signatures, and the DuckDB oracles replicate the banding /
pigeonhole pair logic in SQL on top of them — turning three rows-only
queries into hash-exact driver checks.

Byte-level quirks mirrored deliberately (pinned by
``tests/test_refhash.py`` against live Spark):

- Murmur3 tail bytes are each mixed as a FULL round with the byte read as
  a *signed* Java byte (Spark hashes tails byte-wise so results don't
  depend on platform endianness of the tail read).
- Word/long reads are little-endian (``Platform.getInt/getLong`` on
  x86 — the only platform this engine targets, same as Spark's CI).
- ``F.hash`` over an ``array<T>`` chains element hashes: the running
  result is the seed for the next element.
- Java ``%`` truncates toward zero (Python's floors), and Java
  ``Math.abs(Integer.MIN_VALUE)`` stays negative — both mirrored in
  ``java_rem`` / ``java_abs_int`` for the MinHash arithmetic.
"""

from __future__ import annotations

import math

_M32 = 0xFFFFFFFF
_M64 = 0xFFFFFFFFFFFFFFFF


def _i32(v: int) -> int:
    """Wrap to signed 32-bit."""
    v &= _M32
    return v - (1 << 32) if v >= (1 << 31) else v


def _i64(v: int) -> int:
    """Wrap to signed 64-bit."""
    v &= _M64
    return v - (1 << 64) if v >= (1 << 63) else v


def _rotl32(v: int, n: int) -> int:
    v &= _M32
    return ((v << n) | (v >> (32 - n))) & _M32


def _rotl64(v: int, n: int) -> int:
    v &= _M64
    return ((v << n) | (v >> (64 - n))) & _M64


# ---------------------------------------------------------------------------
# Murmur3 x86_32  (Spark F.hash, default seed 42)
# ---------------------------------------------------------------------------

_C1 = 0xCC9E2D51
_C2 = 0x1B873593


def _mix_k1(k1: int) -> int:
    k1 = (k1 * _C1) & _M32
    k1 = _rotl32(k1, 15)
    return (k1 * _C2) & _M32


def _mix_h1(h1: int, k1: int) -> int:
    h1 = (h1 ^ k1) & _M32
    h1 = _rotl32(h1, 13)
    return (h1 * 5 + 0xE6546B64) & _M32


def _fmix(h1: int, length: int) -> int:
    h1 = (h1 ^ length) & _M32
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    h1 ^= h1 >> 16
    return h1


def murmur3_bytes(data: bytes, seed: int = 42) -> int:
    """Spark ``Murmur3_x86_32.hashUnsafeBytes``: 4-byte LE words, then each
    tail byte mixed individually as a signed byte. Returns signed int32 —
    exactly ``F.hash(string_col)`` for UTF-8 ``data``."""
    h1 = seed & _M32
    n_words = len(data) // 4
    for i in range(n_words):
        k1 = int.from_bytes(data[4 * i : 4 * i + 4], "little")
        h1 = _mix_h1(h1, _mix_k1(k1))
    for i in range(4 * n_words, len(data)):
        b = data[i]
        if b >= 128:
            b -= 256  # Java byte is signed
        h1 = _mix_h1(h1, _mix_k1(b & _M32))  # & gives two's complement
    return _i32(_fmix(h1, len(data)))


def murmur3_string(s: str, seed: int = 42) -> int:
    return murmur3_bytes(s.encode("utf-8"), seed)


def murmur3_long(value: int, seed: int) -> int:
    """Spark ``Murmur3_x86_32.hashLong``: mix low word then high word."""
    v = value & _M64
    low = v & _M32
    high = (v >> 32) & _M32
    h1 = _mix_h1(seed & _M32, _mix_k1(low))
    h1 = _mix_h1(h1, _mix_k1(high))
    return _i32(_fmix(h1, 8))


def hash_long_array(values: list[int], seed: int = 42) -> int:
    """``F.hash(array<long>)``: element hashes chain — each result seeds
    the next element (null elements, which leave the seed unchanged in
    Spark, do not occur in this engine's band slices)."""
    h = seed
    for v in values:
        h = murmur3_long(v, h & _M32)
    return _i32(h)


def java_abs_int(v: int) -> int:
    """Java ``Math.abs`` on int32: MIN_VALUE stays negative (overflow)."""
    if v == -(1 << 31):
        return v
    return abs(v)


def java_rem(a: int, b: int) -> int:
    """Java ``%``: remainder truncates toward zero (sign follows ``a``)."""
    r = abs(a) % abs(b)
    return -r if a < 0 else r


# ---------------------------------------------------------------------------
# XXH64  (Spark F.xxhash64, default seed 42)
# ---------------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _xx_round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M64
    acc = _rotl64(acc, 31)
    return (acc * _P1) & _M64


def _xx_merge(acc: int, v: int) -> int:
    acc = (acc ^ _xx_round(0, v)) & _M64
    return (acc * _P1 + _P4) & _M64


def xxh64_bytes(data: bytes, seed: int = 42) -> int:
    """Spark ``XXH64.hashUnsafeBytesBlock`` (= reference xxHash64): 32-byte
    stripes with 4 lanes, 8-byte words, one 4-byte word, then single
    (unsigned) tail bytes. Returns signed int64 — exactly
    ``F.xxhash64(string_col)`` for UTF-8 ``data``."""
    length = len(data)
    pos = 0
    if length >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while pos + 32 <= length:
            v1 = _xx_round(v1, int.from_bytes(data[pos : pos + 8], "little"))
            v2 = _xx_round(v2, int.from_bytes(data[pos + 8 : pos + 16], "little"))
            v3 = _xx_round(v3, int.from_bytes(data[pos + 16 : pos + 24], "little"))
            v4 = _xx_round(v4, int.from_bytes(data[pos + 24 : pos + 32], "little"))
            pos += 32
        h = (_rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)) & _M64
        h = _xx_merge(h, v1)
        h = _xx_merge(h, v2)
        h = _xx_merge(h, v3)
        h = _xx_merge(h, v4)
    else:
        h = (seed + _P5) & _M64
    h = (h + length) & _M64
    while pos + 8 <= length:
        k1 = _xx_round(0, int.from_bytes(data[pos : pos + 8], "little"))
        h = (h ^ k1) & _M64
        h = (_rotl64(h, 27) * _P1 + _P4) & _M64
        pos += 8
    if pos + 4 <= length:
        k1 = int.from_bytes(data[pos : pos + 4], "little")
        h = (h ^ ((k1 * _P1) & _M64)) & _M64
        h = (_rotl64(h, 23) * _P2 + _P3) & _M64
        pos += 4
    while pos < length:
        h = (h ^ ((data[pos] & 0xFF) * _P5) & _M64) & _M64
        h = (_rotl64(h, 11) * _P1) & _M64
        pos += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return _i64(h)


def xxh64_string(s: str, seed: int = 42) -> int:
    return xxh64_bytes(s.encode("utf-8"), seed)


def xxh64_long(value: int, seed: int = 42) -> int:
    """Spark ``XXH64.hashLong`` (= ``F.xxhash64(long_col)``): the 8-byte
    little-endian block path of ``xxh64_bytes`` — Spark's dedicated
    hashLong(input, seed) = fmix(rotl(seed+P5+8 ^ round(0, input), 27)
    * P1 + P4) is exactly the generic block function at length 8, so one
    implementation serves both. ``value`` is a signed or unsigned 64-bit
    int (two's complement wrapped)."""
    return xxh64_bytes((value & _M64).to_bytes(8, "little"), seed)


# ---------------------------------------------------------------------------
# Reference signature pipelines (mirror the dedup operators' expression
# trees outside the JVM — the basis for the golden signature fixtures)
# ---------------------------------------------------------------------------

import re as _re

# Java regex \s is ASCII-only ([ \t\n\x0B\f\r]); Python's \s is
# unicode-aware, so spell the class out to mirror Spark's regexp_replace.
_JAVA_WS = _re.compile("[ \t\n\x0b\f\r]+")

MINHASH_P = (1 << 31) - 1  # mirrors operators.dedup._P


def ref_normalize(text: str) -> str:
    """Mirror ``operators.dedup.normalized_text``: lower, collapse Java
    ``\\s+`` runs to one space, trim spaces (Spark trim strips 0x20 only)."""
    return _JAVA_WS.sub(" ", text.lower()).strip(" ")


def ref_simhash(text: str) -> int:
    """Mirror ``operators.dedup.simhash`` / ``simhash_expression``: 64-bit
    majority vote over xxhash64(seed 42) of whitespace tokens of the
    normalized text. Token-less text yields signature 0 (no bit has a
    positive +/-1 sum), matching the expression spec."""
    tokens = [t for t in ref_normalize(text).split(" ") if t]
    n = len(tokens)
    if n == 0:
        return 0
    ones = [0] * 64
    for t in tokens:
        h = xxh64_string(t) & _M64
        for b in range(64):
            if (h >> b) & 1:
                ones[b] += 1
    sig = 0
    for b in range(64):
        if 2 * ones[b] > n:  # sum of +-1 positive iff ones > n/2
            sig |= 1 << b
    return _i64(sig)


def ref_char_shingles(text: str, k: int = 8) -> list[str]:
    """Mirror ``operators.dedup.char_shingles``: distinct k-grams of the
    normalized text; texts shorter than ``k`` contribute the whole string
    (sequence(1, greatest(len-k+1, 1)) keeps position 1)."""
    t = ref_normalize(text)
    n_pos = max(len(t) - k + 1, 1)
    return list(dict.fromkeys(t[i : i + k] for i in range(n_pos)))


def ref_minhash_sig(text: str, num_hashes: int = 64, k: int = 8) -> list[int]:
    """Mirror ``operators.dedup.minhash_signature``: per permutation i,
    min over shingles of java_rem((2i+1)*h + i*i + 7, P) with
    h = java_abs(murmur3(shingle)) — including Java's truncating ``%``
    and the Math.abs(MIN_VALUE) overflow."""
    base = [java_abs_int(murmur3_string(s)) for s in ref_char_shingles(text, k)]
    return [
        min(java_rem((2 * i + 1) * h + i * i + 7, MINHASH_P) for h in base)
        for i in range(num_hashes)
    ]


def ref_minhash_bands(sig: list[int], bands: int = 16) -> list[int]:
    """Mirror ``operators.dedup.minhash_band_rows``: F.hash over each
    contiguous signature slice."""
    rpb = len(sig) // bands
    return [hash_long_array(sig[b * rpb : (b + 1) * rpb]) for b in range(bands)]


def ref_hyperplane(table: int, bit: int, dim: int) -> list[float]:
    """Mirror ``operators.similarity._hyperplane``: the deterministic
    splitmix64-style coordinate mix, re-derived here so the LSH golden
    fixture does not import the operator it checks."""
    vals = []
    for d in range(dim):
        x = (table * 1_000_003 + bit * 10_007 + d * 101 + 0x9E3779B9) & _M64
        x ^= x >> 30
        x = (x * 0xBF58476D1CE4E5B9) & _M64
        x ^= x >> 27
        x = (x * 0x94D049BB133111EB) & _M64
        x ^= x >> 31
        vals.append((x / 2**64) * 2.0 - 1.0)
    return vals


def ref_lsh_sigs(
    vec: list[float] | None, n_tables: int = 4, bits: int = 8, dim: int = 64
) -> list[int]:
    """Mirror ``operators.similarity._signatures`` (the expression-level
    spec the Arrow path is pinned against): bit ``b`` of table ``t`` is
    set iff dot(vec, plane_{t,b}) > 0.  NULL vectors and vectors whose
    length differs from ``dim`` yield the all-zero signature in every
    table (the expression's zip_with NULL-pads, nulling the dot).

    The dot is a sequential Python sum where the production path is a
    numpy matmul; both are float64, so they can disagree only in the
    last ulps — a sign flip therefore needs |dot| within rounding noise
    of zero, which ``tools/make_golden_sigs.py`` guards against with a
    margin assertion before baking a fixture."""
    if vec is None or len(vec) != dim:
        return [0] * n_tables
    v = [float(x) for x in vec]
    out = []
    for t in range(n_tables):
        sig = 0
        for b in range(bits):
            plane = ref_hyperplane(t, b, dim)
            d = 0.0
            for x, y in zip(v, plane):
                d += x * y
            if d > 0:
                sig |= 1 << b
        out.append(sig)
    return out


def ref_plant_perturb(vec: list[float] | None) -> list[float] | None:
    """Mirror the planted near-duplicate perturbation the graded
    ``embedding_near_dup`` query applies (``__spark_entry__.py``) — a pure
    elementwise fixed-point function of the coordinate value, so Spark
    (``transform`` expression), DuckDB (``list_transform`` in the oracle)
    and this Python mirror (fixture baking) all reproduce it bit-for-bit:

        fl = floor(x * 1e6)            # exact: double -> int
        j  = java_rem(fl * 2654435761, 7)   # C-style %, sign of dividend
        p  = (fl + j - 3) / 1e6        # exact int -> double division

    |p - x| <= 1e-6 (floor) + 6e-6 (jitter) per coordinate, so for the
    unit-norm testdata embeddings cosine(x, p) >= 1 - ~1e-9 — a planted
    pair far above any production near-dup threshold, derived
    deterministically from the driver's own table (no side-channel data).
    """
    if vec is None:
        return None
    out = []
    for x in vec:
        fl = math.floor(float(x) * 1000000.0)
        j = java_rem(fl * 2654435761, 7)
        out.append((fl + j - 3) / 1000000.0)
    return out


def ref_lsh_dot_margin(
    vec: list[float], n_tables: int = 4, bits: int = 8, dim: int = 64
) -> float:
    """min |dot(vec, plane)| across all hyperplanes — the sign-stability
    margin the fixture generator asserts on (see ``ref_lsh_sigs``)."""
    m = float("inf")
    for t in range(n_tables):
        for b in range(bits):
            plane = ref_hyperplane(t, b, dim)
            d = 0.0
            for x, y in zip(vec, plane):
                d += x * y
            m = min(m, abs(d))
    return m


# --------------------------------------------------------------------------
# HyperLogLog++ (approx_count_distinct) mirror — linear-counting regime
# --------------------------------------------------------------------------

# Empirical linear-counting thresholds from the HLL++ paper's appendix
# (Heule/Nunkesser/Hall, EDBT 2013), indexed by precision p. Spark ships
# the same table in HyperLogLogPlusPlusHelper.
_HLL_THRESHOLD = {
    4: 10, 5: 20, 6: 40, 7: 80, 8: 220, 9: 400, 10: 900, 11: 1800,
    12: 3100, 13: 6500, 14: 11500, 15: 20000, 16: 50000, 17: 120000,
    18: 350000,
}


def hll_precision(rsd: float) -> int:
    """Mirror HyperLogLogPlusPlus: p = ceil(2 * log2(1.106 / rsd))."""
    import math

    return int(math.ceil(2.0 * math.log(1.106 / rsd) / math.log(2.0)))


def ref_hll_distinct(hashes: set[int], rsd: float = 0.02) -> int:
    """Mirror ``approx_count_distinct``'s estimate in the LINEAR-COUNTING
    branch, which is where every profiled column at the correctness
    scales lands (asserted, not assumed).

    HLL++ registers only enter the final answer through V (the count of
    never-touched registers) when linear counting applies: the estimator
    returns round(m * ln(m / V)) whenever V > 0 and that value is at or
    below the empirical threshold for p. V depends ONLY on the set of
    register indices — the top p bits of xxhash64(value, seed=42) — so
    the rho/leading-zero bookkeeping never affects the result here.
    ``hashes`` is the set of 64-bit hashes of the column's distinct
    non-null values (dedup upstream is free: equal values hash equal).

    Raises ValueError outside the linear-counting regime (dense HLL++
    needs the paper's bias-interpolation tables; a fixture generator must
    refuse to bake an estimate this mirror cannot certify)."""
    import math

    p = hll_precision(rsd)
    m = 1 << p
    idxs = {(h & _M64) >> (64 - p) for h in hashes}
    v = m - len(idxs)
    if v <= 0:
        raise ValueError("no zero registers: dense HLL++ regime, not mirrorable")
    h_lin = m * math.log(m / v)
    if h_lin > _HLL_THRESHOLD[p]:
        raise ValueError(
            f"linear estimate {h_lin:.1f} above threshold({p})="
            f"{_HLL_THRESHOLD[p]}: bias-corrected regime, not mirrorable"
        )
    return int(math.floor(h_lin + 0.5))  # Java Math.round


def xxh64_long(value: int, seed: int = 42) -> int:
    """xxhash64 of a Spark BIGINT: the 8-byte little-endian encoding
    (Spark's XXH64.hashLong takes the same single-lane path)."""
    import struct

    return xxh64_bytes(struct.pack("<q", value), seed)


def ref_ivf_model(
    rows: list[tuple[int, list[float]]],
    n_centroids: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    dim: int = 64,
):
    """Mirror ``operators.similarity.train_ivf``'s TRAINING + probe
    selection bit-for-bit and return the whole model:
    ``(probes, cents, min_margin)`` where probes is
    {id: [cid ranks 1..n_probe]}, cents the trained float64 centroid
    list, and min_margin the smallest nonzero adjacent-dot gap seen in
    the final probe argsort (the fixture tools' stability guard).
    ``ref_ivf_probes`` below is the original probe-only wrapper; the
    model form also feeds tools/make_golden_semdedup.py, whose oracle
    needs the frozen centroids themselves (the SemDeDup keep rule dots
    every pair member against its cluster centroid in SQL)."""
    import math as _math

    import numpy as np

    scale = 1 << 30

    def unit(vec: list[float]) -> list[float] | None:
        n = 0.0
        for x in vec:
            fx = float(x)
            n += fx * fx
        n = _math.sqrt(n)
        if n == 0:
            return None
        return [float(x) / n for x in vec]

    units = {i: unit(v) for i, v in rows}

    def topn(cents: list[list[float]], n: int, margin_out: list[float] | None = None):
        C = np.asarray(cents, dtype=np.float64)
        ids = [i for i in units]
        M = np.zeros((len(ids), dim))
        for r, i in enumerate(ids):
            u = units[i]
            if u is not None and len(u) == dim:
                M[r] = np.asarray(u, dtype=np.float64)
        dots = M @ C.T
        order = np.argsort(-dots, axis=1, kind="stable")[:, :n]
        if margin_out is not None:
            srt = -np.sort(-dots, axis=1)
            gaps = np.abs(np.diff(srt[:, : n + 1], axis=1))
            nz = gaps[gaps > 0]
            margin_out.append(float(nz.min()) if nz.size else float("inf"))
        return {i: [int(c) for c in order[r]] for r, i in enumerate(ids)}

    def normalize(v: list[float]) -> list[float]:
        n = _math.sqrt(sum(x * x for x in v))
        return [x / n for x in v] if n > 0 else list(v)

    seeds = sorted(rows, key=lambda r: (xxh64_string(str(r[0])), r[0]))[:n_centroids]
    cents = [normalize([float(x) for x in v]) for _, v in seeds]

    for _ in range(iters):
        assign = topn(cents, 1)
        sums: dict[tuple[int, int], int] = {}
        counts: dict[int, int] = {}
        for i, u in units.items():
            if u is None:
                continue
            cid = assign[i][0]
            counts[cid] = counts.get(cid, 0) + 1
            for pos, x in enumerate(u):
                sums[(cid, pos)] = sums.get((cid, pos), 0) + _math.floor(x * scale)
        means: dict[int, list[float]] = {}
        for (cid, pos), s in sums.items():
            means.setdefault(cid, [0.0] * dim)[pos] = s / scale / counts[cid]
        # one cell per seed: a corpus smaller than n_centroids trains fewer
        cents = [normalize(means.get(j, cents[j])) for j in range(len(cents))]

    margins: list[float] = []
    probes = topn(cents, n_probe, margin_out=margins)
    return probes, cents, (min(margins) if margins else float("inf"))


def ref_ivf_probes(
    rows: list[tuple[int, list[float]]],
    n_centroids: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    dim: int = 64,
) -> dict[int, list[int]]:
    """Probe-only form of ``ref_ivf_model`` (the original fixture-tool
    surface): returns {id: [cid ranks 1..n_probe]} for every input row.
    Possible only because the operator's Lloyd sums are fixed-point longs
    (order-independent — see the operator docstring); every float step
    repeats the operator's arithmetic exactly:

    - unit vectors via the same sequential square-sum fold,
    - seeds = n_centroids smallest (signed xxhash64(str(id)), id),
    - assignment via the same numpy float64 matmul + stable argsort
      (``_centroid_topn_pd``'s spec),
    - per-cell means as (int_sum / 2^30) / n in float64,
    - empty cells keep their previous centroid.

    ``tools/make_golden_ann.py`` asserts an argsort stability margin
    (adjacent dot gaps exact-zero or > 1e-9, read from ``last_margin``)
    before baking a fixture, so a BLAS blocking difference between
    executor batches and this full-matrix replay cannot silently flip a
    rank."""
    probes, _cents, margin = ref_ivf_model(
        rows, n_centroids=n_centroids, n_probe=n_probe, iters=iters, dim=dim
    )
    ref_ivf_probes.last_margin = margin
    return probes


# ---------------------------------------------------------------------------
# Quality classifier (fixed-point logistic-regression-style filter)
# ---------------------------------------------------------------------------
# Shared spec between operators/quality_model.py (the Spark implementation)
# and ref_qlr_scores below (the pure-Python oracle mirror). Everything is
# int64 fixed-point with NO transcendentals: the link function is the hard
# sigmoid clamp(x/4 + 1/2, 0, 1), computed as non-negative integer division
# so JVM `div` (truncation) and Python `//` (floor) agree bit-for-bit, and
# every gradient is a sum of int64 terms — order-independent, so Spark's
# shuffle nondeterminism cannot move a single ulp.

QLR_ONE = 1 << 20           # fixed-point scale
QLR_DIM = 512               # hashed feature buckets
QLR_ITERS = 5               # full-batch CENTERED-GD iterations: lr 8 x 5
                            # reaches 100% train accuracy on the weak rule
                            # at every testdata SF (4 leaves sf0.001 at
                            # 99.6%); r7 re-tuned with the centering fix —
                            # see qlr_update for why raw-presence GD never
                            # converged at ANY (lr, iters)
QLR_LR_NUM, QLR_LR_DEN = 8, 1
QLR_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in",
    "is", "it", "that", "for", "on", "with", "as", "this",
)
QLR_STOP_MIN = 2            # distinct stopwords needed for a weak 1-label
                            # (r7: was 4 — unreachable on the testdata,
                            # whose docs carry at most 2 distinct
                            # stopwords, so every label was 0 and every
                            # score 0: a vacuously-uniform graded query.
                            # 2 splits the corpus ~63/37 at every SF)


def qlr_bucket(token: str, dim: int = QLR_DIM) -> int:
    """pmod(xxhash64(token), dim) — Java pmod == Python %, both in [0, dim)."""
    return xxh64_string(token) % dim


def qlr_hard_sigmoid_fp(x_fp: int) -> int:
    """Hard sigmoid in fixed point: clamp to [-2, 2], shift to [0, 4],
    integer-divide by 4 -> [0, ONE]. The shift makes the dividend
    non-negative, where truncating (JVM) and flooring (Python) division
    coincide."""
    y = min(max(x_fp, -2 * QLR_ONE), 2 * QLR_ONE) + 2 * QLR_ONE
    return y // 4


def _qlr_tdiv(a: int, d: int) -> int:
    """Truncate-toward-zero division (Python // floors negatives; the JVM
    and this spec truncate)."""
    q = abs(a) // d
    return q if a >= 0 else -q


def qlr_center_offset(weights: dict[int, int], df: dict[int, int], n_docs: int) -> int:
    """C = trunc(sum_j w_j * df_j / n): the mean-feature offset that makes
    the presence features effectively CENTERED (x - p_j) without ever
    materializing dense centered rows — it folds into the logit as a
    per-iteration constant. Driver-side Python ints (unbounded), so no
    overflow concern; the Spark-side aggregates it is built from stay
    within int64."""
    return _qlr_tdiv(sum(w * df[j] for j, w in weights.items() if j in df), n_docs)


def qlr_update(
    weights: dict[int, int],
    bias: int,
    grads: dict[int, int],
    grad_b: int,
    df: dict[int, int],
    n_docs: int,
) -> tuple[dict[int, int], int]:
    """One CENTERED full-batch GD update from integer gradient sums. Used
    verbatim by the Spark driver loop AND the mirror, so weight arithmetic
    cannot drift.

    Centering is the r7 convergence fix: with raw presence features the
    gradient of every common bucket is dominated by the shared all-ones
    direction (the class prior), which only the slow-moving bias can
    offset — full-batch GD then oscillates between all-positive and
    all-negative regardless of learning rate (measured: accuracy stuck at
    the class prior for every lr x iters tried). On centered features
    x_ij - p_j that direction is projected out ANALYTICALLY:

        grad_centered_j = grad_j - p_j * grad_b
                        = (grad_j * n - df_j * grad_b) / n

    so the update is w_j -= lr * (grad_j*n - df_j*grad_b) / n^2 — still a
    pure function of the two integer aggregates the engine already
    computes (per-bucket err sums + the sentinel bias row) plus the
    one-time df table. The matching logit is
    ``sum_j w_j + bias - qlr_center_offset(...)``. Converges to 100%
    train accuracy on the weak rule in 5 iterations at lr 8 (vs never,
    before). All arithmetic is driver-side Python ints; division
    truncates toward zero on both sides."""
    den = QLR_LR_DEN * n_docs * n_docs
    new_w = dict(weights)
    for j, dfj in df.items():
        gc = grads.get(j, 0) * n_docs - dfj * grad_b
        if gc:
            new_w[j] = new_w.get(j, 0) - _qlr_tdiv(gc * QLR_LR_NUM, den)
    return new_w, bias - _qlr_tdiv(grad_b * QLR_LR_NUM, QLR_LR_DEN * n_docs)


def ref_qlr_scores(
    docs: list[tuple[int, str]],
    dim: int = QLR_DIM,
    iters: int = QLR_ITERS,
) -> list[tuple[int, int, int]]:
    """Pure-Python mirror of ``operators.quality_model.score_quality_lr``:
    weak stopword labels -> presence features on hashed buckets -> ``iters``
    full-batch fixed-point GD steps -> per-doc hard-sigmoid scores.
    Returns [(doc_id, label, score_fp)] for docs with non-NULL text."""
    stop = set(QLR_STOPWORDS)
    feats: dict[int, frozenset[int]] = {}
    labels: dict[int, int] = {}
    for doc_id, text in docs:
        if text is None:
            continue
        toks = [t for t in ref_normalize(text).split(" ") if t]
        feats[doc_id] = frozenset(qlr_bucket(t, dim) for t in toks)
        labels[doc_id] = 1 if len({t for t in toks if t in stop}) >= QLR_STOP_MIN else 0

    n = len(feats)
    if n == 0:
        return []
    df: dict[int, int] = {}
    for bs in feats.values():
        for j in bs:
            df[j] = df.get(j, 0) + 1
    w: dict[int, int] = {}
    b = 0
    for _ in range(iters):
        c = qlr_center_offset(w, df, n)
        grads: dict[int, int] = {}
        grad_b = 0
        for doc_id, bs in feats.items():
            x = b - c + sum(w.get(j, 0) for j in bs)
            err = qlr_hard_sigmoid_fp(x) - labels[doc_id] * QLR_ONE
            grad_b += err
            for j in bs:
                grads[j] = grads.get(j, 0) + err
        w, b = qlr_update(w, b, grads, grad_b, df, n)

    c = qlr_center_offset(w, df, n)
    out = []
    for doc_id, bs in feats.items():
        x = b - c + sum(w.get(j, 0) for j in bs)
        out.append((doc_id, labels[doc_id], qlr_hard_sigmoid_fp(x)))
    return sorted(out)


# ---------------------------------------------------------------------------
# Product quantization (PQ/ADC) — integer-exact spec shared with
# operators/similarity.pq_topk
# ---------------------------------------------------------------------------
# Unlike IVF (whose mirror needs an argsort-margin guard because ranking
# happens on float dots), every PQ ranking decision is made on INTEGERS:
# unit-vector coordinates and centroids are quantized to 2^-15 resolution
# and both the k-means assignment rank (||c||^2 - 2 x.c) and the ADC score
# (sum of per-subspace LUT dots) are exact int64 arithmetic. Identical
# doubles in -> identical ints -> identical ranks, with no epsilon anywhere.

PQ_M = 16                   # subspaces (16 x 4-bit codes = 8 B/vector)
PQ_KSUB = 16                # centroids per subspace
PQ_ITERS = 2                # Lloyd iterations (same budget as ivf_topk)
PQ_COORD_SCALE = 1 << 15    # unit-coordinate quantization for rank/score ints
PQ_SUM_SCALE = 1 << 30      # Lloyd mean accumulation (same as IVF_SCALE)
PQ_RERANK = 10              # ADC shortlist = PQ_RERANK * k, then refine


def _pq_unit(vec) -> list[float] | None:
    """ivf-spec unit vector: sequential square-sum fold, None on zero norm."""
    import math as _math

    n = 0.0
    for x in vec:
        fx = float(x)
        n += fx * fx
    n = _math.sqrt(n)
    if n == 0:
        return None
    return [float(x) / n for x in vec]


def _pq_q(x: float) -> int:
    import math as _math

    return _math.floor(x * float(PQ_COORD_SCALE))


def ref_pq_topk(
    rows: list[tuple[int, list[float]]],
    n_queries: int = 10,
    k: int = 5,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = PQ_ITERS,
    dim: int = 64,
    rerank: int = PQ_RERANK,
) -> list[tuple[int, int, int, int]]:
    """Mirror of ``operators.similarity.pq_topk`` with the benched query's
    shape (queries = vec_id < n_queries, self-match excluded). Returns
    [(query_id, vec_id, score_fp, rank)].

    Spec (each step repeated bit-for-bit by the Spark operator):
    - valid rows only: non-NULL vectors of length ``dim`` with nonzero norm,
    - unit vectors via the sequential fold (identical IEEE doubles),
    - seeds = the ``ksub`` valid rows with the smallest
      (signed xxhash64(str(id)), id), their unit subvectors,
    - assignment: argmin over exact int64
      ``sum(cq^2) - 2*sum(xq*cq)`` of 2^-15-quantized coords, ties to the
      smallest centroid index,
    - Lloyd means from fixed-point 2^-30 sums (order-independent);
      empty cells keep their previous centroid,
    - ADC: per-query LUT[s][j] = exact int dot of quantized subvectors;
      ADC score = sum over subspaces of LUT[s][code_v[s]],
    - shortlist = top rerank*k by (ADC desc, vec_id asc), then REFINE:
      score_fp = exact int dot of the two 2^-15-quantized FULL unit
      vectors (the ADC+R pattern, with integers instead of floats),
    - top-k by (score_fp desc, vec_id asc), rank 1..k."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m} subspaces")
    dsub = dim // m
    units = {}
    for i, v in rows:
        if v is None or len(v) != dim:
            continue
        u = _pq_unit(v)
        if u is not None:
            units[i] = u

    def subq(u: list[float], s: int) -> list[int]:
        return [_pq_q(x) for x in u[s * dsub : (s + 1) * dsub]]

    seed_ids = sorted(units, key=lambda i: (xxh64_string(str(i)), i))[:ksub]
    # cents[s][j] = float centroid of subspace s
    cents = [[list(units[i][s * dsub : (s + 1) * dsub]) for i in seed_ids]
             for s in range(m)]

    n_cents = len(seed_ids)  # may be < ksub on tiny corpora

    def assign(u: list[float]) -> list[int]:
        codes = []
        for s in range(m):
            xq = subq(u, s)
            best = None
            for j in range(n_cents):
                cq = [_pq_q(c) for c in cents[s][j]]
                r = sum(c * c for c in cq) - 2 * sum(a * b for a, b in zip(xq, cq))
                if best is None or (r, j) < best:
                    best = (r, j)
            codes.append(best[1])
        return codes

    if n_cents == 0:
        return []

    for _ in range(iters):
        sums: dict[tuple[int, int, int], int] = {}
        counts: dict[tuple[int, int], int] = {}
        import math as _math

        for i, u in units.items():
            codes = assign(u)
            for s in range(m):
                j = codes[s]
                counts[(s, j)] = counts.get((s, j), 0) + 1
                for pos in range(dsub):
                    key = (s, j, pos)
                    sums[key] = sums.get(key, 0) + _math.floor(
                        u[s * dsub + pos] * float(PQ_SUM_SCALE)
                    )
        for s in range(m):
            for j in range(n_cents):
                n = counts.get((s, j), 0)
                if n:
                    cents[s][j] = [
                        sums[(s, j, pos)] / float(PQ_SUM_SCALE) / n
                        for pos in range(dsub)
                    ]

    codes = {i: assign(u) for i, u in units.items()}
    xq_full = {i: [_pq_q(x) for x in u] for i, u in units.items()}
    shortlist_n = rerank * k
    out: list[tuple[int, int, int, int]] = []
    for qid in sorted(units):
        if qid >= n_queries:
            continue
        qu = units[qid]
        lut = [
            [
                sum(a * b for a, b in zip(subq(qu, s), [_pq_q(c) for c in cents[s][j]]))
                for j in range(n_cents)
            ]
            for s in range(m)
        ]
        scored = [
            (sum(lut[s][cv[s]] for s in range(m)), i)
            for i, cv in codes.items()
            if i != qid
        ]
        scored.sort(key=lambda t: (-t[0], t[1]))
        # refinement: exact int dot of the 2^-15-quantized FULL vectors
        # over the ADC shortlist — the ADC+R pattern with no float step
        qx = xq_full[qid]
        refined = [
            (sum(a * b for a, b in zip(qx, xq_full[i])), i)
            for _, i in scored[:shortlist_n]
        ]
        refined.sort(key=lambda t: (-t[0], t[1]))
        for rank, (score, i) in enumerate(refined[:k], start=1):
            out.append((qid, i, score, rank))
    return sorted(out)


def ref_ivfpq_topk(
    rows: list[tuple[int, list[float]]],
    n_queries: int = 10,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    ivf_iters: int = 2,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    pq_iters: int = PQ_ITERS,
    dim: int = 64,
    rerank: int = PQ_RERANK,
    queries: list[tuple[int, list[float]]] | None = None,
    residual: bool = False,
) -> list[tuple[int, int, int, int]]:
    """Mirror of ``operators.similarity.ivfpq_topk``. Default shape is
    the benched query's (queries = corpus rows with vec_id < n_queries,
    self-match excluded); pass ``queries=[(qid, vec), ...]`` for EXTERNAL
    query vectors (the hybrid-ANN leg shape — qids outside the corpus id
    space, so the engine's qid != cid filter is a no-op, mirrored here).
    Composes the two existing specs: the coarse quantizer is ref_ivf's
    fixed-point Lloyd (float assignment dots — numpy matmul + stable
    argsort, so ``last_margin`` records the smallest nonzero adjacent
    gap across EVERY argsort this replay makes, and the fixture
    generator refuses to bake below 1e-9); the codebooks/ADC/refine are
    ref_pq_topk's all-integer chain. PQ validity rules throughout.

    ``residual=True`` mirrors the engine's FAISS-default residual mode
    (r8): PQ trains/encodes ``u - coarse[cell(u)]`` under the frozen
    coarse quantizer (the cell assignment is one more margin-tracked
    argsort), and each probe row carries the extra int64 cell term
    ``dot(qx, floor(coarse[cid] * 2^15))`` added to the ADC sum —
    everything else (LUT on the raw query, exact refine) is unchanged,
    so residual retrieval is replayable bit-for-bit too.
    Returns sorted [(query_id, vec_id, score_fp, rank)]."""
    import math as _math

    import numpy as np

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m} subspaces")
    dsub = dim // m

    units = {}
    for i, v in rows:
        if v is None or len(v) != dim:
            continue
        u = _pq_unit(v)
        if u is not None:
            units[i] = u
    if not units:
        ref_ivfpq_topk.last_margin = float("inf")
        return []

    margins: list[float] = []

    def topn(cents: list[list[float]], n: int, over=None) -> dict[int, list[int]]:
        C = np.asarray(cents, dtype=np.float64)
        vecs = units if over is None else over
        ids = list(vecs)
        M = np.asarray([vecs[i] for i in ids], dtype=np.float64)
        dots = M @ C.T
        order = np.argsort(-dots, axis=1, kind="stable")[:, :n]
        srt = -np.sort(-dots, axis=1)
        gaps = np.abs(np.diff(srt[:, : min(n + 1, srt.shape[1])], axis=1))
        nz = gaps[gaps > 0]
        margins.append(float(nz.min()) if nz.size else float("inf"))
        return {i: [int(c) for c in order[r]] for r, i in enumerate(ids)}

    def normalize(v: list[float]) -> list[float]:
        n = _math.sqrt(sum(x * x for x in v))
        return [x / n for x in v] if n > 0 else list(v)

    n_seed = max(n_centroids, ksub)
    seed_ids = sorted(units, key=lambda i: (xxh64_string(str(i)), i))[:n_seed]

    # ---- coarse quantizer (ivf spec, over the re-normalized units) ----
    scale = 1 << 30
    coarse = [normalize([float(x) for x in units[i]]) for i in seed_ids[:n_centroids]]
    for _ in range(ivf_iters):
        assign = topn(coarse, 1)
        sums: dict[tuple[int, int], int] = {}
        counts: dict[int, int] = {}
        for i, u in units.items():
            cid = assign[i][0]
            counts[cid] = counts.get(cid, 0) + 1
            for pos, x in enumerate(u):
                sums[(cid, pos)] = sums.get((cid, pos), 0) + _math.floor(x * scale)
        means: dict[int, list[float]] = {}
        for (cid, pos), s in sums.items():
            means.setdefault(cid, [0.0] * dim)[pos] = s / scale / counts[cid]
        coarse = [normalize(means.get(j, coarse[j])) for j in range(len(coarse))]

    # ---- final coarse assignment (frozen; residual mode needs it now) ----
    cell = {i: a[0] for i, a in topn(coarse, 1).items()}
    if residual:
        # PQ explains u - coarse[cell(u)] under the frozen quantizer
        # (engine: _residual_pd); Python-float subtraction is the same
        # float64 op numpy applies elementwise, so bit-identical
        pvecs = {
            i: [u[p] - coarse[cell[i]][p] for p in range(dim)]
            for i, u in units.items()
        }
    else:
        pvecs = units

    # ---- PQ codebooks (pq spec, over raw units or cell residuals) ----
    pq_seed_ids = seed_ids[:ksub]
    cents = [[list(pvecs[i][s * dsub : (s + 1) * dsub]) for i in pq_seed_ids]
             for s in range(m)]
    n_cents = len(pq_seed_ids)

    def subq(u: list[float], s: int) -> list[int]:
        return [_pq_q(x) for x in u[s * dsub : (s + 1) * dsub]]

    def assign_pq(u: list[float]) -> list[int]:
        codes = []
        for s in range(m):
            xq = subq(u, s)
            best = None
            for j in range(n_cents):
                cq = [_pq_q(c) for c in cents[s][j]]
                r = sum(c * c for c in cq) - 2 * sum(a * b for a, b in zip(xq, cq))
                if best is None or (r, j) < best:
                    best = (r, j)
            codes.append(best[1])
        return codes

    for _ in range(pq_iters):
        psums: dict[tuple[int, int, int], int] = {}
        pcounts: dict[tuple[int, int], int] = {}
        for i, u in pvecs.items():
            codes = assign_pq(u)
            for s in range(m):
                j = codes[s]
                pcounts[(s, j)] = pcounts.get((s, j), 0) + 1
                for pos in range(dsub):
                    key = (s, j, pos)
                    psums[key] = psums.get(key, 0) + _math.floor(
                        u[s * dsub + pos] * float(PQ_SUM_SCALE)
                    )
        for s in range(m):
            for j in range(n_cents):
                n = pcounts.get((s, j), 0)
                if n:
                    cents[s][j] = [
                        psums[(s, j, pos)] / float(PQ_SUM_SCALE) / n
                        for pos in range(dsub)
                    ]

    # ---- encode (cell was frozen above; codes quantize pvecs) ----
    codes = {i: assign_pq(pvecs[i]) for i in units}
    xq_full = {i: [_pq_q(x) for x in u] for i, u in units.items()}

    # ---- query side: probes, LUT, ADC over probed cells, refine ----
    shortlist_n = rerank * k
    if queries is None:
        q_units = {qid: units[qid] for qid in units if qid < n_queries}
        probes_all = topn(coarse, min(n_probe, len(coarse)))
        q_probes = {qid: probes_all[qid] for qid in q_units}
    else:
        q_units = {}
        for qid, v in queries:
            if v is None or len(v) != dim:
                continue
            u = _pq_unit(v)
            if u is not None:
                q_units[qid] = u
        q_probes = (
            topn(coarse, min(n_probe, len(coarse)), over=q_units) if q_units else {}
        )
    out: list[tuple[int, int, int, int]] = []
    for qid in sorted(q_units):
        qu = q_units[qid]
        probed = set(q_probes[qid])
        lut = [
            [
                sum(a * b for a, b in zip(subq(qu, s), [_pq_q(c) for c in cents[s][j]]))
                for j in range(n_cents)
            ]
            for s in range(m)
        ]
        qx = [_pq_q(x) for x in qu]  # == xq_full[qid] when qid is a corpus row
        if residual:
            # engine: per-(query, probed-cell) int64 term added to the
            # LUT sum — dot(qx, floor(coarse[cid] * 2^15))
            cfp = {
                cid: sum(a * b for a, b in zip(qx, (_pq_q(c) for c in coarse[cid])))
                for cid in probed
            }
        else:
            cfp = dict.fromkeys(probed, 0)
        scored = [
            (sum(lut[s][cv[s]] for s in range(m)) + cfp[cell[i]], i)
            for i, cv in codes.items()
            if i != qid and cell[i] in probed
        ]
        scored.sort(key=lambda t: (-t[0], t[1]))
        refined = [
            (sum(a * b for a, b in zip(qx, xq_full[i])), i)
            for _, i in scored[:shortlist_n]
        ]
        refined.sort(key=lambda t: (-t[0], t[1]))
        for rank, (score, i) in enumerate(refined[:k], start=1):
            out.append((qid, i, score, rank))
    ref_ivfpq_topk.last_margin = min(margins) if margins else float("inf")
    return sorted(out)
