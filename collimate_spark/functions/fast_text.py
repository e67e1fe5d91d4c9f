"""Arrow-batched numpy implementations of the dedup hash kernels — the
one implementation of each family (trigram shingle sets, MinHash bands,
SimHash, winnowing).

As Column expressions these hashes evaluate higher-order functions
interpreted per array element (~100 ns/element); MinHash at k=128 over
~450 shingles/doc is ~60k element-evals per doc — the one place in the
engine where the built-in-functions rule loses to an Arrow-batched numpy
kernel. These mapInPandas kernels are the sanctioned escape hatch
(vectorized batch transfer, no per-row Python).

Determinism: zlib.crc32 / blake2b are stable across platforms and
processes; affine permutation constants come from a fixed-seed PCG64.
Correctness downstream does not depend on the hash family — LSH output is
verified against exact Jaccard before it leaves the operator.
"""

from __future__ import annotations

import zlib
from collections.abc import Callable, Iterator
from hashlib import blake2b, md5

import numpy as np
import pandas as pd
import pyspark.sql.types as T

MINHASH_K = 128
LSH_BANDS = 32
LSH_ROWS = 4  # 32 bands × 4 rows = 128 hashes; P(miss | j=0.8) ≈ 5e-8

# fixed-seed affine permutation family over the 2^64 ring (a odd → bijective)
_rng = np.random.Generator(np.random.PCG64(9172))
_A = (_rng.integers(1, 2**63, size=MINHASH_K, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
_B = _rng.integers(0, 2**63, size=MINHASH_K, dtype=np.uint64)

BAND_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("band_hash", T.LongType()),
    ]
)


def _trigram_set(text: str) -> set[str]:
    """Distinct word trigrams of the lower-cased whitespace tokens; empty
    for docs with <3 tokens."""
    toks = text.lower().split()
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


def _crc32_hashes(shingles: set[str]) -> np.ndarray:
    """crc32 per shingle as a uint64 array — the MinHash input."""
    return np.fromiter(
        (zlib.crc32(s.encode()) for s in shingles), dtype=np.uint64, count=len(shingles)
    )


def _blake2b_sorted(shingles: set[str]) -> list[int]:
    """Sorted signed blake2b-64 per shingle — the exact-verify set."""
    return sorted(
        int.from_bytes(blake2b(s.encode(), digest_size=8).digest(), "little") - 2**63
        for s in shingles
    )


# Cap on total shingle hashes vectorized at once: the permutation buffer
# is a dense (K_HASHES, total_shingles) uint64 array — 128 × 100k × 8 B
# ≈ 100 MiB per Python worker at this cap. UNCHUNKED, a 10k-doc Arrow
# batch (Spark's default maxRecordsPerBatch) at ~170 shingles/doc
# allocates ~1.7 GiB per worker × every parallel worker — measured as a
# 45× kernel blowup at 500k docs (allocator/page-cache thrash), invisible
# at 5k docs where batches are tiny. Work is identical either way;
# reduceat never crosses a doc boundary, so chunking at doc boundaries
# changes nothing but the buffer size.
_MINHASH_CHUNK_SHINGLES = 100_000

# Band-hash mixing constants: odd (→ the per-row multilinear map is
# bijective in each coordinate), from a generator seeded independently
# of _A/_B so adding them never re-derives the permutation family.
_BANDC = (
    np.random.Generator(np.random.PCG64(40127)).integers(
        1, 2**63, size=LSH_ROWS, dtype=np.uint64
    )
    << np.uint64(1)
) | np.uint64(1)


def _band_hash_matrix(minima: np.ndarray) -> np.ndarray:
    """(k, n) per-doc signature minima → (n, LSH_BANDS) int64 band
    hashes, fully vectorized: each band's LSH_ROWS minima combine
    multilinearly under odd 64-bit constants, finished with the murmur3
    fmix64 avalanche. Replaces a LSH_BANDS×n pure-Python crc32 loop
    (~1 µs/call of interpreter + tobytes overhead) and widens the bucket
    key space from crc32's 32 bits to 64 — fewer spurious bucket
    collisions at corpus scale. ANY deterministic band hash yields the
    same verified output: equal bands always collide, and unequal-band
    collisions only add candidates the exact-Jaccard verify discards."""
    n = minima.shape[1]
    bands = minima.reshape(LSH_BANDS, LSH_ROWS, n)
    with np.errstate(over="ignore"):
        h = (bands * _BANDC[None, :, None]).sum(axis=1, dtype=np.uint64)
        h ^= h >> np.uint64(33)
        h *= np.uint64(0xFF51AFD7ED558CCD)
        h ^= h >> np.uint64(33)
        h *= np.uint64(0xC4CEB9FE1A85EC53)
        h ^= h >> np.uint64(33)
    return np.ascontiguousarray(h.T).view(np.int64)


def _banded_chunks(per_doc: list) -> Iterator[tuple[int, int, np.ndarray]]:
    """Yield (start, end, band_matrix) over doc-boundary chunks of
    ``per_doc`` (a list of (key, uint64 shingle-hash array) with every
    array non-empty), each chunk ≤ _MINHASH_CHUNK_SHINGLES total
    shingles; band_matrix[i - start, b] is doc i's band-b hash."""
    start = 0
    while start < len(per_doc):
        end, tot = start, 0
        while end < len(per_doc) and (
            tot == 0 or tot + per_doc[end][1].size <= _MINHASH_CHUNK_SHINGLES
        ):
            tot += per_doc[end][1].size
            end += 1
        chunk = per_doc[start:end]
        lengths = np.array([h.size for _, h in chunk])
        offsets = np.concatenate(([0], np.cumsum(lengths)[:-1]))
        allh = np.concatenate([h for _, h in chunk])
        with np.errstate(over="ignore"):
            perms = _A[:, None] * allh[None, :] + _B[:, None]
        minima = np.minimum.reduceat(perms, offsets, axis=1)  # (k, ndocs)
        yield start, end, _band_hash_matrix(minima)
        start = end


def minhash_bands(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(doc_id, text) batches → (doc_id, band, band_hash) rows.

    Vectorized in doc-boundary CHUNKS of ≤ _MINHASH_CHUNK_SHINGLES total
    shingles: crc32 per distinct trigram shingle (C-speed), the chunk's
    hashes concatenated, the k=128 affine permutations as ONE
    (k, chunk_shingles) broadcast multiply-add with natural uint64 wrap,
    per-doc minima via ``np.minimum.reduceat`` on the doc offsets, each
    4-minima slice mixed to a 64-bit band hash (vectorized — see
    ``_band_hash_matrix``). Docs with <3 tokens emit nothing (cannot
    near-dup by trigram shingles).
    """
    for pdf in batches:
        per_doc = [
            (int(d), _crc32_hashes(sh))
            for d, sh in zip(pdf["doc_id"], map(_trigram_set, pdf["text"]))
            if sh
        ]
        if not per_doc:
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series([], dtype="int64"),
                    "band": pd.Series([], dtype="int32"),
                    "band_hash": pd.Series([], dtype="int64"),
                }
            )
            continue
        for start, end, bh in _banded_chunks(per_doc):
            n = end - start
            doc_ids = np.array([d for d, _ in per_doc[start:end]], dtype=np.int64)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(np.repeat(doc_ids, LSH_BANDS), dtype="int64"),
                    "band": pd.Series(
                        np.tile(np.arange(LSH_BANDS, dtype=np.int32), n), dtype="int32"
                    ),
                    "band_hash": pd.Series(bh.reshape(-1), dtype="int64"),
                }
            )


SHINGLE_SET_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sh", T.ArrayType(T.LongType())),
    ]
)


def shingle_hash_sets(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(doc_id, text) → (doc_id, sorted distinct 64-bit shingle hashes).

    blake2b-64 per distinct trigram shingle. Set relations (intersection /
    union sizes) over these hashes equal the string-shingle relations up to
    a ~2^-64-per-pair collision probability — safe for exact-Jaccard
    verification against a string-based oracle (crc32's 32 bits would NOT
    be: ~1e-4 collision odds per candidate pair). Docs with <3 tokens emit
    an empty array.
    """
    for pdf in batches:
        out = [
            {"doc_id": doc_id, "sh": _blake2b_sorted(_trigram_set(text))}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"])
        ]
        yield pd.DataFrame(out, columns=["doc_id", "sh"])


BAND_SET_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("shingles", T.ArrayType(T.LongType())),
        T.StructField("bh", T.ArrayType(T.LongType())),
    ]
)


def minhash_band_sets(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Fused kernel for dedup_minhash_lsh: (doc_id, text) → ONE row per
    doc carrying both the exact-verify shingle hash set (same values as
    ``shingle_hash_sets``) and the LSH_BANDS band hashes in band order
    (same values as ``minhash_bands``), from a SINGLE tokenize + shingle
    pass. Running the two parent kernels separately costs two full
    passes of the corpus text through the Python boundary (two
    tokenizations, two shingle-set builds, two Arrow ships of the text);
    this halves that (guide §4). Docs with <3 tokens emit nothing — they
    cannot near-dup by trigram shingles (both parents agree: no bands,
    and empty sets are filtered before the verify join)."""
    for pdf in batches:
        per_doc: list[tuple[int, np.ndarray]] = []
        blakes: list[list[int]] = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            shingles = _trigram_set(text)
            if not shingles:
                continue
            per_doc.append((int(doc_id), _crc32_hashes(shingles)))
            blakes.append(_blake2b_sorted(shingles))
        if not per_doc:
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series([], dtype="int64"),
                    "shingles": pd.Series([], dtype=object),
                    "bh": pd.Series([], dtype=object),
                }
            )
            continue
        for start, end, bh in _banded_chunks(per_doc):
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(
                        [per_doc[i][0] for i in range(start, end)], dtype="int64"
                    ),
                    "shingles": pd.Series(blakes[start:end], dtype=object),
                    "bh": pd.Series(list(bh), dtype=object),
                }
            )


_BIT_POS = np.arange(64, dtype=np.uint64)


# Shared bound for the per-task token→digest memos below (ADVICE r11):
# ~1M entries ≈ 150 MB of dict overhead per Python worker at the
# worst case — bounded even against the salted decade slices' ~10×
# per-level vocabulary growth, while virtually never evicting at bench
# scale (sf0.1 vocabulary ≈ 60k distinct tokens).
_MEMO_CAP = 1 << 20


def _capped_memo(fn: Callable[[str], object]) -> Callable[[str], object]:
    """Partition-lifetime memo of a pure token → digest function: the
    digest runs once per DISTINCT token instead of per occurrence, and
    results are bit-identical regardless of cache state. CAPPED, not
    unbounded (ADVICE r11): the chained mutated decade slices salt ~every
    4th token per level, multiplying distinct-token count ~10× per
    decade, so an unbounded memo could grow to tens of millions of string
    keys per Python worker. Clearing on overflow is correctness-free
    (pure function) and cheap: token frequencies are zipfian, so the hot
    head repopulates within a batch."""
    cache: dict[str, object] = {}

    def get(t: str) -> object:
        v = cache.get(t)
        if v is None:
            if len(cache) >= _MEMO_CAP:
                cache.clear()
            v = cache[t] = fn(t)
        return v

    return get


SIMHASH128_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sh_hi", T.LongType()),
        T.StructField("sh_lo", T.LongType()),
    ]
)


def simhash_fingerprints128(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(doc_id, text) batches → (doc_id, sh_hi, sh_lo) 128-bit fingerprints
    as two int64 halves.

    md5 (16 B — exactly the signature width) per token split into two
    little-endian uint64 words, a vectorized ±1 bit-count over each
    (n_tokens, 64) half, sign → bits → one int64 per half. md5 rather
    than blake2b is what upgrades dedup_simhash from rows-only to
    DuckDB-oracled: the oracle rebuilds the identical per-token bytes
    with its own md5() and replays the signed bit sums byte-level
    (equally uniform bits; the projection family changes but the SimHash
    guarantees don't). 128 bits exist for
    the BAND INDEX, not for precision: 64-bit SimHash at
    hamming ≤3 forces 4×16-bit bands (pigeonhole), whose 2^16 key space
    saturates near ~10M docs (candidates grow Σ s² with bucket occupancy
    s ≈ n/2^16). Doubling the signature lets the blocking key reach 32
    bits (pairs of 16-bit blocks), pushing saturation out by 2^16×.
    Empty docs emit (0, 0).
    """
    tok_digest = _capped_memo(lambda t: md5(t.encode()).digest())

    for pdf in batches:
        out_doc, out_hi, out_lo = [], [], []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            toks = text.lower().split()
            if not toks:
                out_doc.append(doc_id)
                out_hi.append(0)
                out_lo.append(0)
                continue
            buf = b"".join(tok_digest(t) for t in toks)
            # (n_tokens, 2) little-endian words: col 0 = bytes 0..8 (lo),
            # col 1 = bytes 8..16 (hi)
            words = np.frombuffer(buf, dtype="<u8").reshape(len(toks), 2)
            halves = []
            for col in (1, 0):  # hi first
                arr = words[:, col]
                bits = ((arr[:, None] >> _BIT_POS[None, :]) & np.uint64(1)).astype(np.int64)
                counts = (2 * bits - 1).sum(axis=0)
                sig = np.bitwise_or.reduce((counts > 0).astype(np.uint64) << _BIT_POS)
                halves.append(int(sig.astype(np.int64)))
            out_doc.append(doc_id)
            out_hi.append(halves[0])
            out_lo.append(halves[1])
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out_doc, dtype="int64"),
                "sh_hi": pd.Series(out_hi, dtype="int64"),
                "sh_lo": pd.Series(out_lo, dtype="int64"),
            }
        )


WINNOW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("fp", T.LongType()),
    ]
)

WINNOW_K = 4  # tokens per k-gram
WINNOW_W = 5  # k-gram hashes per winnowing window
# Engine-portable k-gram hash (what upgrades winnow_fingerprint_pairs
# from rows-only to DuckDB-oracled, VERDICT r9 #5): per-TOKEN md5-prefix
# mod P, then a Horner polynomial combine over the K tokens — DuckDB
# reproduces it as ('0x'||substr(md5(t),1,8))::BIGINT % P and the same
# Horner chain in BIGINT. P = 2^31−1 keeps every Horner product under
# 2^52 (exact in int64 both engines); hashing per DISTINCT token (memo)
# instead of per gram also cuts the Python-side digest count ~K×.
WINNOW_P = 2_147_483_647
WINNOW_B = 1_000_003


def winnow_fingerprints(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(doc_id, text) batches → exploded (doc_id, fp) winnowing
    fingerprints (Schleimer/Wilkerson/Aiken '03): polynomial hash per
    token k-gram (md5-prefix token hashes, Horner combine — see
    WINNOW_P/WINNOW_B), sliding-window minima via a strided view,
    distinct minima per doc.

    As a Column expression, nested transform-over-slice HOFs re-evaluate
    the whole k-gram array per window position (CollapseProject), turning
    an O(n·w) algorithm into O(n²) interpreted evals — measured 55 s for
    500 docs at sf0.01 vs ~1 s here. The hash family is engine-portable,
    so the pair output is DuckDB-oracled end-to-end; any shared token run
    of ≥ w+k-1 yields a shared fingerprint."""
    tok_hash = _capped_memo(lambda t: int(md5(t.encode()).hexdigest()[:8], 16) % WINNOW_P)

    for pdf in batches:
        out_doc: list[int] = []
        out_fp: list[int] = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            toks = text.lower().split()
            n = len(toks)
            if n < WINNOW_K:
                continue
            th = np.fromiter((tok_hash(t) for t in toks), dtype=np.int64, count=n)
            ng = n - WINNOW_K + 1
            h = th[:ng].copy()
            for j in range(1, WINNOW_K):
                h = (h * WINNOW_B + th[j : j + ng]) % WINNOW_P
            if len(h) >= WINNOW_W:
                mins = np.lib.stride_tricks.sliding_window_view(h, WINNOW_W).min(axis=1)
            else:
                mins = h
            fps = np.unique(mins)
            out_doc.extend([doc_id] * len(fps))
            out_fp.extend(int(x) for x in fps)
        yield pd.DataFrame({"doc_id": out_doc, "fp": out_fp})
