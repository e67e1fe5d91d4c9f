"""Cross-variant dedup properties beyond the DuckDB oracle parity:
LSH↔exact equivalence, SimHash behavior, signature determinism."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F

from collimate_spark.functions import fast_text as ft
from collimate_spark.functions import text as X
from collimate_spark.operators.dedup import (
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
    dedup_simhash,
)


def test_minhash_lsh_equals_exact_jaccard(spark, sf_dir):
    """At 32×4 banding, P(missing a j≥0.8 pair) ≈ 5e-8 — verified LSH
    output must equal the exact shared-shingle join."""
    exact = {(r.doc_a, r.doc_b, r.jaccard) for r in dedup_ngram_jaccard(spark, sf_dir).collect()}
    lsh = {(r.doc_a, r.doc_b, r.jaccard) for r in dedup_minhash_lsh(spark, sf_dir).collect()}
    assert exact == lsh
    assert len(exact) > 0  # the testdata plants near-dups; empty = broken


def test_simhash_catches_planted_near_dups(spark, sf_dir):
    """128-bit SimHash hamming≤6 pair-of-blocks blocking should agree with
    high-Jaccard pairs on a majority of the planted near-dups (different
    similarity notion, so exact equality is not expected). d≤6 of 128 is
    the measured equivalent of the old d≤3 of 64 (planted-pair hammings
    double with signature width; both give 20/28 recall at sf0.001)."""
    from collimate_spark.operators.dedup import SIMHASH_MAX_HAM

    jac = {(r.doc_a, r.doc_b) for r in dedup_ngram_jaccard(spark, sf_dir).collect()}
    sim = {(r.doc_a, r.doc_b) for r in dedup_simhash(spark, sf_dir).collect()}
    assert len(sim & jac) >= len(jac) // 2
    hams = [r.hamming for r in dedup_simhash(spark, sf_dir).collect()]
    assert all(0 <= h <= SIMHASH_MAX_HAM for h in hams)


def test_winnow_pairs_subset_of_jaccard(spark, sf_dir):
    """Winnowing (shared-run detection) pairs should be high-Jaccard pairs
    on this corpus — shared runs imply shared shingles (measured: 16 of 25
    at sf0.01; the reverse is not implied for reordered dups)."""
    from collimate_spark.operators.textstats import winnow_fingerprint_pairs

    wp = {(r.doc_a, r.doc_b) for r in winnow_fingerprint_pairs(spark, sf_dir).collect()}
    jac = {(r.doc_a, r.doc_b) for r in dedup_ngram_jaccard(spark, sf_dir).collect()}
    assert len(wp) > 0
    assert len(wp & jac) >= len(wp) * 0.8


def _band_hashes(docs) -> dict[int, list[int]]:
    """doc_id → its LSH_BANDS band hashes in band order, from the
    minhash_bands kernel run on one pandas batch."""
    out = pd.concat(list(ft.minhash_bands(iter([docs]))), ignore_index=True)
    by_doc: dict[int, dict[int, int]] = {}
    for d, b, h in zip(out["doc_id"], out["band"], out["band_hash"]):
        by_doc.setdefault(int(d), {})[int(b)] = int(h)
    return {d: [bands[b] for b in sorted(bands)] for d, bands in by_doc.items()}


def test_identical_text_same_simhash_and_signature():
    """Identical texts get identical 128-bit SimHash fingerprints and
    identical MinHash band hashes; a different text differs in both.
    Pure-pandas test of the production kernels: no JVM needed."""
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "the quick brown fox jumps over the lazy dog",
                "the quick brown fox jumps over the lazy dog",
                "a completely different sentence about spark engines at scale",
            ],
        }
    )
    sims = pd.concat(list(ft.simhash_fingerprints128(iter([docs]))), ignore_index=True)
    sh = {
        int(d): (int(hi), int(lo))
        for d, hi, lo in zip(sims["doc_id"], sims["sh_hi"], sims["sh_lo"])
    }
    assert sh[1] == sh[2]
    assert sh[1] != sh[3]
    bands = _band_hashes(docs)
    assert bands[1] == bands[2]
    assert bands[1] != bands[3]
    assert len(bands[1]) == ft.LSH_BANDS


def test_hamming64_matches_popcount(spark):
    import random

    random.seed(3)
    rows = [(random.getrandbits(63), random.getrandbits(63)) for _ in range(50)]
    df = spark.createDataFrame(rows, ["a", "b"])
    got = df.select(X.hamming64(F.col("a"), F.col("b")).alias("h"), "a", "b").collect()
    for r in got:
        assert r.h == bin(r.a ^ r.b).count("1")


def test_minhash_estimates_jaccard():
    """A band agrees iff all LSH_ROWS of its minima agree, so the share of
    agreeing bands estimates j^LSH_ROWS. 64 disjoint-vocabulary doc pairs,
    each sharing 14 of 15 trigrams (j ≈ 0.933), should agree on about
    j⁴ ≈ 0.76 of their 32 bands — pooled over 2048 bands, close enough to
    tell j⁴ from j³ ≈ 0.81 and j⁵ ≈ 0.71. Pure-pandas test of the
    production kernel: no JVM needed."""
    n_pairs = 64
    ids, texts = [], []
    for k in range(n_pairs):
        a = " ".join(f"p{k}w{i}" for i in range(16))
        ids += [2 * k, 2 * k + 1]
        texts += [a, a + f" p{k}w16"]  # one extra trigram: j = 14/15
    bands = _band_hashes(pd.DataFrame({"doc_id": ids, "text": texts}))
    agree = sum(
        x == y for k in range(n_pairs) for x, y in zip(bands[2 * k], bands[2 * k + 1])
    ) / (n_pairs * ft.LSH_BANDS)
    expected = (14 / 15) ** ft.LSH_ROWS
    assert abs(agree - expected) <= 0.03, (agree, expected)


def test_propagate_components_chain_graph(spark):
    """Adversarial diameter: a path of 50 vertices (0-1-2-...-49,
    diameter 49). Plain k-hop propagation needs 49 rounds; the
    pointer-doubling variant must converge to one component well inside
    its round budget — and hit the fixpoint stop, not the cap."""
    import pyspark.sql.functions as FF

    from collimate_spark.operators.dedup import propagate_components

    chain = [(i, i + 1) for i in range(49)]
    edges = spark.createDataFrame(
        chain + [(b, a) for a, b in chain], "src long, dst long"
    )
    labels = propagate_components(edges, max_rounds=10)
    rows = labels.collect()
    assert len(rows) == 50
    assert all(r.comp == 0 for r in rows), "chain must collapse to component 0"
    # two disjoint chains stay disjoint
    edges2 = edges.union(
        edges.select((FF.col("src") + 100).alias("src"), (FF.col("dst") + 100).alias("dst"))
    )
    comps = {r.doc_id: r.comp for r in propagate_components(edges2, max_rounds=10).collect()}
    assert all(comps[i] == 0 for i in range(50))
    assert all(comps[i + 100] == 100 for i in range(50))


def test_propagate_components_random_graphs_match_union_find(spark):
    """Randomized (seeded) adversarial check: on arbitrary graph shapes —
    not just near-cliques or chains — pointer-doubling labels must equal a
    driver-side union-find, and must hit the fixpoint within the budget."""
    import random

    from collimate_spark.operators.dedup import propagate_components

    rng = random.Random(20260813)
    for trial in range(5):
        n = rng.randint(10, 60)
        m = rng.randint(n // 2, 2 * n)
        edges = {(rng.randrange(n), rng.randrange(n)) for _ in range(m)}
        edges = {(a, b) for a, b in edges if a != b}
        if not edges:
            continue
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {}
        verts = {v for e in edges for v in e}
        for v in verts:
            want[v] = find(v)
        sym = list(edges) + [(b, a) for a, b in edges]
        df = spark.createDataFrame(sym, "src long, dst long")
        got = {r.doc_id: r.comp for r in propagate_components(df, max_rounds=12).collect()}
        assert got == want, f"trial {trial} (n={n}, m={len(edges)})"


def test_connected_components_match_local_union_find(spark, sf_dir):
    """Cluster assignment must equal a driver-side union-find over the
    same pair set (fixpoint actually reached)."""
    from collimate_spark.operators.dedup import (
        dedup_connected_components,
        dedup_ngram_jaccard,
    )

    pairs = [(r.doc_a, r.doc_b) for r in dedup_ngram_jaccard(spark, sf_dir).collect()]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for v in list(parent):
        want[v] = find(v)
    got = {r.doc_id: (r.component, r.is_survivor) for r in dedup_connected_components(spark, sf_dir).collect()}
    assert set(got) == set(want)
    for doc, comp in want.items():
        assert got[doc][0] == comp
        assert got[doc][1] == (1 if doc == comp else 0)


def test_containment_batched_mode_identical(spark, sf_dir, monkeypatch):
    """SPARK_GRAFT_CONTAINMENT_BATCHES (the quota-bound decade knob) must
    be a pure scratch/latency trade: salted src batches partition the
    pair space, so the unioned result is row-identical to the single-pass
    plan."""
    from collimate_spark.operators.dedup import dedup_containment

    base = sorted(tuple(r) for r in dedup_containment(spark, sf_dir).collect())
    monkeypatch.setenv("SPARK_GRAFT_CONTAINMENT_BATCHES", "3")
    batched = sorted(tuple(r) for r in dedup_containment(spark, sf_dir).collect())
    assert batched == base and len(base) > 0


def test_hashed_gram_counting_matches_string_grams(spark):
    """r13: repetition_metrics and dup_span_coverage count distinct
    n-grams/windows via xxhash64 over once-hashed token tuples instead
    of building one string per gram. Tokens contain no spaces (split on
    the normalized single space), so tuple equality == joined-string
    equality; this pins the two forms identical on docs exercising the
    edges: empty text, fewer tokens than n, all-repeat docs, and
    straddling repeats."""
    from collimate_spark.operators.textstats import _ngram_hashes_all

    rows = [
        (1, ""),
        (2, "one two"),
        (3, "a b c a b c a b c"),
        (4, "x x x x x"),
        (5, "alpha beta gamma delta epsilon zeta eta theta"),
        (6, "p q r  p q r\tp q"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    base = docs.select("doc_id", X.tokens(F.col("text")).alias("toks")).select(
        "doc_id",
        "toks",
        F.transform(F.col("toks"), lambda t: F.xxhash64(t)).alias("th"),
    )

    def str_grams(toks, n):
        joined = F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
        return F.when(F.size(toks) >= n, joined).otherwise(
            F.array().cast("array<string>")
        )

    for n in (3, 5):
        got = base.select(
            "doc_id",
            F.size(_ngram_hashes_all(F.col("th"), n)).alias("n_grams"),
            F.size(F.array_distinct(_ngram_hashes_all(F.col("th"), n))).alias(
                "n_distinct"
            ),
        ).collect()
        want = base.select(
            "doc_id",
            F.size(str_grams(F.col("toks"), n)).alias("n_grams"),
            F.size(F.array_distinct(str_grams(F.col("toks"), n))).alias("n_distinct"),
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_fused_band_set_kernel_matches_parents():
    """The fused minhash_band_sets kernel (one tokenize+shingle pass) must
    emit exactly the rows its two parents emit: band hashes equal to
    minhash_bands (same _banded_chunks pipeline) and shingle hash sets
    equal to shingle_hash_sets (blake2b-64, sorted) for every doc with
    ≥3 tokens — <3-token docs emit nothing in both framings. Pure-pandas
    test: no JVM needed."""
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5, 6],
            "text": [
                "the quick brown fox jumps over the lazy dog",
                "the quick brown fox jumps over the lazy dog",  # exact dup
                "the quick brown fox leaps over the lazy dog",  # near dup
                "two tokens",  # <3 tokens: emits nothing
                "",  # empty: emits nothing
                "repeat repeat repeat repeat",  # single distinct shingle
            ],
        }
    )
    fused = pd.concat(list(ft.minhash_band_sets(iter([docs]))), ignore_index=True)
    bands = pd.concat(list(ft.minhash_bands(iter([docs]))), ignore_index=True)
    sets_ = pd.concat(list(ft.shingle_hash_sets(iter([docs]))), ignore_index=True)

    # band hashes: same (doc_id, band, band_hash) triples, band order preserved
    fused_bands = {
        (int(d), b, int(h))
        for d, bh in zip(fused["doc_id"], fused["bh"])
        for b, h in enumerate(bh)
    }
    parent_bands = {
        (int(d), int(b), int(h))
        for d, b, h in zip(bands["doc_id"], bands["band"], bands["band_hash"])
    }
    assert fused_bands == parent_bands
    assert set(fused["doc_id"]) == {1, 2, 3, 6}  # 4 and 5 emit nothing

    # shingle sets: equal to the parent kernel after its empty-set filter
    parent_sets = {
        int(d): list(s) for d, s in zip(sets_["doc_id"], sets_["sh"]) if len(s) > 0
    }
    fused_sets = {int(d): list(s) for d, s in zip(fused["doc_id"], fused["shingles"])}
    assert fused_sets == parent_sets

    # exact dup docs collide on every band; all-empty batch yields empty frame
    d1 = sorted(h for (d, b, h) in fused_bands if d == 1)
    d2 = sorted(h for (d, b, h) in fused_bands if d == 2)
    assert d1 == d2
    empty = pd.concat(
        list(ft.minhash_band_sets(iter([docs.iloc[3:5]]))), ignore_index=True
    )
    assert len(empty) == 0
