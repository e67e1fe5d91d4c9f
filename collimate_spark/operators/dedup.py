"""Deduplication operators over the ``documents`` table — the
training-data-pipeline surface: exact, n-gram Jaccard, MinHash+LSH,
SimHash, embedding-cosine near-dup.

Scale design: every variant is expressed as scans + equi-joins on derived
keys (hash buckets / shingles / LSH bands) — candidate generation is never
O(n²); the only quadratic step is *within* a bucket after blocking, which
is how near-dedup at 100 TB works in practice (cf. MinHashLSH literature:
Broder '97; SimHash: Charikar '02).

Cache lifetime: several operators cache a multiply-referenced derived
frame (shingle sets, candidate pairs) to keep the corpus-scan count at
1; the returned DataFrame keeps those blocks referenced, so the
operators themselves cannot unpersist them. Every such frame registers
through ``collimate_spark.scratch.scache`` — long-lived multi-query
sessions (bench.py's sweep, notebooks) release superseded blocks
between queries with ``scratch.clear_scratch()`` (scoped to operator
frames) or ``spark.catalog.clearCache()`` (blunt superset).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from collimate_spark.catalog import load_table
from collimate_spark.scratch import scache
from collimate_spark.functions import fast_text
from collimate_spark.functions import text as X
from collimate_spark.functions import vectors as V
from collimate_spark.functions.pairs import blocked_pair_cosines

JACCARD_THRESHOLD = 0.8
BUCKET_CAP = 1024  # max members whose pairs one task may generate


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by md5 of normalized text: one hash-shuffle groupBy,
    keep the minimum doc_id per content hash (deterministic survivor)."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.withColumn("text_hash", F.md5(X.normalize_text(F.col("text")).cast("binary")))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keep_doc_id")
    )


DEDUP_EXACT_SQL = """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS text_hash,
       MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM documents
GROUP BY 1
ORDER BY keep_doc_id
"""

# Shared exact-Jaccard oracle (trigram shingles, threshold 0.8): used for
# both the exact n-gram pair join AND the MinHash-LSH variant — at these
# banding parameters LSH recall at j>=0.8 is 1 - 5e-8, so verified LSH
# output equals the exact result.
NGRAM_JACCARD_SQL = f"""
WITH d AS (
  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
            range(1, greatest(len(toks) - 1, 1)),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
  FROM d WHERE len(toks) >= 3
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
FROM inter
JOIN sz sa ON doc_a = sa.doc_id
JOIN sz sb ON doc_b = sb.doc_id
WHERE i * 1.0 / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Repartition a (possibly single-file) input across all cores before a
    compute-heavy per-row kernel. At 100 TB inputs arrive in thousands of
    splits and this is a no-op decision; locally a 1-file table would
    otherwise pin mapInPandas to one core. The split count comes from the
    scan's input files (plan-only metadata — checking df.rdd here would
    force a full RDD conversion of the logical plan per call)."""
    if len(df.inputFiles()) < spark.sparkContext.defaultParallelism:
        return df.repartition(spark.sparkContext.defaultParallelism)
    return df


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit hashed trigram-shingle sets (Arrow-batched numpy kernel) —
    set algebra over these matches the string shingles w.h.p. (2^-64 per
    pair), so exact-Jaccard verification still hash-matches the
    string-based DuckDB oracle."""
    docs = _spread(spark, load_table(spark, "documents", sf_dir))
    return (
        docs.select("doc_id", "text")
        .mapInPandas(fast_text.shingle_hash_sets, fast_text.SHINGLE_SET_SCHEMA)
        .filter(F.size("sh") > 0)
        .withColumnRenamed("sh", "shingles")
    )


def _verified_jaccard_pairs(candidates: DataFrame, shingled: DataFrame) -> DataFrame:
    """Join candidate (doc_a, doc_b) pairs back to shingle sets and compute
    exact Jaccard via array_intersect/union sizes (broadcast-friendly at
    bucket scale; at 100 TB the shingle arrays travel with the pair join).
    The shingle relation feeds both the a- and b-side joins — cache it so
    the Arrow shingling kernel runs once, not per plan branch (no-op if
    the caller already cached)."""
    shingled = shingled.transform(scache)
    a = shingled.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = shingled.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("jaccard_raw", inter.cast("double") / union.cast("double"))
        .filter(F.col("jaccard_raw") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round("jaccard_raw", 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs with PREFIX-FILTERED candidate
    generation (the ppjoin family, same machinery as
    ``set_overlap_join_prefix`` but for a Jaccard threshold).

    The naive candidate step (self equi-join on every shared shingle)
    is quadratic in shingle frequency, and frequency grows with the
    corpus: measured 6.2s at 5k docs → 111s at 50k docs (18× per 10×).
    Prefix filtering is LOSSLESS for the thresholded output: J(A,B) ≥ τ
    implies overlap i ≥ τ/(1+τ)·(|A|+|B|) ≥ ⌈τ·|A|⌉ (since |B| ≥ i),
    so in any global shingle order the smallest shared shingle must sit
    within the first |A| − ⌈τ|A|⌉ + 1 shingles of BOTH sides
    (pigeonhole). Ordering globally by ascending frequency makes those
    prefixes the RAREST shingles — the candidate join runs on the
    smallest buckets (at τ=0.8 the prefix is ~|A|/5 shingles). Same
    verified-exact output, measured 111s → ~8s at 50k docs.

    The frequency table is vocabulary-sized (Heaps-law growth), so its
    join carries no hint: the planner broadcasts it while it fits under
    the session threshold, and beyond that it stays the
    shingle-partitioned shuffle it is already keyed on. Shingles travel
    as 64-bit hashes (see _shingle_sets)."""
    from pyspark.sql import Window

    shingled = _shingle_sets(spark, sf_dir).transform(scache)
    exploded = shingled.select("doc_id", F.explode("shingles").alias("shingle"))
    # freq is deliberately NOT cached: caching it defeats the cache
    # substitution that keeps this plan at ONE corpus scan (measured: 3
    # FileScans with freq cached, 1 without — the freq cache's analyzed
    # plan stops the a/b self-join sides from matching the shingled
    # cache entry). At runtime freq computes once inside its single
    # exchange.
    freq = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.partitionBy("doc_id").orderBy(F.col("freq").asc(), F.col("shingle").asc())
    prefix = (
        exploded.join(freq, "shingle")
        .withColumn("rk", F.row_number().over(w))
        .join(shingled.select("doc_id", F.size("shingles").alias("sz")), "doc_id")
        .filter(
            F.col("rk")
            <= F.col("sz") - F.ceil(F.col("sz") * F.lit(JACCARD_THRESHOLD)) + 1
        )
        .select("shingle", "doc_id")
        .transform(scache)
    )
    pairs = (
        prefix.alias("a")
        .join(prefix.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _verified_jaccard_pairs(pairs, shingled)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup pairs.

    shingle → 128-hash MinHash → 32 bands × 4 rows → self equi-join on
    (band, band_hash) → exact-Jaccard verify. Candidate generation touches
    only colliding bands — the scale path that replaces the exact variant's
    shared-shingle join when shingle frequency explodes (at 100 TB a common
    shingle joins everything to everything; band hashes keep bucket sizes
    ~uniform).

    The hash kernel is the Arrow-batched numpy one (functions/fast_text):
    ~10× the interpreted higher-order-function form, embarrassingly
    parallel per partition — and FUSED (r13): one kernel pass emits both
    the band hashes and the verify shingle sets, where the original form
    ran ``minhash_bands`` and ``shingle_hash_sets`` as two full passes of
    the corpus text through the Python boundary. The correctness contract
    is unchanged — LSH candidates are verified against exact Jaccard, so
    the oracle (exact pairs) matches as long as banding recall ≈ 1
    (P(miss|j≥0.8) ≈ 5e-8 at 32×4; the band-hash family is free to change
    because equal bands always collide and spurious collisions die in the
    verify).
    """
    docs = _spread(spark, load_table(spark, "documents", sf_dir))
    merged = (
        docs.select("doc_id", "text")
        .mapInPandas(fast_text.minhash_band_sets, fast_text.BAND_SET_SCHEMA)
        .transform(scache)
    )
    banded = merged.select("doc_id", F.posexplode("bh").alias("band", "band_hash"))
    candidates = _bucket_pairs(banded, "band", "band_hash")
    # passing `merged` itself (extra bh column projected away inside)
    # lets _verified_jaccard_pairs' scache hit the SAME plan — one
    # cached copy feeds both the band and the verify branches
    return _verified_jaccard_pairs(candidates, merged)


def _bucket_pairs(
    banded: DataFrame,
    *bucket_cols: str,
    cap: int = BUCKET_CAP,
    payload: str | None = None,
) -> DataFrame:
    """Candidate pairs from bucket membership, with bounded per-task work,
    in ONE pipeline (no plan branch re-executes the upstream kernel).

    Buckets with ≤ cap members get one (ci=0, cj=0) group — the classic
    collect-members-and-emit-pairs aggregation. A bucket with s > cap
    members (a degenerate hot band: thousands of near-empty docs sharing
    a signature) is split into nch = ⌈s/cap⌉ hash chunks, and each member
    is emitted to its chunk-pair groups — side 'a' of (c, j≥c), side 'b'
    of (i<c, c) — so the same groupBy produces every unordered pair
    exactly once with ≤ ~cap² candidates per group, instead of one
    executor-resident s-member array emitting s² pairs. Exact: no
    candidates are dropped, only the task shape changes.

    Cost shape: one window count over the bucket key + one grouped
    aggregation; replication factor is nch per member — 1 for every
    non-degenerate bucket. Input must be unique per (bucket key, doc_id).

    ``payload`` optionally rides along: pairs come back with
    (<payload>_a, <payload>_b) columns, sparing the caller a re-join
    against a possibly expensive-to-recompute source relation (the
    verify data travels with the candidate).

    Callers needing a verification predicate pushed before the final
    distinct should fuse it as a streamed equi-join instead (the
    dedup_simhash shape): when band buckets saturate the candidate
    multiset dwarfs the survivor set (measured: 217M candidates → 24k
    survivors at 500k docs, 134s mostly in the distinct's exchange), and
    a streamed codegen join with the fused predicate measured ~10×
    faster than filtering these interpreted HOF pair structs."""
    from pyspark.sql import Window

    wb = Window.partitionBy(*bucket_cols)
    cols = [*bucket_cols, "doc_id"] + ([payload] if payload else [])
    sized = (
        banded.select(*cols)
        .withColumn("__n", F.count(F.lit(1)).over(wb))
        .filter(F.col("__n") > 1)  # singleton buckets pair with nothing
        .withColumn(
            "__nch",
            F.greatest(F.lit(1), F.ceil(F.col("__n") / F.lit(cap))).cast("int"),
        )
        .withColumn("__c", F.pmod(F.xxhash64("doc_id"), F.col("__nch")).cast("int"))
    )
    # tagged chunk-pair replicas: side 0 = 'a' rows of groups (c, j≥c),
    # side 1 = 'b' rows of groups (i<c, c); nch=1 → a single (0,0) emit
    a_part = F.transform(
        F.sequence(F.col("__c"), F.col("__nch") - 1),
        lambda j: F.struct(
            F.col("__c").alias("ci"), j.cast("int").alias("cj"), F.lit(0).alias("side")
        ),
    )
    b_part = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.col("__c")),
            lambda i: F.struct(
                i.cast("int").alias("ci"), F.col("__c").alias("cj"), F.lit(1).alias("side")
            ),
        ),
        lambda s: s.getField("ci") < F.col("__c"),
    )
    # fast path for the overwhelmingly common nch=1 row: a literal
    # one-element (0,0,side=0) array instead of the interpreted
    # sequence/transform/filter/concat pipeline (HOFs don't codegen;
    # at sf0.1 every bucket is under cap, so this is every row)
    single = F.array(
        F.struct(
            F.lit(0).alias("ci"), F.lit(0).alias("cj"), F.lit(0).alias("side")
        )
    )
    emit_arr = F.when(F.col("__nch") == 1, single).otherwise(F.concat(a_part, b_part))
    emits = sized.select(*cols, F.explode(emit_arr).alias("t")).select(
        *cols, F.col("t.ci").alias("ci"), F.col("t.cj").alias("cj"), F.col("t.side").alias("side")
    )

    member = F.struct(
        F.col("side"), F.col("doc_id"), *([F.col(payload)] if payload else [])
    )

    def _pair(x, y):
        # orient (doc_a < doc_b); payloads follow their ids
        xid, yid = x.getField("doc_id"), y.getField("doc_id")
        fields = [
            F.least(xid, yid).alias("doc_a"),
            F.greatest(xid, yid).alias("doc_b"),
        ]
        if payload:
            xp, yp = x.getField(payload), y.getField(payload)
            fields += [
                F.when(xid < yid, xp).otherwise(yp).alias("__pa"),
                F.when(xid < yid, yp).otherwise(xp).alias("__pb"),
            ]
        return F.struct(*fields)

    # hoist the side splits into a Project so each is evaluated ONCE per
    # group — referencing filter(ms, ...) inline inside the nested pair
    # lambdas re-evaluates the O(s) filter per inner element (O(s³) per
    # bucket on the interpreted HOF path; measured 1.4s → 0.6s at sf0.1
    # for dedup_simhash's 365-member hot bucket)
    a_side, b_side = F.col("__aside"), F.col("__bside")
    # diagonal group (ci==cj): within-list pairs of the sorted a-side;
    # off-diagonal: full a×b cross product
    diag = F.flatten(
        F.transform(
            a_side,
            lambda x, i: F.transform(
                F.slice(a_side, i + 2, F.size(a_side)), lambda y: _pair(x, y)
            ),
        )
    )
    cross = F.flatten(F.transform(a_side, lambda x: F.transform(b_side, lambda y: _pair(x, y))))
    out = (
        # no array_sort: pair orientation (least/greatest) + the final
        # distinct make the output deterministic regardless of set order
        emits.groupBy(*bucket_cols, "ci", "cj")
        .agg(F.collect_set(member).alias("ms"))
        .select(
            "ci",
            "cj",
            F.filter(F.col("ms"), lambda s: s.getField("side") == 0).alias("__aside"),
            F.filter(F.col("ms"), lambda s: s.getField("side") == 1).alias("__bside"),
        )
        .select(
            F.explode(F.when(F.col("ci") == F.col("cj"), diag).otherwise(cross)).alias("p")
        )
        .select("p.*")
    )
    out = out.distinct()
    if payload:
        out = out.withColumnsRenamed({"__pa": f"{payload}_a", "__pb": f"{payload}_b"})
    return out


SIMHASH_BLOCKS = 8       # 16-bit blocks of the 128-bit fingerprint
SIMHASH_MAX_HAM = 6      # detection guarantee: d ≤ BLOCKS − 2 (pair keys)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at 100TB-safe blocking: 128-bit fingerprint
    per doc (two int64 halves, Arrow-batched numpy kernel in
    functions/fast_text), pairs within Hamming distance ≤ 6 found via
    PAIR-OF-BLOCKS blocking (Manku et al., WWW'07 block-permuted tables):
    the 128 bits split into 8×16-bit blocks; the join key is the
    CONCATENATION of two blocks (C(8,2)=28 band tables, 32-bit key
    space). Pigeonhole: d ≤ 6 errors dirty ≤ 6 blocks → ≥ 2 blocks
    clean → that clean pair's table produces the candidate — exhaustive,
    no recall loss. Exact Hamming verify via xor + bit_count, fused into
    the same whole-stage-codegen pass. Driver-oracled since r10: the
    per-token hash is md5 (exactly the 128-bit signature width), so
    _simhash_oracle_sql replays the ENTIRE pipeline in DuckDB —
    tokenize, per-token md5 bytes, signed per-bit sums, byte-wise
    signature assembly, the 28 pair-block band tables, and the
    xor+bit_count hamming verify; planted near-dup recall and
    determinism remain covered by tests/test_dedup.py.

    Why 128/pairs replaced the r8 64-bit 4×16-band design: 16-bit keys
    saturate — bucket occupancy grows as n/2^16 and enumerated candidates
    as Σ s² (measured 217M candidates for 24k survivors at 500k docs on a
    semi-similar corpus; degenerate at 10^8-10^9 LLM-corpus scale). The
    32-bit pair key pushes average occupancy to n·28/2^32 — at 10^9 docs
    ≈ 6.5 docs/bucket, so candidates stay ~linear in n. The trade is a
    7× wider explode (28 rows/doc vs 4) of narrow rows — linear shuffle
    vs quadratic enumeration, the correct 100TB trade. Threshold moves
    3→6 of 128 bits (same similarity tolerance: planted-pair hammings
    double with signature width — measured 64-bit d≤3 recall 20/28
    planted pairs, 128-bit d≤6 the same 20/28, 128-bit d≤3 only 9/28).
    A hot bucket now requires a large EXACT-dup cluster (identical
    32-bit block pair); AQE's skew-join split bounds that task
    (defaults asserted in test_plans.py), and exact dups should be
    removed by dedup_exact upstream of any simhash pass.
    """
    docs = _spread(spark, load_table(spark, "documents", sf_dir))
    fp = docs.select("doc_id", "text").mapInPandas(
        fast_text.simhash_fingerprints128, fast_text.SIMHASH128_SCHEMA
    )
    # block k = bits [16k, 16k+16): k 0-3 from sh_lo, 4-7 from sh_hi
    # (shift amounts must be Python ints → explicit per-block exprs)
    def _block(k: int):
        half = F.col("sh_lo") if k < 4 else F.col("sh_hi")
        return F.shiftrightunsigned(half, 16 * (k % 4)).bitwiseAND(F.lit(0xFFFF))

    blocks = fp.select(
        "doc_id", "sh_hi", "sh_lo", *[_block(k).alias(f"_b{k}") for k in range(SIMHASH_BLOCKS)]
    )
    pair_keys = [
        (i, j) for i in range(SIMHASH_BLOCKS) for j in range(i + 1, SIMHASH_BLOCKS)
    ]
    banded = blocks.select(
        "doc_id",
        "sh_hi",
        "sh_lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("band"),
                        (F.shiftleft(F.col(f"_b{i}"), 16) + F.col(f"_b{j}")).alias("band_val"),
                    )
                    for n, (i, j) in enumerate(pair_keys)
                ]
            )
        ).alias("bk"),
    ).select(
        "doc_id", "sh_hi", "sh_lo",
        F.col("bk.band").alias("band"), F.col("bk.band_val").alias("band_val"),
    )
    # Candidate generation is a STREAMED self equi-join on (band, key)
    # with the hamming predicate fused into whole-stage codegen — r8
    # measured this shape at ~10× the interpreted HOF pair-struct path
    # (_bucket_pairs remains the right shape only when the pair set must
    # be materialized). The banded frame is cached: it feeds both join
    # sides (one fingerprint kernel pass, not two).
    banded = banded.transform(scache)
    a = banded.select(
        "band", "band_val", F.col("doc_id").alias("doc_a"),
        F.col("sh_hi").alias("hi_a"), F.col("sh_lo").alias("lo_a"),
    )
    b = banded.select(
        "band", "band_val", F.col("doc_id").alias("doc_b"),
        F.col("sh_hi").alias("hi_b"), F.col("sh_lo").alias("lo_b"),
    )
    hamming = X.hamming64(F.col("hi_a"), F.col("hi_b")) + X.hamming64(
        F.col("lo_a"), F.col("lo_b")
    )
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= SIMHASH_MAX_HAM)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def _simhash_oracle_sql() -> str:
    """DuckDB twin of dedup_simhash: rebuilds the identical md5 token
    bytes, replays the signed bit sums at BYTE granularity (16 small-int
    bytes per signature — no 64-bit shift/sign hazards in either
    engine), assembles the same C(8,2)=28 pair-of-blocks band keys
    (block k = by[2k] + 256·by[2k+1], band_val = block_i·2^16 +
    block_j — the little-endian layout the numpy kernel uses), and
    verifies hamming ≤ 6 via per-byte xor + bit_count. Whitespace-only
    docs get the kernel's (0,0) signature via the zero-list fallback."""
    pairs = [
        (i, j) for i in range(SIMHASH_BLOCKS) for j in range(i + 1, SIMHASH_BLOCKS)
    ]
    band_structs = ", ".join(
        f"{{'band': {n}, 'v': (by[{2 * i + 1}] + 256 * by[{2 * i + 2}]) * 65536 "
        f"+ (by[{2 * j + 1}] + 256 * by[{2 * j + 2}])}}"
        for n, (i, j) in enumerate(pairs)
    )
    ham = "list_sum(list_transform(range(1, 17), k -> bit_count(xor(ba[k], bb[k]))))"
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS t
  FROM documents
),
tw AS (SELECT doc_id, t, COUNT(*) AS w FROM tok WHERE t <> '' GROUP BY 1, 2),
th AS (
  SELECT t, list_transform(range(0, 16), b -> ('0x' || substr(md5(t), 2*b + 1, 2))::INT) AS hb
  FROM (SELECT DISTINCT t FROM tw)
),
bitsum AS (
  SELECT w.doc_id, p.i AS pos,
         SUM(w.w * (2 * ((hb[(p.i // 8) + 1] >> (p.i % 8)) & 1) - 1)) AS s
  FROM tw w JOIN th USING (t), UNNEST(range(0, 128)) AS p(i)
  GROUP BY 1, 2
),
sigb AS (
  SELECT doc_id, (pos // 8) AS b,
         SUM(CASE WHEN s > 0 THEN 1 << (pos % 8) ELSE 0 END) AS byte
  FROM bitsum GROUP BY 1, 2
),
sigs0 AS (SELECT doc_id, list(byte ORDER BY b) AS by FROM sigb GROUP BY 1),
sigs AS (
  SELECT d.doc_id, COALESCE(s.by, list_transform(range(0, 16), x -> 0)) AS by
  FROM documents d LEFT JOIN sigs0 s USING (doc_id)
),
bands AS (
  SELECT doc_id, by, u.bk['band'] AS band, u.bk['v'] AS band_val
  FROM sigs, UNNEST([{band_structs}]) AS u(bk)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.by AS ba, b.by AS bb
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST({ham} AS INT) AS hamming
FROM cand
WHERE {ham} <= {SIMHASH_MAX_HAM}
ORDER BY doc_a, doc_b
"""


EMB_COSINE_THRESHOLD = 0.4
EMB_BLOCK_CAP = 1024  # max cluster members whose pairs one task generates


def dedup_embedding_cosine(
    spark: SparkSession, sf_dir: str, block_cap: int = EMB_BLOCK_CAP
) -> DataFrame:
    """Embedding near-dup: pairs with cosine ≥ threshold, blocked by the
    ``label`` cluster id (IVF-style partition pruning: only same-cluster
    pairs are compared — the 100 TB answer to all-pairs cosine).

    Within-cluster pairing goes through the chunked self-join
    (functions/pairs.bounded_self_pairs), so a cluster larger than
    ``block_cap`` is split into hash chunks and its pairs spread over
    ⌈s/cap⌉² bounded tasks instead of one quadratic straggler — output is
    identical (the chunk grid covers every unordered pair exactly once);
    only the task shape changes. Cluster sizes come from a broadcast
    10-row count."""
    emb = load_table(spark, "embeddings", sf_dir)
    sizes = emb.groupBy("label").agg(F.count(F.lit(1)).alias("__n"))
    sized = emb.join(F.broadcast(sizes), "label")
    # r13 (guide §8): pair cosines via the blocked Gram kernel — only
    # VECTOR rows are shuffled (⌈s/cap⌉+1-way replication, the same as
    # the old join's two exploded sides) and the ≤ cap×cap pair
    # expansion + dot happens vectorized inside one applyInArrow task
    # per chunk-pair block, instead of 1 KB of embedding payload riding
    # every one of the O(s²) join output rows through the exchange and
    # an interpreted zip_with+aggregate fold running per pair. cos_raw
    # is bit-identical (the kernel replays the same dimension-order
    # float64 left folds — pinned in test_skew.py), so the 6dp filter
    # and 4dp output are unchanged. Measured 4.93 s → see
    # OPTIMIZATION_r13.md; the win grows with cluster size.
    scored = blocked_pair_cosines(
        sized, ["label"], "vec_id", "embedding", "__n", cap=block_cap
    )
    return (
        scored.filter(F.round(F.col("cos_raw"), 6) >= EMB_COSINE_THRESHOLD)
        .select(
            "label",
            F.col("id_a").alias("vec_a"),
            F.col("id_b").alias("vec_b"),
            F.round("cos_raw", 4).alias("cosine"),
        )
        .orderBy("vec_a", "vec_b")
    )


DEDUP_EMB_SQL = f"""
WITH pairs AS (
  SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
         list_sum(list_transform(list_zip(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), s -> s[1]*s[2]))
           / (sqrt(list_sum(list_transform(CAST(a.embedding AS DOUBLE[]), x -> x*x)))
            * sqrt(list_sum(list_transform(CAST(b.embedding AS DOUBLE[]), x -> x*x)))) AS cos_raw
  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT label, vec_a, vec_b, ROUND(cos_raw, 4) AS cosine
FROM pairs
WHERE ROUND(cos_raw, 6) >= {EMB_COSINE_THRESHOLD}
ORDER BY vec_a, vec_b
"""


# SemDeDup pair threshold: same 6dp-rounded cosine contract as
# dedup_embedding_cosine (the proven engine-parity pattern).
SEMDEDUP_TAU = 0.4


def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication"): within each embedding cluster, build the near-dup
    graph (cosine ≥ τ), take connected components ("semantic duplicate
    groups"), and KEEP exactly one member per group — the one with the
    LOWEST cosine to the cluster centroid (the paper's keep-rule:
    boundary points carry more information than redundant centroid-hugs).
    Emits one row per multi-member group with the kept member; every
    other member is the prune list.

    Composition of the in-tree scale machinery, all stages 100 TB-shaped:
    cluster-blocked pair generation via bounded_self_pairs (IVF-style
    pruning — only same-label pairs, hash-chunked above the cap so no
    quadratic straggler), pointer-doubling connected components
    (propagate_components, O(log d) rounds), and a 10×64 centroid table
    built by one positional aggregation and broadcast back. The
    embeddings relation is cached — it feeds the centroid agg, both
    pair sides, and the member re-join."""
    emb = (
        load_table(spark, "embeddings", sf_dir)
        .select("vec_id", "label", F.col("embedding").cast("array<double>").alias("v"))
        .transform(scache)
    )
    # centroid per label: positional explode → per-dimension mean →
    # re-assembled in dimension order. #labels × #dims rows — tiny.
    centroids = (
        emb.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("c")
        )
    )
    sizes = emb.groupBy("label").agg(F.count(F.lit(1)).alias("__n"))
    sized = emb.join(F.broadcast(sizes), "label")
    # r13: same blocked Gram kernel as dedup_embedding_cosine (guide §8)
    # — vectors shuffle once to their chunk-pair blocks instead of every
    # pair carrying both embeddings through the join, and the kernel's
    # folds are bit-identical to the old per-pair V.dot/V.norm (which
    # re-folded BOTH norms for every pair).
    scored = blocked_pair_cosines(
        sized, ["label"], "vec_id", "v", "__n", cap=EMB_BLOCK_CAP
    )
    dup_pairs = (
        scored.filter(F.round(F.col("cos_raw"), 6) >= SEMDEDUP_TAU)
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    edges = dup_pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("src"), F.col("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    comp = propagate_components(edges).select(
        F.col("doc_id").alias("vec_id"), F.col("comp").alias("group_id")
    )
    member_cos = (
        comp.join(emb, "vec_id")
        .join(F.broadcast(centroids), "label")
        .withColumn(
            "cos_c",
            V.dot(F.col("v"), F.col("c")) / (V.norm(F.col("v")) * V.norm(F.col("c"))),
        )
        .select("group_id", "label", "vec_id", "cos_c")
    )
    # rank on the 6dp-ROUNDED cosine (the same SEMDEDUP_TAU 6dp parity
    # contract as the pair threshold): the centroid mean sums in
    # different orders in Spark's partial aggs vs DuckDB's AVG, so two
    # members with near-equal raw cos_c can flip the argmin between
    # engines; at 6dp both engines agree and vec_id breaks exact ties
    # deterministically. The RAW cos_c rides along for the 4dp output
    # (round∘round ≠ round at 4dp boundaries).
    kept = member_cos.groupBy("group_id", "label").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min(F.struct(F.round("cos_c", 6).alias("cos_r"), "vec_id", "cos_c")).alias("k"),
    )
    return kept.select(
        "label",
        "group_id",
        "n_members",
        F.col("k.vec_id").alias("keep_vec_id"),
        F.round("k.cos_c", 4).alias("keep_centroid_cos"),
    ).orderBy("label", "group_id")


SEMDEDUP_SQL = f"""
WITH RECURSIVE e AS MATERIALIZED (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cent AS MATERIALIZED (
  SELECT label, list(m ORDER BY pos) AS c
  FROM (
    SELECT label, u.pos AS pos, AVG(u.x) AS m
    FROM (
      SELECT label,
             unnest(list_transform(range(1, len(v) + 1),
                                   i -> {{'pos': i, 'x': v[i]}})) AS u
      FROM e
    )
    GROUP BY label, u.pos
  )
  GROUP BY label
),
dup AS MATERIALIZED (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE ROUND(
    list_sum(list_transform(list_zip(a.v, b.v), s -> s[1]*s[2]))
      / (sqrt(list_sum(list_transform(a.v, x -> x*x)))
       * sqrt(list_sum(list_transform(b.v, x -> x*x)))), 6) >= {SEMDEDUP_TAU}
),
edges AS MATERIALIZED (
  SELECT src, dst FROM dup UNION ALL SELECT dst, src FROM dup
),
reach AS (
    SELECT src AS node, src AS member FROM edges
  UNION
    SELECT r.node, x.dst FROM reach r JOIN edges x ON x.src = r.member
),
comp AS (
  SELECT node AS vec_id, MIN(member) AS group_id FROM reach GROUP BY node
),
scored AS (
  SELECT comp.group_id, e.label, e.vec_id,
         list_sum(list_transform(list_zip(e.v, cent.c), s -> s[1]*s[2]))
           / (sqrt(list_sum(list_transform(e.v, x -> x*x)))
            * sqrt(list_sum(list_transform(cent.c, x -> x*x)))) AS cos_c
  FROM comp JOIN e USING (vec_id) JOIN cent USING (label)
),
ranked AS (
  SELECT group_id, label, vec_id, cos_c,
         ROW_NUMBER() OVER (PARTITION BY group_id ORDER BY ROUND(cos_c, 6) ASC, vec_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY group_id) AS n_members
  FROM scored
)
SELECT label, group_id, n_members,
       vec_id AS keep_vec_id,
       ROUND(cos_c, 4) AS keep_centroid_cos
FROM ranked
WHERE rn = 1
ORDER BY label, group_id
"""
# Oracle scale note: the reach closure above is the NAIVE recursive CTE,
# acceptable because the τ-thresholded within-cluster duplicate graph is
# sparse by construction (components of size 2-4 at every tested SF); if
# a corpus ever densified it, the hook+compress fixed-depth template
# (joins._er_closure_sql) drops in unchanged.


CC_MAX_ROUNDS = 25  # fixpoint usually stops far earlier; 2^25 ≫ any diameter


def propagate_components(edges: DataFrame, max_rounds: int = CC_MAX_ROUNDS) -> DataFrame:
    """Connected components over a symmetric edge list ``(src, dst)`` →
    ``(doc_id, comp)`` where comp is the component's minimum vertex id.

    O(log d) rounds, not O(d): each round does one-hop min-label
    propagation (neighbor min) followed by a pointer-doubling shortcut
    (comp := comp(comp), the DataFrame form of path-halving from
    large-star/small-star MapReduce CC). A path graph of diameter 1000
    converges in ~10 rounds where plain propagation needs 1000.

    Stops at the FIXPOINT (no label changed this round) rather than a
    hop-count guess — the round-1/2 variant's fixed 6 iterations bounded
    the handled diameter; this one handles any diameter ≤ 2^max_rounds.
    Each round localCheckpoints (eager) so the iterative plan's lineage
    stays one-round deep — without it round k re-executes rounds 1..k-1.
    The fixpoint probe is a limit(1) count on changed labels: one cheap
    action per round against the just-checkpointed relation."""
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("comp", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        nbr_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("comp").alias("nmin"))
        )
        stepped = labels.join(
            nbr_min, labels.doc_id == nbr_min.src, "left"
        ).select(
            labels.doc_id,
            F.least(F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))).alias("comp"),
        )
        ptr = stepped.select(
            F.col("doc_id").alias("p_id"), F.col("comp").alias("p_comp")
        )
        doubled = (
            stepped.join(ptr, stepped.comp == ptr.p_id, "left")
            .select(
                stepped.doc_id,
                F.least(
                    stepped.comp, F.coalesce(F.col("p_comp"), stepped.comp)
                ).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            doubled.join(labels.withColumnRenamed("comp", "old"), "doc_id")
            .filter(F.col("comp") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = doubled
        if changed == 0:
            break
    return labels


def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last stage of the dedup pipeline: near-dup PAIRS → duplicate
    CLUSTERS → survivor per cluster, via ``propagate_components``
    (pointer-doubling min-label propagation, O(log d) rounds, fixpoint
    stop — handles any component diameter, not just the near-clique 1-3
    hop clusters real near-dup graphs produce; chain-graph convergence is
    tested in tests/test_dedup.py). At fixpoint the label is the
    component's minimum doc_id, which doubles as the canonical survivor
    (deterministic keep-lowest-id policy).

    Edges come from the MinHash-LSH pair generator (recall ≈ 1 at these
    banding parameters, so the oracle can regenerate the identical edge
    set from exact Jaccard with a recursive CTE).

    The pair set is localCheckpoint-ed before iterating: every loop round
    references ``edges``, and without truncating lineage each of the
    lazy plans would re-execute the whole MinHash pipeline (measured 35 s
    → ~8 s at sf0.01). Standard practice for iterative graph algorithms
    on DataFrames; the checkpointed relation is pair-sized (tiny)."""
    pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    # symmetric orientation from ONE pass over the checkpointed pairs
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    labels = propagate_components(edges)
    return labels.select(
        "doc_id",
        F.col("comp").alias("component"),
        (F.col("doc_id") == F.col("comp")).cast("int").alias("is_survivor"),
    ).orderBy("doc_id")


# CTE block shared with curation.curate_corpus's oracle (which embeds the
# same component computation inside a larger disposition query)
CC_CTES = f"""d AS (
  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
            range(1, greatest(len(toks) - 1, 1)),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
  FROM d WHERE len(toks) >= 3
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sz sa ON doc_a = sa.doc_id
  JOIN sz sb ON doc_b = sb.doc_id
  WHERE i * 1.0 / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
    SELECT src AS doc, src AS node FROM edges
  UNION
    SELECT r.doc, e.dst FROM reach r JOIN edges e ON e.src = r.node
),
cc AS (
  SELECT doc AS doc_id,
         MIN(node) AS component,
         CASE WHEN MIN(node) = doc THEN 1 ELSE 0 END AS is_survivor
  FROM reach
  GROUP BY doc
)"""

CC_SQL = f"""
WITH RECURSIVE {CC_CTES}
SELECT doc_id, component, is_survivor
FROM cc
ORDER BY doc_id
"""


def dedup_survivor_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: per near-dup cluster, keep the
    doc with the MOST tokens (tie → lowest doc_id) instead of the min-id
    default — the policy real curation pipelines use (keep the longest /
    highest-quality copy). One broadcast-sized join of the (pair-sized)
    component labels onto token counts + one argmax aggregation via
    struct-max (max of (tokens, -doc_id) — both the tiebreak and the
    argmax ride one shuffle)."""
    cc = dedup_connected_components(spark, sf_dir).select("doc_id", "component")
    toks = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.size(X.tokens(F.col("text"))).alias("n_tokens")
    )
    best = F.max(F.struct(F.col("n_tokens"), (-F.col("doc_id")).alias("neg_id")))
    return (
        cc.join(toks, "doc_id")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            best.alias("b"),
        )
        .select(
            "component",
            (-F.col("b.neg_id")).alias("survivor_doc_id"),
            "n_members",
            F.col("b.n_tokens").alias("survivor_tokens"),
        )
        .orderBy("component")
    )


SURVIVOR_QUALITY_SQL = f"""
WITH RECURSIVE {CC_CTES},
tok AS (
  SELECT doc_id,
         len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS n_tokens
  FROM documents
),
ranked AS (
  SELECT cc.component, cc.doc_id, tok.n_tokens,
         ROW_NUMBER() OVER (PARTITION BY cc.component
                            ORDER BY tok.n_tokens DESC, cc.doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY cc.component) AS n_members
  FROM cc JOIN tok ON cc.doc_id = tok.doc_id
)
SELECT component, doc_id AS survivor_doc_id, n_members,
       CAST(n_tokens AS INT) AS survivor_tokens
FROM ranked
WHERE rn = 1
ORDER BY component
"""


OVERLAP_T = 27  # token-set overlap threshold (doc sets span 6-31 distinct tokens)
OVERLAP_SLICE = 800  # bound the corpus slice so the oracle's O(n²) verify stays tractable


def set_overlap_join_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (the ppjoin family):
    all doc pairs whose distinct-token sets overlap in ≥ OVERLAP_T tokens.

    The exact complement to MinHash: no false negatives by construction.
    Order every set by ascending global token frequency (rarest first,
    ties by token); a pair with overlap ≥ T MUST share a token within the
    first ``|s| − T + 1`` tokens of that order (pigeonhole), so only
    prefix tokens are indexed. Candidate generation is an equi-join on
    prefix tokens — the rarest tokens, so buckets are the SMALLEST ones
    (that's the point of frequency ordering: the inverted index shrinks
    where collisions would be worst). One exact array_intersect verify
    join finishes the job. The DuckDB oracle is the naive O(n²) loop over
    the same slice — proving the filter loses nothing.

    The tokenized slice (4 plan branches) and the prefix index (both
    sides of the candidate self-join) are cached — uncached, each branch
    re-ran the tokenize scan and the frequency-order window. The token
    frequency table is VOCABULARY-sized (Heaps-law growth — unbounded at
    100 TB), so its join carries no hint: the planner broadcasts it while
    it fits under the session threshold and shuffles it on the token
    (co-keyed already) beyond that."""
    docs = (
        load_table(spark, "documents", sf_dir)
        .filter(F.col("doc_id") < OVERLAP_SLICE)
        .select("doc_id", F.array_distinct(X.tokens(F.col("text"))).alias("s"))
        .transform(scache)
    )
    tok = docs.select("doc_id", F.explode("s").alias("token"))
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("freq").asc(), F.col("token").asc())
    prefix = (
        tok.join(freq, "token")
        .withColumn("rk", F.row_number().over(w))
        .join(docs.select("doc_id", F.size("s").alias("sz")), "doc_id")
        .filter(F.col("rk") <= F.col("sz") - OVERLAP_T + 1)
        .select("token", "doc_id")
        .transform(scache)
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "token")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("set_a"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("set_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("overlap", F.size(F.array_intersect("set_a", "set_b")))
        .filter(F.col("overlap") >= OVERLAP_T)
        .select("doc_a", "doc_b", "overlap")
        .orderBy("doc_a", "doc_b")
    )


SET_OVERLAP_SQL = f"""
WITH d AS (
  SELECT doc_id,
         list_distinct(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS s
  FROM documents
  WHERE doc_id < {OVERLAP_SLICE}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       len(list_intersect(a.s, b.s)) AS overlap
FROM d a JOIN d b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s)) >= {OVERLAP_T}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# Asymmetric containment (quotation / boilerplate-inclusion detection)

CONTAINMENT_THRESHOLD = 0.6


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection Jaccard can't see: containment
    C(A→B) = |shingles(A) ∩ shingles(B)| / |shingles(A)| flags a SMALL
    document quoted inside a large one (tiny Jaccard, high containment)
    — the boilerplate/quotation case real corpus dedup must catch.
    Emits ordered (src, dst) pairs with C ≥ 0.6, both directions
    independently.

    Candidate generation is SRC-SIDE prefix filtering (the containment
    member of the ppjoin family — asymmetric, unlike the Jaccard twin):
    C(A→B) ≥ τ implies overlap ≥ ⌈τ·|A|⌉ (integer overlap), so in any
    global total order of shingles the smallest shared shingle must sit
    within the first |A| − ⌈τ|A|⌉ + 1 shingles of A's ordering
    (pigeonhole) — but says NOTHING about where it sits in B, because
    containment does not lower-bound |B|'s share. Hence: prefix-filter
    the src side only, join against the dst side's FULL postings.
    Lossless at any τ. Ordering globally by ascending frequency makes
    the src prefixes the RAREST shingles, so the candidate join's
    per-key work is |prefix_src(s)| × freq(s) — small × anything or
    anything × small, never large × large (a corpus-common shingle
    almost never survives into a rarest-first prefix). The naive
    shared-shingle self-join this replaces was measured at 18× work per
    10× corpus in the Jaccard twin (BASELINE.md r7 sweep); MinHash-LSH
    banding is NOT a valid fallback here — banding recall tracks
    Jaccard, and the small-in-large pairs containment exists for have
    LOW Jaccard by construction.

    The shingle-set relation is cached: it feeds the freq agg, the
    prefix build, the dst postings, and both verify joins — uncached,
    each branch re-runs the shingling scan (scan ceiling = 1 pinned in
    test_plans.py). ``freq`` is deliberately NOT cached (caching it
    breaks cache substitution on sibling branches — the ngram-twin
    lesson, 1 → 3 corpus scans), and its join carries no hint: the
    planner broadcasts it while it fits under the session threshold.

    Ranked-index build (VERDICT r10 #2 — the former per-doc
    ``row_number()`` window forced a partition-WIDE SortExec over every
    posting row, ~31M rows/task at the 5M-doc cell, and that external
    sort was the box's spill center): per-doc rarest-first order is a
    property of ONE doc's shingle list, so it is computed ROW-LOCALLY —
    hash-aggregate the freq-joined postings back to doc grain
    (``collect_list(struct(freq, shingle))``) and ``sort_array`` inside
    the row. The aggregation buffer is one doc's shingle list (docs are
    bounded; no salting needed — this is the degenerate-k case of the
    ``bottomk_sample_per_group`` two-stage pattern where the group IS
    the doc), partial buffers merge map-side, and no task ever sorts
    anything larger than one document. The cached index shrinks from
    billion-ROW ranked postings to doc-grained ARRAYS (no 16 B UnsafeRow
    header per posting), and the former third shuffle (the sz join-back)
    disappears: sz = size(ordered). Src prefixes slice the array to the
    ⌈(1−τ)|A|⌉+1 rarest; dst postings posexplode it, so the lossless
    rank_B prune keeps its exact ranks.

    Scratch diet (VERDICT r9 #3 — the 5M-doc cell ENOSPC'd at >80 GB):
    (rk, sz) travel PACKED into one long through the candidate join
    (UnsafeRow shuffle cost is per FIELD — 8 B each plus header — so
    4→3 fields cuts the billion-row postings shuffle ~25%), and
    dst-side prunes unpack them with two codegen'd bitwise ops.
    For boxes where even the slimmed single-pass spill exceeds the disk
    quota, ``SPARK_GRAFT_CONTAINMENT_BATCHES=N`` (sweep knob, default 1
    = today's single lazy plan) processes the candidate join in N
    SHINGLE-salted sub-batches — each batch joins 1/N of the prefix
    side against 1/N of the postings side (the join key partitions both
    sides, so no shuffle input repeats across batches and total join
    work stays ≈ the single pass; src-salting would re-shuffle the full
    postings side per batch). Shingle-salting is strictly less work
    than src-salting (r10 measured the two within 1% at N=3). r11
    staged-probe attribution at the 5M-doc cell (260.6M postings,
    45.8M vocab): shingle cache + freq count ≈ 56 s, per-doc index
    build ≈ 52 s — the index is NOT the wall (r10's rank-window-spill
    hypothesis did not survive the probe; old and new index builds
    measure within 6% there); ~85% of the cell is the candidate join +
    distinct + verify shuffles (candidate multiset measured linear at
    12.3× per 10× docs), which divide per-node on a cluster — eagerly
    materializing each
    batch's verified pairs (output-sized, KBs–MBs) and System.gc()-ing
    between batches so the ContextCleaner releases the previous batch's
    shuffle files. Peak scratch drops to the shared cache + 1/N of the
    candidate/verify stages. A pair sharing shingles in k batches is
    emitted (and re-verified, with the identical exact containment) up
    to k times, so the read-back applies one OUTPUT-SIZED distinct —
    the result is provably the same pair set as the single pass."""
    import hashlib
    import os
    import shutil
    import tempfile

    shingled = _shingle_sets(spark, sf_dir).transform(scache)
    exploded = shingled.select("doc_id", F.explode("shingles").alias("shingle"))
    freq = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("freq"))
    # ONE doc-grained ranked index serves both join sides (cached: the
    # freq join and per-doc ordering run once). The rarest-first order is
    # computed row-locally — sort_array over one doc's (freq, shingle)
    # structs after a hash re-agg to doc grain — never by a
    # partition-wide SortExec (see docstring). Two further LOSSLESS
    # prunes ride on the ranks: |A∩B| ≤ |B| forces sz_b ≥ ⌈τ·sz_a⌉, and
    # the same pigeonhole that bounds s* (the globally-smallest shared
    # shingle) to A's prefix bounds its rank WITHIN B: rank_B(s*) ≤
    # |B| − |A∩B| + 1 ≤ sz_b − ⌈τ·sz_a⌉ + 1 — both depend on the pair,
    # so they apply at join time, not in the index.
    tau = F.lit(CONTAINMENT_THRESHOLD)
    per_doc = (
        exploded.join(freq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("freq"), F.col("shingle")))
            ).alias("by_rarity")
        )
        .select(
            "doc_id",
            F.col("by_rarity.shingle").alias("ordered"),
            F.size("by_rarity").alias("sz"),
        )
        .transform(scache)
    )
    sz_a = F.col("sz")
    src_prefix = per_doc.select(
        F.explode(
            F.slice("ordered", F.lit(1), (sz_a - F.ceil(sz_a * tau) + 1).cast("int"))
        ).alias("shingle"),
        F.col("doc_id").alias("src"),
        F.ceil(sz_a * tau).cast("int").alias("mo"),
    )
    dst_postings = per_doc.select(
        F.col("doc_id").alias("dst"),
        F.col("sz"),
        F.posexplode("ordered").alias("pos", "shingle"),
    ).select(
        "shingle",
        "dst",
        (F.shiftleft((F.col("pos") + 1).cast("long"), 32) + F.col("sz")).alias("meta_b"),
    )
    rk_b = F.shiftright(F.col("meta_b"), 32)
    sz_b = F.col("meta_b").bitwiseAND(F.lit(0xFFFFFFFF))

    def candidate_pairs(prefix_side: DataFrame, postings_side: DataFrame) -> DataFrame:
        return (
            prefix_side.join(postings_side, "shingle")
            .filter(F.col("src") != F.col("dst"))
            .filter(sz_b >= F.col("mo"))
            .filter(rk_b <= sz_b - F.col("mo") + 1)
            .select("src", "dst")
            .distinct()
        )

    a = shingled.select(F.col("doc_id").alias("src"), F.col("shingles").alias("sh_a"))
    b = shingled.select(F.col("doc_id").alias("dst"), F.col("shingles").alias("sh_b"))
    contain = F.size(F.array_intersect("sh_a", "sh_b")) / F.size("sh_a")

    def verified(pairs: DataFrame) -> DataFrame:
        return (
            pairs.join(a, "src")
            .join(b, "dst")
            .withColumn("c_raw", contain)
            .filter(F.col("c_raw") >= CONTAINMENT_THRESHOLD)
            .select("src", "dst", F.round("c_raw", 4).alias("containment"))
        )

    n_batches = int(os.environ.get("SPARK_GRAFT_CONTAINMENT_BATCHES", "1"))
    if n_batches > 1:
        # Scratch dir keyed by (pid, sf_dir, n_batches) and cleared up
        # front (ADVICE r10): a long-lived process (pytest, bench,
        # notebook) that calls this twice with a different dataset or a
        # smaller batch count must not read back stale b=i partitions —
        # mode('overwrite') only replaces the subdirs the new run
        # writes. NOTE the returned DataFrame reads this dir LAZILY:
        # callers must not delete it until the result is materialized,
        # which is also why there is no eager cleanup after read-back.
        key = hashlib.md5(
            f"{os.path.abspath(sf_dir)}|{n_batches}".encode()
        ).hexdigest()[:12]
        out_dir = os.path.join(
            tempfile.gettempdir(), f"collimate_containment_{os.getpid()}_{key}"
        )
        shutil.rmtree(out_dir, ignore_errors=True)
        for i in range(n_batches):
            sl = F.pmod(F.col("shingle"), F.lit(n_batches)) == i
            batch = verified(
                candidate_pairs(src_prefix.filter(sl), dst_postings.filter(sl))
            )
            batch.write.mode("overwrite").parquet(os.path.join(out_dir, f"b={i}"))
            # let the ContextCleaner drop this batch's shuffle files
            # before the next batch starts (the scale_sweep lesson:
            # shuffle scratch only frees when the JVM GCs the RDD refs)
            spark.sparkContext._jvm.System.gc()
        return (
            spark.read.parquet(out_dir)
            .select("src", "dst", "containment")
            .distinct()  # a pair can verify in several shingle batches
            .orderBy("src", "dst")
        )
    return verified(candidate_pairs(src_prefix, dst_postings)).orderBy("src", "dst")


CONTAINMENT_SQL = f"""
WITH d AS (
  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
            range(1, greatest(len(toks) - 1, 1)),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
  FROM d WHERE len(toks) >= 3
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS src, b.doc_id AS dst, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT src, dst, ROUND(i * 1.0 / sa.n, 4) AS containment
FROM inter
JOIN sz sa ON src = sa.doc_id
WHERE i * 1.0 / sa.n >= {CONTAINMENT_THRESHOLD}
ORDER BY src, dst
"""


# ---------------------------------------------------------------------------
# Block-level (pseudo-paragraph) duplication audit

_BLOCK_WORDS = 16


def block_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fine-grained dedup signal at the sub-document grain production
    pipelines actually scrub: split every document into consecutive
    16-word blocks (the pseudo-paragraph unit here — real corpora split
    on newlines) and report, per document, how many of its blocks also
    appear verbatim in at least one OTHER document. High dup_fraction
    with low whole-doc similarity = templated/boilerplate content.

    Scale: block generation is a row-local HOF flatMap; blocks travel
    as 64-bit xxhash64 keys from the first shuffle on (16 bytes/row
    instead of ~100-char strings — exactly how shingles travel in the
    MinHash family; collision odds at corpus scale ≈ n²/2⁶⁵), and the
    hashed block stream is cached so its two consumers (block-frequency
    groupBy, per-doc join-back) cost ONE tokenize pass. The only
    shuffles are the block-frequency groupBy (vocabulary-of-blocks
    sized) and the per-doc re-aggregation."""
    docs = load_table(spark, "documents", sf_dir)
    toks = "split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ' ')"
    blocks_expr = (
        f"transform(sequence(0, CAST(ceil(size({toks}) / {_BLOCK_WORDS}.0) AS INT) - 1), "
        f"i -> array_join(slice({toks}, i * {_BLOCK_WORDS} + 1, {_BLOCK_WORDS}), ' '))"
    )
    blocks = (
        docs.selectExpr("doc_id", f"posexplode({blocks_expr}) AS (pos, block)")
        .select("doc_id", F.xxhash64("block").alias("bh"))
        .transform(scache)
    )
    freq = blocks.groupBy("bh").agg(F.countDistinct("doc_id").alias("n_docs"))
    return (
        blocks.join(freq, "bh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum((F.col("n_docs") >= 2).cast("int")).alias("n_dup_blocks"),
            F.round(
                F.sum((F.col("n_docs") >= 2).cast("int")) / F.count(F.lit(1)), 4
            ).alias("dup_fraction"),
        )
        .orderBy("doc_id")
    )


BLOCK_DEDUP_SQL = f"""
WITH d AS (
  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
blocks AS (
  SELECT doc_id,
         unnest(list_transform(
           range(0, CAST(ceil(len(toks) / {_BLOCK_WORDS}.0) AS INT)),
           i -> array_to_string(toks[i * {_BLOCK_WORDS} + 1 : (i + 1) * {_BLOCK_WORDS}], ' ')))
           AS block
  FROM d
),
freq AS (
  SELECT block, COUNT(DISTINCT doc_id) AS n_docs FROM blocks GROUP BY block
)
SELECT b.doc_id,
       COUNT(*) AS n_blocks,
       CAST(SUM(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_blocks,
       ROUND(SUM(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
         AS dup_fraction
FROM blocks b JOIN freq f USING (block)
GROUP BY b.doc_id
ORDER BY b.doc_id
"""


# ---------------------------------------------------------------------------
# Unaligned repeated-substring coverage (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better": exact substring dedup)

SPAN_L = 16  # window length in tokens — same grain as block_dedup_stats


def dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of token positions covered by a 16-token
    window that occurs AT LEAST TWICE anywhere in the corpus (other docs
    or elsewhere in the same doc) — the UNALIGNED repeated-substring
    signal from Lee et al. 2022's exact-substring dedup, strictly
    stronger than block_dedup_stats' aligned 16-word blocks (a duplicated
    run straddling a block boundary is invisible there, caught here).

    Scale shape: windows are a row-local HOF flatMap and travel as
    64-bit xxhash64 keys from the first shuffle (collision odds
    ≈ windows²/2⁶⁵); the occurrence count is one vocabulary-sized
    groupBy; coverage is the classic interval-union-with-fixed-length
    trick — sort duplicated window STARTS per doc, each start covers
    min(L, next_start − start) new tokens (the sweep-line carry pattern,
    cf. concurrent_sessions_timeline) — one partitioned window, no
    pairwise interval join. The token array is aliased before the
    per-window lambda (the repetition_metrics CollapseProject lesson)
    and both multi-consumer frames are cached: ONE tokenize pass total.
    The window key is xxhash64 over SPAN_L once-hashed tokens, not over
    a per-window concat string: the hash is a pure grouping key (never
    output), tokens contain no spaces so tuple equality == joined-string
    equality, and skipping the per-position string allocation measured
    1.9× on the window-build stage at sf0.1 (2.76 s → 1.48 s noop,
    identical duplicate-class structure; r13 — the repetition_metrics
    _ngram_hashes_all argument).
    dup_coverage is emitted as the UNROUNDED double quotient of two
    integers — identical IEEE division in both engines; rounding an
    integer ratio invites the k/2^m half-boundary flip."""
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    base = docs.select("doc_id", X.tokens(F.col("text")).alias("toks")).transform(
        scache
    )
    th = F.col("th")
    wins_expr = F.when(
        F.size(th) >= SPAN_L,
        F.transform(
            F.sequence(F.lit(0), F.size(th) - SPAN_L),
            lambda i: F.xxhash64(
                *[F.element_at(th, i + 1 + j) for j in range(SPAN_L)]
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))
    wins = (
        base.select(
            "doc_id", F.transform("toks", lambda x: F.xxhash64(x)).alias("th")
        )
        .select("doc_id", F.posexplode(wins_expr).alias("pos", "h"))
        .transform(scache)
    )
    freq = wins.groupBy("h").agg(F.count(F.lit(1)).alias("n_occ"))
    dup_starts = (
        wins.join(freq, "h").filter(F.col("n_occ") >= 2).select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    covered = (
        dup_starts.withColumn("nxt", F.lead("pos").over(w))
        .withColumn(
            "contrib",
            F.when(F.col("nxt").isNull(), F.lit(SPAN_L)).otherwise(
                F.least(F.lit(SPAN_L), F.col("nxt") - F.col("pos"))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_windows"),
            F.sum("contrib").alias("covered_tokens"),
        )
    )
    return (
        base.select("doc_id", F.size("toks").alias("n_tokens"))
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            (F.coalesce("covered_tokens", F.lit(0)) / F.col("n_tokens")).alias(
                "dup_coverage"
            ),
        )
        .orderBy("doc_id")
    )


DUP_SPAN_SQL = f"""
WITH d AS MATERIALIZED (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
wins AS MATERIALIZED (
  SELECT doc_id, u.pos AS pos, u.w AS w
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, len(toks) - {SPAN_L} + 1),
                  i -> {{'pos': i, 'w': array_to_string(toks[i+1 : i+{SPAN_L}], ' ')}})) AS u
    FROM d
  )
),
freq AS (SELECT w, COUNT(*) AS n_occ FROM wins GROUP BY w),
dup AS (
  SELECT doc_id, pos FROM wins JOIN freq USING (w) WHERE n_occ >= 2
),
cov AS (
  SELECT doc_id, COUNT(*) AS n_dup_windows,
         SUM(CASE WHEN nxt IS NULL THEN {SPAN_L}
                  ELSE LEAST({SPAN_L}, nxt - pos) END) AS covered
  FROM (SELECT doc_id, pos,
               LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        FROM dup)
  GROUP BY doc_id
)
SELECT d.doc_id,
       len(d.toks) AS n_tokens,
       COALESCE(cov.n_dup_windows, 0) AS n_dup_windows,
       CAST(COALESCE(cov.covered, 0) AS BIGINT) AS covered_tokens,
       COALESCE(cov.covered, 0) * 1.0 / len(d.toks) AS dup_coverage
FROM d LEFT JOIN cov USING (doc_id)
ORDER BY d.doc_id
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "set_overlap_join_prefix": set_overlap_join_prefix,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_connected_components": dedup_connected_components,
    "dedup_survivor_best_quality": dedup_survivor_best_quality,
    "dedup_containment": dedup_containment,
    "block_dedup_stats": block_dedup_stats,
    "semdedup_prune": semdedup_prune,
    "dup_span_coverage": dup_span_coverage,
}

ORACLES = {
    "dedup_containment": CONTAINMENT_SQL,
    "block_dedup_stats": BLOCK_DEDUP_SQL,
    "set_overlap_join_prefix": SET_OVERLAP_SQL,
    "dedup_connected_components": CC_SQL,
    "dedup_survivor_best_quality": SURVIVOR_QUALITY_SQL,
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard": NGRAM_JACCARD_SQL,
    "dedup_minhash_lsh": NGRAM_JACCARD_SQL,
    "dedup_simhash": _simhash_oracle_sql(),
    "dedup_embedding_cosine": DEDUP_EMB_SQL,
    "semdedup_prune": SEMDEDUP_SQL,
    "dup_span_coverage": DUP_SPAN_SQL,
}
