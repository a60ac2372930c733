"""Deduplication operators for training-data pipelines (north-star ops,
SURVEY.md §2.14 ops 52-53): exact content-hash dedup, exact n-gram
Jaccard near-dup, MinHash+LSH banding, and SimHash.

Scale notes (the reason each exists):
- exact: one hash-groupBy — embarrassingly parallel, reuses the MD5 of
  the key layer (op 13a).
- n-gram Jaccard: the *exact* pairwise method; the shingle self-join is
  quadratic in docs sharing a shingle, so `max_shingle_freq` caps
  hot shingles (standard frequency-capping; dropped shingles are the
  stop-shingles that carry no dedup signal).
- MinHash+LSH: the sub-quadratic scale path — signatures are a single
  groupBy over exploded shingles (xxhash64, JVM-side), banding turns
  near-dup search into an equi-join; candidates are verified with exact
  Jaccard so precision is exact and only recall is probabilistic.
- SimHash: one 64-bit signature per doc via bit-majority of token
  hashes; hamming-≤-r pairs found by Manku-refined chunk banding
  (chunk + sub-block keys, ~28 bits effective — pigeonhole twice, so
  recall stays exact while buckets stay corpus-size-independent).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hbase_bulkload_spark.functions.text import tokens, word_shingles_text

#: Default hot-shingle cap for the *exact* n-gram path. A shingle shared
#: by m docs expands C(m,2) intersection pairs, so one stop-shingle on
#: web text turns the exact method quadratic; 128 is far above any real
#: near-dup cluster's *rarest-shingle* frequency (pairs in a cluster
#: still meet on their rarer shingles) yet bounds the worst expansion to
#: C(128,2) ≈ 8k pairs per shingle. Pass ``max_shingle_freq=None`` to
#: opt back into the uncapped (truly exhaustive) join.
DEFAULT_MAX_SHINGLE_FREQ = 128


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Op 52: group by content hash; representative = min id."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.count("*").alias("n_copies"), F.min(id_col).alias("rep_doc"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
) -> DataFrame:
    """Op 53a (exact): all doc pairs with n-gram Jaccard ≥ threshold.

    Plan shape: explode → frequency cap (on by default; ``None`` opts
    out) → posting-list pair expansion → count intersections → filter.
    Exactly TWO shuffles on uniformly-hashed keys (shingle, then pair)
    and ZERO joins: each doc's shingle-set size is computed row-wise in
    the same projection as the explode (``word_shingles`` is already
    per-doc distinct, so size = array length — no groupBy) and rides
    through the posting list as a struct field, so the Jaccard
    denominator is available inside the pair aggregate without joining
    a sizes table back in. The dropped hot-shingle count is published
    as the ``ngram_shingle_cap`` observation (``n_shingles`` /
    ``n_dropped_shingles``) on the posting-list pass, so the cap is
    never silent.
    """
    # shingles ride the shuffle as 8-byte xxhash64 keys, not text:
    # the posting-list groupBy only ever uses the shingle as an equality
    # key, so hashing map-side (inside the same codegen'd transform)
    # cuts exchange bytes ~2× and measured 1.6× wall at sf0.1
    # (2.31 s → 1.43 s, value-identical output) — the same injectivity
    # bet as the md5 key layer and duplicated_spans
    sh = docs.select(
        F.col("doc_id"), word_shingles_text(F.col("text"), n).alias("shs")
    ).select(
        "doc_id",
        F.size("shs").alias("n_sh"),
        F.explode(F.transform("shs", lambda s: F.xxhash64(s))).alias("shingle"),
    )
    # posting-list formulation: group each shingle's (sorted, distinct)
    # (doc, size) list once, expand its C(m,2) pairs with higher-order
    # functions — one shuffle over the shingle set instead of a
    # self-join that shuffles it twice; the frequency cap bounds m so
    # the expansion can't blow up on stop-shingles
    postings = sh.groupBy("shingle").agg(
        F.array_sort(F.collect_set(F.struct("doc_id", "n_sh"))).alias("ds")
    )
    if max_shingle_freq is not None:
        postings = postings.observe(
            "ngram_shingle_cap",
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                (F.size("ds") > max_shingle_freq).cast("long")
            ).alias("n_dropped_shingles"),
        ).filter(F.size("ds") <= max_shingle_freq)
    # C(m,2) expansion as two chained Generate nodes (posexplode the
    # anchor, explode the tail slice): everything stays in whole-stage
    # codegen, unlike a nested higher-order transform whose lambdas are
    # interpreted per pair (~1.5× slower measured at sf0.1)
    p1 = (
        postings.filter(F.size("ds") >= 2)
        .select("ds", F.posexplode("ds").alias("i", "a"))
    )
    p2 = p1.select(
        "a", F.explode(F.slice("ds", F.col("i") + 2, F.size("ds"))).alias("b")
    )
    inter = p2.groupBy(
        F.col("a.doc_id").alias("doc_a"),
        F.col("a.n_sh").alias("n_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("b.n_sh").alias("n_b"),
    ).agg(F.count("*").alias("n_inter"))
    jac = F.round(
        F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
    )
    return (
        inter.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def lsh_banding_params(
    threshold: float, recall_floor: float = 0.98, max_k: int = 64
) -> tuple[int, int]:
    """Derive MinHash banding (k, bands) from the verification
    threshold — the round-6 fix for the fixed (16, 4) defaults, whose
    S-curve ``1-(1-s^r)^b`` only reached 0.95 recall at s ≥ 0.85 and
    silently missed near-threshold pairs (exposed by the sf1.0
    constant-clique fixture: flagged-doc recall 0.77 at J ∈ [0.5, 0.6],
    caught by the in-query verdict oracle).

    The banding's WORST-case recall is the S-curve evaluated exactly at
    the threshold (every verified pair has s ≥ t, and the curve is
    monotone), so: pick the largest rows-per-band r whose required band
    count b = ceil(ln(1-floor)/ln(1-t^r)) still fits the signature
    budget ``k = b*r ≤ max_k``. Larger r is strictly better for cost at
    equal recall — false-candidate collisions at background similarity
    s fall as s^r — and the verification step already makes precision
    exact, so recall at the threshold is the only quality knob. The
    0.98 design floor deliberately over-provisions the queries' 0.95
    verdict assertions: the worst-case expectation then clears the
    assert with margin even when every flagged pair sits exactly at
    the threshold. t=0.5 → (28, 14) [recall 0.982 at s=0.5];
    t=0.8 → (50, 10); t=0.9 → (56, 7). Signatures stay cheap: k is
    the number of integer re-mixes per pre-hashed shingle, not string
    hashes.

    Unlike the hyperplane-LSH table cap, this solve NEVER silently
    trades recall: b is always solved exactly for the floor, and
    ``max_k`` is a soft budget on r only. What CAN silently blow up is
    the signature budget itself — at very low thresholds the r=2
    fallback emits k = 2·b ≫ max_k. :func:`lsh_banding_params_solve`
    returns that fact as an ``over_budget`` flag (with a
    RuntimeWarning), and the q_dedup_near_verdict key pins it FALSE in
    its oracle so a threshold/config drift into the blow-up regime
    turns the key red instead of just slow."""
    k, bands, _ = lsh_banding_params_solve(threshold, recall_floor, max_k)
    return k, bands


def lsh_banding_params_solve(
    threshold: float, recall_floor: float = 0.98, max_k: int = 64
) -> tuple[int, int, bool]:
    """:func:`lsh_banding_params` plus the budget flag: returns
    (k, bands, over_budget) where ``over_budget`` is True iff the
    signature budget ``max_k`` could not be honored (the r=2 fallback
    fired with 2·b > max_k). Recall is still met in that regime — the
    cost is a super-budget signature width, which at corpus scale is a
    real per-row cost multiplier the caller must accept explicitly."""
    import math

    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")

    def b_for(r: int) -> int | None:
        # log1p(-t^r) is exact for tiny t^r where log(1.0 - t^r) rounds
        # to log(1.0) == 0.0 and divides by zero (t=0.005, r=8 →
        # t^r ≈ 4e-19 < 1 ulp of 1.0); None = t^r underflowed to 0.0
        # entirely, so this r cannot be sized at all
        tr = threshold**r
        if tr == 0.0:
            return None
        return math.ceil(
            math.log(1.0 - recall_floor) / math.log1p(-tr)
        )

    for r in range(8, 1, -1):
        b = b_for(r)
        if b is not None and b * r <= max_k:
            return b * r, b, False
    # very low thresholds: r=2 is the hard floor (r=1 band keys are
    # single minhashes — any shared shingle min collides, so buckets
    # grow with the corpus); max_k is a soft budget, recall is not
    b = b_for(2)
    if b is None:  # threshold² underflowed double precision (< ~1e-154)
        raise ValueError(f"threshold {threshold} too small to band for")
    import warnings

    warnings.warn(
        f"MinHash banding signature budget exceeded: threshold "
        f"{threshold} needs k={2 * b} (r=2 fallback, {b} bands) vs the "
        f"max_k={max_k} budget. Recall floor {recall_floor} is still "
        f"met, but the per-row signature cost is {2 * b / max_k:.1f}x "
        f"budget — accept explicitly or raise the threshold.",
        RuntimeWarning,
        stacklevel=3,
    )
    return 2 * b, b, True


def minhash_signatures(
    docs: DataFrame,
    k: int = 16,
    n: int = 3,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """k-permutation MinHash signature per doc: min over k seeded hashes
    of each distinct shingle — MAP-ONLY, all JVM expressions.

    MinHash is a pure per-row function (min is duplicate-insensitive),
    so the signature needs no explode, no groupBy, zero exchanges — at
    100 TB the signature pass costs one scan. Cost shape matters as much
    as shuffle count: each shingle is string-hashed ONCE
    (``transform(shs, xxhash64)``), then each of the k "permutations" is
    a cheap integer re-mix ``xxhash64(seed, h)`` over the pre-hashed
    array — the standard one-strong-hash + k-mix construction. Hashing
    the string k times instead (and letting the k projections each
    re-evaluate the regex shingler) measured 4.7× slower at sf0.1
    because the expensive shingle expression was re-computed per seed.
    The shingle array and hash array live in their own projections so
    CollapseProject cannot inline the expensive expression into its k
    consumers. Zero-shingle docs are dropped, as the explode formulation
    did. NB the per-seed lambda comes from a closure factory: a two-arg
    lambda would make PySpark pass the ELEMENT INDEX as the second
    argument, silently corrupting the seed.

    ``shingled`` — an already-shingled ``(doc_id, shs)`` frame — skips
    the shingle projection (see :func:`shingle_postings`)."""
    base = (
        shingled.select("doc_id", "shs")
        if shingled is not None
        else docs.select(
            "doc_id", word_shingles_text(F.col("text"), n).alias("shs")
        )
    ).filter(F.size("shs") > 0)
    hashed = base.select(
        "doc_id", F.transform("shs", lambda x: F.xxhash64(x)).alias("hs")
    )

    def seeded(s: int):
        return lambda h: F.xxhash64(F.lit(s), h)

    cols = [
        F.array_min(F.transform("hs", seeded(s))).alias(f"mh{s}") for s in range(k)
    ]
    return hashed.select("doc_id", *cols)


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int | None = None,
    bands: int | None = None,
    n: int = 3,
    broadcast_pairs_limit: int = 1_000_000,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Op 53b (scale path): MinHash banding → candidate pairs →
    exact-Jaccard verification ≥ threshold. Probabilistic recall, exact
    precision. Returns (doc_a, doc_b, jaccard).

    ``broadcast_pairs_limit`` gates the candidate-doc broadcast hint: the
    candidate frame is materialized (localCheckpoint) and counted once (the count is the same
    job the verification step needs anyway, so nothing is computed
    twice), and only a candidate set under the limit is hint-broadcast
    into the corpus semi-filter. Past the limit — a pathological corpus
    where banding degenerates, e.g. every document sharing one hot
    shingle — the hint is omitted and AQE plans the join from observed
    sizes, so the worst case is a shuffle join, never a driver OOM.

    ``max_bucket_size`` is the degenerate-corpus valve (same contract
    as hamming_pairs_banded): a band bucket holds docs sharing a whole
    signature band — near-identical docs — so huge buckets mean a
    legitimately quadratic dup cluster; past the cap the bucket is
    dropped and counted via the ``minhash_bucket_cap`` observation.
    ``None`` (default) enumerates every cluster."""
    if k is None or bands is None:
        k, bands = lsh_banding_params(threshold)
    if k % bands != 0:
        raise ValueError(f"k={k} must be divisible by bands={bands}")
    rows = k // bands
    sig = minhash_signatures(docs, k=k, n=n)
    # all band keys in one pass, then POSTING LISTS per bucket instead of
    # a self-join: the signature stage is map-only (no exchange), so a
    # self-join would recompute it on BOTH sides (no ReusedExchange to
    # fall back on — measured 2× the signature cost); grouping buckets
    # once and expanding each bucket's C(m,2) member pairs computes the
    # signatures exactly once and shuffles only (band, key, doc_id)
    # triples. Same two chained Generate nodes as ngram_jaccard_pairs.
    band_keys = F.array(
        *[
            F.xxhash64(
                F.lit(band), *[F.col(f"mh{band * rows + r}") for r in range(rows)]
            )
            for band in range(bands)
        ]
    )
    bd = sig.select("doc_id", F.posexplode(band_keys).alias("band", "bkey"))
    buckets = (
        bd.groupBy("band", "bkey")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    if max_bucket_size is not None:
        buckets = buckets.observe(
            "minhash_bucket_cap",
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(
                (F.size("ds") > max_bucket_size).cast("long")
            ).alias("n_dropped_buckets"),
        ).filter(F.size("ds") <= max_bucket_size)
    p1 = buckets.select("ds", F.posexplode("ds").alias("i", "doc_a"))
    cand = p1.select(
        "doc_a", F.explode(F.slice("ds", F.col("i") + 2, F.size("ds"))).alias("doc_b")
    ).distinct()
    # exact-Jaccard verification restricted to candidate pairs — the
    # whole point of LSH is that the quadratic join never happens. On a
    # healthy corpus the candidate DOC set is tiny relative to the
    # corpus (that is what banding is for), so it broadcast-semi-filters
    # the corpus scan and shingles are computed only for candidate docs;
    # the pair join then runs over that small frame and the intersection
    # is row-wise array_intersect — the full shingle explosion is never
    # shuffled. The broadcast hint is SIZE-GATED, not hardcoded: cand is
    # materialized once (localCheckpoint, not persist: checkpoint blocks
    # are GC-cleaned when the frame goes out of scope, so repeated
    # invocation — e.g. a sink loop — doesn't accumulate CacheManager
    # entries for the session's lifetime) and counted, and past
    # broadcast_pairs_limit the hint is omitted so AQE plans from
    # observed sizes instead of being forced to ship an unbounded set
    # to every executor.
    cand = cand.localCheckpoint(eager=True)
    n_pairs = cand.count()
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b")))
        .distinct()
    )
    if n_pairs <= broadcast_pairs_limit:
        cand_docs = F.broadcast(cand_docs)
    shs = docs.join(cand_docs, "doc_id").select(
        "doc_id", word_shingles_text(F.col("text"), n).alias("shs")
    )
    a = shs.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a"))
    b = shs.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b"))
    n_inter = F.size(F.array_intersect("shs_a", "shs_b"))
    jac = F.round(
        n_inter / (F.size("shs_a") + F.size("shs_b") - n_inter), 6
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _simhash_pack_udf():
    """Arrow-batched bit-majority packer: per row, an ndarray of token
    xxhash64s in, the packed 64-bit signature out (vectorized bit
    extraction + vote + pack in numpy)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def pack(hs: pd.Series) -> pd.Series:
        out = np.zeros(len(hs), dtype=np.int64)
        shifts = np.arange(64, dtype=np.uint64)
        for i, arr in enumerate(hs):
            h = np.asarray(arr, dtype=np.int64).view(np.uint64)
            bits = ((h[:, None] >> shifts[None, :]) & 1).astype(np.int32)
            votes = (2 * bits - 1).sum(axis=0)
            out[i] = np.int64(((votes >= 0).astype(np.uint64) << shifts).sum(dtype=np.uint64))
        return pd.Series(out)

    return pack


def simhash64(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per doc: token xxhash64s (JVM `transform`, no
    explode) → per-bit ±1 majority vote → pack (Arrow-batched numpy).

    SimHash is a pure per-row function, so this is a MAP-ONLY stage: no
    token explode, no groupBy, no exchange — at 100 TB the signature
    pass costs exactly one scan. (The previous explode + 64-column hash
    aggregate shuffled per-doc vote rows and measured 15× slower at
    sf0.1; bit-shift-by-column isn't expressible in JVM expressions —
    `shiftrightunsigned` takes only literal counts — hence the vectorized
    packer.) Zero-token docs are dropped, matching the old groupBy-over-
    empty-explode semantics."""
    pack = _simhash_pack_udf()
    hs = F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t))
    return (
        docs.filter(F.size(tokens(F.col(text_col))) > 0)
        .select(F.col(id_col).alias("doc_id"), pack(hs).alias("simhash"))
    )


def banding_key_columns(
    sig_col: str, n_chunks: int = 4, max_hamming: int = 3
) -> list:
    """The Manku-refined band-key expressions for a 64-bit signature
    column: one packed long per (chunk i, sub-block j) combination —
    n_chunks² keys of ``64/n_chunks + ~(64-64/n_chunks)/n_chunks``
    effective bits (28 for the default 4 chunks). The band id is the
    position in the returned list (posexplode supplies it). Exposed so
    tests can measure bucket sizes directly on degenerate corpora.

    Falls back to bare chunk keys only when the remaining bits cannot
    be split into ≥ max_hamming+1 non-empty sub-blocks (degenerate
    n_chunks ≥ 33 configs, never the default)."""
    width = 64 // n_chunks
    mask = (1 << width) - 1
    rem_bits = 64 - width
    # sub-pigeonhole the remaining bits into n_chunks blocks (uneven
    # widths are fine for pigeonhole; need ≥ max_hamming+1 non-empty
    # blocks for the second pigeonhole to hold)
    n_sub = min(n_chunks, rem_bits)
    if n_sub < max_hamming + 1 or rem_bits == 0:
        return [
            F.shiftrightunsigned(sig_col, c * width).bitwiseAND(F.lit(mask))
            for c in range(n_chunks)
        ]
    sub_w = [
        rem_bits // n_sub + (1 if j < rem_bits % n_sub else 0)
        for j in range(n_sub)
    ]
    sub_off = [sum(sub_w[:j]) for j in range(n_sub)]
    sw_bits = max(sub_w)
    band_keys = []
    for i in range(n_chunks):
        ck = F.shiftrightunsigned(sig_col, i * width).bitwiseAND(F.lit(mask))
        # remaining 64-width bits with chunk i excised, re-packed
        # contiguously: low bits pass through, high bits shift down by
        # one chunk width
        lo_mask = (1 << (i * width)) - 1
        lo = F.col(sig_col).bitwiseAND(F.lit(lo_mask))
        if (i + 1) * width >= 64:
            # top chunk: Java masks shift counts mod 64, so an explicit
            # zero beats shiftrightunsigned(sig, 64) (which is sig)
            rem = lo
        else:
            hi = F.shiftleft(
                F.shiftrightunsigned(sig_col, (i + 1) * width), i * width
            )
            rem = lo.bitwiseOR(hi)
        for j in range(n_sub):
            sk = F.shiftrightunsigned(rem, sub_off[j]).bitwiseAND(
                F.lit((1 << sub_w[j]) - 1)
            )
            # pack (chunk value, sub value) into one shuffle-key long;
            # the band id is the posexplode position
            band_keys.append(F.shiftleft(ck, sw_bits).bitwiseOR(sk))
    return band_keys


def hamming_pairs_banded(
    sig: DataFrame,
    sig_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_chunks: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Pairs of 64-bit signatures at hamming ≤ ``max_hamming`` via
    Manku-style refined chunk banding (Manku/Jain/Das Sarma, WWW'07
    §3's block-combination trick, re-expressed as posting lists).

    Recall argument (EXACT for ``max_hamming ≤ n_chunks - 1``): split
    the 64 bits into ``n_chunks`` equal chunks — a pair differing in
    ≤ n_chunks-1 bits leaves some chunk i fully clean (pigeonhole).
    The *refinement*: for that i, all differing bits lie in the
    remaining ``64 - width`` bits; partitioning THOSE into n_chunks
    sub-blocks pigeonholes again, so some sub-block j is also clean and
    the pair meets in bucket key ``(i, j, chunk_i, sub_j)``. Precision
    is exact always — the final bit_count filter verifies.

    Why refine: keying buckets on a bare 16-bit chunk value fixes the
    keyspace at 4 × 65536 forever, so bucket membership m grows
    linearly with corpus size and the C(m,2) pair expansion grows
    quadratically — the hot-shingle pathology in banding form. The
    (chunk, sub-block) keys are 28 bits effective (n_chunks=4:
    16 + 12), a 4096× larger keyspace, at the price of a
    n_chunks²-way (16 vs 4) signature explode — rows, not bytes, and
    map-side. At 10⁹ docs: ~60 sigs/bucket instead of ~15k.

    ``max_bucket_size`` is the safety valve for DEGENERATE corpora
    (e.g. ~identical signatures, where huge buckets are legitimately
    full of dup pairs and any pair enumeration is quadratic in the
    cluster): buckets larger than the cap are dropped and the drop
    count is published via the ``hamming_bucket_cap`` observation
    (same never-silent contract as ``DEFAULT_MAX_SHINGLE_FREQ``).
    ``None`` (default) keeps recall pigeonhole-exact.

    All band keys come from one posexplode, then POSTING LISTS per
    bucket: the signature stage upstream is map-only, so a self-join
    would run it on BOTH sides — grouping each bucket once computes
    signatures exactly once and the C(m,2) pair expansion happens on
    the (id, sig) structs inside the bucket (same restructure as
    minhash_lsh_pairs / ngram pairs).
    """
    if 64 % n_chunks != 0:
        raise ValueError(
            f"n_chunks={n_chunks} must tile the 64-bit signature"
        )
    if max_hamming > n_chunks - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole-exact bound "
            f"{n_chunks - 1} for {n_chunks} chunks — recall would silently "
            "drop below 1; raise n_chunks instead"
        )
    s = sig.select(F.col(id_col).alias("doc_id"), F.col(sig_col).alias("_sig"))
    band_keys = banding_key_columns("_sig", n_chunks, max_hamming)
    bd = s.select(
        "doc_id", "_sig", F.posexplode(F.array(*band_keys)).alias("band", "bk")
    )
    buckets = (
        bd.groupBy("band", "bk")
        .agg(F.array_sort(F.collect_set(F.struct("doc_id", "_sig"))).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    if max_bucket_size is not None:
        buckets = buckets.observe(
            "hamming_bucket_cap",
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(
                (F.size("ds") > max_bucket_size).cast("long")
            ).alias("n_dropped_buckets"),
        ).filter(F.size("ds") <= max_bucket_size)
    p1 = buckets.select("ds", F.posexplode("ds").alias("i", "a"))
    cand = p1.select(
        "a", F.explode(F.slice("ds", F.col("i") + 2, F.size("ds"))).alias("b")
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.bit_count(F.col("a._sig").bitwiseXOR(F.col("b._sig"))).alias("hamming"),
    )
    return cand.distinct().filter(F.col("hamming") <= max_hamming)


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs at hamming ≤ max_hamming via Manku-refined
    chunk banding (exact recall by double pigeonhole; 28-bit effective
    bucket keys keep bucket sizes corpus-independent)."""
    return hamming_pairs_banded(
        simhash64(docs),
        sig_col="simhash",
        max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 30,
) -> DataFrame:
    """Op 53f: connected components of the near-dup pair graph by
    iterative min-label propagation — the transitive-closure complement
    of the single-pass min-id policy (`embedding_dedup`): a whole
    near-dup CLUSTER collapses to one representative even when its
    members only touch pairwise through intermediaries.

    Each node starts labeled with its own id; every round a node takes
    the min of its label and its neighbors' labels; fixed point after
    O(component diameter) rounds. Near-dup clusters are shallow (dup
    chains, not long paths), so a handful of rounds suffices — the
    driver loop is O(diameter) iterations of fully-distributed joins,
    with `localCheckpoint` cutting lineage each round so plans don't
    compound. Singleton nodes keep their own id as ``comp_id``; labels
    are pinned against a union-find by
    tests/test_extensions.py::test_components_match_union_find.

    Variant choice is measured: on the sf0.1 near-dup graph (shallow
    components) propagation ran 3.9 s vs large-star/small-star
    contraction's 4.3 s (Kiveris et al.; O(log n) rounds regardless of
    diameter; 2-run warm, noop sink) — the star rounds' extra joins
    cost more than the diameter they save. Propagation is the one path;
    contraction is the upgrade if a deployment's graphs are
    adversarially deep."""
    # materialize the (tiny) edge list once — every iteration joins it,
    # and without the cut each round would re-derive the full pair
    # computation (shingle explode + posting lists) from scratch
    sym = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .localCheckpoint()
    )
    labels = nodes.select(F.col(id_col), F.col(id_col).alias("comp_id"))
    for _ in range(max_iter):
        neigh = (
            sym.join(labels, sym.src == labels[id_col])
            .groupBy(F.col("dst").alias("__n_id"))
            .agg(F.min("comp_id").alias("__n_min"))
        )
        # the convergence flag is computable IN-ROW during the step
        # (new label < old label), so the old separate new-vs-old join
        # per round (a full shuffle join of the label set whose only
        # output was the changed-count) is gone: the count reads the
        # step's already-checkpointed blocks instead (r11, guide §2.4
        # remove shuffles outright — one join job per round eliminated,
        # labels identical round-for-round)
        stepped = (
            labels.join(neigh, labels[id_col] == neigh["__n_id"], "left")
            .select(
                id_col,
                F.least(
                    "comp_id", F.coalesce("__n_min", "comp_id")
                ).alias("comp_id"),
                (
                    F.coalesce("__n_min", "comp_id") < F.col("comp_id")
                ).alias("__changed"),
            )
            .localCheckpoint()
        )
        changed = stepped.filter("__changed").count()
        labels = stepped.drop("__changed")
        if changed == 0:
            break
    return labels


def embedding_dedup(
    docs: DataFrame,
    embeddings: DataFrame,
    threshold: float = 0.4,
    method: str = "exact",
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    n_blocks: int | None = None,
) -> DataFrame:
    """Op 53e: embedding-cosine near-dedup — per-document keep/drop
    verdicts over the cosine-pair graph (docs and embeddings join 1:1 on
    ``doc_id = vec_id``).

    Dedup policy is single-pass min-id: a document is a duplicate iff
    some LOWER-id document is within ``threshold`` cosine; ``dup_of`` is
    the smallest such neighbor. Deliberately NOT transitive-closure
    clustering (iterative connected components) — the single-pass rule
    is deterministic, one aggregation over the pair list, and exactly
    SQL-expressible, which keeps the full value-hash oracle. Standard
    practice for corpus dedup where near-dup is ~transitive anyway.

    ``method="exact"`` scores pairs with the distributed blocked GEMM
    (quadratic baseline, full oracle); ``method="lsh"`` is the
    sub-quadratic recall-solved scale path (hyperplane-LSH buckets,
    probabilistic recall — rows-only); ``method="ivf"`` (round 10) is
    the table-free blocking path (:func:`similarity.cosine_pairs_ivf`
    — sqrt(n) cells, ~n^1.5 work, sizing that can never cap out;
    blocking recall is the SemDeDup trade: high on clustered near-dup
    corpora, reported-only on unstructured tails). Verdict frame is
    (dup docs only) ≪ corpus, so the final left join is
    AQE-broadcastable.
    """
    from hbase_bulkload_spark.operators import similarity

    if method == "exact":
        pairs = similarity.cosine_pairs_exact(
            embeddings, threshold=threshold, id_col=vec_id_col, n_blocks=n_blocks
        )
    elif method == "lsh":
        # auto-size from the corpus (one count job): fixed (8, 8)
        # parameters on a growing corpus degrade to quadratic buckets
        # and silently-shrinking recall — the exact anti-pattern the
        # solver exists to prevent (lsh_plan_solve holds the 0.95
        # marginal-recall solve at any n within 256 tables)
        n = embeddings.count()
        planes, radius, tables, _ = similarity.lsh_plan_solve(n, threshold)
        pairs = similarity.cosine_pairs_lsh(
            embeddings,
            threshold=threshold,
            id_col=vec_id_col,
            n_planes=planes,
            n_tables=tables,
            probe_radius=radius,
            broadcast_vectors=n <= 2_000_000,
            signature_partitions=(
                embeddings.sparkSession.sparkContext.defaultParallelism
                if n >= 16384
                else None
            ),
        )
    elif method == "ivf":
        pairs = similarity.cosine_pairs_ivf(
            embeddings,
            threshold=threshold,
            n_cells=similarity.ivf_pair_cells(embeddings.count()),
            id_col=vec_id_col,
        )
    else:
        raise ValueError(
            f"method must be 'exact', 'lsh', or 'ivf', got {method!r}"
        )

    verdict = pairs.groupBy(F.col("vec_id_b").alias(id_col)).agg(
        F.min("vec_id_a").alias("dup_of"),
        F.max("cos_sim").alias("max_sim"),
    )
    return docs.select(id_col).join(verdict, id_col, "left").select(
        id_col,
        "dup_of",
        "max_sim",
        F.col("dup_of").isNotNull().alias("is_dup"),
    )


def hash_index(
    history: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The stored content-hash index for :func:`incremental_dedup`:
    one distinct md5 per historical document (column ``text_hash``).
    Persist after each increment; union the accepted batch's hashes
    in; feed back via ``history_hashes=`` so no increment ever
    re-hashes the corpus."""
    return history.select(F.md5(F.col(text_col)).alias("text_hash")).distinct()


def incremental_dedup(
    history: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    history_hashes: DataFrame | None = None,
) -> DataFrame:
    """Production-shaped exact dedup: dedupe a NEW batch against an
    already-deduped corpus without re-processing the corpus — at 100 TB
    you dedup each crawl increment against the index, never the whole
    history again.

    Per batch doc: ``dup_of_history`` (content hash already present in
    the history), ``dup_in_batch`` (smallest batch id with the same
    hash, null for the first occurrence), and the resulting ``keep``
    verdict (first occurrence of a hash unseen in history).

    Scale shape: both sides reduce to content hashes map-side; the
    history side collapses to its DISTINCT hash set (the "index" —
    persist :func:`hash_index` and feed it back via
    ``history_hashes=`` so increments never re-hash the corpus),
    joined hash-to-hash. The batch-internal check is one window over
    the (small) batch. The corpus-scale frame is never shuffled on
    anything wider than a 32-char hash.
    """
    from pyspark.sql import Window

    hist_hashes = (
        history_hashes
        if history_hashes is not None
        else hash_index(history, text_col)
    )
    b = batch.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
    w = Window.partitionBy("text_hash").orderBy(id_col)
    b = b.withColumn("_first", F.min(id_col).over(w))
    hist = hist_hashes.withColumn("_in_hist", F.lit(True))
    out = b.join(hist, "text_hash", "left").select(
        id_col,
        "text_hash",
        F.coalesce("_in_hist", F.lit(False)).alias("dup_of_history"),
        F.when(F.col("_first") < F.col(id_col), F.col("_first")).alias(
            "dup_in_batch"
        ),
    )
    return out.withColumn(
        "keep",
        ~F.col("dup_of_history") & F.col("dup_in_batch").isNull(),
    )


def shingle_postings(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingled: DataFrame | None = None,
) -> DataFrame:
    """The stored shingle index for :func:`incremental_ngram_dedup`:
    (shingle xxhash64, doc_id, n_sh) — one row per (doc, distinct
    shingle). A deployment persists this (parquet, bucketed by
    shingle) after each ingested increment and UNIONs the new batch's
    postings into it, so no later increment ever re-shingles the
    corpus; ``history_postings=`` feeds it back in.

    ``shingled`` — an already-shingled ``(doc_id, shs)`` frame — skips
    the ``word_shingles_text`` projection; callers that consume several
    shingle-derived views of one corpus (the twin-verdict queries)
    compute the expensive shingle transform once and share it."""
    src = (
        shingled.select("doc_id", "shs")
        if shingled is not None
        else docs.select(
            F.col(id_col).alias("doc_id"),
            word_shingles_text(F.col(text_col), n).alias("shs"),
        )
    )
    return src.select(
        "doc_id",
        F.size("shs").alias("n_sh"),
        F.explode(
            F.transform("shs", lambda s: F.xxhash64(s))
        ).alias("shingle"),
    )


def incremental_ngram_dedup(
    history: DataFrame,
    batch: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
    text_col: str = "text",
    id_col: str = "doc_id",
    history_postings: DataFrame | None = None,
    verify_ids: DataFrame | None = None,
    history_shingled: DataFrame | None = None,
    batch_shingled: DataFrame | None = None,
) -> DataFrame:
    """Op 52d: production-shaped NEAR dedup — dedupe a NEW batch against
    an already-ingested corpus by exact n-gram Jaccard, without ever
    pairing history against itself (the crawl-increment contract, the
    near-dup sibling of :func:`incremental_dedup`).

    Per batch doc: ``dup_of_history`` = smallest history doc at
    Jaccard ≥ threshold (null if none), ``dup_in_batch`` = smallest
    EARLIER batch doc at ≥ threshold, and the ``keep`` verdict (no
    near-dup on either side). Exact Jaccard → full SQL oracle, unlike
    the probabilistic MinHash path.

    Scale shape: one posting-list shuffle over the union of tagged
    shingle streams (8-byte xxhash64 keys, same injectivity bet as
    ngram_jaccard_pairs), but the pair expansion splits each bucket
    into (history, batch) halves and only emits history×batch and
    earlier-batch×batch pairs — history×history pairs are never
    generated, so the history side costs its posting list and nothing
    quadratic. Pass ``history_postings`` (a persisted
    :func:`shingle_postings` frame — the stored index maintained
    across increments, exactly like incremental_dedup's hash index)
    and the history corpus is never re-read at all: intersection
    counts and Jaccard denominators both ride the postings, so the
    whole increment costs one shuffle of (index ∪ batch shingles) and
    zero history text IO. The hot-shingle cap bounds the per-bucket
    expansion and is published via the ``incremental_shingle_cap``
    observation.

    ``verify_ids`` (a 1-column ``doc_id`` frame, broadcast) restricts
    the VERIFIED batch entries to that subset while keeping the
    candidate side complete — each checked doc is still compared
    against ALL history plus ALL earlier batch docs, so its verdict is
    identical to the full run's. The filter lands BEFORE the
    candidate explode, so with the cap off the pair expansion is
    bounded by |checked postings| × bucket size (linear in corpus for
    a fixed subset) instead of quadratic: this is what lets the
    q_dedup_incremental_minhash verdict query run its UNCAPPED exact
    twin on a bounded md5-ranked prefix at any corpus size. Output
    rows are restricted to the subset.

    ``history_shingled`` / ``batch_shingled`` — already-shingled
    ``(doc_id, shs)`` frames for the respective sides — skip the
    ``word_shingles_text`` projections (see :func:`shingle_postings`);
    the twin-verdict queries compute the shingle transform once and
    share it across both arms."""
    def tagged(postings: DataFrame, side: int) -> DataFrame:
        return postings.select(
            F.lit(side).alias("side"), "doc_id", "n_sh", "shingle"
        )

    hist_p = (
        history_postings
        if history_postings is not None
        else shingle_postings(history, n, text_col, id_col, history_shingled)
    )
    sh = tagged(hist_p, 0).union(
        tagged(shingle_postings(batch, n, text_col, id_col, batch_shingled), 1)
    )
    postings = sh.groupBy("shingle").agg(
        F.array_sort(F.collect_set(F.struct("side", "doc_id", "n_sh"))).alias("ds")
    )
    if max_shingle_freq is not None:
        postings = postings.observe(
            "incremental_shingle_cap",
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                (F.size("ds") > max_shingle_freq).cast("long")
            ).alias("n_dropped_shingles"),
        ).filter(F.size("ds") <= max_shingle_freq)
    # split each bucket into its history and batch halves (the sort put
    # side=0 first, batch ids ascending within side=1); candidates for
    # batch entry i are ALL history entries + the batch entries before i
    halves = postings.select(
        F.filter("ds", lambda s: s["side"] == 0).alias("hs"),
        F.filter("ds", lambda s: s["side"] == 1).alias("bs"),
    ).filter((F.size("bs") >= 1) & (F.size("hs") + F.size("bs") >= 2))
    p1 = halves.select("hs", "bs", F.posexplode("bs").alias("i", "b"))
    if verify_ids is not None:
        p1 = p1.join(
            F.broadcast(verify_ids.select(F.col(id_col).alias("_vid"))),
            F.col("b.doc_id") == F.col("_vid"),
            "left_semi",
        )
    cand = p1.select(
        "b",
        F.explode(
            F.concat(F.col("hs"), F.slice("bs", 1, F.col("i")))
        ).alias("a"),
    )
    inter = cand.groupBy(
        F.col("b.doc_id").alias("doc_id"),
        F.col("b.n_sh").alias("n_b"),
        F.col("a.side").alias("a_side"),
        F.col("a.doc_id").alias("a_id"),
        F.col("a.n_sh").alias("n_a"),
    ).agg(F.count("*").alias("n_inter"))
    jac = inter.filter(
        F.round(
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
            6,
        )
        >= threshold
    )
    verdict = jac.groupBy("doc_id").agg(
        F.min(F.when(F.col("a_side") == 0, F.col("a_id"))).alias(
            "dup_of_history"
        ),
        F.min(F.when(F.col("a_side") == 1, F.col("a_id"))).alias(
            "dup_in_batch"
        ),
    )
    base = batch.select(F.col(id_col).alias("doc_id"))
    if verify_ids is not None:
        base = base.join(
            F.broadcast(verify_ids.select(F.col(id_col).alias("doc_id"))),
            "doc_id",
            "left_semi",
        )
    return (
        base.join(verdict, "doc_id", "left")
        .select(
            "doc_id",
            "dup_of_history",
            "dup_in_batch",
            (
                F.col("dup_of_history").isNull()
                & F.col("dup_in_batch").isNull()
            ).alias("keep"),
        )
    )


def _validate_history_bands(
    history_bands: DataFrame, k: int, bands: int, n: int
) -> None:
    """Guard for the persisted-index workflow: a band index stored
    under DIFFERENT (k, bands, n) than the current call's produces
    zero matching band keys — history dups silently missed with no
    error, only a recall drop (the failure mode the round-6 move to
    threshold-derived banding defaults would have armed for anyone
    with a pre-round-6 index on disk). Indexes written by
    :func:`minhash_band_index` carry their parameters as constant
    columns. A persisted index dir is a UNION of per-batch increments,
    so the parameters are validated with one AGGREGATE over the whole
    frame, not ``first()``: a dir mixing increments written under
    different parameters (a threshold change mid-stream, or legacy
    3-column batches null-filled by a mergeSchema read) would pass a
    first()-check on whichever row comes first while the other
    increments' band keys silently never match — the exact failure
    this guard exists to close. The aggregate is still cheap: the
    columns are RLE'd constants, so it is one map-side combine per
    file. Null parameter rows (legacy increments under mergeSchema)
    are validated with the legacy fallback — the RLE'd ``band``
    column's max must equal ``bands - 1`` — which catches every
    historical default change ((16,4) → threshold-derived) though not
    a same-bands different-k remix. Pure legacy 3-column indexes take
    the same fallback over all rows. Empty indexes (first increment)
    skip validation; there is nothing to mismatch."""
    cols = set(history_bands.columns)
    if {"k", "bands", "n"} <= cols:
        st = history_bands.agg(
            F.count_distinct(
                F.when(F.col("k").isNotNull(), F.struct("k", "bands", "n"))
            ).alias("nd"),
            F.first("k", ignorenulls=True).alias("got_k"),
            F.first("bands", ignorenulls=True).alias("got_bands"),
            F.first("n", ignorenulls=True).alias("got_n"),
            F.sum(F.col("k").isNull().cast("long")).alias("legacy_rows"),
            F.max(F.when(F.col("k").isNull(), F.col("band"))).alias(
                "legacy_max_band"
            ),
        ).first()
        if st is None or (st["nd"] == 0 and not st["legacy_rows"]):
            return  # empty index: nothing to mismatch
        if st["nd"] > 1:
            raise ValueError(
                f"history_bands mixes {st['nd']} distinct (k, bands, n) "
                "parameter sets — increments were written under "
                "different banding (e.g. a threshold change "
                "mid-stream); band keys from the older increments "
                "would never match and their history dups would be "
                "silently missed. Rebuild the index with "
                "minhash_band_index at one parameter set."
            )
        if st["nd"] == 1 and (
            st["got_k"], st["got_bands"], st["got_n"]
        ) != (k, bands, n):
            raise ValueError(
                f"history_bands was built with (k={st['got_k']}, "
                f"bands={st['got_bands']}, n={st['got_n']}) but this "
                f"call derives (k={k}, bands={bands}, n={n}); band "
                "keys would never match and every history dup would "
                "be silently missed. Rebuild the index with "
                "minhash_band_index at the current parameters, or pass "
                "the index's parameters explicitly."
            )
        got = st["legacy_max_band"]
        if got is not None and got != bands - 1:
            raise ValueError(
                f"history_bands contains legacy increments (null "
                f"parameter columns) with band ids 0..{got} but this "
                f"call derives bands={bands}; their band keys would "
                "never match. Rebuild those increments with "
                "minhash_band_index at the current parameters."
            )
        return
    got = history_bands.agg(F.max("band").alias("mx")).first()["mx"]
    if got is not None and got != bands - 1:
        raise ValueError(
            f"history_bands (legacy schema, no parameter columns) has "
            f"band ids 0..{got} but this call derives bands={bands}; "
            "band keys would never match. Rebuild the index with "
            "minhash_band_index at the current parameters."
        )


def minhash_band_index(
    docs: DataFrame,
    k: int | None = None,
    bands: int | None = None,
    n: int = 3,
    threshold: float = 0.5,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """The stored band index for :func:`incremental_minhash_dedup`:
    (band, bkey, doc_id, k, bands, n) — ``bands`` rows per doc. A
    deployment persists this after each increment (parquet, bucketed by
    bkey) and unions new batches in, so signatures are computed once
    per doc ever; ``history_bands=`` feeds it back. Banding defaults
    derive from ``threshold`` via :func:`lsh_banding_params` — the
    stored index's (k, bands) must match the dedup call's, so pass the
    same threshold (or the same explicit overrides) to both.

    The banding parameters ride the index as constant columns (RLE'd
    to ~nothing in parquet) precisely so that mismatch is DETECTABLE:
    when the derived defaults change (e.g. a threshold change, or the
    round-6 move from fixed (16,4) to threshold-derived banding), an
    old persisted index would otherwise produce zero matching band
    keys against new-default batch keys — history dups silently
    missed, recall quietly zero. :func:`incremental_minhash_dedup`
    validates these columns (or, for a legacy 3-column index, the
    distinct band count) before using ``history_bands``."""
    if k is None or bands is None:
        k, bands = lsh_banding_params(threshold)
    sig = minhash_signatures(docs, k=k, n=n, shingled=shingled)
    rows = k // bands
    band_keys = F.array(
        *[
            F.xxhash64(
                F.lit(band), *[F.col(f"mh{band * rows + r}") for r in range(rows)]
            )
            for band in range(bands)
        ]
    )
    return sig.select(
        "doc_id", F.posexplode(band_keys).alias("band", "bkey")
    ).select(
        "band",
        "bkey",
        "doc_id",
        F.lit(k).cast("int").alias("k"),
        F.lit(bands).cast("int").alias("bands"),
        F.lit(n).cast("int").alias("n"),
    )


def incremental_minhash_dedup(
    history: DataFrame,
    batch: DataFrame,
    threshold: float = 0.5,
    k: int | None = None,
    bands: int | None = None,
    n: int = 3,
    broadcast_pairs_limit: int = 1_000_000,
    max_bucket_size: int | None = None,
    history_bands: DataFrame | None = None,
    history_shingled: DataFrame | None = None,
    batch_shingled: DataFrame | None = None,
) -> DataFrame:
    """Op 52f: incremental near-dedup at the MINHASH scale tier — the
    probabilistic sibling of :func:`incremental_ngram_dedup` for
    corpora where even the capped posting lists are too hot. Batch
    band keys join against the history band index (pass a persisted
    :func:`minhash_band_index` via ``history_bands=`` and history
    signatures are never recomputed — the stored artifact maintained
    across increments); history×history pairs are never generated.
    Candidates verify with exact Jaccard, so PRECISION is exact —
    every emitted dup partner truly clears the threshold — and only
    recall is probabilistic (recorded per round in the RECALL artifact
    against the exact incremental twin, floor-pinned in
    tests/test_recall.py). ``history`` text is still read for
    VERIFICATION, but only for candidate docs (semi-join filtered) —
    at full scale that fetch is a keyed multi-get against the corpus
    store, not a scan.

    Returns the family's verdict contract: (doc_id, dup_of_history,
    dup_in_batch, keep) per batch doc.

    ``history_shingled`` / ``batch_shingled`` — already-shingled
    ``(doc_id, shs)`` frames for the respective sides — feed both the
    band-index signatures and the exact-Jaccard verification, skipping
    every ``word_shingles_text`` re-computation (the twin-verdict
    queries compute the shingle transform once and share it across
    both arms). Both must be passed for the verification path to use
    them; ``history_bands`` still wins for the history band index."""
    if k is None or bands is None:
        k, bands = lsh_banding_params(threshold)
    if k % bands != 0:
        raise ValueError(f"k={k} must be divisible by bands={bands}")

    def tagged(bands_df: DataFrame, side: int) -> DataFrame:
        return bands_df.select(
            F.lit(side).alias("side"), "doc_id", "band", "bkey"
        )

    if history_bands is not None:
        _validate_history_bands(history_bands, k, bands, n)
    hist_b = (
        history_bands
        if history_bands is not None
        else minhash_band_index(
            history, k=k, bands=bands, n=n, shingled=history_shingled
        )
    )
    bd = tagged(hist_b, 0).union(
        tagged(
            minhash_band_index(
                batch, k=k, bands=bands, n=n, shingled=batch_shingled
            ),
            1,
        )
    )
    buckets = bd.groupBy("band", "bkey").agg(
        F.array_sort(F.collect_set(F.struct("side", "doc_id"))).alias("ds")
    )
    if max_bucket_size is not None:
        # degenerate-corpus valve, same contract as minhash_lsh_pairs
        buckets = buckets.observe(
            "incremental_minhash_bucket_cap",
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(
                (F.size("ds") > max_bucket_size).cast("long")
            ).alias("n_dropped_buckets"),
        ).filter(F.size("ds") <= max_bucket_size)
    halves = buckets.select(
        F.filter("ds", lambda s: s["side"] == 0).alias("hs"),
        F.filter("ds", lambda s: s["side"] == 1).alias("bs"),
    ).filter((F.size("bs") >= 1) & (F.size("hs") + F.size("bs") >= 2))
    p1 = halves.select("hs", "bs", F.posexplode("bs").alias("i", "b"))
    cand = (
        p1.select(
            F.col("b.doc_id").alias("doc_b"),
            F.explode(
                F.concat(F.col("hs"), F.slice("bs", 1, F.col("i")))
            ).alias("a"),
        )
        .select(
            F.col("a.side").alias("a_side"),
            F.col("a.doc_id").alias("doc_a"),
            "doc_b",
        )
        .distinct()
    )
    # size-gated candidate broadcast, verification over candidate docs
    # only — same discipline as minhash_lsh_pairs. localCheckpoint, not
    # persist: the streaming near-dedup sink calls this every
    # microbatch, and persisted frames are pinned in the CacheManager
    # until explicit unpersist — checkpoint blocks instead free on GC.
    cand = cand.localCheckpoint(eager=True)
    n_pairs = cand.count()
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b")))
        .distinct()
    )
    if n_pairs <= broadcast_pairs_limit:
        cand_docs = F.broadcast(cand_docs)
    if history_shingled is not None and batch_shingled is not None:
        # shared shingles: verification reads the precomputed arrays
        # instead of re-shingling candidate texts
        all_sh = history_shingled.select("doc_id", "shs").union(
            batch_shingled.select("doc_id", "shs")
        )
        shs = all_sh.join(cand_docs, "doc_id")
    else:
        all_docs = history.select("doc_id", "text").union(
            batch.select("doc_id", "text")
        )
        shs = all_docs.join(cand_docs, "doc_id").select(
            "doc_id", word_shingles_text(F.col("text"), n).alias("shs")
        )
    a = shs.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a"))
    b = shs.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b"))
    n_inter = F.size(F.array_intersect("shs_a", "shs_b"))
    jac = F.round(n_inter / (F.size("shs_a") + F.size("shs_b") - n_inter), 6)
    verified = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("a_side", "doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    verdict = verified.groupBy(F.col("doc_b").alias("doc_id")).agg(
        F.min(F.when(F.col("a_side") == 0, F.col("doc_a"))).alias(
            "dup_of_history"
        ),
        F.min(F.when(F.col("a_side") == 1, F.col("doc_a"))).alias(
            "dup_in_batch"
        ),
    )
    return (
        batch.select("doc_id")
        .join(verdict, "doc_id", "left")
        .select(
            "doc_id",
            "dup_of_history",
            "dup_in_batch",
            (
                F.col("dup_of_history").isNull()
                & F.col("dup_in_batch").isNull()
            ).alias("keep"),
        )
    )


def incremental_embed_dedup(
    history: DataFrame,
    batch: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks_left: int | None = None,
    n_blocks_right: int | None = None,
) -> DataFrame:
    """Op 52e: incremental EMBEDDING dedup — near-dedup a new batch of
    vectors against an already-ingested corpus at cosine ≥ threshold,
    plus earlier-in-batch near-dups. The embedding sibling of
    :func:`incremental_dedup` / :func:`incremental_ngram_dedup`.

    Scale shape: history×batch runs as a CROSS-frame blocked GEMM
    (|H|·|B| dots — never (|H|+|B|)², history only ever shuffles as
    packed block rows) and batch×batch as the self-pair blocked GEMM
    over the (small) increment. Exact math → full SQL oracle; the
    sub-quadratic variant at web scale is probing the batch against a
    history IVF/LSH index (ops 54's machinery) with this operator as
    its verification step."""
    from hbase_bulkload_spark.operators import similarity

    hist_pairs = similarity.cross_cosine_pairs(
        history,
        batch,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        n_blocks_left=n_blocks_left,
        n_blocks_right=n_blocks_right,
    )
    batch_pairs = similarity.cosine_pairs_exact(
        batch,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        n_blocks=n_blocks_right,
    )
    verdict_h = hist_pairs.groupBy(F.col("right_id").alias(id_col)).agg(
        F.min("left_id").alias("dup_of_history")
    )
    # min-id policy within the batch: vec_id_a < vec_id_b by contract
    verdict_b = batch_pairs.groupBy(F.col("vec_id_b").alias(id_col)).agg(
        F.min("vec_id_a").alias("dup_in_batch")
    )
    return (
        batch.select(F.col(id_col))
        .join(verdict_h, id_col, "left")
        .join(verdict_b, id_col, "left")
        .select(
            id_col,
            "dup_of_history",
            "dup_in_batch",
            (
                F.col("dup_of_history").isNull()
                & F.col("dup_in_batch").isNull()
            ).alias("keep"),
        )
    )


def semantic_dedup(
    embeddings: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): partition the
    corpus into embedding clusters, then apply the min-id cosine dedup
    policy WITHIN each cluster only — the published recipe for scaling
    embedding dedup past the quadratic all-pairs wall.

    Determinism (what makes this full-oracle where k-means isn't):
    centroids are the ``n_clusters`` vectors with the smallest
    ``(md5(id), id)`` — an engine-portable pseudo-random sample, no RNG,
    no iteration; assignment is a single nearest-centroid pass by
    round-6 cosine with ties broken toward the smaller centroid id.
    This is exactly one Lloyd half-step, which is all SemDeDup needs
    from clustering: a blocking function, not a converged model.

    Scale shape: centroids collapse to ONE broadcast row
    (``collect_list`` of n_clusters structs), so assignment is map-only
    — per-row argmax over the centroid array inside codegen'd
    higher-order functions, zero exchanges. The only corpus-scale
    shuffles are the within-cluster self-join (equi key = cluster_id;
    pair count is sum of C(|cluster|,2), not C(n,2)) and the verdict
    aggregation. With n_clusters ~ n/1000 the pair work drops ~1000×
    vs `embedding_dedup`'s exact path; missed cross-cluster pairs are
    the documented recall trade (the SemDeDup paper's finding is that
    near-dups co-locate in embedding space, so the loss is small).
    """
    from hbase_bulkload_spark.operators import similarity

    e = embeddings.select(id_col, vec_col)
    cent_arr = (
        e.withColumn("_r", F.md5(F.col(id_col).cast("string")))
        .orderBy("_r", id_col)
        .limit(n_clusters)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("cvec"),
        )
        .agg(F.collect_list(F.struct("centroid_id", "cvec")).alias("_cents"))
    )
    # map-only assignment: argmax cosine over the broadcast centroid
    # array; struct max = (highest cos, then highest -id = lowest id)
    best = F.array_max(
        F.transform(
            "_cents",
            lambda c: F.struct(
                similarity.cosine(F.col(vec_col), c["cvec"]).alias("c"),
                (-c["centroid_id"]).alias("nid"),
            ),
        )
    )
    av = (
        e.join(F.broadcast(cent_arr))
        .withColumn("cluster_id", (-best["nid"]).cast("bigint"))
        .drop("_cents")
    )

    # within-cluster pairs via per-cluster float64 GEMM (the SemDeDup
    # paper's own shape) — one shuffle on cluster_id, then numpy matmul
    # per group instead of a self-join with per-pair expression cosine
    # (measured 5× slower at sf0.1). Cluster size is the working-set
    # knob: n_clusters ~ n/1000 keeps each GEMM a few-MB dense block.
    # numpy emits RAW cosines with a 1e-6 keep-margin; the HALF_UP
    # round-6 + threshold run JVM-side so hashes match the oracle
    # exactly (same discipline as similarity.cosine_pairs_exact).
    def cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "raw_cos": []})
        order = np.argsort(pdf[id_col].to_numpy())
        ids = pdf[id_col].to_numpy()[order]
        V = np.array(pdf[vec_col].to_list(), dtype=np.float64)[order]
        # zero-norm guard: an all-zero embedding must yield cosine 0
        # (→ never a dup pair), not a NaN that would contaminate its
        # whole GEMM row/column — mirrors the JVM similarity.cosine
        # path where 0/0 → NULL and NULL ≥ threshold is false
        nrm = np.linalg.norm(V, axis=1, keepdims=True)
        V /= np.where(nrm == 0, 1.0, nrm)
        C = V @ V.T
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = C[iu, ju] >= threshold - 1e-6
        return pd.DataFrame(
            {
                "id_a": ids[iu[keep]],
                "id_b": ids[ju[keep]],
                "raw_cos": C[iu, ju][keep],
            }
        )

    pairs = (
        av.groupBy("cluster_id")
        .applyInPandas(cluster_pairs, "id_a long, id_b long, raw_cos double")
        .withColumn("cos_sim", F.round("raw_cos", 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )
    verdict = pairs.groupBy(F.col("id_b").alias(id_col)).agg(
        F.min("id_a").alias("dup_of"),
        F.max("cos_sim").alias("max_sim"),
    )
    return av.select(id_col, "cluster_id").join(verdict, id_col, "left").select(
        id_col,
        "cluster_id",
        "dup_of",
        "max_sim",
        F.col("dup_of").isNotNull().alias("is_dup"),
    )


#: k-gram width for duplicated-span detection: 8 words ≈ the shortest
#: run that is almost never coincidental prose overlap (same width the
#: decontamination gate uses; published substring-dedup pipelines use
#: 50 BPE tokens on web scale — the knob, not the algorithm).
DUP_SPAN_NGRAM = 8


def duplicated_spans(
    docs: DataFrame,
    k: int = DUP_SPAN_NGRAM,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level exact substring dedup (the distributed reformulation
    of Lee et al. 2022's suffix-array method): report, per document, the
    maximal token spans covered by some ``k``-gram that also occurs in
    at least one OTHER document. Downstream pipelines cut these spans
    (boilerplate, licenses, chain letters) instead of dropping whole
    docs — span-level where ops 52/53 are document-level.

    Dataflow: every k-gram *occurrence* (doc, position) is emitted
    map-side as its ``xxhash64`` (codegen'd ``transform`` over a
    positional ``sequence`` — no Python, no per-token lambda explosion,
    and the shuffle carries an 8-byte key instead of the ~5k-byte gram
    text: measured 1.25× at sf0.1, ~5× fewer exchange bytes at any
    scale; a 64-bit collision merging two distinct grams needs ~2^32
    distinct grams — the same injectivity bet the md5 dedup family
    makes, and the oracle run confirms value-identical results on the
    test corpora); a gram is "duplicated" iff min(doc) ≠ max(doc) over
    its posting list — ONE partial-agg shuffle, no count-distinct
    expand, no pair join (linear where the pairwise methods are
    quadratic). Duplicated positions then merge into maximal spans
    with gaps-and-islands (overlapping-or-adjacent ⇔ pos - prev_pos
    ≤ k) on a per-doc window.

    Scale: shuffle volume is one row per token occurrence (the same
    order as the corpus itself); the islands window partitions by doc —
    no skew beyond document length. Suffix arrays find duplicates of
    ANY length ≥ threshold; the k-gram grid finds runs ≥ k, losing only
    duplicates shorter than k — the standard trade for a shuffle-native
    formulation.
    """
    from pyspark.sql import Window

    toks = tokens(F.col(text_col))
    n = F.size(toks)
    gram_arr = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i, k))),
        ),
    ).otherwise(F.array().cast("array<long>"))
    grams = docs.select(
        F.col(id_col), F.posexplode(gram_arr).alias("_p0", "gkey")
    ).select(F.col(id_col), (F.col("_p0") + 1).alias("pos"), "gkey")

    dup_grams = (
        grams.groupBy("gkey")
        .agg(F.min(id_col).alias("_mn"), F.max(id_col).alias("_mx"))
        .filter(F.col("_mn") != F.col("_mx"))
        .select("gkey")
    )
    dpos = grams.join(dup_grams, "gkey").select(id_col, "pos")

    w = Window.partitionBy(id_col).orderBy("pos")
    isl = dpos.withColumn(
        "_new",
        F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn(
        "_isl",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy(id_col, "_isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k - 1).alias("span_end"),
            F.count("*").alias("n_dup_grams"),
        )
        .select(id_col, "span_start", "span_end", "n_dup_grams")
    )


def decontaminate(
    docs: DataFrame,
    is_benchmark,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_shingle_limit: int = 5_000_000,
) -> DataFrame:
    """Benchmark decontamination — the training-corpus hygiene step that
    keeps eval data out of the training set: flag every training
    document sharing at least one word ``n``-gram with the benchmark
    split (the standard n-gram-overlap contamination test; n = 8-13 in
    published pipeline reports).

    ``is_benchmark`` is a boolean Column predicate splitting the corpus.

    Scale shape: both sides extract shingles map-side (one codegen'd
    regex pass, ``word_shingles_text``); the benchmark shingle set is
    distinct-reduced and — being benchmark-sized, not corpus-sized —
    broadcasts into a semi-join against the training side's exploded
    shingles, so the corpus-scale frame is never shuffled on the
    shingle key. Per-doc overlap counts then reduce on doc_id (one
    row per doc before the join back).

    The broadcast hint is SIZE-GATED (same contract as the LSH and
    index-lookup gates, not hardcoded): the distinct benchmark shingle
    set is materialized (localCheckpoint) and counted once, and past
    ``broadcast_shingle_limit`` (~40 MB of 8-byte hashes at the
    default) the hint is omitted so a corpus-sized "benchmark" split
    degrades to an AQE-planned shuffle semi-join instead of a forced
    unbounded broadcast.
    """
    # shingles compare as 8-byte xxhash64 keys (hashed map-side inside
    # the same codegen'd transform): the semi-join and overlap count
    # use them only for equality, so the corpus-side explode and the
    # broadcast set shrink ~2× — same injectivity bet as
    # ngram_jaccard_pairs
    sh = F.explode(
        F.transform(word_shingles_text(text_col, n), lambda s: F.xxhash64(s))
    ).alias("shingle")
    # localCheckpoint, not persist — gate-frame reuse without a
    # session-lifetime CacheManager entry (see minhash_lsh_pairs note)
    bench_sh = (
        docs.filter(is_benchmark)
        .select(sh)
        .distinct()
        .localCheckpoint(eager=True)
    )
    if bench_sh.count() <= broadcast_shingle_limit:
        bench_sh = F.broadcast(bench_sh)
    train = docs.filter(~is_benchmark)
    hits = (
        train.select(F.col(id_col), sh)
        .join(bench_sh, "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.countDistinct("shingle").alias("n_overlap"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) > 0).alias("contaminated"),
        )
    )
