"""Training-data-pipeline extension queries (north-star ops, SURVEY.md
§2.14 ops 52-56): dedup family, vector similarity search, text analysis,
multimodal plumbing.

Oracle policy: exact operators (hash dedup, n-gram Jaccard, brute-force
cosine, text metrics, the deterministic multimodal decode) are
full-oracle; probabilistic-recall operators (MinHash-LSH, SimHash,
hyperplane-LSH, IVF) are rows-only by design — their *verification*
steps are exact, but recall is sampling/probe-dependent (SURVEY.md §7.4
item 3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from hbase_bulkload_spark import datasets
from hbase_bulkload_spark.datasets import table
from hbase_bulkload_spark.functions import text as T
from hbase_bulkload_spark.operators import dedup, multimodal, similarity
from hbase_bulkload_spark.session import oracle_safe

SIM_THRESHOLD = 0.4
JACCARD_THRESHOLD = 0.5
N_QUERIES = 8  # vec_id < 8 form the similarity-search query set

#: Committed oracle reference fixtures, in the checkout this package
#: is imported from.
ORACLE_FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "fixtures",
)


def _docs(spark, sf_dir, floor: bool = False) -> DataFrame:
    """``floor=True`` only for the measured per-row-HEAVY consumers
    (rolling-hash fingerprint, triple-regex redaction, per-row DCT,
    k-gram hashing, repetition array math): on this corpus size the
    round-robin exchange costs ~0.2-0.3 s, which most doc queries lose
    (A/B at sf0.1: q_dedup_exact 0.11 s unfloored vs 0.42 s floored)
    and the heavy ones win big (q_multimodal_phash 7.4 s → 1.2 s,
    q_dedup_substring 3.6 s → 1.6 s, q_text_fingerprint 2.3 s → 1.0 s).
    The floor itself is still a no-op on splittable cluster inputs —
    this knob decides who PAYS for the unsplittable local fixture."""
    return table(
        oracle_safe(spark), sf_dir, "documents", floor_parallelism=floor
    )


def q_scan_jsonl(spark, sf_dir) -> DataFrame:
    """Op 5b: JSON-lines corpus scan (explicit schema, no inference) —
    the interchange format of real web-corpus pipelines, read through
    Spark's native JSON source (sources.records.scan_jsonl)."""
    from hbase_bulkload_spark.sources import records

    return records.scan_jsonl(oracle_safe(spark), sf_dir)


def _emb(spark, sf_dir, floor: bool = False) -> DataFrame:
    """Same policy as ``_docs``: measured A/B at sf0.1 — the blocked
    GEMMs over this embedding count are cheaper than the exchange
    (q_sim_topk_ivf 0.24 s unfloored vs 0.55 s floored); only the
    per-row higher-order-function cosine argmax of semantic dedup
    wins from flooring (1.69 s → 0.83 s)."""
    return table(
        oracle_safe(spark), sf_dir, "embeddings", floor_parallelism=floor
    )


# --- dedup -------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir) -> DataFrame:
    """Op 52: exact content-hash dedup (reuses the MD5 key layer)."""
    return dedup.exact_dedup(_docs(spark, sf_dir))


def q_dedup_ngram(spark, sf_dir) -> DataFrame:
    """Op 53 (exact path): word-3-gram Jaccard pairs ≥ threshold, with
    the default hot-shingle cap on (the oracle carries the identical
    HAVING predicate, so the cap itself is correctness-checked)."""
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir),
        threshold=JACCARD_THRESHOLD,
        max_shingle_freq=dedup.DEFAULT_MAX_SHINGLE_FREQ,
    )


#: Recall floors for the in-query verdict arms (full oracles since
#: round 6): each floor sits BELOW every recall measured across rounds
#: and scales (RECALL_r4/r5 artifacts + tests/test_recall.py: IVF
#: 0.925-1.0, LSH pairs 0.939-0.967, MinHash near-dup 1.0, incremental
#: MinHash verdicts 1.0), so the verdict boolean is a stable TRUE that
#: flips — and fails the driver's hash compare — only on a real
#: quality regression. Precision verdicts have no floor: every scale
#: path verifies candidates with the exact score, so an emitted
#: pair/flag outside the exact set is a bug, not noise.
NEAR_RECALL_FLOOR = 0.95
LSH_PAIR_RECALL_FLOOR = 0.9
IVF_RECALL_FLOOR = 0.9
INC_MINHASH_RECALL_FLOOR = 0.95


def _pair_recall_verdict(
    exact: DataFrame, approx: DataFrame, keys: list[str], floor: float
) -> DataFrame:
    """One-row verdict comparing an approximate pair set to its exact
    twin IN the query plan: (n_pairs_exact, recall_ok, precision_ok).
    The exact count is the oracle-computable anchor; the booleans are
    Spark-computed claims the oracle asserts literally TRUE (the same
    pattern that made the sketch aggregates full-oracle in round 5).
    Cost is the exact twin's plan plus a full outer join on pair ids —
    id pairs only, never payloads, so the verdict arm stays O(pairs)."""
    e = exact.select(*keys).withColumn("_ex", F.lit(1))
    a = approx.select(*keys).withColumn("_ap", F.lit(1))
    full = e.join(a, keys, "full")
    n_exact = F.sum("_ex")
    n_hit = F.sum(F.when(F.col("_ex").isNotNull() & F.col("_ap").isNotNull(), 1))
    n_spurious = F.sum(F.when(F.col("_ex").isNull(), 1))
    return full.agg(
        F.coalesce(n_exact, F.lit(0)).cast("bigint").alias("n_pairs_exact"),
        (F.coalesce(n_hit / n_exact, F.lit(1.0)) >= floor).alias("recall_ok"),
        (F.coalesce(n_spurious, F.lit(0)) == 0).alias("precision_ok"),
    )


#: Footer-count gate for the parallelism floor on the scale-path
#: dedup/LSH keys (round 10). Below this many rows the round-robin
#: exchange costs more than the single-core map stage it unlocks (the
#: sf0.1 A/Bs in _docs/_emb), so every ≤sf0.1 plan — bench, baseline,
#: driver gate — is byte-identical to rounds 1-9. Above it a
#: single-row-group fixture otherwise serializes the per-row-heavy
#: map side (shingle/MinHash explode, LSH signature + probe-key
#: explode) on ONE core: found by thread-sampling the round-10
#: sf10-density probe — 45-minute single-task sort stages while 31
#: cores idled, the real shape of the r9 "70-minute" probes. The
#: floor is what a 1000-executor deployment gets for free from a
#: many-file layout; the gate only exists because the probe fixtures
#: are deliberately single files.
FLOOR_ROWS = 16384

#: Above this many vectors the embedding frame is no longer pinned as
#: the LSH verification join's broadcast build (~2M x ~300B unsafe rows
#: ~= 600 MB — the edge of a sane driver/executor broadcast budget);
#: past it cosine_pairs_lsh forces sort-merge instead, because letting
#: AQE choose re-broadcasts the candidate side off its ~30:1
#: zstd-compressed stats (the round-10 sf10 probe failure).
LSH_BROADCAST_MAX_VECTORS = 2_000_000


def _scale_floor(sf_dir: str, name: str) -> bool:
    """True iff the fixture is big enough that the parallelism floor's
    exchange pays for itself (footer metadata, zero Spark jobs)."""
    return datasets.parquet_row_count(sf_dir, name) >= FLOOR_ROWS


def dedup_near_pairs(spark, sf_dir) -> DataFrame:
    """Raw MinHash+LSH pair output at the registered parameters (the
    round-1..5 q_dedup_near result; recall tooling and tests consume
    this directly). Scale-floored input (see FLOOR_ROWS): identical
    plan at ≤sf0.1, 32-way shingle/banding map side at probe scales."""
    return dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir, floor=_scale_floor(sf_dir, "documents")),
        threshold=JACCARD_THRESHOLD,
    )


def q_dedup_near(spark, sf_dir) -> DataFrame:
    """Op 53 (scale path) PRODUCTION PLAN — the registered key is the
    raw MinHash+LSH pair output of :func:`dedup_near_pairs`, exactly
    the round-1..5 q_dedup_near semantics (rounds 6-8 had swapped this
    key to the exact-twin verdict plan, which made the baseline
    comparison read the verdict overhead as a 3.1× "regression" of the
    production path; round 9 restores the original semantics here and
    moves the verdict to :func:`q_dedup_near_verdict`, mirroring the
    raw/verdict split the other two twins already use). FULL oracle,
    the exact uncapped n-gram Jaccard pair set: banding derived at the
    0.98 lsh_banding_params design floor catches EVERY fixture pair,
    so raw == exact — measured at sf0.001/0.01/0.1 and both sf1.0
    fixtures (250,600/250,600 pairs on the clique), deterministic
    under fixed seeds. A banding regression (parameter drift, band-key
    bug) makes pairs go missing and turns this key red — a strictly
    stronger check than the verdict key's 0.95 floor, without its
    twin cost."""
    return dedup_near_pairs(spark, sf_dir)


def q_dedup_near_verdict(spark, sf_dir) -> DataFrame:
    """Op 53 recall-verdict arm (the rounds-6-8 q_dedup_near plan):
    MinHash+LSH banding candidates, verified with exact Jaccard.
    FULL ORACLE since round 6 via the in-query verdict:
    the query runs BOTH the LSH arm and an exact n-gram Jaccard twin
    and emits (n_docs, n_checked, n_pairs_exact, recall_ok,
    precision_ok) — the oracle recomputes the exact pair count in SQL
    and asserts both booleans TRUE, so banding recall below
    NEAR_RECALL_FLOOR or a spurious emitted pair fails the driver's
    hash compare instead of hiding behind a rows-only row.

    BOUNDED TWIN since round 7: the exact arm runs on the
    deterministic md5-ranked first BRUTE_CHECK_CAP docs only (the
    `_banding_brute_verdict` subset pattern), and the LSH pairs are
    semi-join-filtered to that subset for the compare. At every gate
    scale ≤ cap (sf0.001/0.01: 500 docs, sf0.1: 5000) the subset IS
    the corpus, so the verdict there is complete equality with the
    round-6 uncapped twin; past the cap the checked prefix keeps the
    twin O(cap²) while the PRODUCTION LSH arm still runs the full
    corpus — no registered plan is quadratic in corpus size. Raw
    pairs: :func:`dedup_near_pairs`; measured recall per round:
    RECALL artifact.

    ``banding_over_budget`` (round 9): the verdict also carries the
    banding solve's signature-budget flag
    (dedup.lsh_banding_params_solve) — pinned FALSE in the oracle so a
    threshold drift into the r=2 fallback's k ≫ max_k regime turns
    this key red instead of just silently multiplying signature cost."""
    _, _, over_budget = dedup.lsh_banding_params_solve(JACCARD_THRESHOLD)
    docs = _docs(spark, sf_dir, floor=_scale_floor(sf_dir, "documents"))
    # NOT materialized (r11 A/B): checkpointing this 3×-consumed prefix
    # measured SLOWER at sf0.1 and sf3-density alike (12.53 s → 13.1 s
    # min-of-3 at sf3) — TakeOrderedAndProject over the corpus is
    # cheaper than the eager materialization barrier it would remove.
    checked = (
        docs.orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .limit(BRUTE_CHECK_CAP)
        .select("doc_id", "text")
    )
    exact = dedup.ngram_jaccard_pairs(
        checked, threshold=JACCARD_THRESHOLD, max_shingle_freq=None
    )
    ids = checked.select("doc_id")
    approx = (
        dedup_near_pairs(spark, sf_dir)
        .join(
            F.broadcast(ids.select(F.col("doc_id").alias("doc_a"))),
            "doc_a",
            "left_semi",
        )
        .join(
            F.broadcast(ids.select(F.col("doc_id").alias("doc_b"))),
            "doc_b",
            "left_semi",
        )
    )
    verdict = _pair_recall_verdict(
        exact, approx, ["doc_a", "doc_b"], NEAR_RECALL_FLOOR
    )
    counts = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")).select(
        "n_docs",
        F.least(F.col("n_docs"), F.lit(BRUTE_CHECK_CAP))
        .cast("bigint")
        .alias("n_checked"),
    )
    return counts.crossJoin(F.broadcast(verdict)).withColumn(
        "banding_over_budget", F.lit(bool(over_budget))
    )


#: Brute-force verification cap for the banding-vs-brute verdict arms:
#: signatures of the first BRUTE_CHECK_CAP docs in md5(doc_id) order are
#: all-pairs compared (bounded BNLJ over (id, int64) rows — ≤ cap²/2
#: cheap codegen'd comparisons, independent of corpus size). Every gate
#: scale (sf0.001/0.01: 500 docs, sf0.1: 5000) sits under the cap, so
#: the verdict there is COMPLETE equality, not a sample; past the cap
#: the checked subset is the deterministic md5-ranked prefix.
BRUTE_CHECK_CAP = 6000


def _banding_brute_verdict(
    sig: DataFrame, banded: DataFrame, n_docs: DataFrame, max_hamming: int
) -> DataFrame:
    """One-row verdict that chunk-banded hamming pairs EQUAL brute-force
    all-pairs hamming on the checked subset: (n_docs, n_checked,
    banding_matches_brute). Banding recall is pigeonhole-exact by
    theorem (operators.dedup.hamming_pairs_banded), so equality checks
    the IMPLEMENTATION — band-key construction, posting-list expansion,
    the bit_count filter — against an independent O(m²) enumeration.
    ``sig`` must be (doc_id, _sig) and should be pre-materialized so the
    signature stage isn't computed once per arm. The subset selection is
    orderBy+limit — TakeOrderedAndProject, a distributed per-partition
    top-cap (never a single-partition global sort), and the rows ranked
    are (id, int64) pairs, not payloads."""
    checked = (
        sig.orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .limit(BRUTE_CHECK_CAP)
        .select("doc_id", "_sig")
    )
    a = checked.select(F.col("doc_id").alias("doc_a"), F.col("_sig").alias("_sa"))
    b = checked.select(F.col("doc_id").alias("doc_b"), F.col("_sig").alias("_sb"))
    brute = (
        a.join(F.broadcast(b), F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))) <= max_hamming
        )
        .select("doc_a", "doc_b", F.lit(1).alias("_bf"))
    )
    ids = checked.select("doc_id")
    banded_sub = (
        banded.join(
            F.broadcast(ids.select(F.col("doc_id").alias("doc_a"))), "doc_a",
            "left_semi",
        )
        .join(
            F.broadcast(ids.select(F.col("doc_id").alias("doc_b"))), "doc_b",
            "left_semi",
        )
        .select("doc_a", "doc_b", F.lit(1).alias("_bd"))
    )
    verdict = (
        brute.join(banded_sub, ["doc_a", "doc_b"], "full")
        .agg(
            (
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("_bf").isNull() | F.col("_bd").isNull(), 1
                        )
                    ),
                    F.lit(0),
                )
                == 0
            ).alias("banding_matches_brute")
        )
    )
    counts = n_docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")).select(
        "n_docs",
        F.least(F.col("n_docs"), F.lit(BRUTE_CHECK_CAP))
        .cast("bigint")
        .alias("n_checked"),
    )
    return counts.crossJoin(F.broadcast(verdict))


def dedup_simhash_pairs(spark, sf_dir) -> DataFrame:
    """Raw SimHash banding pair output at the registered parameters."""
    return dedup.simhash_pairs(_docs(spark, sf_dir), max_hamming=3)


def q_dedup_simhash(spark, sf_dir) -> DataFrame:
    """Op 53 (bit-signature path): SimHash hamming-≤-3 pairs via
    Manku-refined chunk banding. FULL ORACLE since round 6: the
    signature itself is hash-design-dependent (not SQL-expressible),
    so the hashable output is the banding-vs-brute-force verdict —
    the query recomputes all-pairs hamming over the (bounded) checked
    subset and asserts the banded pair set equals it exactly, which the
    pigeonhole theorem guarantees for a correct implementation. Output
    (n_docs, n_checked, banding_matches_brute); the oracle recomputes
    both counts and asserts the verdict TRUE. Raw pairs:
    :func:`dedup_simhash_pairs`."""
    docs = _docs(spark, sf_dir)
    sig = (
        dedup.simhash64(docs)
        .select("doc_id", F.col("simhash").alias("_sig"))
        .localCheckpoint(eager=True)
    )
    banded = dedup.hamming_pairs_banded(sig, sig_col="_sig", max_hamming=3)
    return _banding_brute_verdict(sig, banded, docs, max_hamming=3)


def q_dedup_embed(spark, sf_dir) -> DataFrame:
    """Op 53e: embedding-cosine near-dedup — per-doc keep/drop verdicts
    (min-id policy) over exact cosine pairs ≥ threshold. Full oracle;
    method='lsh' is the registered scale path's probabilistic variant.
    GEMM blocks pre-sized from parquet footers (no sizing scan)."""
    n = datasets.parquet_row_count(sf_dir, "embeddings")
    return dedup.embedding_dedup(
        _docs(spark, sf_dir),
        _emb(spark, sf_dir),
        threshold=SIM_THRESHOLD,
        n_blocks=similarity.gemm_blocks(n),
    )


def q_dedup_incremental(spark, sf_dir) -> DataFrame:
    """Op 52b: incremental exact dedup — the new crawl batch
    (doc_id ≡ 0 mod 3) deduped against the already-ingested history
    (the rest) hash-to-hash, plus first-occurrence dedup within the
    batch; history is never re-shuffled on anything wider than its
    hash index (operators.dedup.incremental_dedup)."""
    docs = _docs(spark, sf_dir)
    return dedup.incremental_dedup(
        docs.filter(F.col("doc_id") % 3 != 0),
        docs.filter(F.col("doc_id") % 3 == 0),
    )


def q_dedup_incremental_near(spark, sf_dir) -> DataFrame:
    """Op 52d: incremental NEAR dedup — the new crawl batch
    (doc_id ≡ 0 mod 3) near-deduped against the already-ingested
    history (the rest) by exact 3-gram Jaccard, plus earlier-in-batch
    near-dups; history is never paired against itself
    (operators.dedup.incremental_ngram_dedup). Full oracle: exact
    Jaccard is SQL-expressible, unlike the MinHash scale variant."""
    docs = _docs(spark, sf_dir)
    return dedup.incremental_ngram_dedup(
        docs.filter(F.col("doc_id") % 3 != 0),
        docs.filter(F.col("doc_id") % 3 == 0),
        threshold=JACCARD_THRESHOLD,
    )


def incremental_minhash_verdicts(
    spark,
    sf_dir,
    history_shingled: DataFrame | None = None,
    batch_shingled: DataFrame | None = None,
) -> DataFrame:
    """Raw per-doc keep/drop verdicts of the incremental MinHash dedup
    at the registered parameters (the round-1..5
    q_dedup_incremental_minhash result). Scale-floored input (see
    FLOOR_ROWS). The optional pre-shingled frames (see
    ``dedup.incremental_minhash_dedup``) let the twin-verdict caller
    share one shingle pass across both arms; results are identical
    either way (``word_shingles_text`` is deterministic)."""
    docs = _docs(spark, sf_dir, floor=_scale_floor(sf_dir, "documents"))
    return dedup.incremental_minhash_dedup(
        docs.filter(F.col("doc_id") % 3 != 0),
        docs.filter(F.col("doc_id") % 3 == 0),
        threshold=JACCARD_THRESHOLD,
        history_shingled=history_shingled,
        batch_shingled=batch_shingled,
    )


def q_dedup_incremental_minhash_raw(spark, sf_dir) -> DataFrame:
    """Op 52f PRODUCTION ARM, bench-visible since round 8: the raw
    per-doc keep/drop verdicts of :func:`incremental_minhash_verdicts`
    — exactly the round-1..5 q_dedup_incremental_minhash result — so
    the bench tracks the production incremental path while the verdict
    key keeps guarding recall against its uncapped exact twin. FULL
    oracle, the uncapped incremental n-gram SQL: banded incremental
    dedup at the 0.98 design floor reproduces the exact twin's verdicts
    on every fixture (measured equal at sf0.001/0.01/0.1 and both
    sf1.0 fixtures, 16,667/16,667 batch docs), deterministic under
    fixed seeds; a banding or stored-index regression flips keep
    booleans and turns this key red."""
    return incremental_minhash_verdicts(spark, sf_dir)


def q_dedup_incremental_minhash(spark, sf_dir) -> DataFrame:
    """Op 52f: incremental near-dedup at the MinHash scale tier — batch
    band keys vs the history band index, exact-Jaccard verification.
    FULL ORACLE since round 6 via the in-query verdict: the query runs
    BOTH the banded incremental dedup and its exact n-gram twin
    (q_dedup_incremental_near's operator) and emits one row
    (n_batch, n_checked, n_flagged_exact, recall_ok, precision_ok);
    the oracle recomputes the counts from the exact-twin SQL and
    asserts the booleans TRUE. recall_ok = the banded pass flags ≥
    INC_MINHASH_RECALL_FLOOR of the exactly-flagged docs; precision_ok
    = it never flags a doc the exact pass keeps (candidates verify
    with exact Jaccard, so a spurious flag is a bug). The twin runs
    UNCAPPED (max_shingle_freq=None) because MinHash verification
    scores full shingle sets — against the capped twin, every true
    dup the hot-shingle valve drops would mislabel as a spurious
    MinHash flag (3807 docs at sf1.0, where the cap first binds).

    BOUNDED TWIN since round 7: the exact arm verifies only the
    deterministic md5-ranked first BRUTE_CHECK_CAP batch docs
    (``verify_ids=``) — each still compared against ALL history and
    ALL earlier batch docs, so per-doc verdicts equal the full run's
    — and the PRODUCTION MinHash arm (full batch) is compared on that
    subset. Every gate scale ≤ cap checks the complete batch; past it
    the uncapped twin's pair expansion is bounded by the checked
    prefix instead of growing quadratically with hot-shingle postings.
    Raw verdicts: :func:`incremental_minhash_verdicts`."""
    docs = _docs(spark, sf_dir, floor=_scale_floor(sf_dir, "documents"))
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    # SHARED SHINGLES (r11, guide §1.2 "don't compute things you throw
    # away"): the exact arm's two posting streams, the MinHash arm's
    # signature pass, and the exact-Jaccard verification each re-ran
    # word_shingles_text (regex tokenization — the expensive
    # per-element transform) over overlapping doc sets: ~3 full-corpus
    # shingle passes plus a candidate pass per query. One eager
    # checkpoint of (doc_id, shs) feeds all of them. Unlike the
    # checked-prefix checkpoint A/B'd negative below, this materialized
    # frame sits ABOVE real per-element compute — the same shape as
    # q_sim_pairs_ivf_clustered's winning twin-corpus materialization.
    shingled = docs.select(
        "doc_id", T.word_shingles_text(F.col("text"), 3).alias("shs")
    ).localCheckpoint(eager=True)
    hist_sh = shingled.filter(F.col("doc_id") % 3 != 0)
    batch_sh = shingled.filter(F.col("doc_id") % 3 == 0)
    # NOT materialized (r11 A/B): an eager checkpoint of this id set
    # measured slower at sf0.1 and sf3-density (16.33 s → 17.67 s
    # min-of-3 at sf3) than letting both semi-join consumers re-run
    # the distributed top-cap.
    checked_ids = (
        batch.orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .limit(BRUTE_CHECK_CAP)
        .select("doc_id")
    )
    exact = dedup.incremental_ngram_dedup(
        docs.filter(F.col("doc_id") % 3 != 0),
        batch,
        threshold=JACCARD_THRESHOLD,
        max_shingle_freq=None,
        verify_ids=checked_ids,
        history_shingled=hist_sh,
        batch_shingled=batch_sh,
    ).select("doc_id", F.col("keep").alias("_ek"))
    approx = incremental_minhash_verdicts(
        spark, sf_dir, history_shingled=hist_sh, batch_shingled=batch_sh
    ).select("doc_id", F.col("keep").alias("_ak"))
    n_flagged = F.sum((~F.col("_ek")).cast("long"))
    n_both = F.sum((~F.col("_ek") & ~F.col("_ak")).cast("long"))
    n_spurious = F.sum((F.col("_ek") & ~F.col("_ak")).cast("long"))
    verdict = exact.join(approx, "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_checked"),
        F.coalesce(n_flagged, F.lit(0)).cast("bigint").alias("n_flagged_exact"),
        (
            F.coalesce(n_both / n_flagged, F.lit(1.0))
            >= INC_MINHASH_RECALL_FLOOR
        ).alias("recall_ok"),
        (F.coalesce(n_spurious, F.lit(0)) == 0).alias("precision_ok"),
    )
    counts = batch.agg(F.count(F.lit(1)).cast("bigint").alias("n_batch"))
    return counts.crossJoin(F.broadcast(verdict)).select(
        "n_batch", "n_checked", "n_flagged_exact", "recall_ok", "precision_ok"
    )


def q_dedup_incremental_embed(spark, sf_dir) -> DataFrame:
    """Op 52e: incremental embedding dedup — the new batch of vectors
    (vec_id ≡ 0 mod 3) near-deduped against the ingested history at
    cosine ≥ threshold via a cross-frame blocked GEMM (history is never
    paired with itself), plus earlier-in-batch pairs. Block counts are
    pre-sized from the parquet footer row count (no sizing scan)."""
    n = datasets.parquet_row_count(sf_dir, "embeddings")
    emb = _emb(spark, sf_dir)
    return dedup.incremental_embed_dedup(
        emb.filter(F.col("vec_id") % 3 != 0),
        emb.filter(F.col("vec_id") % 3 == 0),
        threshold=SIM_THRESHOLD,
        n_blocks_left=similarity.gemm_blocks(2 * n // 3),
        n_blocks_right=similarity.gemm_blocks(n // 3),
    )


def q_dedup_semantic(spark, sf_dir) -> DataFrame:
    """Op 53f: SemDeDup — deterministic centroid blocking (md5-sampled
    seeds, one nearest-centroid pass), then the min-id cosine dedup
    policy within each cluster only. The sub-quadratic published recipe
    for embedding dedup at corpus scale; full oracle because every step
    (seed pick, round-6 cosine argmax, within-cluster pairs) is an
    engine-portable deterministic function."""
    return dedup.semantic_dedup(
        _emb(spark, sf_dir, floor=True), n_clusters=8, threshold=SIM_THRESHOLD
    )


def q_dedup_substring(spark, sf_dir) -> DataFrame:
    """Op 53g: span-level exact substring dedup (Lee et al. 2022
    reformulated for shuffle execution) — maximal token spans covered
    by an 8-gram occurring in ≥ 2 documents, merged per doc with
    gaps-and-islands."""
    return dedup.duplicated_spans(_docs(spark, sf_dir, floor=True))


# --- similarity search --------------------------------------------------------

def q_sim_topk(spark, sf_dir) -> DataFrame:
    """Op 54: exact cosine top-5 for the query set (brute force —
    linear scan, broadcast queries)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return similarity.brute_force_topk(emb, queries, k=5)


def q_sim_pairs(spark, sf_dir) -> DataFrame:
    """Op 54/53e: exact embedding-cosine near-dup pairs ≥ threshold.
    GEMM blocks pre-sized from the parquet footer row count — no
    sizing scan."""
    n = datasets.parquet_row_count(sf_dir, "embeddings")
    return similarity.cosine_pairs_exact(
        _emb(spark, sf_dir),
        threshold=SIM_THRESHOLD,
        n_blocks=similarity.gemm_blocks(n),
    )


def sim_topk_ivf_raw(spark, sf_dir) -> DataFrame:
    """Raw IVF top-k output at the registered parameters (the
    round-1..5 q_sim_topk_ivf result)."""
    n = datasets.parquet_row_count(sf_dir, "embeddings")
    n_centroids, n_probe = similarity.ivf_auto_params(n)
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return similarity.ivf_topk(
        emb, queries, k=5, n_centroids=n_centroids, n_probe=n_probe
    )


def q_sim_topk_ivf(spark, sf_dir) -> DataFrame:
    """Op 54 (ANN scale path): IVF — coarse-quantize into cells, probe
    the n_probe nearest cells per query (√n centroids, constant probe
    fraction, from the footer row count). FULL ORACLE since round 6 via
    the in-query verdict: the query runs BOTH the IVF probe and the
    exact brute-force twin and emits one row
    (n_queries, n_exact, recall_ok); the oracle recomputes the exact
    top-k support in SQL and asserts recall_ok TRUE (aggregate
    recall@5 ≥ IVF_RECALL_FLOOR — the measured values per scale sit at
    0.925-1.0). No precision verdict: IVF's k results legitimately
    differ from the exact top-k when a probed cell misses a neighbor.
    Raw top-k rows: :func:`sim_topk_ivf_raw`."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = similarity.brute_force_topk(emb, queries, k=5).select(
        "query_id", "cand_id", F.lit(1).alias("_ex")
    )
    approx = sim_topk_ivf_raw(spark, sf_dir).select(
        "query_id", "cand_id", F.lit(1).alias("_ap")
    )
    full = exact.join(approx, ["query_id", "cand_id"], "full")
    n_exact = F.sum("_ex")
    n_hit = F.sum(F.when(F.col("_ex").isNotNull() & F.col("_ap").isNotNull(), 1))
    return full.agg(
        F.countDistinct(F.when(F.col("_ex").isNotNull(), F.col("query_id")))
        .cast("bigint")
        .alias("n_queries"),
        F.coalesce(n_exact, F.lit(0)).cast("bigint").alias("n_exact"),
        (F.coalesce(n_hit / n_exact, F.lit(1.0)) >= IVF_RECALL_FLOOR).alias(
            "recall_ok"
        ),
    )


def sim_pairs_lsh_raw(spark, sf_dir) -> DataFrame:
    """Raw hyperplane-LSH pair output at the registered parameters (the
    round-1..5 q_sim_pairs_lsh result). Sizing via
    ``similarity.lsh_plan_solve`` (round-10): at every gate/probe scale
    (n <= 200k) the plan is the radius-1 log2-planes config — bit-
    identical to the historical lsh_auto_params sizing, so the replay
    oracle (radius-1 probe SQL + radius-1 LUT) stays engine-exact; past
    the old 2^18 wall the plan escalates probe radius / reduces planes
    instead of abandoning the 0.95 recall target (no gated fixture
    reaches that regime — the escalation is covered by
    tests/test_param_sizing.py, not by a replay oracle)."""
    n = datasets.parquet_row_count(sf_dir, "embeddings")
    n_planes, radius, n_tables, _ = similarity.lsh_plan_solve(n, SIM_THRESHOLD)
    return similarity.cosine_pairs_lsh(
        _emb(spark, sf_dir),
        threshold=SIM_THRESHOLD,
        n_planes=n_planes,
        n_tables=n_tables,
        probe_radius=radius,
        broadcast_vectors=n <= LSH_BROADCAST_MAX_VECTORS,
        # signature-path-only repartition (NOT a whole-frame floor: the
        # verification join sides must stay statically-broadcastable
        # raw scans): unlocks the 32-way signature/explode map side a
        # single-row-group fixture otherwise serializes on one core
        signature_partitions=(
            spark.sparkContext.defaultParallelism if n >= FLOOR_ROWS else None
        ),
        pack_pair_ids=_lsh_pack_gate(sf_dir),
    )


def _lsh_pack_gate(sf_dir: str) -> bool:
    """Runtime max-id gate for the LSH candidate pair packing (r11
    verdict item 1, guide §2.3): pack (id_a, id_b) into one long only
    when parquet footer stats PROVE every embedding id fits u32 —
    metadata-scale I/O, no Spark job. Falls back LOUDLY (never
    silently) to the unpacked two-long plan when stats are missing or
    ids exceed the bound; the result set is identical either way, the
    packed plan just halves the candidate-dedup shuffle key."""
    import os

    # A/B override for interleaved scale measurements (and an escape
    # hatch): SPARK_GRAFT_LSH_PACK=0 forces the unpacked plan, =1
    # forces packed unless the footer stats prove an id out of u32
    # (only absent stats take the caller's word), unset → footer gate.
    forced = os.environ.get("SPARK_GRAFT_LSH_PACK", "")
    if forced in ("0", "false", "no"):
        return False
    mm = datasets.parquet_column_minmax(sf_dir, "embeddings", "vec_id")
    if mm is None and forced:
        return True
    if mm is not None and 0 <= mm[0] and mm[1] < (1 << 32):
        return True
    import warnings

    warnings.warn(
        "LSH pair packing disabled: embeddings.vec_id "
        + ("has no footer min/max stats" if mm is None else f"spans {mm}")
        + (f" (SPARK_GRAFT_LSH_PACK={forced} overruled)" if forced else "")
        + " — candidate dedup shuffles two longs per pair instead of one",
        RuntimeWarning,
        stacklevel=2,
    )
    return False


def q_sim_pairs_lsh_raw(spark, sf_dir) -> DataFrame:
    """Op 54 scale-path PRODUCTION ARM, bench-visible since round 8:
    the raw hyperplane-LSH verified pairs of :func:`sim_pairs_lsh_raw`
    — exactly the round-1..5 q_sim_pairs_lsh result — so the bench
    tracks the production plan (signature → multi-probe buckets →
    posting lists → exact-cosine verification) without the verdict
    key's bounded-GEMM twin. FULL oracle by REPLAY, not by a recall
    assumption: hyperplane LSH recall is < 1 by design (measured
    0.95-0.97 vs the exact twin — missed pairs are normal), so the
    DuckDB oracle regenerates the ENTIRE pipeline in SQL and emits the
    same pair set, misses included. That is possible because round 8
    made the signature engine-portable: integer ≈Gaussian planes from
    md5("t_p_d") (the one hash both engines share) and int64
    fixed-point dot products
    (operators/similarity.py::_hyperplanes, LSH_QUANT), so
    signature bits are bit-identical between numpy and SQL; the
    (planes → tables) sizing rides in as a Python-computed lookup
    literal (lsh_tables_for_planes) to keep transcendental ceil()
    boundaries out of the SQL."""
    return sim_pairs_lsh_raw(spark, sf_dir)


def q_sim_pairs_lsh(spark, sf_dir) -> DataFrame:
    """Scale path: random-hyperplane LSH buckets (multi-probe radius 1,
    plane/table counts from similarity.lsh_auto_params) → exact cosine
    verification. FULL ORACLE since round 6 via the in-query verdict:
    the query runs BOTH the LSH arm and the exact blocked-GEMM twin and
    emits (n_vecs, n_checked, n_pairs_exact, recall_ok, precision_ok);
    the oracle recomputes the exact pair count and asserts both
    booleans TRUE (recall floor LSH_PAIR_RECALL_FLOOR — measured
    0.939-0.967 per scale; precision is exact by construction,
    candidates verify with the exact cosine).

    BOUNDED TWIN since round 7: the exact blocked-GEMM arm runs on the
    deterministic md5-ranked first BRUTE_CHECK_CAP vectors only, and
    the LSH pairs are semi-join-filtered to that subset for the
    compare. Every gate scale ≤ cap (sf0.1: 2000 vectors) checks the
    complete corpus; past the cap the twin is O(cap²) while the
    PRODUCTION LSH arm still runs the full corpus — the registered
    plan is no longer quadratic in corpus size (the r6 sf3-density
    probe's 4.6× step was this GEMM twin). Raw pairs:
    :func:`sim_pairs_lsh_raw`.

    ``tables_capped`` (round 9, re-contracted round 10): the verdict
    carries the sizing solve's capped flag — now from
    ``lsh_plan_solve``, whose radius/plane escalation satisfies the
    0.95 recall solve at EVERY corpus size within 256 tables (the
    round-9 wall at n > 2^18 was radius-1-only sizing; radius-2
    multi-probe collapses the table solve back under the budget, see
    the solver docstring). The oracle still pins the flag literally
    FALSE: it can only trip if the recall target were raised past what
    (8 planes, radius 2, 256 tables) delivers — a contract change, not
    a corpus-growth event, so RED would mean the registered parameters
    themselves changed."""
    n = datasets.parquet_row_count(sf_dir, "embeddings")
    _, _, _, tables_capped = similarity.lsh_plan_solve(n, SIM_THRESHOLD)
    emb = _emb(spark, sf_dir)
    # NOT materialized (r11 A/B on the sibling verdict keys): the
    # checked prefix is a cheap distributed top-cap; an eager
    # checkpoint barrier measured slower at gate AND sf3-density scale.
    checked = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(BRUTE_CHECK_CAP)
    )
    exact = similarity.cosine_pairs_exact(
        checked,
        threshold=SIM_THRESHOLD,
        n_blocks=similarity.gemm_blocks(min(n, BRUTE_CHECK_CAP)),
    )
    # EXPLICIT in-plan restriction to the checked subset (round 10):
    # the after-the-fact semi-joins used to be pushed below the
    # verification UDF by the optimizer; the asNondeterministic flag
    # (which stops the UDF's duplicated eval) forbids that reorder, so
    # without restrict_ids this arm would exact-verify the FULL
    # corpus's candidates (measured 69.8 s -> 292 s at sf3-density).
    # Identical result set: semi-filtering commutes with per-pair
    # verification.
    n_planes, radius, n_tables, _ = similarity.lsh_plan_solve(n, SIM_THRESHOLD)
    approx = similarity.cosine_pairs_lsh(
        _emb(spark, sf_dir),
        threshold=SIM_THRESHOLD,
        n_planes=n_planes,
        n_tables=n_tables,
        probe_radius=radius,
        broadcast_vectors=n <= LSH_BROADCAST_MAX_VECTORS,
        signature_partitions=(
            spark.sparkContext.defaultParallelism if n >= FLOOR_ROWS else None
        ),
        restrict_ids=checked.select("vec_id"),
    )
    verdict = _pair_recall_verdict(
        exact, approx, ["vec_id_a", "vec_id_b"], LSH_PAIR_RECALL_FLOOR
    )
    counts = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs")).select(
        "n_vecs",
        F.least(F.col("n_vecs"), F.lit(BRUTE_CHECK_CAP))
        .cast("bigint")
        .alias("n_checked"),
    )
    return counts.crossJoin(F.broadcast(verdict)).withColumn(
        "tables_capped", F.lit(bool(tables_capped))
    )


#: q_sim_pairs_ivf registered parameters: 2 nearest cells per vector.
IVF_PAIR_ASSIGN = 2

#: q_sim_pairs_ivf_clustered (round 11 — verdict item 4a): the SemDeDup
#: regime where IVF blocking honestly holds a recall floor. The corpus
#: is the embeddings table UNION a deterministic near-dup twin per
#: vector (v'_i = float32(v_i + TWIN_ALPHA·v_{i-1 mod d}) — a shifted
#: self-mix, cos(v, v') ≈ 1/sqrt(1+α²(1+2r)) ≈ 0.94 on this fixture),
#: so every planted pair qualifies at threshold 0.7 while the base
#: corpus contributes nothing above it (its pair mass lives in
#: cos [0.4, 0.5)). Blocking recall measured 0.994-0.996 at 3-assign
#: across the gate fixtures (round-11 sweep; 2-assign measures
#: 0.94-0.97) — the floor is pinned at 0.9.
CLUSTERED_SIM_THRESHOLD = 0.7
TWIN_ALPHA = 0.35
TWIN_ID_OFFSET = 1 << 40
IVF_CLUSTERED_ASSIGN = 3
IVF_CLUSTERED_RECALL_FLOOR = 0.9


def _clustered_emb(spark, sf_dir) -> DataFrame:
    """Embeddings ∪ deterministic near-dup twins (the q_sim_pairs_ivf_
    clustered corpus). Twin arithmetic runs in DOUBLE and rounds back
    to FLOAT32 in the JVM — one IEEE multiply-add per element, so the
    DuckDB oracle's CAST(... AS FLOAT) replay is bit-identical and the
    round-6 cosine discipline downstream is unchanged."""
    emb = _emb(spark, sf_dir)
    prev = lambda v, i: F.element_at(  # noqa: E731 — 0-based i → 1-based prior slot
        v, ((i + F.size(v) - F.lit(1)) % F.size(v)) + F.lit(1)
    )
    twin = emb.select(
        (F.col("vec_id") + F.lit(TWIN_ID_OFFSET)).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: (
                x.cast("double")
                + F.lit(TWIN_ALPHA) * prev(F.col("embedding"), i).cast("double")
            ).cast("float"),
        ).alias("embedding"),
    )
    return emb.select("vec_id", "embedding").unionByName(twin)


def q_sim_pairs_ivf_clustered(spark, sf_dir) -> DataFrame:
    """Op 54 (round 11 — verdict item 4a): IVF-blocked cosine pairs on
    the CLUSTERED twin corpus with an in-query recall verdict the
    oracle asserts literally TRUE (floor ``IVF_CLUSTERED_RECALL_FLOOR``)
    — the q_sim_pairs_lsh contract applied to the IVF blocking path on
    its design regime (SemDeDup: genuine near-dup clusters at
    cos ≥ ~0.9, threshold 0.7), complementing q_sim_pairs_ivf's
    replay oracle on the unstructured tail where no blocking scheme
    holds a floor. Bounded twin: the exact blocked-GEMM arm runs on the
    md5-ranked first BRUTE_CHECK_CAP vectors (every gate scale ≤ cap →
    complete corpus) while the PRODUCTION IVF arm runs the full union —
    n^1.5 blocking work, never a quadratic twin at scale. Precision is
    exact by construction (candidates verify with the exact cosine)."""
    n2 = 2 * datasets.parquet_row_count(sf_dir, "embeddings")
    # materialize the twin corpus ONCE (r11 optimization, guide §5):
    # without the checkpoint the plan recomputes _clustered_emb's
    # per-element transform for every consumer — the IVF arm (codebook
    # sample + assignment + GEMM sides), the checked prefix (→ exact arm
    # + two id semi-join broadcasts), and the n_vecs count: 12 scans of
    # embeddings.parquet in the before-plan, ~5 full twin transforms.
    # Measured at sf0.1: full query 6.7 s vs the sum of its arms 3.5 s —
    # the 3.2 s gap was pure recompute (plans/r11/
    # q_sim_pairs_ivf_clustered_{before,after}.txt). The corpus is
    # n·(8 B + 4 B·dim) — the same frame the IVF arm already shuffles,
    # so the checkpoint adds no new scale term.
    corpus = _clustered_emb(spark, sf_dir).localCheckpoint(eager=True)
    checked = corpus.orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    ).limit(BRUTE_CHECK_CAP).localCheckpoint(eager=True)
    exact = similarity.cosine_pairs_exact(
        checked,
        threshold=CLUSTERED_SIM_THRESHOLD,
        n_blocks=similarity.gemm_blocks(min(n2, BRUTE_CHECK_CAP)),
    )
    approx = similarity.cosine_pairs_ivf(
        corpus,
        threshold=CLUSTERED_SIM_THRESHOLD,
        n_cells=similarity.ivf_pair_cells(n2),
        n_assign=IVF_CLUSTERED_ASSIGN,
    )
    # compare on the checked subset only (both endpoints) — id-only
    # broadcast semi-joins, the bounded-twin discipline of q_sim_pairs_lsh
    ids = F.broadcast(checked.select("vec_id"))
    approx_checked = approx.join(
        ids.withColumnRenamed("vec_id", "vec_id_a"), "vec_id_a", "left_semi"
    ).join(ids.withColumnRenamed("vec_id", "vec_id_b"), "vec_id_b", "left_semi")
    verdict = _pair_recall_verdict(
        exact,
        approx_checked,
        ["vec_id_a", "vec_id_b"],
        IVF_CLUSTERED_RECALL_FLOOR,
    )
    counts = corpus.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs")
    ).select(
        "n_vecs",
        F.least(F.col("n_vecs"), F.lit(BRUTE_CHECK_CAP))
        .cast("bigint")
        .alias("n_checked"),
    )
    return counts.crossJoin(F.broadcast(verdict))


def q_sim_pairs_ivf(spark, sf_dir) -> DataFrame:
    """Op 54 (table-free pair scale path, round-10 — verdict item 2):
    IVF-blocked cosine pairs ≥ threshold. sqrt(n) coarse cells
    (footer-sized, :func:`similarity.ivf_pair_cells` — sizing that can
    NEVER cap out, unlike the round-9 sign-LSH table solve), each
    vector multi-assigned to its ``IVF_PAIR_ASSIGN`` nearest cells,
    candidates generated only within a cell by per-cell chunked GEMM,
    exact-cosine verified. Work ~(r²/2)·n^1.5, one vector shuffle of
    n·r rows — never a candidate-pair shuffle.

    FULL ORACLE BY REPLAY (the q_sim_pairs_lsh_raw discipline, not a
    recall-floor verdict): blocking recall at the registered t = 0.4
    on this fixture's unstructured tail pairs is measured 0.35-0.52 —
    BELOW any honest 0.9 floor (see cosine_pairs_ivf's docstring for
    the full measurement; on genuinely clustered near-dup corpora the
    same blocking measures ≥ 0.95) — so the DuckDB oracle regenerates
    the identical seed-centroid assignment and blocked pair set,
    misses included. Blocking recall is tracked per round in the
    RECALL artifact instead of pinned to an unreachable floor."""
    n = datasets.parquet_row_count(sf_dir, "embeddings")
    return similarity.cosine_pairs_ivf(
        _emb(spark, sf_dir),
        threshold=SIM_THRESHOLD,
        n_cells=similarity.ivf_pair_cells(n),
        n_assign=IVF_PAIR_ASSIGN,
    )


# --- text analysis -------------------------------------------------------------

def q_text_tokens(spark, sf_dir) -> DataFrame:
    """Op 55a: corpus token frequencies (whitespace tokenizer)."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select(F.explode(T.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )


def q_text_quality(spark, sf_dir) -> DataFrame:
    """Op 55b: per-doc quality metrics (length / token stats / stopword
    and punctuation ratios / BPE-ish token count)."""
    docs = _docs(spark, sf_dir, floor=True)
    w = T.tokens("text")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(w).alias("n_tokens"),
        T.token_count_bpe_ish("text").alias("n_bpe_tokens"),
        T.mean_token_len(w).alias("mean_tok_len"),
        T.stopword_ratio(w, "en").alias("stop_ratio"),
        T.punct_ratio("text").alias("punct_ratio"),
    )


def q_text_langid(spark, sf_dir) -> DataFrame:
    """Op 55c: stopword-ratio language-ID heuristic vs the labeled lang."""
    docs = _docs(spark, sf_dir)
    w = T.tokens("text")
    scores = T.lang_scores(w)
    pred = (
        F.when(
            (scores["en"] >= scores["de"]) & (scores["en"] >= scores["fr"]), F.lit("en")
        )
        .when(scores["de"] >= scores["fr"], F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return docs.select(
        "doc_id",
        "lang",
        pred.alias("pred_lang"),
        (F.col("lang") == pred).alias("correct"),
    )


def q_text_fingerprint(spark, sf_dir) -> DataFrame:
    """Op 55d: rolling-hash document fingerprint — min/max MD5 over char
    8-grams (winnowing-lite).

    Formulation is measured: the array form
    (`array_min(char_ngrams_md5(...))`) evaluates an INTERPRETED
    higher-order-function lambda per window — ~290 md5+substr calls per
    doc outside codegen, 2.1 s at sf0.1. This shape extracts all
    windows in ONE codegen'd regex pass ((?s) lookahead, newline-safe),
    explodes them, hashes post-explode inside codegen, and reduces with
    a partially-aggregated min/max per doc — 1.1 s at sf0.1,
    value-identical (parity checked corpus-wide), and the agg's
    map-side combine keeps the shuffle at one row per doc per
    partition at any scale."""
    docs = _docs(spark, sf_dir, floor=True).filter(F.length("text") >= 8)
    win = F.explode(
        F.regexp_extract_all(F.col("text"), F.lit("(?s)(?=(.{8}))."), 1)
    ).alias("w")
    return (
        docs.select("doc_id", win)
        .select("doc_id", F.md5("w").alias("h"))
        .groupBy("doc_id")
        .agg(F.min("h").alias("fp_min"), F.max("h").alias("fp_max"))
    )


def q_text_repetition(spark, sf_dir) -> DataFrame:
    """Op 55e: repetition / diversity quality signals — MAP-ONLY array
    math per doc, no explode/groupBy:

      distinct_ratio  — |distinct tokens| / |tokens| (low = repetitive)
      top_token_ratio — max token frequency / |tokens| (high = degenerate)
      token_entropy   — Shannon entropy of the token distribution in
                        bits (low = templated/repetitive text)

    Token frequencies come from RUN LENGTHS over the sorted token array
    (run starts found by one O(n) filter, lengths by one zip_with), not
    from ``transform(distinct, t -> count in tokens)`` — higher-order
    lambdas are interpreted per element, so the count-per-distinct
    formulation pays O(n·distinct) lambda evals per doc (quadratic on
    natural text) where this pays O(n). Measured ~3× faster at sf0.1;
    the gap widens with document length. The standard cheap filters for
    templated or degenerate web text."""
    docs = _docs(spark, sf_dir, floor=True)
    # each intermediate array lives in its OWN projection so lambdas see
    # a cheap attribute reference — inlined, array_sort(w) would be
    # re-evaluated per lambda element (measured 30× slower; same
    # CollapseProject hazard minhash_signatures documents)
    base = docs.select("doc_id", T.tokens("text").alias("w")).filter(
        F.size("w") > 0
    )
    sorted_ = base.select("doc_id", F.size("w").alias("n"), F.array_sort("w").alias("sw"))
    n = F.col("n")
    sw = F.col("sw")
    # 1-based start index of each equal-token run in the sorted array
    starts = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: (i == F.lit(1)) | (F.element_at(sw, i) != F.element_at(sw, i - 1)),
    )
    with_starts = sorted_.select("doc_id", "n", starts.alias("starts"))
    # run length = next run's start (n+1 past the last) minus own start
    run_ends = F.concat(
        F.slice("starts", 2, F.size("starts")), F.array(F.col("n") + 1)
    )
    with_freqs = with_starts.select(
        "doc_id",
        "n",
        F.size("starts").alias("n_distinct"),
        F.zip_with("starts", run_ends, lambda s, e: e - s).alias("freqs"),
    )
    n = F.col("n")
    entropy = -F.aggregate(
        F.col("freqs"),
        F.lit(0.0),
        lambda acc, c: acc + (c / n) * F.log2(c / n),
    )
    return with_freqs.select(
        "doc_id",
        F.round(F.col("n_distinct").cast("double") / n, 6).alias("distinct_ratio"),
        F.round(F.array_max("freqs").cast("double") / n, 6).alias("top_token_ratio"),
        F.round(entropy, 6).alias("token_entropy"),
    )


#: per-language sampling rates (percent) for the stratified sample —
#: upsample scarce langs, downsample the head, drop the rest
SAMPLE_PCT = {"en": 50, "de": 100, "fr": 100}


def q_sample_stratified(spark, sf_dir) -> DataFrame:
    """Op 59: deterministic stratified sampling — reproducible corpus
    subsampling with per-language rates. The keep decision is a pure
    function of the row key (first 8 hex chars of md5(doc_id) as an
    integer, mod 100 < rate), NOT an RNG: re-runs, retries, and other
    engines (the DuckDB oracle) select the identical subset — the
    property that matters when a sampled corpus must be reproducible.
    Map-only: the decision is a scan-side filter, no shuffle."""
    docs = _docs(spark, sf_dir)
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
    bucket = (bucket.cast("long") % 100).alias("bucket")
    rate = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(pct))
            for lang, pct in SAMPLE_PCT.items()
        ],
        F.lit(0),
    )
    return docs.select("doc_id", "lang", bucket, rate.alias("rate")).filter(
        F.col("bucket") < F.col("rate")
    )


SPLIT_TRAIN_PCT = 90  # md5 bucket < 90 → train
SPLIT_VAL_PCT = 95  # 90-94 → val; 95-99 → test


def q_split_dataset(spark, sf_dir) -> DataFrame:
    """Op 59d: leakage-safe train/val/test split. The assignment is a
    pure function of the document key — md5(doc_id) bucket mod 100:
    < 90 train, < 95 val, else test — so membership is stable across
    runs, retries, engines (the DuckDB oracle derives the identical
    split), and data order; growing the corpus never reassigns an
    existing document, which is what keeps a held-out eval set
    uncontaminated over the life of a training pipeline. Map-only:
    a scan-side projection, zero shuffles at any scale."""
    docs = _docs(spark, sf_dir)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    return docs.select("doc_id", "lang", split.alias("split"))


# pow-2 padding ladder for length-bucketed batching (tokens)
LENGTH_BUCKETS = [16, 32, 64, 128, 256, 512, 1024]


def q_length_buckets(spark, sf_dir) -> DataFrame:
    """Op 60b: length-bucketed batching stats — the padding-efficiency
    binning batch samplers use: each document lands in the smallest
    pow-2 token bucket that holds it (top bucket is a catch-all), and
    the per-bucket report shows document count, real tokens, padded
    tokens and waste. The ladder is a pinned CASE chain, NOT
    ceil(log2(n)) — float log near exact powers of two can flip the
    bucket differently per engine, while integer comparisons are
    engine-exact. One map-side token count + a tiny hash agg."""
    docs = _docs(spark, sf_dir)
    n_tok = F.size(F.split(F.col("text"), " "))
    bucket = F.lit(LENGTH_BUCKETS[-1])
    for b in reversed(LENGTH_BUCKETS[:-1]):
        bucket = F.when(n_tok <= b, b).otherwise(bucket)
    agg = (
        docs.select(bucket.alias("bucket"), n_tok.alias("n_tokens"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
    )
    padded = F.col("bucket") * F.col("n_docs")
    return agg.select(
        "bucket",
        "n_docs",
        "sum_tokens",
        padded.alias("padded_tokens"),
        F.round((padded - F.col("sum_tokens")) * 100.0 / padded, 4).alias(
            "waste_pct"
        ),
    )


PACK_BUDGET = 512  # tokens per packed training context
PACK_SHARDS = 8


def q_pack_sequences(spark, sf_dir) -> DataFrame:
    """Op 60: sequence packing — assign each document to a fixed-budget
    training context by streaming concatenation: within a (lang, shard)
    stream ordered by doc_id, a doc's bin is its start token offset
    div the budget (window cumulative sum; deterministic, no RNG).

    The shard key (md5-derived, reproducible) is the parallelism knob:
    packing is inherently sequential within a stream, so at 100 TB you
    raise PACK_SHARDS until each stream fits a reducer — the window
    partitions by (lang, shard), never by lang alone (5 languages would
    mean 5 reducers regardless of cluster size)."""
    docs = _docs(spark, sf_dir)
    from pyspark.sql import Window

    n_tokens = F.size(T.tokens("text"))
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % PACK_SHARDS
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = docs.select(
        "doc_id", "lang", shard.alias("shard"), n_tokens.alias("n_tokens")
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return staged.withColumn(
        "bin", F.floor(start / PACK_BUDGET).cast("long")
    )


def q_text_logprob(spark, sf_dir) -> DataFrame:
    """Op 55i: unigram LM quality signal (the CCNet-style filter): per
    document, the mean negative log probability of its tokens under the
    corpus's add-one-smoothed unigram distribution — high mean-NLL =
    out-of-distribution text (boilerplate, noise, wrong language).

    Plan: one token aggregation (vocab-sized result), broadcast of the
    2-value total row, a token→count join whose right side is the vocab
    (AQE broadcasts it), and one per-doc aggregation. Per-token NLL is
    rounded to 6 dp then decimal-summed so the per-doc mean is exact and
    order-independent (numeric determinism discipline of
    functions/numeric.py)."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(T.tokens("text")).alias("token"))
    counts = toks.groupBy("token").agg(F.count("*").alias("tf"))
    total = counts.agg(
        F.sum("tf").alias("n_total"), F.count("*").alias("n_vocab")
    )
    nll = F.round(
        -F.log((F.col("tf") + 1.0) / (F.col("n_total") + F.col("n_vocab"))), 6
    ).cast("decimal(20,6)")
    scored = (
        toks.join(counts, "token")
        .crossJoin(F.broadcast(total))
        .select("doc_id", nll.alias("nll"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.sum("nll").cast("double") / F.count("*"), 4).alias("mean_nll"),
    )


# q_mix_corpus: target language weights (percent) and the global budget
# (percent of total corpus chars to keep). Integer percents keep every
# rate computation in exact int64 products + one IEEE division, so both
# engines derive bit-identical keep rates.
MIX_WEIGHTS_PCT = {"en": 40, "zh": 15, "es": 15, "de": 15, "fr": 15}
MIX_BUDGET_PCT = 50


def q_mix_corpus(spark, sf_dir) -> DataFrame:
    """Op 59c: weighted corpus mixing — resample the corpus toward a
    target language distribution under a global size budget (the
    Pile/RedPajama mixture step). Per-language keep rate =
    min(100, floor(weight% × budget% × total_chars / (100 × lang_chars)))
    — a pure function of corpus stats, then the op-59 deterministic
    md5-bucket filter selects documents. Two tiny aggregates broadcast
    into a map-only scan filter; re-runs and other engines keep the
    identical subset."""
    docs = _docs(spark, sf_dir)
    stats = docs.groupBy("lang").agg(F.sum("n_chars").alias("chars_l"))
    total = stats.agg(F.sum("chars_l").alias("chars_total"))
    wmap = F.create_map(
        *[F.lit(x) for kv in MIX_WEIGHTS_PCT.items() for x in kv]
    )
    rate = F.least(
        F.lit(100),
        F.floor(
            F.element_at(wmap, F.col("lang"))
            * F.lit(MIX_BUDGET_PCT)
            * F.col("chars_total")
            / (100.0 * F.col("chars_l"))
        ),
    ).cast("int")
    rates = (
        stats.crossJoin(F.broadcast(total))
        .select("lang", rate.alias("rate"))
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 100
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .select("doc_id", "lang", bucket.alias("bucket"), "rate")
        .filter(F.col("bucket") < F.col("rate"))
    )


def q_source_mix(spark, sf_dir) -> DataFrame:
    """Op 57b: source-mix report — the dataset-card composition table a
    corpus release ships with: per source, document count, language
    spread, size stats, and exact-duplicate rate (1 − distinct content
    hashes / docs). One hash aggregate; the distinct-hash count reuses
    the op 13a MD5 layer and Catalyst's two-level distinct-agg rewrite
    keeps it a single pass over the corpus."""
    docs = _docs(spark, sf_dir)
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(F.avg("n_chars"), 4).alias("mean_chars"),
        F.round(
            1 - F.countDistinct(F.md5("text")) / F.count("*"), 6
        ).alias("dup_rate"),
    )


def q_text_vocab(spark, sf_dir) -> DataFrame:
    """Op 55f: vocabulary build — the corpus token table with total and
    document frequencies and a deterministic frequency-ranked id
    (count desc, token asc — the tie-break that makes re-runs and other
    engines assign identical ids). The global ranking window runs on the
    POST-AGGREGATION frame (|vocab| ≪ corpus: distinct tokens, not
    occurrences), so the single-partition rank is over thousands of
    rows regardless of corpus size — the same "aggregate first, rank
    the small result" shape as q_topk."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(T.tokens("text")).alias("token"))
    stats = toks.groupBy("token").agg(
        F.count("*").alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    w = Window.orderBy(F.desc("tf"), F.asc("token"))
    return stats.select(
        "token", "tf", "df", F.row_number().over(w).alias("vocab_id")
    )


def q_text_tfidf(spark, sf_dir) -> DataFrame:
    """Op 55g: TF-IDF scoring per (document, token) — smoothed idf
    ``ln((N+1)/(df+1)) + 1``. Two hash aggregations over the exploded
    token stream (per-doc tf, then per-token df on the already-reduced
    tf frame — never a second pass over occurrences) plus a corpus-size
    scalar joined in by broadcast; the df side of the join is
    vocabulary-sized, so AQE broadcasts it too."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(T.tokens("text")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = docs.select(F.count("*").alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    return (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            F.round(F.col("tf") * idf, 6).alias("tfidf"),
        )
    )


def q_dedup_components(spark, sf_dir) -> DataFrame:
    """Op 53f: connected components of the exact n-gram near-dup graph —
    every document labeled with the min doc_id reachable through dup
    pairs (singletons label themselves). Iterative min-label
    propagation on Spark; the oracle is the same fixpoint computed by a
    DuckDB RECURSIVE CTE over the identical edge set, so even this
    iterative operator carries a full value-hash oracle."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(
        docs,
        threshold=JACCARD_THRESHOLD,
        max_shingle_freq=dedup.DEFAULT_MAX_SHINGLE_FREQ,
    )
    return dedup.connected_components(pairs, docs.select("doc_id"))


def q_embed_quantize(spark, sf_dir) -> DataFrame:
    """Op 62: scalar (min-max int8) quantization of embedding vectors —
    the 4×-compression step vector stores apply before serving ANN at
    scale. Per vector: code_d = floor((x_d − min) · 255 / (max − min)),
    constant vectors quantize to 0. Map-only + one narrow posexplode
    (no shuffle); every operation is plain IEEE double arithmetic (no
    transcendentals), and the output codes are integers, so the DuckDB
    oracle is value-EXACT, not round-tolerant. min/max ride along
    (round-6) as the dequantization parameters."""
    emb = _emb(spark, sf_dir)
    base = emb.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    ).select(
        "vec_id",
        "embedding",
        F.array_min("embedding").cast("double").alias("mn"),
        F.array_max("embedding").cast("double").alias("mx"),
    )
    ex = base.select(
        "vec_id", "mn", "mx", F.posexplode("embedding").alias("dim", "x")
    )
    span = F.col("mx") - F.col("mn")
    code = (
        F.when(span == 0, F.lit(0))
        .otherwise(
            F.floor((F.col("x").cast("double") - F.col("mn")) * 255.0 / span)
        )
        .cast("int")
    )
    return ex.select(
        "vec_id",
        "dim",
        code.alias("code"),
        F.round("mn", 6).alias("vec_min"),
        F.round("mx", 6).alias("vec_max"),
    )


CHUNK_WINDOW = 32  # tokens per training chunk
CHUNK_STRIDE = 24  # overlap = window - stride = 8 tokens


def q_chunk_documents(spark, sf_dir) -> DataFrame:
    """Op 61: span extraction / document chunking — split each document
    into overlapping fixed-size token windows (the doc→context step of a
    training pipeline; stride < window gives the standard overlap so no
    span falls on a chunk boundary unseen).

    Map-only + one narrow Generate: token starts come from a per-row
    ``sequence(1, n, stride)``, the chunk text from ``slice`` on the
    token array — no shuffle, no lambda-per-token, so the operator runs
    at scan speed regardless of corpus size. Chunk identity
    (doc_id, chunk_idx) is deterministic; n_tokens marks the (possibly
    short) tail chunk."""
    base = _docs(spark, sf_dir).select(
        "doc_id", T.tokens("text").alias("w")
    ).filter(F.size("w") > 0)
    staged = base.select(
        "doc_id", "w", F.size("w").alias("n"),
        F.posexplode(
            F.sequence(F.lit(1), F.size("w"), F.lit(CHUNK_STRIDE))
        ).alias("chunk_idx", "start"),
    )
    return staged.select(
        "doc_id",
        "chunk_idx",
        F.concat_ws(" ", F.slice("w", F.col("start"), F.lit(CHUNK_WINDOW))).alias(
            "chunk_text"
        ),
        F.least(F.lit(CHUNK_WINDOW), F.col("n") - F.col("start") + 1).alias(
            "n_tokens"
        ),
    )


# --- end-to-end curation -------------------------------------------------------

def q_curate_corpus(spark, sf_dir) -> DataFrame:
    """Op 57: the composed training-data curation pipeline — the stages
    a real corpus prep runs in sequence, as ONE declarative plan:

      1. quality gate   (n_tokens ≥ 20, punct_ratio ≤ 0.3)
      2. language gate  (labeled lang = 'en')
      3. exact dedup    (keep min doc_id per content hash)
      4. embedding near-dedup (drop any doc with a lower-id neighbor at
         cosine ≥ threshold — the q_dedup_embed min-id policy, restricted
         to gate survivors)

    Every stage is SQL-expressible, so the whole pipeline is one
    value-hash oracle. Plan-shape notes: the content-hash dedup is a
    min-over-window (one exchange on the hash, no self-join, no double
    scan of the gating chain); the GEMM block count is pre-sized from
    the bare embeddings table's metadata count so the pair operator's
    auto-sizing never re-evaluates the gated upstream."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    w = T.tokens("text")
    metrics = docs.select(
        "doc_id",
        "lang",
        "text",
        F.size(w).alias("n_tokens"),
        T.stopword_ratio(w, "en").alias("stop_ratio"),
        T.punct_ratio("text").alias("punct_ratio"),
    )
    gated = metrics.filter(
        (F.col("n_tokens") >= 20)
        & (F.col("punct_ratio") <= 0.3)
        & (F.col("lang") == "en")
    )
    rep = F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    deduped = gated.withColumn("_rep", rep).filter(
        F.col("doc_id") == F.col("_rep")
    ).drop("_rep")
    bare = _emb(spark, sf_dir)
    # survivors ≈ 40% of the corpus; size blocks from the parquet
    # footer row count — zero Spark jobs, vs the old bare.count() that
    # ran one extra scan job per query run just to pick n_blocks
    n_rows = datasets.parquet_row_count(sf_dir, "embeddings")
    n_blocks = similarity.gemm_blocks(n_rows // 2)
    emb = bare.join(
        deduped.select(F.col("doc_id").alias("vec_id")), "vec_id", "semi"
    )
    drop = (
        similarity.cosine_pairs_exact(emb, threshold=SIM_THRESHOLD, n_blocks=n_blocks)
        .select(F.col("vec_id_b").alias("doc_id"))
        .distinct()
    )
    return deduped.join(drop, "doc_id", "anti").select(
        "doc_id", "lang", "n_tokens", "stop_ratio"
    )


# --- multimodal -----------------------------------------------------------------

def q_multimodal_decode(spark, sf_dir) -> DataFrame:
    """Op 56: binary payload + typed metadata through an Arrow-batched
    mapInPandas decode stage (codec stubbed — see operators.multimodal)."""
    media = multimodal.attach_payload(_docs(spark, sf_dir))
    return multimodal.decode_features(media, decode_stub=True)


def q_multimodal_decode_real(spark, sf_dir) -> DataFrame:
    """Op 56 with the REAL codec (round 7): genuine PNG payloads
    synthesized per doc (`attach_png_payload`; scanline filter type
    cycles with doc_id, so the corpus exercises every unfilter path),
    then decoded back through `sources.png_codec` — true IHDR dims and
    exact pixel means. FULL ORACLE via the committed reference fixture
    (tests/fixtures/png_decode_ref.parquet,
    tools/gen_png_oracle_fixture.py — an INDEPENDENT pure-Python
    replay of the raster + uint8 normalize + mean that never touches
    the codec), keyed by corpus_chars like the BPE fixtures: a green
    row proves the encode→decode round trip is pixel-exact corpus-wide
    (mean is exact in float64 — integer sum, power-of-two divisor — so
    the compare carries no rounding slack). Map-only ×2; parallelism
    is the scan's (floored: per-row PNG codec work is the heavy case,
    same policy as q_multimodal_phash)."""
    media = multimodal.attach_png_payload(_docs(spark, sf_dir, floor=True))
    feats = multimodal.decode_features(media, decode_stub=False)
    return feats.select("doc_id", "width", "height", "mean_byte")


ORACLES_PNG_REAL = f"""
    SELECT f.doc_id,
           CAST(32 AS INT) AS width,
           CAST(32 AS INT) AS height,
           f.mean_byte
    FROM read_parquet('{ORACLE_FIXTURES}/png_decode_ref.parquet') f
    WHERE f.corpus_chars = (SELECT SUM(n_chars) FROM documents)
"""


def q_multimodal_resize(spark, sf_dir) -> DataFrame:
    """Op 56b: image-row resize stage — map-only mapInPandas batch
    transform. Stub emits target dims + scale factors (deterministic, so
    full oracle); payload passthrough is dropped from the query surface
    (binary hashing is engine-specific)."""
    media = multimodal.attach_payload(_docs(spark, sf_dir))
    out = multimodal.resize(media, target_width=224, target_height=224)
    return out.select(
        "doc_id",
        "width",
        "height",
        F.round("scale_x", 6).alias("scale_x"),
        F.round("scale_y", 6).alias("scale_y"),
    )


def q_multimodal_frames(spark, sf_dir) -> DataFrame:
    """Op 56c: video frame-sampling plan — every 10th of the first 100
    frame indices per video row, exploded (narrow Generate, no shuffle)."""
    media = multimodal.attach_payload(_docs(spark, sf_dir))
    return multimodal.frame_sample(media, every_n=10, n_frames=100)


def q_bpe_merges(spark, sf_dir) -> DataFrame:
    """Op 55c: distributed BPE merge learning (tokenizer training) —
    one corpus-scale word-count pass, then n_merges rounds of
    vocabulary-sized pair aggregation + broadcast argmax + codegen'd
    map-only merge apply (operators/bpe.py). FULL ORACLE since round 6:
    an iterative argmax loop has no SQL re-derivation, so the oracle
    joins the COMMITTED reference fixture
    (tests/fixtures/bpe_merges_ref.parquet — an independent pure-Python
    learner replayed over every test corpus,
    tools/gen_bpe_oracle_fixture.py, same pattern as q_bpe_encode);
    exact merge-list equality against the same reference is also
    pinned by tests/test_bpe.py."""
    from hbase_bulkload_spark.operators.bpe import learn_bpe

    return learn_bpe(_docs(spark, sf_dir), n_merges=8)


#: Fixed merge table for the tokenizer-apply query: common English
#: bigram merges in priority order. A PRETRAINED tokenizer is the
#: production case (training is q_bpe_merges' job, and pipelines apply
#: a tokenizer far more often than they learn one); a static table
#: also keeps the query deterministic with no in-query argmax loop.
BPE_DEMO_MERGES = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("in", "g"),
)


def q_bpe_encode(spark, sf_dir) -> DataFrame:
    """Op 55d: tokenizer APPLY — the corpus encoded with a pretrained
    merge table (BPE_DEMO_MERGES; learning its own table is
    q_bpe_merges), returning per-doc token counts. Full oracle since
    round 5: iterative per-word rewriting is not SQL-expressible, so
    the oracle joins the COMMITTED reference fixture
    (tests/fixtures/bpe_encode_ref.parquet — an independent pure-Python
    replay of the demo merges, tools/gen_bpe_oracle_fixture.py); token
    SEQUENCES (not just counts) ≡ reference is additionally pinned by
    tests/test_bpe.py."""
    from hbase_bulkload_spark.operators.bpe import bpe_encode

    docs = _docs(spark, sf_dir, floor=True)
    return bpe_encode(docs, list(BPE_DEMO_MERGES)).select("doc_id", "n_tokens")


def multimodal_phash_pairs(spark, sf_dir) -> DataFrame:
    """Raw pHash banding pair output at the registered parameters."""
    docs = _docs(spark, sf_dir, floor=True)
    media = docs.select(
        "doc_id",
        F.lit("image").alias("modality"),
        F.encode("text", "utf-8").alias("payload"),
    )
    return multimodal.phash_pairs(media, max_hamming=3)


def q_multimodal_phash(spark, sf_dir) -> DataFrame:
    """Op 56d: perceptual-hash image near-dup — the multimodal column
    meets the op-53 signature machinery. Payload is the bytes a real
    pipeline hands the image decoder (here the raw document bytes; the
    pixel decode is the stub, everything after — DCT, median threshold,
    bit pack, chunk banding — is the real algorithm). FULL ORACLE since
    round 6: the DCT signature is not SQL-expressible, so like
    q_dedup_simhash the hashable output is the banding-vs-brute-force
    verdict (n_docs, n_checked, banding_matches_brute) — all-pairs
    hamming over the checked subset must EQUAL the banded pair set
    (pigeonhole-exact recall), and the oracle recomputes the counts and
    asserts the verdict TRUE. Raw pairs: :func:`multimodal_phash_pairs`."""
    docs = _docs(spark, sf_dir, floor=True)
    media = docs.select(
        "doc_id",
        F.lit("image").alias("modality"),
        F.encode("text", "utf-8").alias("payload"),
    )
    sig = (
        multimodal.phash64(media)
        .select("doc_id", F.col("phash").alias("_sig"))
        .localCheckpoint(eager=True)
    )
    banded = dedup.hamming_pairs_banded(sig, sig_col="_sig", max_hamming=3)
    return _banding_brute_verdict(sig, banded, docs, max_hamming=3)


def q_multimodal_phash_real(spark, sf_dir) -> DataFrame:
    """Op 56d REAL-PIXEL ARM (round 9 — closes the last stubbed hop in
    the pHash pipeline): every row carries a genuine PNG payload
    (`attach_png_payload` — scanline filter type cycles doc_id % 5, so
    the corpus exercises every unfilter path), the signature runs the
    FULL real pipeline (PNG decode → greyscale → 32×32 resample →
    DCT-II → median threshold → bit pack, `phash64(decode_stub=False)`)
    and the emitted row is the same banding-vs-brute-force verdict as
    q_multimodal_phash: all-pairs hamming over the md5-ranked checked
    subset must EQUAL the banded pair set on real pixels
    (pigeonhole-exact recall; precision exact by construction). The
    modality column is pinned to "image" so the whole corpus is hashed
    — the cycling-modality routing is q_multimodal_decode_real's
    concern; this key gates the near-dup math."""
    docs = _docs(spark, sf_dir, floor=True)
    media = multimodal.attach_png_payload(docs).withColumn(
        "modality", F.lit("image")
    )
    sig = (
        multimodal.phash64(media, decode_stub=False)
        .select("doc_id", F.col("phash").alias("_sig"))
        .localCheckpoint(eager=True)
    )
    banded = dedup.hamming_pairs_banded(sig, sig_col="_sig", max_hamming=3)
    return _banding_brute_verdict(sig, banded, docs, max_hamming=3)


BENCH_MOD = 97  # doc_id % BENCH_MOD == 0 → the held-out benchmark split
DECON_NGRAM = 8


def q_decontaminate(spark, sf_dir) -> DataFrame:
    """Op 52c: benchmark decontamination (operators.dedup.decontaminate)
    — flag training documents sharing any word 8-gram with the held-out
    benchmark split (doc_id % 97 == 0). The benchmark shingle set is
    broadcast into a semi-join, so the corpus side never shuffles on the
    shingle key."""
    return dedup.decontaminate(
        _docs(spark, sf_dir),
        F.col("doc_id") % BENCH_MOD == 0,
        n=DECON_NGRAM,
    )


def q_text_redact(spark, sf_dir) -> DataFrame:
    """Op 55h: PII redaction (functions.text.redact_pii). The synthetic
    corpus carries no PII, so the query deterministically salts emails /
    phones / IPv4s into every 7th document first (pure function of
    doc_id — the oracle mirrors it), then scrubs; per-doc match counts
    come from the pre-redaction text."""
    docs = _docs(spark, sf_dir, floor=True)
    pii = F.concat(
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 415-555-"),
        F.lpad(F.pmod("doc_id", F.lit(10000)).cast("string"), 4, "0"),
        F.lit(" from 10.0."),
        F.pmod("doc_id", F.lit(256)).cast("string"),
        F.lit("."),
        F.pmod("doc_id", F.lit(100)).cast("string"),
    )
    salted = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), pii)
    ).otherwise(F.col("text"))
    base = docs.select("doc_id", salted.alias("text"))
    return base.select(
        "doc_id",
        T.redact_pii("text").alias("redacted"),
        F.size(F.regexp_extract_all("text", F.lit(T.PII_EMAIL), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(T.PII_PHONE), 0)).alias("n_phones"),
        F.size(F.regexp_extract_all("text", F.lit(T.PII_IPV4), 0)).alias("n_ips"),
    )


QUERIES = {
    "q_scan_jsonl": q_scan_jsonl,
    "q_decontaminate": q_decontaminate,
    "q_text_redact": q_text_redact,
    "q_dedup_exact": q_dedup_exact,
    "q_dedup_ngram": q_dedup_ngram,
    "q_dedup_near": q_dedup_near,
    "q_dedup_near_verdict": q_dedup_near_verdict,
    "q_dedup_simhash": q_dedup_simhash,
    "q_dedup_embed": q_dedup_embed,
    "q_dedup_incremental": q_dedup_incremental,
    "q_dedup_incremental_near": q_dedup_incremental_near,
    "q_dedup_incremental_embed": q_dedup_incremental_embed,
    "q_dedup_incremental_minhash": q_dedup_incremental_minhash,
    "q_dedup_incremental_minhash_raw": q_dedup_incremental_minhash_raw,
    "q_dedup_semantic": q_dedup_semantic,
    "q_dedup_substring": q_dedup_substring,
    "q_sim_topk": q_sim_topk,
    "q_sim_topk_ivf": q_sim_topk_ivf,
    "q_sim_pairs": q_sim_pairs,
    "q_sim_pairs_lsh": q_sim_pairs_lsh,
    "q_sim_pairs_lsh_raw": q_sim_pairs_lsh_raw,
    "q_sim_pairs_ivf": q_sim_pairs_ivf,
    "q_sim_pairs_ivf_clustered": q_sim_pairs_ivf_clustered,
    "q_text_tokens": q_text_tokens,
    "q_text_quality": q_text_quality,
    "q_text_langid": q_text_langid,
    "q_text_fingerprint": q_text_fingerprint,
    "q_text_repetition": q_text_repetition,
    "q_multimodal_decode": q_multimodal_decode,
    "q_multimodal_decode_real": q_multimodal_decode_real,
    "q_multimodal_resize": q_multimodal_resize,
    "q_multimodal_frames": q_multimodal_frames,
    "q_multimodal_phash": q_multimodal_phash,
    "q_multimodal_phash_real": q_multimodal_phash_real,
    "q_bpe_merges": q_bpe_merges,
    "q_bpe_encode": q_bpe_encode,
    "q_curate_corpus": q_curate_corpus,
    "q_sample_stratified": q_sample_stratified,
    "q_pack_sequences": q_pack_sequences,
    "q_chunk_documents": q_chunk_documents,
    "q_text_vocab": q_text_vocab,
    "q_text_tfidf": q_text_tfidf,
    "q_text_logprob": q_text_logprob,
    "q_source_mix": q_source_mix,
    "q_mix_corpus": q_mix_corpus,
    "q_embed_quantize": q_embed_quantize,
    "q_dedup_components": q_dedup_components,
    "q_split_dataset": q_split_dataset,
    "q_length_buckets": q_length_buckets,
}

_STOP_EN = ", ".join(f"'{s}'" for s in T.STOPWORDS["en"])
_STOP_DE = ", ".join(f"'{s}'" for s in T.STOPWORDS["de"])
_STOP_FR = ", ".join(f"'{s}'" for s in T.STOPWORDS["fr"])

_LANG_SCORE = """
scored AS (
    SELECT doc_id, lang,
           round(CAST(len(list_filter(w, x -> x IN ({en}))) AS DOUBLE) / greatest(len(w), 1), 6) AS s_en,
           round(CAST(len(list_filter(w, x -> x IN ({de}))) AS DOUBLE) / greatest(len(w), 1), 6) AS s_de,
           round(CAST(len(list_filter(w, x -> x IN ({fr}))) AS DOUBLE) / greatest(len(w), 1), 6) AS s_fr
    FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents)
)
""".format(en=_STOP_EN, de=_STOP_DE, fr=_STOP_FR)

# shared by the ngram-pairs oracle and the connected-components oracle
# (same edge definition, one source of truth): yields CTE `jac`
# (doc_a, doc_b, jaccard) — word-3-gram Jaccard ≥ threshold with the
# identical hot-shingle cap predicate the Spark side applies
def _ngram_pairs_ctes(
    max_shingle_freq: int | None, source: str = "documents"
) -> str:
    """Word-3-gram Jaccard pair CTE chain ending in ``jac``;
    ``max_shingle_freq=None`` omits the hot-shingle cap (the exact twin
    the MinHash verdict oracle counts against). ``source`` swaps the
    corpus relation — the bounded-twin verdict oracle points it at the
    md5-ranked ``checked`` CTE."""
    kept = (
        f"""kept AS (
            SELECT shingle FROM sh GROUP BY shingle
            HAVING COUNT(*) <= {max_shingle_freq}
        ),"""
        if max_shingle_freq is not None
        else ""
    )
    kept_join = (
        "JOIN kept k ON k.shingle = a.shingle"
        if max_shingle_freq is not None
        else ""
    )
    return f"""
        toks AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM {source}
        ),
        sh AS (
            SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
            FROM toks, UNNEST(range(1, greatest(len(w) - 1, 1))) AS t(i)
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        {kept}
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            {kept_join}
            GROUP BY 1, 2
        ),
        jac AS (
            SELECT doc_a, doc_b,
                   round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6)
                  >= {JACCARD_THRESHOLD}
        )
"""


_NGRAM_PAIRS_CTES = _ngram_pairs_ctes(dedup.DEFAULT_MAX_SHINGLE_FREQ)


def _incremental_near_oracle(
    max_shingle_freq: int | None, verify_cap: int | None = None
) -> str:
    """Incremental n-gram near-dedup as DuckDB SQL, cap-parameterized:
    the registered q_dedup_incremental_near keeps the production cap
    (correctness-checking the cap itself), while the MinHash verdict
    oracle needs the UNCAPPED twin — MinHash verification computes
    exact Jaccard on full shingle sets, so comparing it to a capped
    twin mislabels every capped-away true dup as a spurious flag
    (exactly what the sf1.0 fixture exposed: 3807 'spurious' docs that
    were real near-dups the capped twin's hot-shingle valve dropped).

    ``verify_cap`` mirrors the Spark side's round-7 bounded twin: only
    the md5-ranked first ``verify_cap`` batch docs are verified (their
    candidate side stays complete — all history + all earlier batch)."""
    if max_shingle_freq is None:
        kept_cte = ""
        kept_join = ""
    else:
        kept_cte = f"""
        kept AS (
            SELECT shingle FROM sh GROUP BY shingle
            HAVING COUNT(*) <= {max_shingle_freq}
        ),"""
        kept_join = "JOIN kept k ON k.shingle = b.shingle"
    if verify_cap is None:
        checked_cte = "(SELECT doc_id FROM documents WHERE doc_id % 3 = 0)"
        bsh = "SELECT * FROM sh WHERE doc_id % 3 = 0"
    else:
        checked_cte = f"""(
            SELECT doc_id FROM documents WHERE doc_id % 3 = 0
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT {verify_cap}
        )"""
        bsh = "SELECT sh.* FROM sh JOIN checked USING (doc_id)"
    return f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
            FROM toks, UNNEST(range(1, greatest(len(w) - 1, 1))) AS t(i)
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),{kept_cte}
        checked AS (SELECT doc_id FROM {checked_cte} c),
        bsh AS ({bsh}),
        inter AS (
            SELECT b.doc_id AS doc_id, a.doc_id AS a_id,
                   (a.doc_id % 3 <> 0) AS a_hist, COUNT(*) AS n_inter
            FROM bsh b
            JOIN sh a ON a.shingle = b.shingle
                 AND (a.doc_id % 3 <> 0 OR a.doc_id < b.doc_id)
            {kept_join}
            GROUP BY 1, 2, 3
        ),
        jac AS (
            SELECT i.doc_id, a_id, a_hist FROM inter i
            JOIN sizes sa ON sa.doc_id = a_id
            JOIN sizes sb ON sb.doc_id = i.doc_id
            WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6)
                  >= {JACCARD_THRESHOLD}
        ),
        verd AS (
            SELECT doc_id,
                   MIN(CASE WHEN a_hist THEN a_id END) AS dup_of_history,
                   MIN(CASE WHEN NOT a_hist THEN a_id END) AS dup_in_batch
            FROM jac GROUP BY doc_id
        )
        SELECT d.doc_id, v.dup_of_history, v.dup_in_batch,
               v.dup_of_history IS NULL AND v.dup_in_batch IS NULL AS keep
        FROM checked d
        LEFT JOIN verd v USING (doc_id)
    """


ORACLES = {
    "q_scan_jsonl": """
        SELECT doc_id, text, lang, source, n_chars FROM documents
    """,
    # Committed reference fixture, not a re-derivation: BPE apply is not
    # SQL-expressible, so tools/gen_bpe_oracle_fixture.py replays the
    # fixed demo merges with an independent pure-Python encoder over
    # every test corpus and commits the result; SUM(n_chars) keys the
    # scale (sf0.001/sf0.01 share COUNT(*) but not content).
    "q_bpe_encode": f"""
        SELECT doc_id, n_tokens
        FROM read_parquet('{ORACLE_FIXTURES}/bpe_encode_ref.parquet')
        WHERE corpus_chars = (SELECT SUM(n_chars) FROM documents)
    """,
    "q_decontaminate": f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id,
                   w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
                   w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7] AS shingle
            FROM toks, UNNEST(range(1, greatest(len(w) - {DECON_NGRAM - 2}, 1))) AS t(i)
        ),
        bench AS (
            SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCH_MOD} = 0
        ),
        hits AS (
            SELECT s.doc_id, COUNT(DISTINCT s.shingle) AS n_overlap
            FROM sh s JOIN bench b USING (shingle)
            WHERE s.doc_id % {BENCH_MOD} <> 0
            GROUP BY s.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
               COALESCE(h.n_overlap, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        WHERE d.doc_id % {BENCH_MOD} <> 0
    """,
    "q_text_redact": f"""
        WITH salted AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0 THEN
                        text || ' contact user' || CAST(doc_id AS VARCHAR)
                             || '@example.com or 415-555-'
                             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                             || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                             || '.' || CAST(doc_id % 100 AS VARCHAR)
                        ELSE text END AS text
            FROM documents
        )
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(
                   text, '{T.PII_EMAIL}', '<EMAIL>', 'g'),
                         '{T.PII_PHONE}', '<PHONE>', 'g'),
                         '{T.PII_IPV4}', '<IP>', 'g') AS redacted,
               CAST(len(regexp_extract_all(text, '{T.PII_EMAIL}')) AS INT) AS n_emails,
               CAST(len(regexp_extract_all(text, '{T.PII_PHONE}')) AS INT) AS n_phones,
               CAST(len(regexp_extract_all(text, '{T.PII_IPV4}')) AS INT) AS n_ips
        FROM salted
    """,
    "q_dedup_exact": """
        SELECT md5(text) AS text_hash,
               CAST(COUNT(*) AS BIGINT) AS n_copies,
               MIN(doc_id) AS rep_doc
        FROM documents GROUP BY 1
    """,
    "q_dedup_ngram": f"""
        WITH {_NGRAM_PAIRS_CTES}
        SELECT doc_a, doc_b, jaccard FROM jac
    """,
    "q_dedup_components": f"""
        WITH RECURSIVE {_NGRAM_PAIRS_CTES},
        sym AS (
            SELECT doc_a AS src, doc_b AS dst FROM jac
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM jac
        ),
        reach(src, dst) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.src, s.dst FROM reach r JOIN sym s ON s.src = r.dst
        )
        SELECT src AS doc_id, MIN(dst) AS comp_id FROM reach GROUP BY src
    """,
    "q_dedup_embed": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                         6) AS cos_sim
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                        6) >= {SIM_THRESHOLD}
        ),
        dup AS (
            SELECT id_b AS doc_id, MIN(id_a) AS dup_of, MAX(cos_sim) AS max_sim
            FROM pairs GROUP BY 1
        )
        SELECT d.doc_id, dup.dup_of, dup.max_sim,
               dup.dup_of IS NOT NULL AS is_dup
        FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id
    """,
    "q_dedup_incremental_embed": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        h AS (SELECT * FROM e WHERE vec_id % 3 <> 0),
        b AS (SELECT * FROM e WHERE vec_id % 3 = 0),
        hb AS (
            SELECT b.vec_id, MIN(h.vec_id) AS dup_of_history
            FROM h JOIN b
              ON round(list_dot_product(h.v, b.v)
                       / (sqrt(list_dot_product(h.v, h.v)) * sqrt(list_dot_product(b.v, b.v))),
                       6) >= {SIM_THRESHOLD}
            GROUP BY 1
        ),
        bb AS (
            SELECT y.vec_id, MIN(x.vec_id) AS dup_in_batch
            FROM b x JOIN b y
              ON x.vec_id < y.vec_id
             AND round(list_dot_product(x.v, y.v)
                       / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))),
                       6) >= {SIM_THRESHOLD}
            GROUP BY 1
        )
        SELECT b.vec_id, hb.dup_of_history, bb.dup_in_batch,
               hb.dup_of_history IS NULL AND bb.dup_in_batch IS NULL AS keep
        FROM b
        LEFT JOIN hb ON b.vec_id = hb.vec_id
        LEFT JOIN bb ON b.vec_id = bb.vec_id
    """,
    "q_dedup_incremental": """
        WITH hist AS (
            SELECT DISTINCT md5(text) AS text_hash
            FROM documents WHERE doc_id % 3 <> 0
        ),
        b AS (
            SELECT doc_id, md5(text) AS text_hash
            FROM documents WHERE doc_id % 3 = 0
        ),
        firsts AS (
            SELECT doc_id, text_hash,
                   MIN(doc_id) OVER (PARTITION BY text_hash) AS f
            FROM b
        )
        SELECT fb.doc_id, fb.text_hash,
               h.text_hash IS NOT NULL AS dup_of_history,
               CASE WHEN fb.f < fb.doc_id THEN fb.f END AS dup_in_batch,
               h.text_hash IS NULL AND fb.f >= fb.doc_id AS keep
        FROM firsts fb LEFT JOIN hist h USING (text_hash)
    """,
    "q_dedup_incremental_near": _incremental_near_oracle(
        dedup.DEFAULT_MAX_SHINGLE_FREQ
    ),
    "q_dedup_semantic": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS (
            SELECT vec_id AS centroid_id, v AS cv FROM e
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8
        ),
        scored AS (
            SELECT e.vec_id, centroid_id,
                   round(list_dot_product(v, cv)
                         / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))),
                         6) AS cos_c
            FROM e, cent
        ),
        assign AS (
            SELECT vec_id, centroid_id AS cluster_id FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY vec_id ORDER BY cos_c DESC, centroid_id) AS rn
                FROM scored
            ) WHERE rn = 1
        ),
        av AS (SELECT e.vec_id, cluster_id, v FROM e JOIN assign USING (vec_id)),
        pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                         6) AS cos_sim
            FROM av a JOIN av b
              ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                        6) >= {SIM_THRESHOLD}
        ),
        dup AS (
            SELECT id_b AS vec_id, MIN(id_a) AS dup_of, MAX(cos_sim) AS max_sim
            FROM pairs GROUP BY 1
        )
        SELECT av.vec_id, av.cluster_id, dup.dup_of, dup.max_sim,
               dup.dup_of IS NOT NULL AS is_dup
        FROM av LEFT JOIN dup USING (vec_id)
    """,
    "q_dedup_substring": f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        grams AS (
            SELECT doc_id, CAST(i AS INT) AS pos,
                   array_to_string(w[i:i+{dedup.DUP_SPAN_NGRAM - 1}], ' ') AS gram
            FROM toks,
                 UNNEST(range(1, greatest(len(w) - {dedup.DUP_SPAN_NGRAM} + 2, 1))) AS t(i)
        ),
        dup AS (
            SELECT gram FROM grams GROUP BY gram HAVING MIN(doc_id) <> MAX(doc_id)
        ),
        dpos AS (SELECT doc_id, pos FROM grams JOIN dup USING (gram)),
        flagged AS (
            SELECT doc_id, pos,
                   CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                             <= {dedup.DUP_SPAN_NGRAM}
                        THEN 0 ELSE 1 END AS f
            FROM dpos
        ),
        isl AS (
            SELECT doc_id, pos,
                   SUM(f) OVER (PARTITION BY doc_id ORDER BY pos) AS g
            FROM flagged
        )
        SELECT doc_id,
               CAST(MIN(pos) AS INT) AS span_start,
               CAST(MAX(pos) + {dedup.DUP_SPAN_NGRAM} - 1 AS INT) AS span_end,
               CAST(COUNT(*) AS BIGINT) AS n_dup_grams
        FROM isl GROUP BY doc_id, g
    """,
    "q_sim_topk": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
        scored AS (
            SELECT query_id, c.vec_id AS cand_id,
                   round(list_dot_product(qv, c.v)
                         / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.v, c.v))),
                         6) AS cos_sim
            FROM q, e c WHERE c.vec_id <> query_id
        )
        SELECT query_id, cand_id, cos_sim, CAST(rn AS INT) AS rn FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rn
            FROM scored
        ) WHERE rn <= 5
    """,
    "q_sim_pairs": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
               round(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                     6) AS cos_sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                    6) >= {SIM_THRESHOLD}
    """,
    "q_text_tokens": """
        SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token
    """,
    "q_text_quality": f"""
        SELECT doc_id,
               CAST(length(text) AS INT) AS n_chars,
               CAST(len(w) AS INT) AS n_tokens,
               CAST(len(regexp_extract_all(text, '{T.BPE_ISH_PATTERN}')) AS INT) AS n_bpe_tokens,
               round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
                     / greatest(len(w), 1), 6) AS mean_tok_len,
               round(CAST(len(list_filter(w, x -> x IN ({_STOP_EN}))) AS DOUBLE)
                     / greatest(len(w), 1), 6) AS stop_ratio,
               round(CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                     / greatest(length(text), 1), 6) AS punct_ratio
        FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
    """,
    "q_text_langid": f"""
        WITH {_LANG_SCORE}
        SELECT doc_id, lang,
               CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
                    WHEN s_de >= s_fr THEN 'de'
                    ELSE 'fr' END AS pred_lang,
               lang = (CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
                            WHEN s_de >= s_fr THEN 'de'
                            ELSE 'fr' END) AS correct
        FROM scored
    """,
    "q_text_fingerprint": """
        SELECT doc_id,
               MIN(md5(substr(text, CAST(i AS INT), 8))) AS fp_min,
               MAX(md5(substr(text, CAST(i AS INT), 8))) AS fp_max
        FROM documents, UNNEST(range(1, length(text) - 6)) AS t(i)
        WHERE length(text) >= 8
        GROUP BY doc_id
    """,
    # the fake decode is deterministic (payload = unhex(md5(text)),
    # mean_byte = byte mean), so even the multimodal mapInPandas stage is
    # fully oracle-checkable: the byte sum is recovered from the md5 hex
    "q_text_repetition": """
        WITH m AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        f AS (
            SELECT doc_id, w, len(w) AS n,
                   list_transform(list_distinct(w),
                                  t -> len(list_filter(w, x -> x = t))) AS freqs
            FROM m WHERE len(w) > 0
        )
        SELECT doc_id,
               round(CAST(len(freqs) AS DOUBLE) / n, 6) AS distinct_ratio,
               round(CAST(list_max(freqs) AS DOUBLE) / n, 6) AS top_token_ratio,
               round(-list_sum(list_transform(freqs,
                     c -> (CAST(c AS DOUBLE)/n) * log2(CAST(c AS DOUBLE)/n))), 6)
                   AS token_entropy
        FROM f
    """,
    "q_multimodal_decode": """
        WITH bytes AS (
            SELECT doc_id,
                   list_sum(list_transform(range(0, 32), j ->
                       (strpos('0123456789abcdef',
                               substr(md5(text), CAST(j AS INT) + 1, 1)) - 1)
                       * CASE WHEN j % 2 = 0 THEN 16 ELSE 1 END)) AS byte_sum
            FROM documents
        )
        SELECT d.doc_id,
               CASE CAST(d.doc_id % 3 AS INT)
                    WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                    ELSE 'video' END AS modality,
               CAST(16 AS INT) AS n_bytes,
               CAST(d.doc_id % 640 + 16 AS INT) AS width,
               CAST(d.doc_id % 480 + 16 AS INT) AS height,
               CAST(byte_sum AS DOUBLE) / 16 AS mean_byte
        FROM documents d JOIN bytes USING (doc_id)
    """,
    "q_sample_stratified": """
        WITH b AS (
            SELECT doc_id, lang,
                   list_sum(list_transform(range(0, 8), j ->
                       (strpos('0123456789abcdef',
                               substr(md5(CAST(doc_id AS VARCHAR)), CAST(j AS INT) + 1, 1)) - 1)
                       * CAST(pow(16, 7 - j) AS BIGINT))) % 100 AS bucket,
                   CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 100
                             WHEN 'fr' THEN 100 ELSE 0 END AS rate
            FROM documents
        )
        SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket,
               CAST(rate AS INT) AS rate
        FROM b WHERE bucket < rate
    """,
    "q_pack_sequences": f"""
        WITH s AS (
            SELECT doc_id, lang,
                   list_sum(list_transform(range(0, 8), j ->
                       (strpos('0123456789abcdef',
                               substr(md5(CAST(doc_id AS VARCHAR)), CAST(j AS INT) + 1, 1)) - 1)
                       * CAST(pow(16, 7 - j) AS BIGINT))) % {PACK_SHARDS} AS shard,
                   CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
            FROM documents
        )
        SELECT doc_id, lang, CAST(shard AS BIGINT) AS shard, n_tokens,
               CAST(floor((SUM(n_tokens) OVER (PARTITION BY lang, shard
                               ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                           - n_tokens) / {PACK_BUDGET}.0) AS BIGINT) AS bin
        FROM s
    """,
    "q_embed_quantize": """
        WITH b AS (
            SELECT vec_id, embedding,
                   CAST(list_min(embedding) AS DOUBLE) AS mn,
                   CAST(list_max(embedding) AS DOUBLE) AS mx
            FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) > 0
        )
        SELECT vec_id,
               CAST(t.dim AS INT) AS dim,
               CAST(CASE WHEN mx = mn THEN 0
                    ELSE floor((CAST(embedding[CAST(t.dim AS INT) + 1] AS DOUBLE) - mn)
                               * 255.0 / (mx - mn))
                    END AS INT) AS code,
               round(mn, 6) AS vec_min,
               round(mx, 6) AS vec_max
        FROM b, UNNEST(range(0, len(embedding))) AS t(dim)
    """,
    "q_text_vocab": """
        WITH t AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        s AS (
            SELECT token,
                   CAST(COUNT(*) AS BIGINT) AS tf,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
            FROM t GROUP BY token
        )
        SELECT token, tf, df,
               CAST(row_number() OVER (ORDER BY tf DESC, token) AS INT)
                   AS vocab_id
        FROM s
    """,
    "q_mix_corpus": f"""
        WITH stats AS (
            SELECT lang, SUM(n_chars) AS chars_l FROM documents GROUP BY lang
        ),
        tot AS (SELECT SUM(chars_l) AS chars_total FROM stats),
        rates AS (
            SELECT lang,
                   CAST(LEAST(100, FLOOR(
                       CASE lang WHEN 'en' THEN 40 WHEN 'zh' THEN 15
                                 WHEN 'es' THEN 15 WHEN 'de' THEN 15
                                 WHEN 'fr' THEN 15 ELSE 0 END
                       * {MIX_BUDGET_PCT} * chars_total / (100.0 * chars_l)
                   )) AS INT) AS rate
            FROM stats CROSS JOIN tot
        ),
        b AS (
            SELECT d.doc_id, d.lang,
                   list_sum(list_transform(range(0, 8), j ->
                       (strpos('0123456789abcdef',
                               substr(md5(CAST(d.doc_id AS VARCHAR)), CAST(j AS INT) + 1, 1)) - 1)
                       * CAST(pow(16, 7 - j) AS BIGINT))) % 100 AS bucket,
                   r.rate
            FROM documents d JOIN rates r ON d.lang = r.lang
        )
        SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket, rate
        FROM b WHERE bucket < rate
    """,
    "q_source_mix": """
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               round(AVG(n_chars), 4) AS mean_chars,
               round(1 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE)
                         / COUNT(*), 6) AS dup_rate
        FROM documents GROUP BY source
    """,
    "q_text_logprob": """
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        counts AS (
            SELECT token, COUNT(*) AS tf FROM toks GROUP BY token
        ),
        tot AS (
            SELECT SUM(tf) AS n_total, COUNT(*) AS n_vocab FROM counts
        ),
        scored AS (
            SELECT doc_id,
                   CAST(round(-ln((tf + 1.0) / (n_total + n_vocab)), 6)
                        AS DECIMAL(20,6)) AS nll
            FROM toks JOIN counts USING (token) CROSS JOIN tot
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               round(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 4) AS mean_nll
        FROM scored GROUP BY doc_id
    """,
    "q_text_tfidf": """
        WITH t AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        tf AS (
            SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
            FROM t GROUP BY doc_id, token
        ),
        df AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT tf.doc_id, tf.token, tf.tf,
               round(tf.tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1), 6) AS tfidf
        FROM tf JOIN df USING (token) CROSS JOIN n
    """,
    "q_chunk_documents": f"""
        WITH d AS (
            SELECT doc_id, string_split(text, ' ') AS w,
                   len(string_split(text, ' ')) AS n
            FROM documents
            WHERE len(string_split(text, ' ')) > 0
        )
        SELECT doc_id,
               CAST((start - 1) // {CHUNK_STRIDE} AS INT) AS chunk_idx,
               array_to_string(
                   list_slice(w, CAST(start AS BIGINT),
                              CAST(start + {CHUNK_WINDOW} - 1 AS BIGINT)),
                   ' ') AS chunk_text,
               CAST(least({CHUNK_WINDOW}, n - start + 1) AS INT) AS n_tokens
        FROM d, UNNEST(range(1, n + 1, {CHUNK_STRIDE})) AS t(start)
    """,
    "q_curate_corpus": f"""
        WITH m AS (
            SELECT doc_id, lang, text,
                   CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
                   round(CAST(len(list_filter(string_split(text, ' '), x -> x IN ({_STOP_EN}))) AS DOUBLE)
                         / greatest(len(string_split(text, ' ')), 1), 6) AS stop_ratio,
                   round(CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                         / greatest(length(text), 1), 6) AS punct_ratio
            FROM documents
        ),
        gated AS (
            SELECT * FROM m
            WHERE n_tokens >= 20 AND punct_ratio <= 0.3 AND lang = 'en'
        ),
        reps AS (SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
        deduped AS (SELECT g.* FROM gated g JOIN reps USING (doc_id)),
        e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id IN (SELECT doc_id FROM deduped)
        ),
        drop_ids AS (
            SELECT DISTINCT b.vec_id AS doc_id
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                        6) >= {SIM_THRESHOLD}
        )
        SELECT doc_id, lang, n_tokens, stop_ratio
        FROM deduped WHERE doc_id NOT IN (SELECT doc_id FROM drop_ids)
    """,
    "q_multimodal_resize": """
        SELECT doc_id,
               CAST(224 AS INT) AS width,
               CAST(224 AS INT) AS height,
               round(224.0 / (doc_id % 640 + 16), 6) AS scale_x,
               round(224.0 / (doc_id % 480 + 16), 6) AS scale_y
        FROM documents WHERE doc_id % 3 = 0
    """,
    "q_multimodal_frames": """
        SELECT doc_id, CAST(UNNEST(range(0, 100, 10)) AS INT) AS frame_idx
        FROM documents WHERE doc_id % 3 = 2
    """,
    "q_split_dataset": f"""
        WITH b AS (
            SELECT doc_id, lang,
                   list_sum(list_transform(range(0, 8), j ->
                       (strpos('0123456789abcdef',
                               substr(md5(CAST(doc_id AS VARCHAR)), CAST(j AS INT) + 1, 1)) - 1)
                       * CAST(pow(16, 7 - j) AS BIGINT))) % 100 AS bucket
            FROM documents
        )
        SELECT doc_id, lang,
               CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
                    WHEN bucket < {SPLIT_VAL_PCT} THEN 'val'
                    ELSE 'test' END AS split
        FROM b
    """,
    "q_length_buckets": f"""
        WITH t AS (
            SELECT CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
            FROM documents
        ), b AS (
            SELECT CASE
                {' '.join(f'WHEN n_tokens <= {x} THEN {x}' for x in LENGTH_BUCKETS[:-1])}
                ELSE {LENGTH_BUCKETS[-1]} END AS bucket,
                n_tokens
            FROM t
        )
        SELECT CAST(bucket AS INT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
               CAST(bucket * COUNT(*) AS BIGINT) AS padded_tokens,
               round((bucket * COUNT(*) - SUM(n_tokens)) * 100.0
                     / (bucket * COUNT(*)), 4) AS waste_pct
        FROM b GROUP BY bucket
    """,
}

def _lsh_pairs_replay_oracle() -> str:
    """DuckDB replay of the FULL hyperplane-LSH pair pipeline — the
    raw production arm's oracle. Unlike the MinHash raw keys (whose
    banding provably catches every fixture pair, so the exact twin IS
    the oracle), hyperplane LSH misses pairs by design; the only honest
    full oracle is to regenerate the identical signatures, multi-probe
    buckets, candidate pairs, and verified cosines in SQL. This is
    engine-exact, not approximately so: plane entries are the centered
    Irwin-Hall(6) sum of md5("t_p_d")'s six leading 16-bit words and
    the projection is int64 arithmetic on LSH_QUANT fixed-point
    components (floor(v·2²⁰ + 0.5) — exact in
    float64 for float32 inputs, so numpy and DuckDB agree bit-for-bit,
    no summation-order sensitivity). The (planes → tables) sizing is a
    Python-computed VALUES lookup from lsh_tables_for_planes — the one
    place a libm/ceil boundary could diverge between engines stays in
    Python. planes = max(8, ceil(log2 n)) is derived in SQL; log2 is
    exact at powers of two and far from integer boundaries elsewhere,
    so the ceil is safe to mirror."""
    # warn=False: the LUT enumerates hypothetical plane counts far past
    # any gate corpus; the capped warning belongs to REAL sizing calls
    # (lsh_auto_params), and both engines embed the same capped value
    # here so the replay stays engine-exact either way
    lut = ", ".join(
        f"({p}, {similarity.lsh_tables_solve(p, SIM_THRESHOLD, warn=False)[0]})"
        for p in range(8, 65)
    )
    dim = similarity.EMBED_DIM
    quant = similarity.LSH_QUANT
    cos = (
        "round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v))"
        " * sqrt(list_dot_product(b.v, b.v))), 6)"
    )
    return f"""
        WITH par AS (
            SELECT GREATEST(8, CAST(CEIL(LOG2(GREATEST(COUNT(*), 2))) AS INTEGER)) AS np
            FROM embeddings
        ),
        lut(lp, lt) AS (VALUES {lut}),
        par2 AS (SELECT par.np AS np, lut.lt AS nt FROM par JOIN lut ON lut.lp = par.np),
        dims AS (SELECT UNNEST(range(0, {dim})) AS d),
        ph AS (
            SELECT t, p, d,
                   md5(CAST(t AS VARCHAR) || '_' || CAST(p AS VARCHAR)
                       || '_' || CAST(d AS VARCHAR)) AS h
            FROM (SELECT UNNEST(range(0, (SELECT nt FROM par2))) AS t),
                 (SELECT UNNEST(range(0, (SELECT np FROM par2))) AS p),
                 dims
        ),
        plane AS (
            SELECT t, p, d,
                   CAST(CAST('0x' || substr(h, 1, 4) AS INTEGER)
                      + CAST('0x' || substr(h, 5, 4) AS INTEGER)
                      + CAST('0x' || substr(h, 9, 4) AS INTEGER)
                      + CAST('0x' || substr(h, 13, 4) AS INTEGER)
                      + CAST('0x' || substr(h, 17, 4) AS INTEGER)
                      + CAST('0x' || substr(h, 21, 4) AS INTEGER)
                      - 196605 AS BIGINT) AS w
            FROM ph
        ),
        qv AS (
            -- fixed-point components as a DOUBLE list: every value,
            -- product, and partial sum below is integer-valued and
            -- < 2^53, so float64 list_dot_product is EXACT here (same
            -- int64 result as the numpy path, any summation order)
            SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> FLOOR(x * {quant} + 0.5)) AS q
            FROM embeddings
        ),
        pw AS (
            SELECT t, p, list(CAST(w AS DOUBLE) ORDER BY d) AS wv
            FROM plane GROUP BY t, p
        ),
        dot AS (
            SELECT qv.vec_id, pw.t, pw.p, list_dot_product(qv.q, pw.wv) AS s
            FROM qv, pw
        ),
        sig AS (
            SELECT vec_id, t,
                   CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << p)
                            ELSE 0 END) AS BIGINT) AS sg
            FROM dot GROUP BY 1, 2
        ),
        probes AS (
            SELECT vec_id, t, sg AS bkey FROM sig
            UNION ALL
            SELECT vec_id, t, xor(sg, CAST(1 AS BIGINT) << p) AS bkey
            FROM sig, (SELECT UNNEST(range(0, (SELECT np FROM par2))) AS p)
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
            FROM probes a JOIN probes b
                 ON a.t = b.t AND a.bkey = b.bkey AND a.vec_id < b.vec_id
        ),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT c.vec_id_a, c.vec_id_b, {cos} AS cos_sim
        FROM cand c
        JOIN e a ON a.vec_id = c.vec_id_a
        JOIN e b ON b.vec_id = c.vec_id_b
        WHERE {cos} >= {SIM_THRESHOLD}
    """


ORACLES["q_dedup_near"] = f"""
    WITH {_ngram_pairs_ctes(None)}
    SELECT doc_a, doc_b, jaccard FROM jac
"""

ORACLES["q_dedup_incremental_minhash_raw"] = _incremental_near_oracle(None)

ORACLES["q_sim_pairs_lsh_raw"] = _lsh_pairs_replay_oracle()

# --- round-6 verdict oracles (in-query recall / banding-completeness
# claims asserted literally TRUE, counts recomputed relationally — the
# pattern that made the sketch aggregates full-oracle in round 5) -------------

ORACLES["q_dedup_near_verdict"] = f"""
    WITH checked AS (
        SELECT doc_id, text FROM documents
        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT {BRUTE_CHECK_CAP}
    ),
    {_ngram_pairs_ctes(None, source="checked")}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
           (SELECT CAST(LEAST(COUNT(*), {BRUTE_CHECK_CAP}) AS BIGINT)
            FROM documents) AS n_checked,
           CAST(COUNT(*) AS BIGINT) AS n_pairs_exact,
           TRUE AS recall_ok, TRUE AS precision_ok,
           FALSE AS banding_over_budget
    FROM jac
"""

# UNCAPPED twin (max_shingle_freq=None): MinHash verification computes
# exact Jaccard over full shingle sets, so the comparable exact twin
# must not drop hot shingles — against the capped twin, every
# capped-away true dup would count as a spurious MinHash flag. The twin
# is bounded (round 7) to the md5-ranked first BRUTE_CHECK_CAP batch
# docs, mirroring the Spark verify_ids= arm.
ORACLES["q_dedup_incremental_minhash"] = f"""
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
            WHERE doc_id % 3 = 0) AS n_batch,
           CAST(COUNT(*) AS BIGINT) AS n_checked,
           CAST(COALESCE(SUM(CASE WHEN NOT keep THEN 1 END), 0) AS BIGINT)
               AS n_flagged_exact,
           TRUE AS recall_ok, TRUE AS precision_ok
    FROM ({_incremental_near_oracle(None, verify_cap=BRUTE_CHECK_CAP)})
"""

# q_sim_pairs_ivf: FULL replay of the IVF-blocked pair pipeline (the
# q_sim_pairs_lsh_raw discipline — blocking misses pairs by design, so
# the only honest full oracle regenerates the identical blocked set).
# Engine-exact because every step is shared determinism: seed centroids
# are the k smallest-id vectors (no Lloyd float-order sensitivity),
# cell ranking and pair verification use the round-6 cosine both
# engines already hash-match on, ties break by cell id. k mirrors
# similarity.ivf_pair_cells exactly: FLOOR(SQRT(n)+0.5) — half-up in
# both engines (Python round would be banker's).
_IVF_COS = (
    "round(list_dot_product({a}.v, {b}.v)"
    " / (sqrt(list_dot_product({a}.v, {a}.v))"
    " * sqrt(list_dot_product({b}.v, {b}.v))), 6)"
)
ORACLES["q_sim_pairs_ivf"] = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    par AS (
        SELECT GREATEST(8, LEAST(65536,
               CAST(FLOOR(SQRT(COUNT(*)) + 0.5) AS INTEGER))) AS k
        FROM e
    ),
    seeds AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
               v AS c
        FROM e
        QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= (SELECT k FROM par)
    ),
    scored AS (
        SELECT e.vec_id, s.cell,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round(list_dot_product(e.v, s.c)
                            / (sqrt(list_dot_product(e.v, e.v))
                             * sqrt(list_dot_product(s.c, s.c))), 6) DESC,
                            s.cell ASC
               ) AS rn
        FROM e CROSS JOIN seeds s
    ),
    assign AS (SELECT vec_id, cell FROM scored WHERE rn <= {IVF_PAIR_ASSIGN}),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
        FROM assign a JOIN assign b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
    )
    SELECT c.vec_id_a, c.vec_id_b, {_IVF_COS.format(a="ea", b="eb")} AS cos_sim
    FROM cand c
    JOIN e ea ON ea.vec_id = c.vec_id_a
    JOIN e eb ON eb.vec_id = c.vec_id_b
    WHERE {_IVF_COS.format(a="ea", b="eb")} >= {SIM_THRESHOLD}
"""

# q_sim_pairs_ivf_clustered: verdict oracle (the q_sim_pairs_lsh
# contract) — DuckDB rebuilds the twin corpus (double multiply-add
# rounded back to FLOAT, bit-identical to the JVM transform), brute-
# forces the md5-capped checked subset's exact pairs, and asserts the
# Spark-computed recall/precision booleans literally TRUE.
ORACLES["q_sim_pairs_ivf_clustered"] = f"""
    WITH b AS (SELECT vec_id, embedding AS v FROM embeddings),
    twin AS (
        SELECT vec_id + {TWIN_ID_OFFSET} AS vec_id,
               list_transform(v, (x, i) -> CAST(
                   CAST(x AS DOUBLE)
                   + {TWIN_ALPHA} * CAST(v[((i + len(v) - 2) % len(v)) + 1]
                                         AS DOUBLE)
                   AS FLOAT)) AS v
        FROM b
    ),
    u AS (SELECT * FROM b UNION ALL SELECT * FROM twin),
    checked AS (
        SELECT vec_id, CAST(v AS DOUBLE[]) AS v FROM u
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {BRUTE_CHECK_CAP}
    ),
    pairs AS (
        SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
        FROM checked a JOIN checked b ON a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v))),
                    6) >= {CLUSTERED_SIM_THRESHOLD}
    )
    SELECT (SELECT CAST(2 * COUNT(*) AS BIGINT) FROM embeddings) AS n_vecs,
           (SELECT CAST(LEAST(2 * COUNT(*), {BRUTE_CHECK_CAP}) AS BIGINT)
            FROM embeddings) AS n_checked,
           CAST(COUNT(*) AS BIGINT) AS n_pairs_exact,
           TRUE AS recall_ok, TRUE AS precision_ok
    FROM pairs
"""

ORACLES["q_sim_pairs_lsh"] = f"""
    WITH checked AS (
        SELECT vec_id, embedding FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {BRUTE_CHECK_CAP}
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM checked),
    pairs AS (
        SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                    6) >= {SIM_THRESHOLD}
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vecs,
           (SELECT CAST(LEAST(COUNT(*), {BRUTE_CHECK_CAP}) AS BIGINT)
            FROM embeddings) AS n_checked,
           CAST(COUNT(*) AS BIGINT) AS n_pairs_exact,
           TRUE AS recall_ok, TRUE AS precision_ok,
           FALSE AS tables_capped
    FROM pairs
"""

ORACLES["q_sim_topk_ivf"] = f"""
    SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           TRUE AS recall_ok
    FROM ({ORACLES['q_sim_topk']})
"""

_BANDING_VERDICT_SQL = f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(LEAST(COUNT(*), {BRUTE_CHECK_CAP}) AS BIGINT) AS n_checked,
           TRUE AS banding_matches_brute
    FROM documents
"""
ORACLES["q_dedup_simhash"] = _BANDING_VERDICT_SQL
ORACLES["q_multimodal_phash"] = _BANDING_VERDICT_SQL
ORACLES["q_multimodal_phash_real"] = _BANDING_VERDICT_SQL
# Committed reference fixture (tools/gen_png_oracle_fixture.py): the
# independent raster replay — a green row proves the PNG encode→decode
# round trip is pixel-exact corpus-wide (see q_multimodal_decode_real).
ORACLES["q_multimodal_decode_real"] = ORACLES_PNG_REAL

# Committed reference fixture (tools/gen_bpe_oracle_fixture.py): the
# iterative argmax loop has no SQL re-derivation; an independent
# pure-Python learner's merge list is committed per corpus and keyed by
# the corpus's char total (same discriminator as q_bpe_encode).
ORACLES["q_bpe_merges"] = f"""
    SELECT CAST(step AS INT) AS step, "left", "right",
           CAST(pair_count AS BIGINT) AS pair_count
    FROM read_parquet('{ORACLE_FIXTURES}/bpe_merges_ref.parquet')
    WHERE corpus_chars = (SELECT SUM(n_chars) FROM documents)
"""
