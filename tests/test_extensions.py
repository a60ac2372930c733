"""Unit tests for the training-data pipeline operators (SURVEY.md §2.14):
dedup family, similarity search, text analysis, multimodal plumbing."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from hbase_bulkload_spark.functions import text as T
from hbase_bulkload_spark.operators import dedup, multimodal, similarity


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
        (4, "completely different words entirely unrelated text here now"),
        (5, "tiny"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = {r.rep_doc: r.n_copies for r in dedup.exact_dedup(docs).collect()}
    assert out[1] == 2  # docs 1,2 collapse; rep = min id
    assert out[3] == 1 and out[4] == 1 and out[5] == 1


def test_ngram_jaccard_pairs(docs):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in dedup.ngram_jaccard_pairs(docs, 0.5).collect()}
    assert pairs[(1, 2)] == 1.0  # identical
    assert 0.5 <= pairs[(1, 3)] < 1.0  # near dup: 7 shingles, 6 shared... jaccard 6/8
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_ngram_shingle_cap(spark):
    """The default hot-shingle cap drops stop-shingles shared by more
    docs than the cap, preventing the C(m,2) expansion; passing
    ``max_shingle_freq=None`` opts back into the exhaustive join."""
    # every doc is exactly the same single shingle, shared by all 5 docs
    rows = [(i, "hot stop shingle") for i in range(1, 6)]
    hot = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.ngram_jaccard_pairs(hot, 0.5, max_shingle_freq=4).collect()
    assert capped == []  # the only shingle exceeds the cap -> no pairs
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(hot, 0.5, max_shingle_freq=None).collect()
    }
    assert len(uncapped) == 10  # C(5,2) all-pairs when uncapped
    # the default cap is far above the fixture's frequencies: no effect
    assert dedup.DEFAULT_MAX_SHINGLE_FREQ >= 128


def test_minhash_lsh_finds_exact_dups(docs):
    pairs = {(r.doc_a, r.doc_b) for r in dedup.minhash_lsh_pairs(docs, 0.5).collect()}
    assert (1, 2) in pairs  # identical docs always share every band
    assert pairs <= {(1, 2), (1, 3), (2, 3)}  # candidates only among near dups


def test_minhash_lsh_broadcast_hint_is_size_gated(spark):
    """Pathological corpus — every doc identical, so banding degenerates
    into ONE bucket holding the whole corpus and the candidate set is
    C(m,2) = corpus-quadratic. The candidate-doc broadcast hint must not
    survive past broadcast_pairs_limit (a forced broadcast of an
    unbounded set is the OOM shape the round-2 review flagged); results
    must be identical either way."""
    rows = [(i, "same exact duplicated text in every document") for i in range(1, 7)]
    path = spark.createDataFrame(rows, "doc_id long, text string")

    def analyzed(df):
        return df._jdf.queryExecution().analyzed().toString()

    gated = dedup.minhash_lsh_pairs(path, 0.9, broadcast_pairs_limit=0)
    hinted = dedup.minhash_lsh_pairs(path, 0.9)  # default limit ≫ C(6,2)
    assert "ResolvedHint" not in analyzed(gated)
    assert "ResolvedHint" in analyzed(hinted)
    want = {(a, b, 1.0) for a in range(1, 7) for b in range(a + 1, 7)}
    assert {(r.doc_a, r.doc_b, r.jaccard) for r in gated.collect()} == want
    assert {(r.doc_a, r.doc_b, r.jaccard) for r in hinted.collect()} == want


def test_simhash_identical_docs_hamming_zero(docs):
    sig = {r.doc_id: r.simhash for r in dedup.simhash64(docs).collect()}
    assert sig[1] == sig[2]
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in dedup.simhash_pairs(docs, 3).collect()}
    assert pairs[(1, 2)] == 0


def test_brute_force_topk_orthonormal(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),  # closest to 0
        (2, [0.0, 1.0, 0.0, 0.0]),  # orthogonal to 0
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.brute_force_topk(emb, emb.filter("vec_id = 0"), k=3).collect()
    order = [r.cand_id for r in sorted(out, key=lambda r: r.rn)]
    assert order == [1, 2, 3]
    top = next(r for r in out if r.rn == 1)
    assert abs(top.cos_sim - 0.9 / (0.9**2 + 0.1**2) ** 0.5) < 1e-6


def test_lsh_pairs_subset_of_exact(spark, sf_dir):
    from hbase_bulkload_spark.datasets import table

    emb = table(spark, sf_dir, "embeddings")
    exact = {
        (r.vec_id_a, r.vec_id_b)
        for r in similarity.cosine_pairs_exact(emb, 0.4).collect()
    }
    approx = {
        (r.vec_id_a, r.vec_id_b)
        for r in similarity.cosine_pairs_lsh(emb, 0.4).collect()
    }
    assert approx <= exact  # precision is exact; recall probabilistic


def test_lsh_pair_packing_parity_and_gate(spark, sf_dir):
    """r12 (verdict item 1, guide §2.3): packing (id_a, id_b) into one
    long for the candidate-dedup exchange must not change the verified
    pair set OR the scores — same rows, same schema types for long ids.
    The packing is bijective for ids in [0, 2^32), including ids past
    2^31 where the shift wraps the long's sign bit. The footer-stats
    gate must refuse ids >= 2^32."""
    from hbase_bulkload_spark.datasets import table
    from hbase_bulkload_spark.queries.extensions import _lsh_pack_gate

    emb = table(spark, sf_dir, "embeddings")
    plain = similarity.cosine_pairs_lsh(emb, 0.4).collect()
    packed = similarity.cosine_pairs_lsh(emb, 0.4, pack_pair_ids=True).collect()
    key = lambda r: (r.vec_id_a, r.vec_id_b)  # noqa: E731
    assert sorted(map(tuple, plain)) == sorted(map(tuple, packed))
    assert len({key(r) for r in packed}) == len(packed)

    # sign-bit wrap: ids >= 2^31 still round-trip exactly
    big = 3_000_000_000  # > 2^31, < 2^32
    d = 64  # the signature UDF's hyperplane dimensionality
    v0 = [1.0] + [0.0] * (d - 1)
    v1 = [1.0, 0.05] + [0.0] * (d - 2)
    v2 = [0.0, 1.0] + [0.0] * (d - 2)
    rows = [(big, v0), (big + 1, v1), (5, v2)]
    emb2 = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        key(r)
        for r in similarity.cosine_pairs_lsh(
            emb2, 0.9, pack_pair_ids=True
        ).collect()
    }
    assert got == {(big, big + 1)}

    # footer-stats gate: sf fixture ids fit u32 -> pack; no stats/huge
    # ids exercised via the helper's contract on the real fixture
    assert _lsh_pack_gate(sf_dir) is True


def test_lsh_pack_gate_refuses_huge_ids(tmp_path):
    """Ids at/past 2^32 must fall back to the unpacked plan, loudly."""
    import warnings

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hbase_bulkload_spark.queries.extensions import _lsh_pack_gate

    t = pa.table(
        {
            "vec_id": pa.array([0, 1 << 32], pa.int64()),
            "embedding": pa.array([[0.0], [1.0]], pa.list_(pa.float32())),
            "label": pa.array(["a", "b"]),
        }
    )
    pq.write_table(t, str(tmp_path / "embeddings.parquet"))
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert _lsh_pack_gate(str(tmp_path)) is False
    assert any("pair packing disabled" in str(x.message) for x in w)


def test_lsh_pack_force_still_checks_id_bound(tmp_path, monkeypatch):
    """SPARK_GRAFT_LSH_PACK=1 packs only when the footer stats do not
    prove an id out of u32: a ``vec_id`` reaching 2^32 warns and keeps
    the unpacked plan; absent stats take the override's word."""
    import warnings

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hbase_bulkload_spark.queries.extensions import _lsh_pack_gate

    def write(ids, **kw):
        t = pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array([[0.0]] * len(ids), pa.list_(pa.float32())),
                "label": pa.array(["a"] * len(ids)),
            }
        )
        pq.write_table(t, str(tmp_path / "embeddings.parquet"), **kw)

    monkeypatch.setenv("SPARK_GRAFT_LSH_PACK", "1")
    write([5, 1 << 32])
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert _lsh_pack_gate(str(tmp_path)) is False
    assert any(
        "pair packing disabled" in str(x.message) and "overruled" in str(x.message)
        for x in w
    )

    write([-1, 5])
    with pytest.warns(RuntimeWarning, match="pair packing disabled"):
        assert _lsh_pack_gate(str(tmp_path)) is False

    write([0, (1 << 32) - 1])
    assert _lsh_pack_gate(str(tmp_path)) is True

    write([5, 1 << 32], write_statistics=False)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert _lsh_pack_gate(str(tmp_path)) is True

    monkeypatch.setenv("SPARK_GRAFT_LSH_PACK", "0")
    write([0, 1])
    assert _lsh_pack_gate(str(tmp_path)) is False


def test_ivf_topk_precision_and_recall(spark, sf_dir):
    """IVF results must carry exact scores (precision exact); recall vs
    the exact top-k is probe-budget-dependent but must be substantial on
    this data. n_probe == n_centroids degenerates to the exact scan."""
    from hbase_bulkload_spark.datasets import table

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 4")
    exact = {
        (r.query_id, r.cand_id): r.cos_sim
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    ivf = {
        (r.query_id, r.cand_id): r.cos_sim
        for r in similarity.ivf_topk(emb, queries, k=5).collect()
    }
    for pair, cos in ivf.items():
        if pair in exact:
            assert cos == exact[pair]  # identical exact scoring
    recall = len(set(ivf) & set(exact)) / len(exact)
    assert recall >= 0.5

    full_probe = {
        (r.query_id, r.cand_id)
        for r in similarity.ivf_topk(
            emb, queries, k=5, n_centroids=8, n_probe=8
        ).collect()
    }
    assert full_probe == set(exact)


def test_text_metrics(spark):
    df = spark.createDataFrame([("the cat, sat!",)], "text string")
    row = df.select(
        T.stopword_ratio(T.tokens("text")).alias("sr"),
        T.punct_ratio("text").alias("pr"),
        T.mean_token_len(T.tokens("text")).alias("mtl"),
        T.token_count_bpe_ish("text").alias("bpe"),
    ).first()
    assert row.sr == round(1 / 3, 6)  # 'the' of 3 tokens
    assert row.pr == round(2 / 13, 6)  # ',' and '!'
    assert row.mtl == round((3 + 4 + 4) / 3, 6)
    assert row.bpe == 5  # the, cat, ',', sat, '!'


def test_char_ngrams_md5_golden(spark):
    df = spark.createDataFrame([("abcdefgh",), ("short",)], "text string")
    rows = df.select(T.char_ngrams_md5("text", 8).alias("g")).collect()
    full = [r.g for r in rows if len(r.g) == 1][0]
    assert full[0] == hashlib.md5(b"abcdefgh").hexdigest()
    assert [r.g for r in rows if len(r.g) == 0]  # <8 chars → empty array


def test_multimodal_stub_and_frames(docs):
    media = multimodal.attach_payload(docs)
    feats = multimodal.decode_features(media).collect()
    assert len(feats) == 5
    by_id = {r.doc_id: r for r in feats}
    assert by_id[1].n_bytes == 16  # md5 payload
    assert by_id[1].mean_byte == by_id[2].mean_byte  # same text → same payload
    assert {r.modality for r in feats} <= {"image", "audio", "video"}

    # the real-decode boundary fails LOUDLY on non-PNG payloads (the
    # md5 stub payloads are not images) instead of faking features
    with pytest.raises(Exception) as ei:
        multimodal.decode_features(media, decode_stub=False).collect()
    assert "not a PNG" in str(ei.value)

    frames = multimodal.frame_sample(media).collect()
    assert all(r.frame_idx % 10 == 0 for r in frames)


def test_multimodal_resize(docs):
    media = multimodal.attach_payload(docs)
    rs = multimodal.resize(media, target_width=224, target_height=112).collect()
    assert rs and all(r.modality == "image" for r in rs)
    src = {r.doc_id: r for r in media.collect()}
    for r in rs:
        assert (r.width, r.height) == (224, 112)
        assert r.scale_x == 224 / src[r.doc_id].meta.width
        assert r.scale_y == 112 / src[r.doc_id].meta.height
        assert bytes(r.payload) == bytes(src[r.doc_id].payload)  # stub keeps bytes

    with pytest.raises(Exception) as ei:
        multimodal.resize(media, decode_stub=False).collect()
    assert "not a PNG" in str(ei.value)


def test_multimodal_real_png_pipeline(docs):
    """The real-codec path end to end (VERDICT r6 item 8): PNG payloads
    synthesized distributively, decoded back to true IHDR dims and
    pixel means, resized through an actual resample + re-encode, and
    pHashed from genuinely decoded pixels. doc_ids cycle the scanline
    filter type, so this exercises every unfilter path under Spark."""
    import numpy as np

    from hbase_bulkload_spark.sources.png_codec import decode_png

    media = multimodal.attach_png_payload(docs)
    rows = {r.doc_id: r for r in media.collect()}
    assert len(rows) == 5
    for r in rows.values():
        px = decode_png(bytes(r.payload))  # driver-side independent decode
        assert px.shape == (32, 32, 1)

    feats = {r.doc_id: r for r in
             multimodal.decode_features(media, decode_stub=False).collect()}
    for did, r in feats.items():
        px = decode_png(bytes(rows[did].payload))
        assert (r.width, r.height) == (32, 32)
        assert abs(r.mean_byte - float(px.mean())) < 1e-9
        assert r.n_bytes == len(bytes(rows[did].payload))
    # same text -> same pixels -> same mean, regardless of filter type
    assert feats[1].mean_byte == feats[2].mean_byte

    rs = multimodal.resize(
        media, target_width=16, target_height=8, decode_stub=False
    ).collect()
    assert rs and all(r.modality == "image" for r in rs)
    for r in rs:
        out = decode_png(bytes(r.payload))
        assert out.shape == (8, 16, 1)
        assert (r.scale_x, r.scale_y) == (16 / 32, 8 / 32)

    # pHash from genuinely decoded pixels: ids all ≡ 0 mod 3 (image
    # rows), spanning all 5 filter types (id % 5 ∈ {0,3,1,4,2}); ids 0
    # and 3 share text, so their PNGs differ byte-wise (different
    # filters) but MUST decode to the same image and hash identically
    spark = docs.sparkSession
    img_docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "alpha beta gamma delta epsilon zeta eta theta"),
            (6, "totally different content for a distant hash value"),
            (9, "yet another unrelated document body goes here"),
            (12, "and a fifth body to cover the last filter type"),
        ],
        "doc_id long, text string",
    )
    img_media = multimodal.attach_png_payload(img_docs)
    real = {r.doc_id: r.phash for r in
            multimodal.phash64(img_media, decode_stub=False).collect()}
    assert set(real) == {0, 3, 6, 9, 12}
    assert real[0] == real[3]
    assert real[0] != real[6]
    # determinism
    again = {r.doc_id: r.phash for r in
             multimodal.phash64(img_media, decode_stub=False).collect()}
    assert again == real


def test_embedding_dedup_verdicts(spark):
    """Min-id policy: identical vectors collapse onto the lowest id;
    orthogonal vectors are kept; dup_of is the SMALLEST near neighbor.
    The lsh method must flag a subset of the exact method's dups."""
    def basis(i, scale=1.0, eps_j=None, eps=0.0):
        # 64-dim (the LSH hyperplane width) unit-ish vectors
        v = [0.0] * 64
        v[i] = scale
        if eps_j is not None:
            v[eps_j] = eps
        return v

    rows = [
        (0, basis(0)),
        (1, basis(1)),                       # orthogonal to everything with id<1
        (2, basis(0, eps_j=1, eps=0.001)),   # near-dup of 0
        (3, basis(0, scale=2.0)),            # scaled copy of 0 (cos=1)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    docs = emb.select(F.col("vec_id").alias("doc_id"))
    out = {
        r.doc_id: r
        for r in dedup.embedding_dedup(docs, emb, threshold=0.95).collect()
    }
    assert not out[0].is_dup and out[0].dup_of is None
    assert not out[1].is_dup
    assert out[2].is_dup and out[2].dup_of == 0
    assert out[3].is_dup and out[3].dup_of == 0
    assert out[3].max_sim == 1.0

    exact_dups = {d for d, r in out.items() if r.is_dup}
    lsh = dedup.embedding_dedup(docs, emb, threshold=0.95, method="lsh")
    lsh_dups = {r.doc_id for r in lsh.collect() if r.is_dup}
    assert lsh_dups <= exact_dups

    # ivf (round 10): tight duplicates share a top cell with their
    # original by construction, so the clustered regime flags ALL of
    # the exact method's dups here — and never a spurious one
    ivf = dedup.embedding_dedup(docs, emb, threshold=0.95, method="ivf")
    ivf_dups = {r.doc_id: r for r in ivf.collect() if r.is_dup}
    assert set(ivf_dups) == exact_dups
    assert ivf_dups[2].dup_of == 0 and ivf_dups[3].dup_of == 0

    with pytest.raises(ValueError, match="exact.*lsh"):
        dedup.embedding_dedup(docs, emb, method="bogus")

    # round-11 regression (ADVICE): every method must honor a
    # NON-default vec_id_col — the lsh branch once dropped id_col and
    # resolved a phantom 'vec_id' column
    emb2 = emb.withColumnRenamed("vec_id", "eid")
    for method in ("exact", "lsh", "ivf"):
        out2 = {
            r.doc_id: r
            for r in dedup.embedding_dedup(
                docs, emb2, threshold=0.95, method=method, vec_id_col="eid"
            ).collect()
        }
        assert set(out2) == set(out)
        got_dups = {d for d, r in out2.items() if r.is_dup}
        assert got_dups <= exact_dups
        if method in ("exact", "ivf"):
            assert got_dups == exact_dups


def test_ivf_materialized_index_matches_fused(spark, sf_dir, tmp_path):
    """The materialized IVF index (cell as a physical partition column)
    must return exactly the fused index-free probe's results, and its
    probe scan must carry a partition filter on cell — pruning whole
    cell directories at file-listing time."""
    from hbase_bulkload_spark.datasets import table
    from hbase_bulkload_spark.plans import physical_plan

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    idx = str(tmp_path / "ivf")
    similarity.ivf_build_index(emb, idx, n_centroids=16)

    probed = similarity.ivf_probe_index(spark, idx, queries, k=5, n_probe=4)
    fused = similarity.ivf_topk(emb, queries, k=5, n_probe=4)
    got = sorted(tuple(r) for r in probed.collect())
    want = sorted(tuple(r) for r in fused.collect())
    assert got == want

    plan = physical_plan(probed)
    assert "PartitionFilters" in plan
    # the filter must actually constrain cell, not be empty
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan


def test_text_repetition_metrics(spark):
    """Hand-computed repetition signals: 'a a a b' has distinct 2/4,
    top 3/4, entropy = -(3/4 log2 3/4 + 1/4 log2 1/4) ≈ 0.811278."""
    import math

    from hbase_bulkload_spark.functions import text as T2
    from pyspark.sql import functions as F2

    df = spark.createDataFrame([(1, "a a a b")], "doc_id long, text string")
    w = T2.tokens("text")
    n = F2.size(w)
    distinct = F2.array_distinct(w)
    freqs = F2.transform(distinct, lambda t: F2.size(F2.filter(w, lambda x: x == t)))
    probs = F2.transform(freqs, lambda f: f.cast("double") / n.cast("double"))
    entropy = -F2.aggregate(probs, F2.lit(0.0), lambda acc, p: acc + p * F2.log2(p))
    r = df.select(
        F2.round(F2.size(distinct).cast("double") / n, 6).alias("dr"),
        F2.round(F2.array_max(freqs).cast("double") / n, 6).alias("tr"),
        F2.round(entropy, 6).alias("ent"),
    ).first()
    assert r.dr == 0.5
    assert r.tr == 0.75
    want = -(0.75 * math.log2(0.75) + 0.25 * math.log2(0.25))
    assert abs(r.ent - round(want, 6)) < 1e-9


def test_corpus_jsonl_roundtrip(spark, sf_dir, tmp_path):
    """The JSONL sink round-trips the documents table exactly through
    lang-partitioned shards, and the layout is one directory per lang."""
    import os

    from hbase_bulkload_spark.datasets import table
    from hbase_bulkload_spark.sources import records as R

    docs = table(spark, sf_dir, "documents")
    out = str(tmp_path / "corpus")
    R.write_corpus_jsonl(docs, out)

    langs = {r.lang for r in docs.select("lang").distinct().collect()}
    dirs = {d for d in os.listdir(out) if d.startswith("lang=")}
    assert dirs == {f"lang={lang}" for lang in langs}

    back = (
        spark.read.schema("doc_id bigint, text string, source string, n_chars bigint, lang string")
        .option("basePath", out)
        .json(out + "/lang=*")
        .select("doc_id", "text", "lang", "source", "n_chars")
    )
    want = docs.select("doc_id", "text", "lang", "source", "n_chars")
    assert back.count() == want.count()
    assert back.exceptAll(want).count() == 0 and want.exceptAll(back).count() == 0


def test_chunk_documents_boundaries(spark, tmp_path, monkeypatch):
    """Chunk semantics pinned on hand-computable docs: a doc shorter
    than the window yields one short chunk; a doc exactly one window
    long yields one full chunk plus the stride-tail chunks the start
    sequence implies; overlap = window - stride tokens."""
    from hbase_bulkload_spark.queries import extensions as X

    rows = [
        (1, " ".join(f"t{i}" for i in range(5))),    # n=5 < window
        (2, " ".join(f"t{i}" for i in range(32))),   # n == window
        (3, " ".join(f"t{i}" for i in range(60))),   # n = 60: starts 1,25,49
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", "test", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(
        X, "_docs", lambda _spark, _sf: docs
    )
    out = X.q_chunk_documents(spark, "unused").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for chunks in by_doc.values():
        chunks.sort(key=lambda r: r.chunk_idx)

    assert [(r.chunk_idx, r.n_tokens) for r in by_doc[1]] == [(0, 5)]
    assert by_doc[1][0].chunk_text == "t0 t1 t2 t3 t4"

    # n=32: starts 1, 25 -> full chunk + 8-token tail
    assert [(r.chunk_idx, r.n_tokens) for r in by_doc[2]] == [(0, 32), (1, 8)]
    assert by_doc[2][0].chunk_text.split(" ")[0] == "t0"
    assert by_doc[2][1].chunk_text.split(" ")[0] == "t24"  # overlap of 8

    # n=60: starts 1, 25, 49 -> 32, 32, 12 tokens
    assert [(r.chunk_idx, r.n_tokens) for r in by_doc[3]] == [
        (0, 32), (1, 32), (2, 12),
    ]
    # consecutive chunks overlap by window - stride = 8 tokens
    a = by_doc[3][0].chunk_text.split(" ")
    b = by_doc[3][1].chunk_text.split(" ")
    assert a[-8:] == b[:8]


def test_connected_components_chain(spark):
    """Label propagation reaches across chains: a-b + b-c collapse to
    one component labeled min(a) even though a,c never pair directly;
    isolated nodes keep their own id."""
    pairs = spark.createDataFrame(
        [(2, 5), (5, 9), (7, 8)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 5, 7, 8, 9)], "doc_id long")
    out = dedup.connected_components(pairs, nodes)
    # the r11 fused convergence flag (__changed) is internal — it must
    # never leak into the returned schema
    assert out.columns == ["doc_id", "comp_id"]
    got = {r.doc_id: r.comp_id for r in out.collect()}
    assert got == {1: 1, 2: 2, 5: 2, 9: 2, 7: 7, 8: 7}


def test_components_match_union_find(spark):
    """Min-label propagation gives every node the smallest id of its
    component, as a Python union-find does — random graphs plus a long
    path (the deepest case for propagation)."""
    import random

    cases = []
    rng = random.Random(7)
    for _ in range(3):
        n = 40
        cases.append(
            (n, [(rng.randrange(n), rng.randrange(n)) for _ in range(45)])
        )
    perm = list(range(30))
    random.Random(1).shuffle(perm)
    cases.append((30, [(perm[i], perm[i + 1]) for i in range(29)]))  # path

    for n, raw in cases:
        edges = [(a, b) for a, b in raw if a != b] or [(0, 1)]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        want = {i: find(i) for i in range(n)}
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        got = {
            r.doc_id: r.comp_id
            for r in dedup.connected_components(pairs, nodes).collect()
        }
        assert got == want


def test_decontaminate_flags_overlap(spark):
    """Doc sharing an 8-gram with the benchmark doc is flagged; an
    unrelated doc is not; benchmark docs are excluded from the output."""
    words = " ".join(f"w{i}" for i in range(10))  # 10 tokens → 3 8-grams
    rows = [
        (0, words + " tail"),                    # benchmark (0 % 3 == 0)
        (1, "lead " + words),                    # shares 8-grams with 0
        (2, " ".join(f"x{i}" for i in range(12))),  # disjoint vocabulary
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.contaminated, r.n_overlap)
        for r in dedup.decontaminate(docs, F.col("doc_id") % 3 == 0, n=8).collect()
    }
    assert set(out) == {1, 2}
    assert out[1][0] is True and out[1][1] >= 1
    assert out[2] == (False, 0)


def test_redact_pii_patterns(spark):
    from hbase_bulkload_spark.functions.text import redact_pii

    rows = [
        (1, "mail a.b-c_1@ex-ample.org now"),
        (2, "call 415-555-0199 or visit 10.0.3.77 ok"),
        (3, "clean text with no pii at all"),
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    got = {r.i: r.r for r in df.select("i", redact_pii("t").alias("r")).collect()}
    assert got[1] == "mail <EMAIL> now"
    assert got[2] == "call <PHONE> or visit <IP> ok"
    assert got[3] == rows[2][1]


def test_split_dataset_deterministic_and_partitioning(spark, sf_dir):
    """Train/val/test split: every doc gets exactly one split, the split
    is a pure function of doc_id (stable under re-evaluation), and the
    md5 bucketing lands near the configured 90/5/5 fractions."""
    from hbase_bulkload_spark.queries.extensions import q_split_dataset

    a = {r.doc_id: r.split for r in q_split_dataset(spark, sf_dir).collect()}
    b = {r.doc_id: r.split for r in q_split_dataset(spark, sf_dir).collect()}
    assert a == b
    n = len(a)
    frac = {s: sum(1 for v in a.values() if v == s) / n for s in ("train", "val", "test")}
    assert 0.8 < frac["train"] < 1.0
    assert 0 < frac["val"] < 0.15 and 0 < frac["test"] < 0.15


def test_length_bucket_ladder_boundaries(spark):
    """Bucket assignment at exact pow-2 boundaries: n<=16 → 16, 17 → 32,
    and anything past the ladder top lands in the catch-all bucket."""
    import os
    import tempfile

    from hbase_bulkload_spark.queries.extensions import LENGTH_BUCKETS, q_length_buckets

    rows = [
        (1, " ".join(["w"] * 16), "en", "s", 16),   # boundary: exactly 16
        (2, " ".join(["w"] * 17), "en", "s", 17),   # just over → 32
        (3, " ".join(["w"] * 5000), "en", "s", 5000),  # past top → 1024
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        got = {r.bucket: r.n_docs for r in q_length_buckets(spark, d).collect()}
    assert got == {16: 1, 32: 1, LENGTH_BUCKETS[-1]: 1}


def test_semantic_dedup_clusters_and_verdicts(spark):
    """SemDeDup invariants: assignment is a partition (one cluster per
    vec); exact copies share a cluster by construction (identical
    vectors score identically against every centroid) so they always
    collapse onto the min id; flagged dups are a subset of the
    all-pairs exact method's dups (blocking can only LOSE pairs)."""
    def basis(i, scale=1.0):
        v = [0.0] * 64
        v[i % 64] = scale
        return v

    rows = (
        [(i, basis(i)) for i in range(8)]
        + [(100, basis(0)), (101, basis(0, scale=3.0))]  # copies of vec 0
    )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r.vec_id: r
        for r in dedup.semantic_dedup(emb, n_clusters=3, threshold=0.95).collect()
    }
    assert len(out) == len(rows)  # one verdict row per vector
    assert all(r.cluster_id is not None for r in out.values())
    # identical direction ⇒ identical argmax ⇒ same cluster ⇒ collapsed
    assert out[100].cluster_id == out[0].cluster_id == out[101].cluster_id
    assert not out[0].is_dup  # min id of its copy-group survives
    assert out[100].is_dup and out[100].dup_of == 0
    assert out[101].is_dup and out[101].dup_of == 0 and out[101].max_sim == 1.0

    exact_dups = {
        r.doc_id
        for r in dedup.embedding_dedup(
            emb.select(F.col("vec_id").alias("doc_id")), emb, threshold=0.95
        ).collect()
        if r.is_dup
    }
    sem_dups = {v for v, r in out.items() if r.is_dup}
    assert sem_dups <= exact_dups


def test_duplicated_spans_merge_and_bounds(spark):
    """Span mechanics: a shared 10-token run yields ONE merged span
    covering tokens 1-10 in both docs (grams at pos 1-3 coalesce); two
    shared runs separated by unique text yield two spans; docs shorter
    than k and docs with no cross-doc gram yield nothing."""
    shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"
    shared2 = "t1 t2 t3 t4 t5 t6 t7 t8"
    rows = [
        (1, f"{shared} u1 u2 u3 u4 u5 u6 u7 u8 u9 {shared2}"),
        (2, f"{shared} v1 v2 v3 v4"),
        (3, f"w1 w2 {shared2}"),
        (4, "x1 x2 x3 x4 x5 x6 x7 x8 x9"),  # no cross-doc gram
        (5, "short doc"),                    # < k tokens
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {
        (r.doc_id, r.span_start): r
        for r in dedup.duplicated_spans(docs, k=8).collect()
    }
    by_doc = {}
    for (d, _), r in spans.items():
        by_doc.setdefault(d, []).append(r)
    # doc 1: two islands — tokens 1..10 (3 grams) and the trailing 8-gram
    assert len(by_doc[1]) == 2
    first = spans[(1, 1)]
    assert (first.span_end, first.n_dup_grams) == (10, 3)
    second = by_doc[1][0] if by_doc[1][0].span_start != 1 else by_doc[1][1]
    assert second.span_end - second.span_start == 7 and second.n_dup_grams == 1
    # doc 2: one span over tokens 1..10
    assert len(by_doc[2]) == 1 and spans[(2, 1)].span_end == 10
    # doc 3: the shared2 8-gram starts at token 3
    assert len(by_doc[3]) == 1 and spans[(3, 3)].span_end == 10
    assert 4 not in by_doc and 5 not in by_doc


def test_profile_table_stats(spark):
    """Null/distinct/min-max bookkeeping, and the approx variant keeps
    the schema while staying within HLL error on distincts."""
    from hbase_bulkload_spark.operators.profile import profile_table

    rows = [(1, "a", 2.5), (2, "b", None), (3, "a", 7.25), (4, None, 2.5)]
    df = spark.createDataFrame(rows, "k long, s string, x double")
    cols = {
        "k": F.col("k"),
        "s": F.col("s"),
        "x": F.col("x").cast("decimal(18,2)"),
    }
    out = {r.col_name: r for r in profile_table(df, cols).collect()}
    assert all(r.n_rows == 4 for r in out.values())
    assert (out["k"].n_null, out["k"].n_distinct) == (0, 4)
    assert (out["s"].n_null, out["s"].n_distinct) == (1, 2)
    assert (out["x"].n_null, out["x"].n_distinct) == (1, 2)
    assert (out["x"].min_s, out["x"].max_s) == ("2.50", "7.25")
    assert (out["s"].min_s, out["s"].max_s) == ("a", "b")

    approx = {r.col_name: r for r in profile_table(df, cols, exact=False).collect()}
    assert set(approx) == set(out)
    assert approx["k"].n_rows == 4 and abs(approx["k"].n_distinct - 4) <= 1


def test_duplicated_spans_property(spark):
    """Hypothesis-driven: on random small-alphabet corpora the Spark
    spans must equal a brute-force Python reference (posting lists +
    interval merge). Cases share one Spark round trip; token namespaces
    are case-prefixed so corpora cannot interact."""
    from hypothesis import given, settings, strategies as st

    K = 3
    cases: list[list[list[str]]] = []
    doc_strat = st.lists(st.sampled_from("abcd"), min_size=0, max_size=12)

    @settings(max_examples=25, deadline=None)
    @given(st.lists(doc_strat, min_size=1, max_size=6))
    def collect(docs):
        cases.append(docs)

    collect()

    rows, expected = [], set()
    base = 0
    for ci, case in enumerate(cases):
        corpus = {
            base + j: [f"c{ci}_{t}" for t in toks]
            for j, toks in enumerate(case)
        }
        base += len(case)
        for d, toks in corpus.items():
            rows.append((d, " ".join(toks)))
        grams: dict[str, set[int]] = {}
        for d, toks in corpus.items():
            for i in range(len(toks) - K + 1):
                grams.setdefault(" ".join(toks[i : i + K]), set()).add(d)
        dup = {g for g, ds in grams.items() if len(ds) >= 2}
        for d, toks in corpus.items():
            poss = [
                i + 1
                for i in range(len(toks) - K + 1)
                if " ".join(toks[i : i + K]) in dup
            ]
            start = prev = None
            n = 0
            for p in poss:
                if prev is not None and p - prev <= K:
                    prev, n = p, n + 1
                else:
                    if start is not None:
                        expected.add((d, start, prev + K - 1, n))
                    start, prev, n = p, p, 1
            if start is not None:
                expected.add((d, start, prev + K - 1, n))

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_dup_grams)
        for r in dedup.duplicated_spans(df, k=K).collect()
    }
    assert got == expected, (sorted(got - expected)[:5], sorted(expected - got)[:5])


def test_incremental_dedup_verdicts(spark):
    """History dups flagged, batch-internal dups keep only the first
    occurrence, novel docs keep; a doc that is BOTH a history dup and a
    batch dup reports both facts and keeps neither way."""
    hist = spark.createDataFrame(
        [(1, "seen before"), (2, "old news")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, "brand new"),
            (11, "seen before"),     # dup of history
            (12, "brand new"),       # dup of 10 within batch
            (13, "seen before"),     # dup of history AND of 11
            (14, "also novel"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.incremental_dedup(hist, batch).collect()}
    assert out[10].keep and not out[10].dup_of_history and out[10].dup_in_batch is None
    assert not out[11].keep and out[11].dup_of_history
    assert not out[12].keep and out[12].dup_in_batch == 10
    assert not out[13].keep and out[13].dup_of_history and out[13].dup_in_batch == 11
    assert out[14].keep


def test_minhash_bucket_cap_drops_degenerate_corpus(spark):
    """The opt-in band-bucket cap: a corpus of identical docs puts all
    n docs in every band bucket — capped, the buckets drop (documented
    recall loss on the degenerate cluster); uncapped, all pairs
    emerge."""
    n = 12
    rows = [(i, "same exact text for every single document here") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.minhash_lsh_pairs(docs, 0.5, max_bucket_size=8).collect()
    assert capped == []
    uncapped = dedup.minhash_lsh_pairs(docs, 0.5).collect()
    assert len(uncapped) == n * (n - 1) // 2
    # incremental variant: same valve
    hist = docs.filter("doc_id < 6")
    batch = docs.filter("doc_id >= 6")
    inc_capped = {
        r.doc_id: r
        for r in dedup.incremental_minhash_dedup(
            hist, batch, max_bucket_size=8
        ).collect()
    }
    assert all(r.keep for r in inc_capped.values())
    inc = {
        r.doc_id: r for r in dedup.incremental_minhash_dedup(hist, batch).collect()
    }
    assert all(r.dup_of_history == 0 for r in inc.values())


def test_incremental_ngram_dedup_verdicts(spark):
    """Near-dup (not just exact) verdicts against history and within
    the batch: a batch doc sharing most 3-grams with a history doc is
    dup_of_history; one near an EARLIER batch doc is dup_in_batch (min
    id); later ids never flag; a doc with no near-dup keeps. History is
    never paired with itself (asserted indirectly: identical history
    docs don't affect batch verdicts)."""
    base = "the quick brown fox jumps over the lazy dog again today"
    hist = spark.createDataFrame(
        [(1, base), (2, base), (3, "completely unrelated history text here")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, base + " extra"),          # near-dup of history 1 (min id)
            (11, "fresh novel content with its own distinct wording"),
            (12, "fresh novel content with its own distinct wordings"),  # near 11
            (13, "nothing like anything else in any corpus at all"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in dedup.incremental_ngram_dedup(hist, batch, threshold=0.5).collect()
    }
    assert len(out) == 4
    assert out[10].dup_of_history == 1 and not out[10].keep
    assert out[11].dup_in_batch is None and out[11].dup_of_history is None
    assert out[11].keep
    assert out[12].dup_in_batch == 11 and not out[12].keep
    assert out[13].keep


def test_incremental_ngram_verify_ids_subset(spark):
    """``verify_ids=`` bounds which batch docs are VERIFIED without
    changing any verified doc's verdict: the candidate side stays
    complete, so a checked doc whose dup_in_batch partner lies OUTSIDE
    the subset still flags it (the hazard a naive subset-vs-subset twin
    would miss — partner 11 below is excluded from verify_ids, yet doc
    12's verdict must still name it)."""
    base = "the quick brown fox jumps over the lazy dog again today"
    hist = spark.createDataFrame(
        [(1, base), (3, "completely unrelated history text here")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, base + " extra"),          # dup_of_history 1
            (11, "fresh novel content with its own distinct wording"),
            (12, "fresh novel content with its own distinct wordings"),  # near 11
            (13, "nothing like anything else in any corpus at all"),
        ],
        "doc_id long, text string",
    )
    full = {
        r.doc_id: (r.dup_of_history, r.dup_in_batch, r.keep)
        for r in dedup.incremental_ngram_dedup(
            hist, batch, threshold=0.5
        ).collect()
    }
    checked = spark.createDataFrame([(10,), (12,)], "doc_id long")
    sub = {
        r.doc_id: (r.dup_of_history, r.dup_in_batch, r.keep)
        for r in dedup.incremental_ngram_dedup(
            hist, batch, threshold=0.5, verify_ids=checked
        ).collect()
    }
    assert set(sub) == {10, 12}
    assert sub == {k: full[k] for k in (10, 12)}
    assert sub[12][1] == 11  # out-of-subset partner still visible


def test_incremental_ngram_stored_index_parity(spark, sf_dir, tmp_path):
    """The stored-index form: shingle_postings(history) persisted to
    parquet and fed back via history_postings= must produce verdicts
    identical to recomputing from history text — the crawl-increment
    contract where no later increment re-shingles the corpus."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    idx_path = str(tmp_path / "shingle_index")
    dedup.shingle_postings(hist).write.parquet(idx_path)
    stored = spark.read.parquet(idx_path)
    a = sorted(
        map(tuple, dedup.incremental_ngram_dedup(hist, batch).collect())
    )
    b = sorted(
        map(
            tuple,
            dedup.incremental_ngram_dedup(
                hist.limit(0), batch, history_postings=stored
            ).collect(),
        )
    )
    assert a == b and len(a) > 0


def test_incremental_hash_stored_index_parity(spark, sf_dir, tmp_path):
    """hash_index(history) persisted and fed back via history_hashes=
    must produce identical verdicts to recomputing from history text."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    idx_path = str(tmp_path / "hash_index")
    dedup.hash_index(hist).write.parquet(idx_path)
    stored = spark.read.parquet(idx_path)
    a = sorted(map(tuple, dedup.incremental_dedup(hist, batch).collect()))
    b = sorted(
        map(
            tuple,
            dedup.incremental_dedup(
                hist.limit(0), batch, history_hashes=stored
            ).collect(),
        )
    )
    assert a == b and len(a) > 0


def test_incremental_minhash_stored_index_parity(spark, sf_dir, tmp_path):
    """minhash_band_index(history) persisted and fed back via
    history_bands= must produce identical verdicts to recomputing
    signatures from history text."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    idx_path = str(tmp_path / "band_index")
    dedup.minhash_band_index(hist).write.parquet(idx_path)
    stored = spark.read.parquet(idx_path)
    a = sorted(map(tuple, dedup.incremental_minhash_dedup(hist, batch).collect()))
    b = sorted(
        map(
            tuple,
            dedup.incremental_minhash_dedup(
                hist, batch, history_bands=stored
            ).collect(),
        )
    )
    assert a == b and len(a) > 0


def test_incremental_shared_shingles_parity(spark, sf_dir):
    """Pre-shingled (doc_id, shs) frames fed via history_shingled= /
    batch_shingled= must produce verdicts identical to the default
    shingle-from-text path, for BOTH incremental operators (the r11
    shared-shingles optimization of q_dedup_incremental_minhash: one
    shingle pass feeds the exact arm's postings, the MinHash arm's
    signatures, and the exact-Jaccard verification)."""
    from pyspark.sql import functions as F

    from hbase_bulkload_spark.functions.text import word_shingles_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    hist = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    shingled = docs.select(
        "doc_id", word_shingles_text(F.col("text"), 3).alias("shs")
    ).localCheckpoint(eager=True)
    hist_sh = shingled.filter(F.col("doc_id") % 3 != 0)
    batch_sh = shingled.filter(F.col("doc_id") % 3 == 0)

    mh_a = sorted(
        map(tuple, dedup.incremental_minhash_dedup(hist, batch).collect())
    )
    mh_b = sorted(
        map(
            tuple,
            dedup.incremental_minhash_dedup(
                hist, batch,
                history_shingled=hist_sh, batch_shingled=batch_sh,
            ).collect(),
        )
    )
    assert mh_a == mh_b and len(mh_a) > 0

    ng_a = sorted(
        map(tuple, dedup.incremental_ngram_dedup(hist, batch).collect())
    )
    ng_b = sorted(
        map(
            tuple,
            dedup.incremental_ngram_dedup(
                hist, batch,
                history_shingled=hist_sh, batch_shingled=batch_sh,
            ).collect(),
        )
    )
    assert ng_a == ng_b and len(ng_a) > 0


def test_incremental_minhash_rejects_mismatched_stored_index(spark, sf_dir):
    """A band index persisted under DIFFERENT (k, bands) than the
    current call derives must be rejected loudly: before round 7 it
    silently produced zero matching band keys (history dups missed,
    recall quietly zero — the hazard the round-6 banding-default change
    armed for any pre-existing index). Covers both the parameter-column
    validation and the legacy 3-column distinct-band fallback; an empty
    index (first increment) passes untouched."""
    import pytest
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    hist = docs.filter(F.col("doc_id") % 3 != 0).limit(50)
    batch = docs.filter(F.col("doc_id") % 3 == 0).limit(20)
    old_idx = dedup.minhash_band_index(hist, k=16, bands=4)
    with pytest.raises(ValueError, match="k=16"):
        dedup.incremental_minhash_dedup(hist, batch, history_bands=old_idx)
    legacy = old_idx.select("band", "bkey", "doc_id")
    with pytest.raises(ValueError, match="legacy"):
        dedup.incremental_minhash_dedup(hist, batch, history_bands=legacy)
    # matching parameters (explicit or derived) pass validation
    good = dedup.minhash_band_index(hist, threshold=0.5)
    out = dedup.incremental_minhash_dedup(
        hist, batch, threshold=0.5, history_bands=good
    )
    assert out.count() == 20
    empty = good.limit(0)
    assert (
        dedup.incremental_minhash_dedup(
            hist, batch, threshold=0.5, history_bands=empty
        ).count()
        == 20
    )


def test_incremental_minhash_rejects_mixed_parameter_index(spark, sf_dir):
    """A persisted index dir is a UNION of per-batch increments, so
    validation must aggregate over the whole frame: a dir mixing
    increments written under different (k, bands, n) — a threshold
    change mid-stream — used to pass a first()-row check on whichever
    increment came first while the others' band keys silently never
    matched. Also: legacy increments surfaced as NULL parameter rows by
    a mergeSchema read must take the band-count fallback (loud on
    band-count mismatch, quiet when compatible), not a confusing
    (k=None) mismatch error."""
    import pytest
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    hist = docs.filter(F.col("doc_id") % 3 != 0).limit(50)
    batch = docs.filter(F.col("doc_id") % 3 == 0).limit(20)
    good = dedup.minhash_band_index(hist, threshold=0.5)
    old = dedup.minhash_band_index(hist, k=16, bands=4)
    mixed = good.unionByName(old)
    with pytest.raises(ValueError, match="mixes 2 distinct"):
        dedup.incremental_minhash_dedup(
            hist, batch, threshold=0.5, history_bands=mixed
        )
    # legacy nulls (mergeSchema across an upgrade boundary), wrong
    # band count → loud legacy error naming the fallback
    nulls = lambda df: df.select(
        "band", "bkey", "doc_id",
        F.lit(None).cast("int").alias("k"),
        F.lit(None).cast("int").alias("bands"),
        F.lit(None).cast("int").alias("n"),
    )
    with pytest.raises(ValueError, match="legacy increments"):
        dedup.incremental_minhash_dedup(
            hist, batch, threshold=0.5,
            history_bands=good.unionByName(nulls(old)),
        )
    # legacy nulls whose band count matches the derived banding pass
    # the fallback (same-bands different-k remixes are the documented
    # blind spot) and still dedup
    out = dedup.incremental_minhash_dedup(
        hist, batch, threshold=0.5,
        history_bands=good.unionByName(nulls(good)),
    )
    assert out.count() == 20


def test_incremental_ngram_matches_batch_pairs(spark, sf_dir):
    """Consistency with the batch pair operator: on the documents
    corpus, a batch doc's history verdict must agree with
    ngram_jaccard_pairs run over the union (restricted to
    history×batch pairs)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    out = {
        r.doc_id: r
        for r in dedup.incremental_ngram_dedup(hist, batch, threshold=0.5).collect()
    }
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    expected_hist: dict[int, int] = {}
    for r in pairs:
        for b, a in ((r.doc_b, r.doc_a), (r.doc_a, r.doc_b)):
            if b % 3 == 0 and a % 3 != 0:
                expected_hist[b] = min(expected_hist.get(b, a), a)
    for b, a in expected_hist.items():
        assert out[b].dup_of_history == a, (b, a, out[b])
    for b, r in out.items():
        if r.dup_of_history is not None:
            assert expected_hist.get(b) == r.dup_of_history


def test_incremental_embed_dedup_verdicts(spark, sf_dir):
    """Cross-GEMM incremental embedding verdicts must agree with the
    batch self-pair operator on the embeddings corpus: dup_of_history =
    min history partner from the all-pairs graph, dup_in_batch = min
    earlier batch partner."""
    from pyspark.sql import functions as F

    from hbase_bulkload_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    hist = emb.filter(F.col("vec_id") % 3 != 0)
    batch = emb.filter(F.col("vec_id") % 3 == 0)
    out = {
        r.vec_id: r
        for r in dedup.incremental_embed_dedup(hist, batch, threshold=0.4).collect()
    }
    assert len(out) == batch.count()
    allp = similarity.cosine_pairs_exact(emb, threshold=0.4).collect()
    want_h: dict[int, int] = {}
    want_b: dict[int, int] = {}
    for r in allp:
        for b, a in ((r.vec_id_b, r.vec_id_a), (r.vec_id_a, r.vec_id_b)):
            if b % 3 != 0:
                continue
            if a % 3 != 0:
                want_h[b] = min(want_h.get(b, a), a)
            elif a < b:
                want_b[b] = min(want_b.get(b, a), a)
    for b, r in out.items():
        assert r.dup_of_history == want_h.get(b), (b, r, want_h.get(b))
        assert r.dup_in_batch == want_b.get(b), (b, r, want_b.get(b))
        assert r.keep == (b not in want_h and b not in want_b)


def test_incremental_dedup_property(spark):
    """Hypothesis-driven: on random tiny corpora the incremental
    verdicts equal a dict-based Python reference. Cases share one
    Spark round trip via disjoint id ranges and case-prefixed texts."""
    from hypothesis import given, settings, strategies as st

    cases: list[tuple[list[str], list[str]]] = []
    text = st.text(alphabet="xy", min_size=1, max_size=3)

    @settings(max_examples=20, deadline=None)
    @given(st.lists(text, max_size=4), st.lists(text, min_size=1, max_size=5))
    def collect(hist, batch):
        cases.append((hist, batch))

    collect()

    hrows, brows, expected = [], [], {}
    base = 0
    for ci, (hist, batch) in enumerate(cases):
        htexts = {f"c{ci}_{t}" for t in hist}
        hrows += [(base + j, t) for j, t in enumerate(sorted(htexts))]
        first_seen: dict[str, int] = {}
        for j, t in enumerate(batch):
            doc_id = base + 100 + j
            t = f"c{ci}_{t}"
            brows.append((doc_id, t))
            in_hist = t in htexts
            dup_in_batch = first_seen.get(t)
            expected[doc_id] = (
                in_hist,
                dup_in_batch,
                not in_hist and dup_in_batch is None,
            )
            first_seen.setdefault(t, doc_id)
        base += 1000

    out = dedup.incremental_dedup(
        spark.createDataFrame(hrows or [(0, "_")], "doc_id long, text string"),
        spark.createDataFrame(brows, "doc_id long, text string"),
    )
    got = {
        r.doc_id: (r.dup_of_history, r.dup_in_batch, r.keep)
        for r in out.collect()
    }
    assert got == expected


def test_incremental_ngram_dedup_property(spark):
    """Hypothesis-driven: on random tiny corpora the incremental
    NEAR-dedup verdicts equal a set-based Python Jaccard reference
    (exact-fraction threshold compare, so no rounding ambiguity).
    Cases share one Spark round trip via case-prefixed words — 3-gram
    shingles cannot cross cases because every word carries the case
    id."""
    from hypothesis import given, settings, strategies as st

    cases: list[tuple[list[list[str]], list[list[str]]]] = []
    word = st.text(alphabet="ab", min_size=1, max_size=2)
    doc = st.lists(word, max_size=6)

    @settings(max_examples=20, deadline=None)
    @given(st.lists(doc, max_size=3), st.lists(doc, min_size=1, max_size=5))
    def collect(hist, batch):
        cases.append((hist, batch))

    collect()

    def sh(words):
        return {
            " ".join(words[i : i + 3]) for i in range(max(len(words) - 2, 0))
        }

    def near(sa, sb):
        ni = len(sa & sb)
        # jaccard >= 0.5 as exact fractions (2*ni >= |a|+|b|-ni)
        return ni > 0 and 2 * ni >= len(sa) + len(sb) - ni

    hrows, brows, expected = [], [], {}
    base = 0
    for ci, (hist, batch) in enumerate(cases):
        hdocs = [
            (base + j, [f"c{ci}w{w}" for w in words])
            for j, words in enumerate(hist)
        ]
        hrows += [(i, " ".join(ws)) for i, ws in hdocs]
        bdocs = [
            (base + 100 + j, [f"c{ci}w{w}" for w in words])
            for j, words in enumerate(batch)
        ]
        brows += [(i, " ".join(ws)) for i, ws in bdocs]
        for bi, bws in bdocs:
            sb = sh(bws)
            dup_h = min(
                (hi for hi, hws in hdocs if near(sh(hws), sb)), default=None
            )
            dup_b = min(
                (ai for ai, aws in bdocs if ai < bi and near(sh(aws), sb)),
                default=None,
            )
            expected[bi] = (dup_h, dup_b, dup_h is None and dup_b is None)
        base += 1000

    out = dedup.incremental_ngram_dedup(
        spark.createDataFrame(hrows or [(0, "_")], "doc_id long, text string"),
        spark.createDataFrame(brows, "doc_id long, text string"),
        threshold=0.5,
    )
    got = {
        r.doc_id: (r.dup_of_history, r.dup_in_batch, r.keep)
        for r in out.collect()
    }
    assert got == expected


def test_semantic_dedup_argmax_tie_break(spark):
    """A vector exactly equidistant (equal round-6 cosine) from two
    centroids must assign to the SMALLER centroid id — the contract
    that keeps the Spark struct-max argmax and the oracle's
    ROW_NUMBER ... ORDER BY cos DESC, centroid_id hash-identical."""
    import hashlib

    def basis(i, j=None):
        v = [0.0] * 64
        v[i] = 1.0
        if j is not None:
            v[j] = 1.0
        return v

    # ids 0..3: two seeds = smallest (md5(str(id)), id); craft the tie
    # vector halfway between the two seed directions. The tie doc's id
    # must md5-sort AFTER both seeds or it would become a seed itself.
    md5h = lambda i: hashlib.md5(str(i).encode()).hexdigest()  # noqa: E731
    ids = [0, 1, 2, 3]
    seeds = sorted(ids, key=lambda i: (md5h(i), i))[:2]
    cutoff = max(md5h(s) for s in seeds)
    tie_id = next(i for i in range(100, 1000) if md5h(i) > cutoff)
    rows = [(i, basis(i)) for i in ids]
    rows.append((tie_id, basis(seeds[0], seeds[1])))  # cos = 1/sqrt(2) to both
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r.vec_id: r
        for r in dedup.semantic_dedup(emb, n_clusters=2, threshold=0.999).collect()
    }
    assert out[tie_id].cluster_id == min(seeds), (seeds, out[tie_id])
    # each seed doc trivially lands in its own cluster
    for s in seeds:
        assert out[s].cluster_id == s
