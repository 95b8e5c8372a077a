"""Tests for the training-data operators: dedup suite, similarity search,
text analysis, multimodal plumbing, kNN."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup(spark, docs):
    from osmi_water_spark.operators.dedup import exact_dedup

    out = exact_dedup(docs).cache()
    total = out.agg(F.sum("n_docs")).first()[0]
    assert total == docs.count()
    assert out.filter(F.col("keep_id").isNull()).count() == 0


def test_minhash_finds_near_dups(spark):
    from osmi_water_spark.operators.dedup import minhash_near_dups

    base = "the quick brown fox jumps over the lazy dog and runs far away " * 5
    rows = [
        (1, base), (2, base + "extra tail words here"),  # near-dup pair
        (3, "completely different content about spark shuffles and joins " * 5),
        (4, base.replace("fox", "cat")),  # still similar
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.a, r.b) for r in minhash_near_dups(df, threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_minhash_deterministic(spark):
    from osmi_water_spark.operators.dedup import minhash_signature

    s1 = minhash_signature("hello world foo bar baz qux")
    s2 = minhash_signature("hello world foo bar baz qux")
    assert (s1 == s2).all()


def test_simhash_near_dups(spark):
    from osmi_water_spark.operators.dedup import simhash_near_dups

    base = " ".join(f"word{i}" for i in range(60))
    rows = [
        (1, base),
        (2, base.replace("word7", "changed")),  # one token differs
        (3, " ".join(f"other{i}" for i in range(60))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.a, r.b): r.hamming for r in simhash_near_dups(df, max_hamming=12).collect()}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_embedding_near_dups(spark):
    from osmi_water_spark.operators.dedup import embedding_near_dups

    rs = np.random.RandomState(7)
    v = rs.randn(64)
    rows = [
        (1, (v / np.linalg.norm(v)).tolist()),
        (2, ((v + 0.01 * rs.randn(64)) / np.linalg.norm(v)).tolist()),
        (3, rs.randn(64).tolist()),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {(r.a, r.b) for r in embedding_near_dups(df, threshold=0.99).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs


def test_cosine_topk_matches_numpy(spark, emb):
    from osmi_water_spark.operators.similarity import cosine_topk_bruteforce

    queries = emb.filter(F.col("vec_id") < 3)
    got = cosine_topk_bruteforce(emb, queries, k=4).collect()
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    m = np.vstack([r.embedding for r in rows]).astype(np.float64)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    for qid in range(3):
        qv = m[ids == qid][0]
        cos = m @ qv
        order = sorted(zip(-cos, ids), key=lambda t: (t[0], t[1]))
        want = [int(i) for c, i in order if i != qid][:4]
        mine = [r.neighbor_id for r in sorted(got, key=lambda r: r.rank) if r.query_id == qid]
        assert mine == want, f"query {qid}"


def test_cosine_ivf_recall(spark, emb):
    from osmi_water_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )

    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk_bruteforce(emb, queries, k=3).collect()
    approx = cosine_topk_ivf(emb, queries, k=3, bits=6, probe_flips=2).collect()
    e = {(r.query_id, r.neighbor_id) for r in exact}
    a = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(e & a) / len(e)
    # testdata embeddings are near-uniform-random (top cosine ~0.33) — the
    # worst case for LSH; multiprobe at 2 flips scans ~1/3 of buckets
    assert recall >= 0.4, f"IVF recall too low: {recall}"


def test_text_stats(spark):
    from osmi_water_spark.operators.text import text_stats

    df = spark.createDataFrame(
        [(1, "the cat and the dog. both fine!"), (2, "der hund und die katze und so")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in text_stats(df).collect()}
    assert got[1].n_tokens == 7 and got[1].n_punct == 2
    assert got[1].lang_guess == "en" and got[2].lang_guess == "de"
    assert 0 <= got[1].quality <= 100
    assert len(got[1].fp) == 16


def test_knn_exact_and_cells(spark):
    from osmi_water_spark.operators.knn import knn_join_cells, knn_join_exact

    pts = spark.createDataFrame(
        [(i, float(i) * 0.001, 0.0) for i in range(20)], "point_id long, lon double, lat double"
    )
    nbr = spark.createDataFrame(
        [(100 + i, float(i) * 0.001 + 0.0004, 0.0) for i in range(20)],
        "neighbor_id long, lon double, lat double",
    )
    exact = knn_join_exact(pts, nbr, k=2).collect()
    by_pt = {}
    for r in exact:
        by_pt.setdefault(r.point_id, []).append((r.rank, r.neighbor_id))
    # nearest neighbor of point i is 100+i (0.0004 away)
    for i in range(20):
        assert sorted(by_pt[i])[0][1] == 100 + i
    # cell variant at fine res agrees on rank-1 (all points within one ring)
    cells = knn_join_cells(pts, nbr, k=1, res=12, ring=1).collect()
    for r in cells:
        assert r.neighbor_id == 100 + r.point_id


def test_multimodal_plumbing(spark):
    from osmi_water_spark.operators.multimodal import (
        decode_stub,
        fake_features,
        frame_sample_plan,
        synth_media,
    )

    media = synth_media(spark, 30)
    feats = fake_features(media).collect()
    assert len(feats) == 30
    assert all(len(r.features) == 16 for r in feats)
    # deterministic
    feats2 = fake_features(media).collect()
    assert {r.media_id: r.features for r in feats} == {r.media_id: r.features for r in feats2}
    frames = frame_sample_plan(media)
    assert frames.count() > 0
    with pytest.raises(NotImplementedError):
        decode_stub(media)


# ---------------- round-2: vectorized signatures + hot-bucket controls ----------------


def _naive_simhash(text):
    """Independent per-doc formulation (plain-int FNV-1a token hash — the
    round-4 simhash token hash), kept as the equality reference."""
    import numpy as _np

    from osmi_water_spark.operators.dedup import _TOKEN_RE

    def fnv1a64(s):
        h = 14695981039346656037
        for byte in s.encode():
            h = ((h ^ byte) * 1099511628211) % (1 << 64)
        return h

    toks = [t for t in _TOKEN_RE.split((text or "").lower()) if t]
    if not toks:
        return 0
    acc = _np.zeros(64, dtype=_np.int64)
    shifts = _np.arange(64, dtype=_np.uint64)
    for t in toks:
        h = _np.uint64(fnv1a64(t))
        acc += 2 * ((h >> shifts) & _np.uint64(1)).astype(_np.int64) - 1
    out = int(((acc > 0).astype(_np.uint64) << shifts).sum())
    return out - (1 << 64) if out >= (1 << 63) else out


TEXTS = [
    "the quick brown fox jumps over the lazy dog " * 3,
    "",
    None,
    "one",
    "two tokens",
    "exactly three tokens here no wait five",
    "unicode tökens ünd zeug ß " * 10,
    "a b c d e f g h i j k l m n o p q r s t u v w x y z " * 20,
    "repeated repeated repeated repeated repeated",
]


def test_minhash_batch_matches_per_doc():
    from osmi_water_spark.operators.dedup import (
        minhash_signature,
        minhash_signatures_batch,
    )

    # the mixed batch, then each branch of the batch gram fold on its own:
    # only full-width windows (every doc >= 3 tokens), and only short-doc
    # windows (0-2 tokens)
    full_width = [t for t in TEXTS if t and len(t.split()) >= 3]
    short = ["", None, "one", "two tokens", "x", "ß ü"]
    for texts in (TEXTS, full_width, short):
        batch = minhash_signatures_batch(texts)
        for i, t in enumerate(texts):
            want = minhash_signature(t or "")
            assert (batch[i] == want).all(), f"doc {i} of {texts[:2]} signature diverged"


def test_minhash_batch_chunking_boundary(monkeypatch):
    import osmi_water_spark.operators.dedup as D

    monkeypatch.setattr(D, "_PERM_CHUNK", 7)  # force many tiny chunks
    batch = D.minhash_signatures_batch(TEXTS)
    for i, t in enumerate(TEXTS):
        assert (batch[i] == D.minhash_signature(t or "")).all()
    # the same chunker cuts the simhash sign expansion
    assert D.simhash_batch(TEXTS).tolist() == [_naive_simhash(t) for t in TEXTS]


def test_simhash_batch_matches_per_doc():
    from osmi_water_spark.operators.dedup import simhash_batch

    got = simhash_batch(TEXTS)
    for i, t in enumerate(TEXTS):
        assert got[i] == _naive_simhash(t), f"doc {i} simhash diverged"


def test_lsh_salt_invariance(spark):
    from osmi_water_spark.operators.dedup import lsh_candidate_pairs, minhash_bands

    base = "the quick brown fox jumps over the lazy dog and runs far away " * 5
    rows = [(i, base + f" tail{i % 3}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    b = minhash_bands(df).cache()
    plain = {(r.a, r.b) for r in lsh_candidate_pairs(b).collect()}
    salted = {(r.a, r.b) for r in lsh_candidate_pairs(b, salt=4).collect()}
    assert plain == salted and len(plain) > 0


def test_lsh_hot_bucket_star_cap(spark):
    """Adversarial all-identical corpus: every doc lands in one bucket per
    band. With max_bucket set, the pair count is linear (star to the min-id
    representative), not quadratic, and connectivity is preserved."""
    from osmi_water_spark.operators.dedup import lsh_candidate_pairs, minhash_bands

    n = 64
    rows = [(i, "identical boilerplate page content " * 10) for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = lsh_candidate_pairs(minhash_bands(df), max_bucket=16).collect()
    got = {(r.a, r.b) for r in pairs}
    assert got == {(0, i) for i in range(1, n)}  # star on min id


def test_minhash_near_dups_with_cap_still_verifies(spark):
    from osmi_water_spark.operators.dedup import minhash_near_dups

    rows = [(i, "identical boilerplate page content " * 10) for i in range(32)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_near_dups(df, threshold=0.9, salt=2, max_bucket=8).collect()
    assert {(r.a, r.b) for r in out} == {(0, i) for i in range(1, 32)}
    assert all(r.jaccard == 1.0 for r in out)


def test_embedding_near_dups_salt_and_cap(spark):
    import numpy as _np

    from osmi_water_spark.operators.dedup import embedding_near_dups

    rng = _np.random.RandomState(7)
    v = rng.randn(64)
    rows = [(i, (v + rng.randn(64) * 0.01).tolist()) for i in range(12)]
    rows += [(100 + i, rng.randn(64).tolist()) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    plain = {(r.a, r.b) for r in embedding_near_dups(df, threshold=0.95).collect()}
    salted = {(r.a, r.b) for r in embedding_near_dups(df, threshold=0.95, salt=3).collect()}
    assert plain == salted and len(plain) >= 60  # 12 near-identical vectors
    capped = {(r.a, r.b) for r in embedding_near_dups(df, threshold=0.95, max_bucket=4).collect()}
    # star: every clustered vector still reachable from the bucket rep
    members = {b for _, b in capped} | {a for a, _ in capped}
    assert {i for i in range(12)} <= members


def test_embedding_capped_matches_skew_fixture_semantics(spark):
    """The emb_skew fixture corpus (the embedding_near_dups_capped oracle
    input, scripts/make_emb_skew_fixture.py) under the engine: capped output
    genuinely differs from uncapped, stars bind (2 over-cap buckets), salt
    changes nothing, and the pair counts match the generator's asserted
    25/279 (VERDICT.md r4 next #7)."""
    import os as _os

    from osmi_water_spark.operators.dedup import embedding_near_dups
    from osmi_water_spark.plans.testdata_queries import EMB_SKEW_FIXTURE

    assert _os.path.exists(EMB_SKEW_FIXTURE)
    df = spark.read.parquet(EMB_SKEW_FIXTURE)
    uncapped = {(r.a, r.b) for r in embedding_near_dups(df, threshold=0.8).collect()}
    capped = {
        (r.a, r.b)
        for r in embedding_near_dups(df, threshold=0.8, salt=4, max_bucket=2).collect()
    }
    assert len(uncapped) == 279 and len(capped) == 25
    assert capped != uncapped and capped <= uncapped
    # connectivity preserved: every clustered id reachable from its rep
    members = {a for a, _ in capped} | {b for _, b in capped}
    assert {i for i in range(27)} <= members


def test_bruteforce_query_guard(spark, emb):
    from osmi_water_spark.operators.similarity import cosine_topk_bruteforce

    with pytest.raises(ValueError):
        cosine_topk_bruteforce(emb, emb, k=3, max_queries=10)


def test_byte_features_known_values(spark):
    """Codec-free multimodal features: hand-computable payloads, then null,
    empty, one-byte and all-printable payloads beside normal ones in one
    Arrow batch, all against a plain-Python spec (a null or empty payload
    has ``n_bytes`` 0 and zero features)."""
    import hashlib
    import math
    from collections import Counter

    from osmi_water_spark.operators.multimodal import byte_features

    payloads = [
        b"\x00" * 64, bytes(range(256)), b"A" * 10 + b"\x00" * 10, b"",
        None, b"\x07", b"Hello, world!", bytes(range(256)) * 3,
        hashlib.blake2b(b"x", digest_size=64).digest() * 5, None, b"\xff" * 1000, b"",
        bytes(range(32, 127)),
    ]

    def spec(p):
        if not p:
            return 0, 0.0, 0.0, 0.0
        n = len(p)
        ent = -sum((v / n) * math.log2(v / n) for v in Counter(p).values())
        return n, ent, sum(p) / n, sum(32 <= b < 127 for b in p) / n

    df = spark.createDataFrame(
        [(i, "image", None if p is None else bytearray(p), None) for i, p in enumerate(payloads)],
        "media_id long, media_type string, payload binary, "
        "meta struct<width:int,height:int,duration_ms:int,codec:string>",
    ).coalesce(1)
    got = {r.media_id: r for r in byte_features(df).collect()}
    assert got[0].entropy == 0.0 and got[0].frac_printable == 0.0
    assert got[0].mean_byte == 0.0 and got[0].n_bytes == 64
    assert abs(got[1].entropy - 8.0) < 1e-12          # uniform 256 symbols
    assert got[1].mean_byte == 127.5
    assert abs(got[2].entropy - 1.0) < 1e-12          # two equal symbols
    assert got[2].frac_printable == 0.5
    assert got[3].n_bytes == 0 and got[3].entropy == 0.0
    assert got[12].frac_printable == 1.0 and got[5].n_bytes == 1
    assert sorted(got) == list(range(len(payloads)))
    for i, p in enumerate(payloads):
        n, ent, mean, frac = spec(p)
        r = got[i]
        assert (r.n_bytes, r.mean_byte, r.frac_printable) == (n, mean, frac), i
        assert abs(r.entropy - ent) < 1e-12, i


def test_minhash_matches_plain_python_fixture(spark):
    """The distributed MinHash-LSH pipeline must equal the INDEPENDENT
    scalar plain-Python implementation (scripts/make_dedup_fixtures.py)
    on the deterministic corpus — the same parity the driver's DuckDB
    fixture oracle checks (SQL_MINHASH)."""
    import pyarrow.parquet as pq

    from osmi_water_spark.plans.testdata_queries import (
        MINHASH_FIXTURE, q_minhash_near_dups,
    )

    got = {(r.a, r.b, r.jaccard_u) for r in q_minhash_near_dups(spark, "").collect()}
    t = pq.read_table(MINHASH_FIXTURE)
    want = set(zip(*(t.column(c).to_pylist() for c in ("a", "b", "jaccard_u"))))
    assert got == want and len(want) > 50


def test_simhash_matches_plain_python_fixture(spark):
    import pyarrow.parquet as pq

    from osmi_water_spark.plans.testdata_queries import (
        SIMHASH_FIXTURE, q_simhash_near_dups,
    )

    got = {(r.a, r.b, r.hamming) for r in q_simhash_near_dups(spark, "").collect()}
    t = pq.read_table(SIMHASH_FIXTURE)
    want = set(zip(*(t.column(c).to_pylist() for c in ("a", "b", "hamming"))))
    assert got == want and len(want) > 30


def test_knn_cells_widen_recovers_sparse_points(spark):
    """Ring-widening contract: a sparse corpus where the k-ring at the
    chosen res holds < k (even 0) neighbors under-fills without ``widen``
    and matches the exact kNN with it."""
    from osmi_water_spark.operators.knn import knn_join_cells, knn_join_exact

    # neighbors spread ~1 degree apart; res=12 cells are ~0.01 deg wide, so
    # ring=1 around a point sees at most its own immediate vicinity
    nbr = spark.createDataFrame(
        [(j, 10.0 + j * 1.0, 5.0) for j in range(6)],
        "neighbor_id long, lon double, lat double",
    )
    pts = spark.createDataFrame(
        [(0, 10.001, 5.0), (1, 12.4, 5.0)],  # p0 near nbr0; p1 between cells
        "point_id long, lon double, lat double",
    )
    naive = knn_join_cells(pts, nbr, k=2, res=12, ring=1).collect()
    assert len(naive) < 4  # silently under-filled (p1 finds nothing)

    widened = {
        (r.point_id, r.rank): r.neighbor_id
        for r in knn_join_cells(pts, nbr, k=2, res=12, ring=1, widen=4).collect()
    }
    exact = {
        (r.point_id, r.rank): r.neighbor_id
        for r in knn_join_exact(pts, nbr, k=2).collect()
    }
    assert widened == exact and len(widened) == 4


# ---------------- round-5: vectorized token-hash identity (adversarial shapes) ----------------


def test_byte_position_hashes_match_scalar_on_adversarial_batch():
    """`_fnv1a64_strs` must equal the scalar reference (plain-int
    FNV-1a-64) on the shapes the vectorized loop special-cases: a multi-KB
    unbroken token (the scalar-tail branch, VERDICT r4 What's-wrong #4),
    empty strings, multibyte utf-8, and lengths straddling the tail
    cutoff."""
    import numpy as _np

    from osmi_water_spark.operators.dedup import _fnv1a64_strs

    def fnv1a64(s: str) -> int:
        h = 14695981039346656037
        for byte in s.encode():
            h = ((h ^ byte) * 1099511628211) % (1 << 64)
        return h

    batch = (
        ["x" * 32768, "y" * 4097]                     # multi-KB blobs -> scalar tail
        + ["tok%d" % i for i in range(50)]            # bulk short tokens
        + ["", "a", "ab", "ünïcode-ß" * 7]           # empty / 1-byte / multibyte
        + ["m" * n for n in (7, 8, 9, 63, 64, 65)]   # straddle tail_cutoff prefixes
    )
    got_fnv = _fnv1a64_strs(batch)
    want_fnv = _np.array([fnv1a64(s) for s in batch], dtype=_np.uint64)
    assert (got_fnv == want_fnv).all()
