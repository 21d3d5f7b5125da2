"""Unit semantics for dedup + similarity operators on tiny hand corpora."""

from __future__ import annotations

from pyspark.sql import functions as F

from binance_data_ingestor_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash16,
    with_shingles,
)
from binance_data_ingestor_spark.operators.similarity import (
    brute_force_topk,
    cosine,
    cosine_neardup_pairs,
)
from binance_data_ingestor_spark.operators.text import (
    fingerprint,
    lang_guess,
    quality_features,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
    (2, "completely different words entirely here now"),
    (3, "The  quick brown fox jumps over the lazy dog"),  # ws/case variant of 0
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_normalizes_case_and_ws(spark):
    out = {r.keep_id: r.n_copies for r in exact_dedup(_docs(spark)).collect()}
    assert out[0] == 2          # doc 3 collapses into doc 0
    assert out[1] == 1 and out[2] == 1


def test_fingerprint_equality(spark):
    rows = _docs(spark).select("doc_id", fingerprint("text").alias("fp")).collect()
    fp = {r.doc_id: r.fp for r in rows}
    assert fp[0] == fp[3] and fp[0] != fp[1]


def test_shingles_and_jaccard(spark):
    sh = {
        r.doc_id: set(r.shingles)
        for r in with_shingles(_docs(spark), n=3).collect()
    }
    assert "the quick brown" in sh[0]
    assert len(sh[0]) == 7  # 9 tokens → 7 trigrams, all distinct
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(_docs(spark), threshold=0.2).collect()
    }
    assert (0, 1) in pairs  # 6 shared / 8 union = 0.75
    assert abs(pairs[(0, 1)] - 0.75) < 1e-9
    assert (0, 2) not in pairs


def test_minhash_candidates_include_near_dups(spark):
    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(_docs(spark), num_hashes=8, bands=4).collect()
    }
    assert (0, 1) in got        # J=0.75 → P(candidate) ≈ 1-(1-0.75²)⁴ ≈ 0.96
    assert (0, 2) not in got    # J=0 can never collide on a full band


def test_simhash_close_for_near_dups(spark):
    s = {r.doc_id: r.simhash for r in simhash16(_docs(spark)).collect()}
    ham_near = bin(s[0] ^ s[1]).count("1")
    ham_far = bin(s[0] ^ s[2]).count("1")
    assert ham_near < ham_far
    assert 0 <= s[0] < 2 ** 16


def test_cosine_exact_values(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    pairs = {
        (r.id_a, r.id_b): r.cos_sim
        for r in cosine_neardup_pairs(df, threshold=-1.0).collect()
    }
    assert pairs[(1, 2)] == 0.0
    assert abs(pairs[(1, 3)] - 0.707107) < 1e-6


def test_brute_topk_ordering(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [1.0, 0.05])],
        "vec_id long, embedding array<float>",
    )
    rows = brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=2).collect()
    order = [r.neighbor_id for r in sorted(rows, key=lambda r: r.rank)]
    assert order == [3, 1]  # closest to the x-axis query first


def test_contamination_counts(spark):
    from binance_data_ingestor_spark.operators.dedup import contamination

    train = spark.createDataFrame(
        [
            (10, "a b c d e f"),        # shares "a b c" with eval 1
            (11, "x y z w v u"),        # clean
            (12, "a b c x p q r a b c x"),  # shares "a b c" and "b c x"
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(1, "a b c x q"), (2, "b c x j k")], "doc_id long, text string"
    )
    out = {
        r.doc_id: (r.n_shared_grams, r.n_eval_docs)
        for r in contamination(train, ev, n=3).collect()
    }
    # doc 10: only "a b c" (eval doc 1) ; doc 12: "a b c" (ev 1) + "b c x" (ev 1+2)
    assert out[10] == (1, 1)
    assert out[12] == (2, 2)
    assert 11 not in out  # clean docs don't appear


def test_repetition_features_fractions(spark):
    from binance_data_ingestor_spark.operators.text import repetition_features

    df = spark.createDataFrame(
        [
            (0, "a b a b a b"),    # grams: ab ba ab ba ab → 5 grams, 2 distinct
            (1, "p q r s"),        # 3 grams, all distinct
            (2, "solo"),           # < n tokens → dropped
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_features(df, n=2).collect()}
    assert out[0].n_grams == 5
    assert abs(out[0].dup_gram_frac - (1 - 2 / 5)) < 1e-9
    assert abs(out[0].top_gram_frac - 3 / 5) < 1e-9
    assert out[1].dup_gram_frac == 0.0
    assert abs(out[1].top_gram_frac - 1 / 3) < 1e-6
    assert 2 not in out


def test_pq_encode_picks_nearest_code(spark):
    from binance_data_ingestor_spark.operators.similarity import pq_encode

    # 4-dim vectors, 2 subspaces; hand-built codebooks so nearest is obvious
    books = [
        [[1.0, 0.0], [0.0, 1.0]],   # subspace 0
        [[2.0, 2.0], [-2.0, -2.0]], # subspace 1
    ]
    df = spark.createDataFrame(
        [(0, [0.9, 0.1, 1.5, 1.5]), (1, [0.1, 0.9, -1.0, -1.0])],
        "vec_id long, embedding array<float>",
    )
    codes = {r.vec_id: list(r.codes) for r in pq_encode(df, books).collect()}
    assert codes[0] == [0, 0]
    assert codes[1] == [1, 1]


def test_pq_topk_matches_exhaustive_adc(spark):
    import numpy as np

    from binance_data_ingestor_spark.operators.similarity import (
        codebooks,
        pq_topk,
    )

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(40, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    out = pq_topk(df, df.filter(F.col("vec_id") < 2), k=3, m=8, n_codes=4)
    rows = sorted(out.collect(), key=lambda r: (r.query_id, r.rank))

    # exhaustive reference: encode + integer-LUT ADC in pure numpy
    books = codebooks(64, 8, 4, seed=11)
    B = [np.asarray(b) for b in books]
    codes = np.empty((40, 8), dtype=np.int64)
    for j in range(8):
        S = vecs[:, j * 8 : (j + 1) * 8]
        d2 = ((S * S).sum(1)[:, None] - 2 * S @ B[j].T + (B[j] * B[j]).sum(1))
        codes[:, j] = d2.argmin(1)
    for q in range(2):
        tab = np.empty((8, 4))
        for j in range(8):
            s = vecs[q, j * 8 : (j + 1) * 8]
            tab[j] = (s @ s) - 2 * (B[j] @ s) + (B[j] * B[j]).sum(1)
        lut = np.floor(tab * 1e6 + 0.5).astype(np.int64)
        adc = {
            i: int(lut[np.arange(8), codes[i]].sum()) for i in range(40) if i != q
        }
        want = sorted(adc.items(), key=lambda t: (t[1], t[0]))[:3]
        got = [(r.neighbor_id, r.adc_micro) for r in rows if r.query_id == q]
        assert got == [(nid, d) for nid, d in want], q


def test_pq_fit_reduces_quantization_error(spark):
    import numpy as np

    from binance_data_ingestor_spark.operators.similarity import (
        codebooks,
        pq_fit_micro,
    )

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(80, 16)) / 4.0
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(80)],
        "vec_id long, embedding array<float>",
    )

    def inertia(books, scale=1.0):
        B = [np.array(b, dtype=np.float64) * scale for b in books]
        v = vecs.astype(np.float32).astype(np.float64)
        tot = 0.0
        for j in range(4):
            S = v[:, j * 4 : (j + 1) * 4]
            d2 = ((S * S).sum(1)[:, None] - 2 * S @ B[j].T + (B[j] * B[j]).sum(1))
            tot += d2.min(axis=1).sum()
        return tot

    def fit(iters):
        books = pq_fit_micro(df, m=4, n_codes=8, dim=16, iters=iters, seed=11)
        return inertia(books, scale=1e-6)  # µ-grid ints back to floats

    e0 = inertia(codebooks(16, 4, 8, seed=11))
    e2 = fit(2)
    e4 = fit(4)
    assert e2 < e0
    assert e4 <= e2 + 1e-9  # Lloyd's inertia is monotone non-increasing


def test_text_quality_and_lang(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "xyzzy plugh frobozz")],
        "doc_id long, text string",
    )
    q = {r.doc_id: r for r in quality_features(df).collect()}
    assert q[1].n_tokens == 6 and q[1].n_distinct_tokens == 5
    assert abs(q[1].stopword_ratio - 3 / 6) < 1e-9  # the, on, the
    lang = {r.doc_id: r.g for r in df.select("doc_id", lang_guess("text").alias("g")).collect()}
    assert lang[1] == "en" and lang[2] == "unknown"


def test_ngram_jaccard_max_df_caps_hot_shingles(spark):
    from binance_data_ingestor_spark.operators.dedup import ngram_jaccard_pairs

    # "common common common" shingle appears in ALL docs (hot); each
    # pair also shares it, inflating pair counts without signal
    rows = [
        (1, "common common common alpha beta gamma"),
        (2, "common common common delta epsilon zeta"),
        (3, "common common common alpha beta gamma"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = ngram_jaccard_pairs(df, threshold=0.01)
    capped = ngram_jaccard_pairs(df, threshold=0.01, max_df=2)
    exact_pairs = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    capped_pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # exact: every pair shares the hot shingle -> all 3 pairs
    assert exact_pairs == {(1, 2), (1, 3), (2, 3)}
    # capped: the universal shingle is dropped; only the true dup pair
    # (1, 3) still shares shingles
    assert capped_pairs == {(1, 3)}


def test_incremental_neardup_equals_batch_restriction(spark):
    """incremental_lsh_neardups(new batch vs corpus) must equal the
    batch pipeline's answer restricted to new×old pairs: band-colliding
    candidates (minhash_lsh_candidates) with exact Jaccard >= t
    (ngram_jaccard_pairs), where exactly one side is in the batch."""
    from pyspark.sql import functions as F

    from binance_data_ingestor_spark.operators.dedup import (
        _exploded_shingles,
        incremental_lsh_neardups,
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )
    from binance_data_ingestor_spark.operators.text import hash_bucket_sql
    from binance_data_ingestor_spark.queries.text_ops import NEW_BATCH_PCT

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ex = _exploded_shingles(docs, "text", "doc_id", 3)
    new_ids_df = docs.filter(
        F.expr(hash_bucket_sql("spark", "doc_id", 100)) >= NEW_BATCH_PCT
    ).select("doc_id")
    new_ids = {r.doc_id for r in new_ids_df.collect()}

    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in incremental_lsh_neardups(ex, new_ids_df, threshold=0.2).collect()
    }

    cand = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(docs, exploded=ex).collect()
    }
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.2, exploded=ex).collect()
    }
    want = set()
    for (a, b), j in exact.items():
        if (a, b) not in cand:
            continue
        if (a in new_ids) != (b in new_ids):  # exactly one side new
            n, o = (a, b) if a in new_ids else (b, a)
            want.add((n, o, j))
    assert got == want
    # sanity: the fixture actually exercises the path
    assert want or not new_ids


def test_prefix_filter_equals_inverted_index_jaccard(spark):
    """Two independent exact-Jaccard algorithms (prefix filtering vs
    df-capped inverted index) must agree pair-for-pair, including the
    jaccard values, across thresholds."""
    from binance_data_ingestor_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_jaccard_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for t in (0.1, 0.2, 0.5):
        a = {
            (r.id_a, r.id_b, r.jaccard)
            for r in prefix_filter_jaccard_pairs(docs, threshold=t).collect()
        }
        b = {
            (r.id_a, r.id_b, r.jaccard)
            for r in ngram_jaccard_pairs(docs, threshold=t).collect()
        }
        assert a == b, f"threshold={t}"
        assert a or t > 0.2  # low thresholds must find the planted dups


def test_pq_fit_micro_matches_integer_lloyds_reference(spark):
    """pq_fit_micro must equal a pure-numpy µ-grid Lloyd's replay
    EXACTLY (integer equality, not allclose) — the property the q67
    DuckDB oracle depends on."""
    import numpy as np

    from binance_data_ingestor_spark.operators.similarity import (
        codebooks,
        pq_fit_micro,
        quantize_micro,
    )

    m, n_codes, dim, iters = 4, 3, 8, 3
    ds = dim // m
    rng = np.random.default_rng(17)
    vecs = rng.normal(size=(60, dim)) / np.sqrt(dim)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    Z = quantize_micro(vecs.astype(np.float32).astype(np.float64))

    got = pq_fit_micro(df, m=m, n_codes=n_codes, dim=dim, iters=iters, seed=5)

    B = [
        quantize_micro(np.array(b, dtype=np.float64))
        for b in codebooks(dim, m, n_codes, seed=5)
    ]
    for _ in range(iters):
        for j in range(m):
            S = Z[:, j * ds : (j + 1) * ds]
            d2 = (
                (S * S).sum(1)[:, None] - 2 * (S @ B[j].T) + (B[j] * B[j]).sum(1)
            )
            a = d2.argmin(1)
            for c in range(n_codes):
                if (a == c).any():
                    B[j][c] = np.floor(
                        S[a == c].sum(axis=0) / (a == c).sum() + 0.5
                    ).astype(np.int64)

    assert got == [[[int(x) for x in c] for c in b] for b in B]
    # determinism across invocations (the cross-engine contract)
    again = pq_fit_micro(df, m=m, n_codes=n_codes, dim=dim, iters=iters, seed=5)
    assert again == got


def test_pca_project_matches_numpy(spark):
    import numpy as np
    from binance_data_ingestor_spark.operators.similarity import pca_project

    rng = np.random.default_rng(11)
    base = rng.normal(size=(200, 8))
    # give the data real anisotropy so the top components are distinct
    base[:, 0] *= 5.0
    base[:, 3] *= 3.0
    rows = [(i, [float(x) for x in base[i]]) for i in range(len(base))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = {
        r.vec_id: (r.pc1, r.pc2)
        for r in pca_project(df, k=2, dims=8).collect()
    }

    X = base - base.mean(axis=0)
    C = np.cov(base, rowvar=False, bias=True)
    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(-vals)[:2]
    comps = []
    for idx in order:
        v = vecs[:, idx]
        piv = int(np.argmax(np.abs(v)))
        comps.append(v if v[piv] >= 0 else -v)
    ref = X @ np.column_stack(comps)
    for i in range(len(base)):
        assert abs(got[i][0] - ref[i, 0]) < 1e-9
        assert abs(got[i][1] - ref[i, 1]) < 1e-9
    # projected variance must be the top eigenvalues, in order
    proj = np.array([got[i] for i in range(len(base))])
    assert np.allclose(proj.var(axis=0), sorted(vals, reverse=True)[:2], rtol=1e-6)
