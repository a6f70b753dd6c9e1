"""Dedup / similarity / text-analysis tests."""

import pytest
from pyspark.sql import functions as F

from sopspark.text.analysis import detect_language, fingerprint, quality_score, token_counts
from sopspark.text.dedup import (
    exact_dedup,
    minhash_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_dedup,
)
from sopspark.text.similarity import cosine_topk, lsh_cosine_topk

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup
    (3, "completely different content about databases and distributed query engines"),
    (4, "spark catalyst optimizer rewrites logical plans into efficient physical plans"),
    (5, "the quick brown fox jumps over the lazy dog near the river bank today ok"),  # near dup
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_exact_dedup(spark, docs):
    reps = exact_dedup(docs)
    assert reps.count() == 5  # 0 and 1 collapse
    row = {r.doc_id: r.dup_count for r in reps.collect()}
    assert row[0] == 2


def test_minhash_near_dup_cluster(spark, docs):
    mapping = minhash_dedup(docs, num_perm=64, bands=16, threshold=0.5)
    m = {r.doc_id: r.rep for r in mapping.collect()}
    assert m[0] == m[1] == m[2] == m[5] == 0  # near-dup cluster collapses to min id
    assert m[3] == 3 and m[4] == 4  # distinct docs stay themselves


def test_minhash_identical_signatures(spark, docs):
    sigs = minhash_signatures(docs, num_perm=32)
    s = {r.doc_id: tuple(r.sig) for r in sigs.collect()}
    assert s[0] == s[1]
    assert s[0] != s[3]
    pairs = {(r.a, r.b) for r in minhash_lsh_pairs(sigs).collect()}
    assert (0, 1) in pairs


def test_ngram_jaccard(spark, docs):
    pairs = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "a long, b long")
    j = {(r.a, r.b): r.jaccard for r in ngram_jaccard_pairs(docs, pairs).collect()}
    assert j[(0, 1)] == 1.0
    assert 0.5 < j[(0, 2)] < 1.0
    assert j[(0, 3)] == 0.0


def test_simhash(spark, docs):
    fp = {r.doc_id: r.fingerprint for r in simhash(docs).collect()}
    assert fp[0] == fp[1]

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(fp[0], fp[2]) < ham(fp[0], fp[3])
    clusters = simhash_dedup(docs)
    reps = {r.rep: sorted(r.members) for r in clusters.collect()}
    assert [0, 1] == [x for x in reps.get(0, []) if x in (0, 1)]


def test_language_and_quality(spark):
    rows = [
        (0, "the cat is in the house and it is happy"),
        (1, "le chat est dans la maison et il est content"),
        (2, "der hund ist ein guter freund und das ist schön"),
        (3, "xyzzy plugh"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    langs = {r.doc_id: r.lang_pred for r in detect_language(df).collect()}
    assert langs == {0: "en", 1: "fr", 2: "de", 3: "und"}

    q = quality_score(df)
    row = {r.doc_id: r for r in q.collect()}
    assert row[0].quality > row[3].quality
    assert row[0].n_words == 10

    t = token_counts(df)
    tr = {r.doc_id: (r.ws_tokens, r.bpe_tokens) for r in t.collect()}
    assert tr[0][0] == 10
    assert tr[0][1] >= tr[0][0]  # subword pieces >= whitespace tokens


def test_fingerprint_robust_to_small_edits(spark, docs):
    fps = {r.doc_id: set(r.fingerprints) for r in fingerprint(docs).collect()}
    # near-dup shares most fingerprints; different doc shares none
    overlap_near = len(fps[0] & fps[2]) / len(fps[0] | fps[2])
    overlap_far = len(fps[0] & fps[3]) / len(fps[0] | fps[3])
    assert overlap_near > 0.5 > overlap_far


def test_cosine_topk_exact_vs_lsh(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200).cache()
    queries = emb.limit(8)
    exact = cosine_topk(emb, queries, k=5)
    got = exact.collect()
    assert len(got) == 8 * 5
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rank, r.cosine))
    for q, rows in by_q.items():
        cos = [c for _, c in sorted(rows)]
        assert cos == sorted(cos, reverse=True)  # ranked by similarity

    approx = lsh_cosine_topk(emb, queries, k=5, planes=6, tables=8)
    # recall@5 of LSH vs exact should be non-trivial
    exact_sets = {q: {r.neighbor_id for r in got if r.query_id == q} for q in by_q}
    hits = total = 0
    for r in approx.collect():
        total += 1
        if r.neighbor_id in exact_sets.get(r.query_id, set()):
            hits += 1
    assert total > 0 and hits / max(total, 1) > 0.3


def test_simhash_hamming_pairs_matches_bruteforce(spark, docs):
    from sopspark.text.dedup import simhash_hamming_pairs, simhash_near_dup_pairs

    fp = simhash(docs).cache()
    for k in (0, 2, 3, 6):
        banded = {(r.a, r.b, r.hamming) for r in simhash_hamming_pairs(fp, max_hamming=k).collect()}
        a = fp.select(F.col("doc_id").alias("a"), F.col("fingerprint").alias("fa"))
        b = fp.select(F.col("doc_id").alias("b"), F.col("fingerprint").alias("fb"))
        brute = {
            (r.a, r.b, r.h)
            for r in a.crossJoin(b)
            .where(F.col("a") < F.col("b"))
            .withColumn("h", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))))
            .where(F.col("h") <= k)
            .collect()
        }
        assert banded == brute, f"k={k}"
    # exact dups are Hamming-0 pairs from raw text
    pairs0 = {(r.a, r.b) for r in simhash_near_dup_pairs(docs, max_hamming=0).collect()}
    assert (0, 1) in pairs0


def test_embedding_near_dups_exact_and_ivf(spark):
    from sopspark.text.similarity import (
        cosine_topk,
        embedding_near_dups_exact,
        ivf_cosine_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(120).cache()
    # exact near-dup pairs agree with a manual cross-join threshold
    pairs = embedding_near_dups_exact(emb, threshold=0.3).collect()
    assert all(r.a < r.b and r.cosine >= 0.3 for r in pairs)

    queries = emb.limit(6)
    exact = cosine_topk(emb, queries, k=5)
    exact_sets = {}
    for r in exact.collect():
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)

    # full probe (nprobe == nlist) degrades to brute force: recall 1.0
    full = ivf_cosine_topk(emb, queries, k=5, nlist=4, nprobe=4)
    full_sets = {}
    for r in full.collect():
        full_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert full_sets == exact_sets

    # partial probe keeps non-trivial recall on this corpus
    part = ivf_cosine_topk(emb, queries, k=5, nlist=4, nprobe=2)
    hits = sum(
        r.neighbor_id in exact_sets.get(r.query_id, set()) for r in part.collect()
    )
    assert hits / (6 * 5) > 0.3


def test_ivf_large_nlist_broadcast_path(spark):
    """nlist above the literal-expression cap takes the broadcast-join
    centroid assignment (no codegen blowup); nprobe == nlist stays exact."""
    from sopspark.text.similarity import cosine_topk, ivf_cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.where("vec_id < 4")
    approx = ivf_cosine_topk(emb, queries, k=5, nlist=4096, nprobe=4096)
    exact = cosine_topk(emb, queries, k=5)
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    assert a == e  # probing every list degenerates to brute force


def test_curate_documents_closed_form(spark):
    """The composed curation gauntlet: dedup representative (min id wins,
    dup_count counts the class), language/quality/token filters."""
    from sopspark.text.analysis import curate_documents

    good = "the cat and the dog ran to the house in the morning and it was good"
    rows = [
        (7, good),            # duplicate class {7, 3}: 3 is the representative
        (3, good),
        (5, "le chat et le chien est dans la maison pour que le jour est bon"),  # fr
        (9, "a b"),           # too few tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = curate_documents(df, min_tokens=5).collect()
    assert len(got) == 1
    r = got[0]
    assert r.doc_id == 3 and r.lang_pred == "en" and r.dup_count == 2
    assert r.quality >= 0.75 and r.ws_tokens == 16


def test_semdedup_closed_form(spark):
    """Hand-computable 2-D case: two orthogonal seed directions, one
    near-copy of each seed (dup), one far vector (kept)."""
    from sopspark.text.similarity import semdedup

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [1.0, 0.1]),   # cluster 0, cos(v0, v2) ≈ 0.995 → dup
        (3, [0.1, 1.0]),   # cluster 1, dup of v1
        (4, [-1.0, 0.5]),  # cluster 1 (cos 0.447), no near-dup → kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: (r.cluster, r.is_dup) for r in semdedup(df, k=2, tau=0.9).collect()}
    assert got == {
        0: (0, False),
        1: (1, False),
        2: (0, True),
        3: (1, True),
        4: (1, False),
    }


def test_semdedup_cross_cluster_pairs_ignored(spark):
    """Near-identical vectors split across DIFFERENT clusters are not
    compared — the documented SemDeDup recall trade-off."""
    from sopspark.text.similarity import semdedup

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        # equidistant-ish tie-breaker: lands with seed 0 by cosine
        (2, [1.0, 0.01]),
        # near-copy of vec 2 but nudged toward seed 1 enough to flip? no —
        # still cluster 0; assert both flagged within one cluster
        (3, [1.0, 0.02]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: (r.cluster, r.is_dup) for r in semdedup(df, k=2, tau=0.99).collect()}
    assert out[2] == (0, True) and out[3] == (0, True)
    assert out[0] == (0, False) and out[1] == (1, False)


def test_paragraph_dedup_closed_form(spark):
    from sopspark.text.dedup import paragraph_dedup

    rows = [
        (1, "alpha\n\nbeta\n\ngamma"),
        (2, "beta\n\ndelta\n\nalpha"),  # beta+alpha already seen -> only delta
        (3, "x\n\nbeta"),
        (4, "\n\n\n\n"),  # three empty paragraphs, below min_chars -> all kept
        (5, "gamma\n\ngamma"),  # both occurrences lose to doc 1's gamma
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    assert out[1]["text"] == "alpha\n\nbeta\n\ngamma" and out[1]["n_kept"] == 3
    assert out[2]["text"] == "delta" and out[2]["n_paras"] == 3
    assert out[3]["text"] == "x"
    assert out[4]["text"] == "\n\n\n\n" and out[4]["n_kept"] == 3
    assert out[5]["text"] == "" and out[5]["n_kept"] == 0  # doc still present


def test_paragraph_dedup_min_chars_and_joiner(spark):
    from sopspark.text.dedup import paragraph_dedup

    rows = [(1, "aa|bb|aa"), (2, "bb|cc")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # min_chars=3: every paragraph is "short" -> nothing deduped
    out = {
        r["doc_id"]: r
        for r in paragraph_dedup(df, sep=r"\|", joiner="|", min_chars=3).collect()
    }
    assert out[1]["text"] == "aa|bb|aa"
    assert out[2]["text"] == "bb|cc"
    # min_chars=1: corpus-wide first-occurrence wins, intra-doc dups drop
    out = {
        r["doc_id"]: r
        for r in paragraph_dedup(df, sep=r"\|", joiner="|", min_chars=1).collect()
    }
    assert out[1]["text"] == "aa|bb"
    assert out[2]["text"] == "cc"


def test_chunk_documents_windows(spark):
    from sopspark.text.chunk import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(17))), (2, "short text"), (3, "")],
        ["doc_id", "text"],
    )
    out = chunk_documents(docs, chunk_size=8, overlap=2).collect()
    by_doc = {}
    for r in sorted(out, key=lambda r: (r.doc_id, r.chunk_idx)):
        by_doc.setdefault(r.doc_id, []).append(r)
    # 17 tokens, size 8, stride 6 -> 3 chunks; consecutive pairs share 2 tokens
    c1 = by_doc[1]
    assert [r.n_tokens for r in c1] == [8, 8, 5]
    assert c1[0].chunk_text.split()[-2:] == c1[1].chunk_text.split()[:2]
    assert c1[1].chunk_text.split()[-2:] == c1[2].chunk_text.split()[:2]
    # full coverage: concatenating de-overlapped chunks restores the doc
    rebuilt = c1[0].chunk_text.split()
    for r in c1[1:]:
        rebuilt += r.chunk_text.split()[2:]
    assert rebuilt == [f"t{i}" for i in range(17)]
    # short and empty docs produce exactly one chunk
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk_text == "short text"
    assert len(by_doc[3]) == 1 and by_doc[3][0].n_tokens == 1


def test_chunk_documents_rejects_bad_overlap(spark):
    import pytest
    from sopspark.text.chunk import chunk_documents

    docs = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_size=8, overlap=8)


def test_jaccard_join_exact_vs_bruteforce(spark):
    import itertools, random
    from sopspark.text.dedup import jaccard_similarity_join

    rng = random.Random(41)
    vocab = [f"w{i}" for i in range(30)]
    docs = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 25))))
            for i in range(40)]

    def jac(a, b):
        sa, sb = set(a.split(" ")), set(b.split(" "))
        return len(sa & sb) / len(sa | sb)

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    for t in (0.3, 0.6, 0.9):
        expect = sorted(
            (i, j, round(jac(a, b), 6))
            for (i, a), (j, b) in itertools.combinations(docs, 2)
            if jac(a, b) >= t
        )
        got = sorted((r.doc_a, r.doc_b, r.jaccard)
                     for r in jaccard_similarity_join(df, t).collect())
        assert got == expect, (t, len(got), len(expect))


def test_jaccard_join_threshold_validation(spark):
    import pytest
    from sopspark.text.dedup import jaccard_similarity_join

    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        jaccard_similarity_join(df, 0.0)


def test_jaccard_join_float_boundary_threshold(spark):
    from sopspark.text.dedup import jaccard_similarity_join

    # 0.07*100 = 7.000000000000001 in doubles: the naive length filter /
    # ceil(t*n) prefix both prune the qualifying J = 7/100 == t pair
    a_text = " ".join(f"w{i}" for i in range(100))
    b_text = " ".join(f"w{i}" for i in range(7))
    df = spark.createDataFrame([(1, a_text), (2, b_text)], ["doc_id", "text"])
    got = [(r.doc_a, r.doc_b) for r in jaccard_similarity_join(df, 0.07).collect()]
    assert got == [(1, 2)]


def test_normalize_text_closed_forms(spark):
    from sopspark.text.analysis import normalize_text

    rows = [
        (1, "Café au lait"),          # decomposed -> composed
        (2, "a\x07b\x00c"),                  # control chars strip
        (3, "  lots \t of\t\truns  "),       # collapse + trim
        (4, "already clean"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: (r.text, r.changed) for r in normalize_text(df).collect()}
    assert got[1] == ("Café au lait", True)
    assert got[2] == ("abc", True)
    assert got[3] == ("lots of runs", True)
    assert got[4] == ("already clean", False)
    assert got[5] == (None, None)


def test_fuzzy_pairs_ed1_matches_bruteforce(spark):
    import itertools
    from sopspark.text.fuzzy import fuzzy_pairs_ed1

    def lev(a, b):
        m, n = len(a), len(b)
        d = list(range(n + 1))
        for i in range(1, m + 1):
            prev, d[0] = d[0], i
            for j in range(1, n + 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1,
                                       prev + (a[i - 1] != b[j - 1]))
        return d[n]

    names = ["kitten", "sitten", "kitte", "kittens", "mitten",
             "ba", "ab", "a", "", "b", "same", "same", "xyz"]
    rows = list(enumerate(names))
    expect = sorted(
        (i, j, lev(a, b))
        for (i, a), (j, b) in itertools.combinations(rows, 2)
        if lev(a, b) <= 1
    )
    df = spark.createDataFrame(rows, ["id", "name"])
    got = sorted((r.id_a, r.id_b, r.dist) for r in fuzzy_pairs_ed1(df).collect())
    assert got == expect
    assert (10, 11, 0) in got  # exact duplicates surface at distance 0


def test_minhash_probe_finds_batch_neardups(spark):
    from sopspark.text.dedup import minhash_probe, minhash_signatures

    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = [(1, base), (2, "completely different words entirely here now"),
              (3, base + " extra")]
    batch = [(100, base), (101, "nothing like anything in the corpus at all")]
    isig = minhash_signatures(spark.createDataFrame(corpus, ["doc_id", "text"]),
                              num_perm=16, shingle_k=3)
    bsig = minhash_signatures(spark.createDataFrame(batch, ["doc_id", "text"]),
                              num_perm=16, shingle_k=3)
    got = {(r.new_id, r.index_id): r.jaccard_est
           for r in minhash_probe(isig, bsig, bands=4, threshold=0.5,
                                  num_perm=16).collect()}
    assert (100, 1) in got and got[(100, 1)] == 1.0   # exact dup of corpus doc 1
    assert all(n == 100 for n, _ in got)              # doc 101 matches nothing


def test_pmi_closed_form(spark):
    import math
    from sopspark.text.analysis import pmi_cooccurrence

    # a,b always together (PMI > 0); a,c independent-ish; d never pairs
    docs = [
        (1, "a b"), (2, "a b"), (3, "a b c"), (4, "c"), (5, "d"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {(r.x, r.y): (r.n_xy, r.pmi)
           for r in pmi_cooccurrence(df, min_count=1).collect()}
    n = 5.0
    want_ab = round(math.log((3 / n) / ((3 / n) * (3 / n))), 6)
    assert got[("a", "b")] == (3, want_ab) and want_ab > 0
    want_ac = round(math.log((1 / n) / ((3 / n) * (2 / n))), 6)
    assert got[("a", "c")] == (1, want_ac)
    assert not any("d" in k for k in got)


# ---------------------------------------------------------------------------
# multi-signal dedup clustering
# ---------------------------------------------------------------------------

def test_dedup_clusters_transitive_across_signals(spark):
    """Docs linked by DIFFERENT signals must land in ONE component:
    1↔2 share an exact paragraph, 2↔3 are near-identical (simhash Hamming 0
    AND jaccard ≥ 0.4) — so {1,2,3} is one cluster rooted at 1; 4↔5 share a
    paragraph (separate cluster); 6 is unique and must not appear."""
    from sopspark.text.dedup import dedup_clusters

    boiler = "this exact boilerplate paragraph repeats verbatim across documents"
    other = "completely different second paragraph padding the document body"
    near = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    docs = spark.createDataFrame(
        [
            (1, boiler + "\n\n" + "unique tail one two three four five six"),
            (2, boiler + "\n\n" + near),
            (3, near + " extra"),
            (4, other + "\n\nwholly unrelated content for the fourth document"),
            (5, other + "\n\nanother unrelated closing paragraph entirely here"),
            (6, "singleton document with no duplicate evidence at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["node"]: (r["component"], r["csize"])
        for r in dedup_clusters(docs, para_min_chars=20).collect()
    }
    assert out == {
        1: (1, 3), 2: (1, 3), 3: (1, 3),
        4: (4, 2), 5: (4, 2),
    }


def test_dedup_clusters_distributed_path_matches_driver_path(spark):
    """cc_driver_threshold=0 (forced star iterations) must produce the
    identical clustering as the driver union-find shortcut."""
    from sopspark.text.dedup import dedup_clusters

    base = "shared paragraph content that is long enough to count here"
    docs = spark.createDataFrame(
        [(i, base + "\n\n" + f"doc {i} body " + ("x " * (i % 5))) for i in range(12)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, dedup_clusters(docs).collect()))
    b = sorted(map(tuple, dedup_clusters(docs, cc_driver_threshold=0).collect()))
    assert a == b and len(a) == 12


# ---------------------------------------------------------------------------
# scalar quantization
# ---------------------------------------------------------------------------

def test_quantize_embeddings_closed_form(spark):
    """2-dim corpus with dim ranges [0,10] and a CONSTANT dim: codes are the
    exact floor(+0.5) grid points, the constant dim codes 0 with zero
    reconstruction error, endpoints reconstruct exactly."""
    from sopspark.text.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(0, [0.0, 7.0]), (1, [5.0, 7.0]), (2, [10.0, 7.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    assert rows[0]["codes"] == [-128, 0]
    assert rows[1]["codes"] == [0, 0]      # 5/10*255+0.5 = 128.0 → floor 128
    assert rows[2]["codes"] == [127, 0]
    assert rows[0]["mse"] == 0.0           # both endpoints + constant exact
    assert rows[2]["mse"] == 0.0
    deq_mid = (128.0 * 10.0) / 255.0
    assert abs(rows[1]["mse"] - (5.0 - deq_mid) ** 2 / 2) < 1e-12


def test_quantize_embeddings_error_bound(spark):
    """Reconstruction error of nearest-level quantization is bounded by
    half a step: |x - dequant| ≤ span/(2·255) per dimension."""
    import numpy as np
    from sopspark.text.similarity import quantize_embeddings

    rng = np.random.RandomState(7)
    data = [(i, [float(x) for x in rng.uniform(-3, 3, 16)]) for i in range(50)]
    df = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    arr = np.array([v for _, v in data], dtype=np.float64)
    span = arr.max(axis=0) - arr.min(axis=0)
    # +1e-6 absorbs the float32 storage of the embedding column (the numpy
    # reference here is float64 of the pre-insert values)
    bound = float(np.max((span / (2 * 255.0)) ** 2)) + 1e-6
    for r in quantize_embeddings(df).collect():
        assert 0.0 <= r["mse"] <= bound


# ---------------------------------------------------------------------------
# duplicated-span detection
# ---------------------------------------------------------------------------

def test_duplicate_spans_closed_form(spark):
    """A 15-token verbatim span shared at different offsets must come back
    as ONE maximal island with exact boundaries; a 10-token share stays
    below min_span=12 and is dropped."""
    from sopspark.text.dedup import duplicate_spans

    common = " ".join(f"c{i}" for i in range(15))
    short = " ".join(f"s{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, "x0 x1 x2 " + common + " " + short),
            (2, common + " y0 y1 y2 y3"),
            (3, "z0 z1 z2 z3 z4 " + short),
        ],
        "doc_id long, text string",
    )
    rows = sorted(map(tuple, duplicate_spans(docs, k=8, min_span=12).collect()))
    # (a, b, a_start, a_end, b_start, span_tokens)
    assert rows == [(1, 2, 3, 17, 0, 15)]


def test_duplicate_spans_max_bucket_drops_hot_shingles(spark):
    """Shingles occurring more than max_bucket times corpus-wide are
    boilerplate and are DROPPED outright (count-agg + anti-join — no
    single-task sorted cap of the hot bucket); at or under the threshold
    everything is kept."""
    from sopspark.text.dedup import duplicate_spans

    common = " ".join(f"c{i}" for i in range(15))
    docs = spark.createDataFrame(
        [(1, common + " a0 a1"), (2, common + " b0 b1"), (3, common + " d0 d1")],
        "doc_id long, text string",
    )
    full = sorted(map(tuple, duplicate_spans(docs, k=8, min_span=12).collect()))
    assert {(r[0], r[1]) for r in full} == {(1, 2), (1, 3), (2, 3)}
    # every shared shingle occurs 3× (once per doc): threshold 3 keeps all
    kept = sorted(
        map(tuple, duplicate_spans(docs, k=8, min_span=12, max_bucket=3).collect())
    )
    assert kept == full
    # threshold 2 drops the boilerplate entirely — no pairs survive
    dropped = duplicate_spans(docs, k=8, min_span=12, max_bucket=2).collect()
    assert dropped == []


def test_duplicate_spans_default_guard_kills_quadratic_boilerplate(spark):
    """The guard is DEFAULT-ON (max_bucket=1000): a boilerplate span shared
    verbatim by 1001 documents would emit 1001·1000/2 ≈ 500k pairs unguarded;
    under defaults it emits ZERO rows. max_bucket=None restores the
    unguarded quadratic behavior (verified on a small slice)."""
    from sopspark.text.dedup import duplicate_spans

    boiler = " ".join(f"c{i}" for i in range(15))
    docs = spark.createDataFrame(
        [(i, boiler + f" u{i}a u{i}b") for i in range(1001)],
        "doc_id long, text string",
    )
    assert duplicate_spans(docs).count() == 0
    # sanity: the same data un-guarded on a 4-doc slice does pair up
    small = docs.where("doc_id < 4")
    assert duplicate_spans(small, max_bucket=None).count() == 6


def test_strip_duplicate_spans_cuts_later_doc_only(spark):
    """The b side of each detected span is cut; the first occurrence and
    untouched docs pass through verbatim."""
    from sopspark.text.dedup import strip_duplicate_spans

    common = " ".join(f"c{i}" for i in range(15))
    short = " ".join(f"s{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, "x0 x1 x2 " + common + " " + short),
            (2, common + " y0 y1 y2 y3"),
            (3, "z0 z1 z2 z3 z4 " + short),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in strip_duplicate_spans(docs, k=8, min_span=12).collect()}
    assert set(out) == {1, 2, 3}
    assert out[2]["text"] == "y0 y1 y2 y3"
    assert (out[2]["n_tokens"], out[2]["n_removed"]) == (19, 15)
    assert out[1]["text"] == "x0 x1 x2 " + common + " " + short  # verbatim
    assert out[1]["n_removed"] == 0 and out[3]["n_removed"] == 0


def test_strip_duplicate_spans_merges_overlapping_cuts(spark):
    """Two overlapping spans against DIFFERENT earlier docs merge into one
    cut range — tokens in the overlap are removed once, not twice."""
    from sopspark.text.dedup import strip_duplicate_spans

    T = [f"t{i}" for i in range(30)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(T[0:20]) + " p1 p2"),
            (2, "q1 q2 " + " ".join(T[10:30])),
            (3, " ".join(T) + " r1 r2 r3"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in strip_duplicate_spans(docs, k=8, min_span=12).collect()}
    assert out[3]["text"] == "r1 r2 r3"
    assert (out[3]["n_tokens"], out[3]["n_removed"]) == (33, 30)
    assert out[1]["n_removed"] == 0 and out[2]["n_removed"] == 0


def test_tfidf_topk_closed_form(spark):
    """3-doc corpus with hand-computed smooth-idf scores."""
    from sopspark.text.search import tfidf_topk

    docs = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "apple cherry"), (3, "durian durian durian")],
        "doc_id long, text string",
    )
    rows = {(r["doc_id"], r["rank"]): r for r in tfidf_topk(docs, topk=5).collect()}
    # idf(apple) = ln(4/3)+1, idf(unique) = ln(2)+1
    assert rows[(1, 1)]["term"] == "apple" and rows[(1, 1)]["score"] == 2.575364
    assert rows[(1, 2)]["term"] == "banana" and rows[(1, 2)]["score"] == 1.693147
    assert rows[(2, 1)]["term"] == "cherry"  # unique beats shared
    assert rows[(2, 2)]["term"] == "apple" and rows[(2, 2)]["score"] == 1.287682
    assert rows[(3, 1)]["term"] == "durian" and rows[(3, 1)]["score"] == 5.079442
    assert len(rows) == 5


def test_random_projection_matches_numpy(spark):
    """Spark projection equals the numpy reference P @ x / sqrt(d) to
    double precision for the same seeded plane matrix."""
    import numpy as np
    from sopspark.text.similarity import _hyperplanes, random_projection

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(20)
    rows = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    P = np.array(_hyperplanes(64, 8, 77), dtype=np.float64)
    got = {r["vec_id"]: np.array(r["projected"]) for r in random_projection(emb, 8, seed=77).collect()}
    assert set(got) == set(rows)
    for vid, x in rows.items():
        want = (P @ x) / np.sqrt(8.0)
        assert np.max(np.abs(got[vid] - want)) < 1e-9, vid


def test_pq_assign_m1_equals_kmeans_and_properties(spark):
    """m=1 PQ degenerates to plain kmeans; identical subspace slices get
    identical codes; bad m rejected."""
    import pytest as _pytest

    from sopspark.text.cluster import kmeans_assign, pq_assign

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(64)
    pq1 = {r["vec_id"]: (r["c0"], r["d0"]) for r in pq_assign(emb, m=1, k=8, iters=2).collect()}
    km = {r["vec_id"]: (r["cluster"], r["dist"]) for r in kmeans_assign(emb, k=8, iters=2).collect()}
    assert pq1 == km

    out = pq_assign(emb, m=4, k=16, iters=2).collect()
    assert all(0 <= r[f"c{j}"] < 16 for r in out for j in range(4))
    # duplicate a vector under a new id: all four codes must match
    dup = emb.limit(1).withColumn("vec_id", F.lit(999_999))
    out2 = {r["vec_id"]: tuple(r[f"c{j}"] for j in range(4))
            for r in pq_assign(emb.unionByName(dup), m=4, k=16, iters=2).collect()}
    src_id = emb.limit(1).first()["vec_id"]
    assert out2[999_999] == out2[src_id]

    with _pytest.raises(ValueError):
        pq_assign(emb, m=7)


def test_bpe_train_matches_reference_implementation(spark):
    """bpe_train's distributed pair-count + greedy-fold rounds reproduce
    the reference learn_bpe loop (Sennrich 2016: get_stats / merge_vocab
    with left-to-right non-overlapping merges) exactly, including the
    deterministic tie-break (count desc, pair asc)."""
    import collections

    from sopspark.text.tokenize import bpe_apply, bpe_train

    corpus = [
        (0, "low lower lowest low low"),
        (1, "new newer newest new"),
        (2, "low new lowest aaaa aaa"),  # odd runs exercise overlap greed
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    got = [tuple(r) for r in bpe_train(docs, n_merges=8).collect()]

    def ref_bpe(words, n):
        vocab: dict[tuple, int] = {}
        for w in words:
            vocab[tuple(w)] = vocab.get(tuple(w), 0) + 1
        merges = []
        for rank in range(1, n + 1):
            stats = collections.Counter()
            for w, c in vocab.items():
                for i in range(len(w) - 1):
                    stats[(w[i], w[i + 1])] += c
            if not stats:
                break
            (l, r), cnt = min(
                stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((rank, l, r, l + r, cnt))
            nv: dict[tuple, int] = {}
            for w, c in vocab.items():
                out, i = [], 0
                while i < len(w):
                    if i < len(w) - 1 and w[i] == l and w[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(w[i])
                        i += 1
                nv[tuple(out)] = nv.get(tuple(out), 0) + c
            vocab = nv
        return merges

    words = [w for _, t in corpus for w in t.lower().split()]
    assert got == ref_bpe(words, 8)

    # bpe_apply reproduces per-word greedy merging in document order
    tok = {
        r["doc_id"]: list(r["tokens"])
        for r in bpe_apply(docs, [(l, r) for _, l, r, _, _ in got]).collect()
    }
    # independent apply: run each merge over each word sequentially
    def apply_ref(text):
        out = []
        for w in text.lower().split():
            seq = list(w)
            for _, l, r, _, _ in got:
                nxt, i = [], 0
                while i < len(seq):
                    if i < len(seq) - 1 and seq[i] == l and seq[i + 1] == r:
                        nxt.append(l + r)
                        i += 2
                    else:
                        nxt.append(seq[i])
                        i += 1
                seq = nxt
            out.extend(seq)
        return out

    for did, text in corpus:
        assert tok[did] == apply_ref(text), did


def test_margin_mining_matches_numpy_reference(spark):
    """margin_mining (ratio margin, k-NN means both directions, best
    target per source) agrees with an independent numpy brute-force."""
    import numpy as np

    from sopspark.text.similarity import margin_mining

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((30, 8)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    src = emb.where("vec_id % 2 = 0")
    tgt = emb.where("vec_id % 2 = 1")
    got = {
        r["src_id"]: (r["tgt_id"], round(r["margin"], 4))
        for r in margin_mining(src, tgt, k=3, threshold=0.0).collect()
    }

    v = vecs.astype("float64")
    n = v / np.linalg.norm(v, axis=1, keepdims=True)
    sid = [i for i in range(30) if i % 2 == 0]
    tid = [i for i in range(30) if i % 2 == 1]
    cos = np.round(n[sid] @ n[tid].T, 6)
    fm = np.round(
        np.mean(np.sort(cos, axis=1)[:, -3:], axis=1), 6
    )  # per-src top-3 mean
    bm = np.round(np.mean(np.sort(cos, axis=0)[-3:, :], axis=0), 6)
    margin = np.round(cos / ((fm[:, None] + bm[None, :]) / 2), 6)
    exp = {}
    for a, s in enumerate(sid):
        # best margin, tie-break smaller tgt_id
        order = sorted(range(len(tid)), key=lambda b: (-margin[a, b], tid[b]))
        b = order[0]
        exp[s] = (tid[b], round(float(margin[a, b]), 4))
    assert got == exp


def test_bpe_merge_exhaustion_oracle_agrees(spark):
    """A corpus that exhausts its pairs before 8 rounds: bpe_train stops
    early, bpe_apply still tokenizes, and the DuckDB oracle (whose rounds
    run v{k} = v{k-1} through an empty b{k} via LEFT JOIN ON TRUE) agrees
    on both outputs instead of collapsing to zero rows."""
    import duckdb
    import pandas as pd

    from sopspark.queries import _bpe_tokenize_oracle_sql, _bpe_train_oracle_sql
    from sopspark.text.tokenize import bpe_apply, bpe_train

    rows = [(0, "ab ab a"), (1, "b a ab")]  # one learnable merge, then dry
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe_train(docs, n_merges=8).collect()
    assert len(merges) == 1 and (merges[0]["lhs"], merges[0]["rhs"]) == ("a", "b")

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    om = con.sql(_bpe_train_oracle_sql()).fetchall()
    assert [(r["rank"], r["lhs"], r["rhs"], r["merged"], r["pair_count"]) for r in merges] == om

    tok = {
        r["doc_id"]: (r["n_tokens"], " ".join(r["tokens"]))
        for r in bpe_apply(docs, [(m[1], m[2]) for m in om]).collect()
    }
    ot = {r[0]: (r[1], r[2]) for r in con.sql(_bpe_tokenize_oracle_sql()).fetchall()}
    assert tok == {0: (3, "ab ab a"), 1: (3, "b a ab")}
    assert ot == tok


def test_weighted_sample_matches_python_lottery_and_plans_topk(spark):
    """weighted_sample reproduces the A-Res lottery computed independently
    in Python (hashlib md5 → uniform → ln(u)/w, round 9, id tie-break);
    zero/negative weights are never drawn; the plan is a
    TakeOrderedAndProject, not a global sort."""
    import hashlib
    import math

    from sopspark.text.analysis import weighted_sample

    rows = [(i, float(1 + (i * 7) % 13)) for i in range(60)] + [(100, 0.0), (101, -2.0)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = [(r["doc_id"], r["samp_key"]) for r in weighted_sample(df, 10, "w").collect()]

    def key(i, w):
        h = int(hashlib.md5(f"42:{i}".encode()).hexdigest()[:12], 16)
        return round(math.log((h + 1) / 2.0**48) / w, 9)

    exp = sorted(
        ((i, key(i, w)) for i, w in rows if w > 0),
        key=lambda t: (-t[1], t[0]),
    )[:10]
    assert got == exp
    assert all(i not in (100, 101) for i, _ in got)

    phys = weighted_sample(df, 10, "w")._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in phys, phys


def test_kmeans_distance_kernel_matches_catalyst_spec(spark):
    """The mapInArrow distance kernel (_with_distances) must reproduce the
    Catalyst reference expression (_dist_to) EXACTLY — including null and
    wrong-length vectors, which get null distances in both paths. Compared
    at 12 decimals, far past the operator's round_dp=6."""
    import numpy as np

    from sopspark.text.cluster import _dist_to, _with_distances

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.standard_normal(6)]) for i in range(40)]
    rows.append((100, None))          # null vector
    rows.append((101, [1.0, 2.0]))    # ragged vector
    v = spark.createDataFrame(rows, "_id long, _v array<double>")
    cents = [[float(x) for x in rng.standard_normal(6)] for _ in range(3)]

    got = {
        r["_id"]: [r[f"k{j}"] for j in range(3)]
        for r in _with_distances(v, cents)
        .select(
            "_id",
            *[
                F.round(F.col(f"_d{j}"), 12).alias(f"k{j}")
                for j in range(3)
            ],
        )
        .collect()
    }
    exp = {
        r["_id"]: [r[f"e{j}"] for j in range(3)]
        for r in v.select(
            "_id",
            *[
                _dist_to(F.col("_v"), c, 12).alias(f"e{j}")
                for j, c in enumerate(cents)
            ],
        ).collect()
    }
    assert got == exp
    assert got[100] == [None, None, None]
    assert got[101] == [None, None, None]


def test_margin_mining_empty_and_degenerate_sides(spark):
    """Kernel-path edge cases: empty src yields an empty result (same as
    the old empty-broadcast crossJoin), and zero-norm vectors are dropped
    from both sides before scoring."""
    from sopspark.text.similarity import margin_mining

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (2, [0.0, 0.0]),   # zero-norm src — dropped
            (1, [1.0, 0.0]),
            (3, [0.0, 0.0]),   # zero-norm tgt — dropped
        ],
        "vec_id long, embedding array<float>",
    )
    src = emb.where("vec_id % 2 = 0")
    tgt = emb.where("vec_id % 2 = 1")
    out = margin_mining(src, tgt, k=2, threshold=0.0).collect()
    assert [(r["src_id"], r["tgt_id"]) for r in out] == [(0, 1)]

    empty_src = emb.where("vec_id < 0")
    assert margin_mining(empty_src, tgt, k=2, threshold=0.0).count() == 0
