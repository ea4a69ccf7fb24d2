"""Dedup operators vs pure-Python/numpy oracles."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from od_database_spark.operators import dedup as D
from od_database_spark.queries import ANN_TABLES, MH_A, MH_B, MH_P, ann_planes

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (2, "the quick brown fox jumps over the sleepy dog"),  # near dup
    (3, "completely different words in this one entirely"),
    (4, "spark runs distributed queries over columnar data"),
    (5, "spark runs distributed queries over columnar files"),  # near dup of 4
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def py_shingles(text, k=3):
    w = [x for x in text.split() if x]
    return [" ".join(w[i : i + k]) for i in range(len(w) - k + 1)]


def py_minhash(text):
    hs = [int(hashlib.md5(s.encode()).hexdigest()[:12], 16) for s in py_shingles(text)]
    return [min((a * h + b) % MH_P for h in hs) for a, b in zip(MH_A, MH_B)]


def py_simhash(text):
    acc = [0] * D.SIMHASH_BITS
    for w in set(x for x in text.split() if x):
        h = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
        for i in range(D.SIMHASH_BITS):
            acc[i] += 1 if (h >> i) & 1 else -1
    out = 0
    for i, v in enumerate(acc):
        if v > 0:
            out |= 1 << i
    return out


def test_short_docs_yield_no_shingles_without_crashing(spark):
    """Documents with <3 words must produce ZERO shingles, not fail the job:
    F.sequence(1, 0) DESCENDS ([1, 0]) and slice(start=0) throws, so the
    unguarded form crashed on any short document."""
    from od_database_spark import queries as Q

    short = spark.createDataFrame(
        [(0, ""), (1, "one"), (2, "two words"), (3, "three words here"),
         (4, "   "), (5, "a b c d")],
        "doc_id long, text string",
    )
    sigs = D.minhash_signatures(short, "text", "doc_id").collect()
    assert sorted(r["doc_id"] for r in sigs) == [3, 5]  # only >=3-word docs
    bands = Q._minhash_bands(short).select("doc_id").distinct().collect()
    assert sorted(r["doc_id"] for r in bands) == [3, 5]
    shingle_rows = short.select(
        "doc_id", F.explode(Q._text_shingles()).alias("s")
    ).collect()
    assert sorted({r["doc_id"] for r in shingle_rows}) == [3, 5]


def test_exact_dedup(docs):
    kept = sorted(r["doc_id"] for r in D.exact_dedup(docs, "text", "doc_id").collect())
    assert kept == [0, 2, 3, 4, 5]  # doc 1 collapses into 0


def test_minhash_matches_python_oracle(docs):
    rows = {r["doc_id"]: [r[f"mh{j}"] for j in range(len(MH_A))]
            for r in D.minhash_signatures(docs, "text", "doc_id").collect()}
    for doc_id, text in DOCS:
        assert rows[doc_id] == py_minhash(text), doc_id


def test_lsh_pairs_find_near_dups(docs):
    sigs = D.minhash_signatures(docs, "text", "doc_id")
    pairs = {(r["id_a"], r["id_b"]) for r in D.lsh_candidate_pairs(sigs, "doc_id").collect()}
    assert (0, 1) in pairs  # identical docs always collide
    assert (0, 2) in pairs or (4, 5) in pairs  # near dups collide w.h.p.
    assert (0, 3) not in pairs  # unrelated docs don't


def test_simhash_matches_python_oracle(docs):
    rows = {r["doc_id"]: r["simhash"] for r in D.simhash(docs, "text", "doc_id").collect()}
    for doc_id, text in DOCS:
        assert rows[doc_id] == py_simhash(text), doc_id


def test_simhash_near_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in D.simhash_near_pairs(docs, "text", "doc_id", max_hamming=10).collect()}
    assert pairs.get((0, 1)) == 0
    assert (0, 3) not in pairs


def test_simhash_multiprobe_recall_exact_below_bands(spark):
    """Pigeonhole recall guarantee: with 4 sub-blocks, EVERY pair within
    hamming ≤ 3 must be found — including pairs whose differing bits all sit
    in the top 16 bits, which the round-2 single-block scheme missed."""
    rng = np.random.default_rng(23)
    fps = [int(x) for x in rng.integers(0, 1 << 60, size=40, dtype=np.uint64)]
    # adversarial near-pairs: flip 1-3 bits entirely inside the TOP 15 bits
    # (the old top-16-bit block) of the first ten fingerprints
    for i in range(10):
        flips = rng.choice(range(45, 60), size=(i % 3) + 1, replace=False)
        y = fps[i]
        for b in flips:
            y ^= 1 << int(b)
        fps.append(y)
    rows = [(i, fp) for i, fp in enumerate(fps)]
    sh = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {(r["id_a"], r["id_b"])
           for r in D.near_pairs_from_fingerprints(sh, "doc_id", max_hamming=3).collect()}
    brute = {
        (a, b)
        for a in range(len(fps))
        for b in range(a + 1, len(fps))
        if bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    missed = brute - got
    assert not missed, f"multi-probe banding missed {len(missed)} pairs: {sorted(missed)[:5]}"
    # and nothing beyond the hamming bound leaks through
    assert all(bin(fps[a] ^ fps[b]).count("1") <= 3 for a, b in got)


def test_embedding_near_dup_matches_numpy(spark):
    rng = np.random.default_rng(7)
    base = rng.normal(size=(6, 16)).astype(np.float32)
    base[1] = base[0] + rng.normal(scale=0.01, size=16).astype(np.float32)  # near dup
    rows = [(i, [float(x) for x in base[i]]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in D.embedding_near_dup(df, "embedding", "vec_id", 0.95).collect()}
    assert (0, 1) in got and got[(0, 1)] >= 0.99
    # oracle: candidate pairs must share at least one band bucket; cosines
    # must match a numpy brute-force
    tabs = np.array(ANN_TABLES, dtype=np.float64)[:, :, :16]  # (bands, rows, dim)
    pow2 = 1 << np.arange(tabs.shape[1])
    buckets = [
        ((base.astype(np.float64) @ tabs[bi].T) > 0) @ pow2
        for bi in range(tabs.shape[0])
    ]
    for (a, b), c in got.items():
        assert any(bk[a] == bk[b] for bk in buckets)
        na, nb = np.linalg.norm(base[a]), np.linalg.norm(base[b])
        expect = float(base[a].astype(np.float64) @ base[b].astype(np.float64) / (na * nb))
        assert abs(round(expect, 4) - c) <= 1e-3


def test_ann_bucket_count_scales_with_params(spark):
    """Regression for the fixed-256-bucket ceiling: the bucket key space must
    grow with the banding parameters, and real vectors must spread across
    it (bounded per-bucket candidate counts come from that spread)."""
    rng = np.random.default_rng(11)
    base = rng.normal(size=(256, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in base[i]]) for i in range(len(base))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from pyspark.sql import functions as F

    def n_buckets(tables):
        keyed = df.select(
            F.explode(D.ann_band_buckets(F.col("embedding"), tables)).alias("b")
        )
        return keyed.select("b").distinct().count()

    small = n_buckets(ann_planes(bands=2, rows=3, dim=16))
    big = n_buckets(ann_planes(bands=4, rows=6, dim=16))
    assert small <= 2 * 2**3
    assert big > small  # key space grows with the parameters
    # with 6-bit tables over random gaussians, occupancy spreads well past
    # the old single-table ceiling behavior (many distinct cells per band)
    assert big >= 4 * 8


def test_dedup_components_match_union_find(spark):
    """Label propagation must compute exactly the connected components of the
    verified-pair graph: same membership as a pure-Python union-find, with
    each component labeled by its minimum doc_id."""
    from od_database_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    pairs = [(r["doc_a"], r["doc_b"]) for r in Q.q_ngram_jaccard(spark, sf).collect()]
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
    expect = {}
    for node in parent:
        root = find(node)
        expect.setdefault(root, set()).add(node)
    want = {n: min(members) for root, members in expect.items() for n in members}
    got = {r["doc_id"]: (r["comp"], r["comp_size"])
           for r in Q.q_dedup_components(spark, sf).collect()}
    assert {k: v[0] for k, v in got.items()} == want
    for doc_id, (comp, size) in got.items():
        assert size == len(expect[comp])


def test_hot_bucket_cap_bounds_adversarial_quadratic(spark):
    """Skew guard: a cluster of identical vectors makes one bucket quadratic
    at ANY banding geometry; with max_bucket_size set, the hot bucket is
    salted into sub-chunks (with a RuntimeWarning) — pair count is BOUNDED
    (≤ n·cap/2 per bucket instead of C(n,2)) but recall inside the hot
    bucket stays NONZERO (the round-4 exclusion form dropped it to 0), and
    normal near-dups elsewhere are untouched."""
    import warnings

    rng = np.random.default_rng(31)
    dim = 64
    clone = [float(x) for x in rng.normal(size=dim)]
    n_clone = 100
    rows = [(i, clone) for i in range(n_clone)]  # adversarial identical cluster
    a = [float(x) for x in rng.normal(size=dim)]
    rows += [(1000, a), (1001, [x + 1e-4 for x in a])]  # a benign near-dup pair
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    uncapped = D.embedding_near_dup(df, "embedding", "vec_id", threshold=0.999)
    n_uncapped = uncapped.count()
    assert n_uncapped >= n_clone * (n_clone - 1) / 2  # the quadratic blowup is real

    cap = 10
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        capped = D.embedding_near_dup(
            df, "embedding", "vec_id", threshold=0.999, max_bucket_size=cap
        )
        pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert any("hot" in str(x.message) for x in w)  # never a silent cap
    assert (1000, 1001) in pairs  # benign near-dups still found
    cluster_pairs = {p for p in pairs if p[0] < n_clone and p[1] < n_clone}
    assert cluster_pairs  # recall inside the hot bucket is NOT zero
    # bounded: ~n·cap/2 in expectation (hash-balanced chunks; 2x margin for
    # the deterministic skew of this fixture), quadratic term gone
    assert len(cluster_pairs) <= n_clone * cap
    assert len(cluster_pairs) < n_clone * (n_clone - 1) / 4

    # same guard on the fingerprint path: one hot 16-bit block
    fp_rows = [(f"d{i:03d}", 7) for i in range(60)]  # identical fingerprints
    fp_rows += [("x0", 1 << 40), ("x1", (1 << 40) ^ 3)]
    fdf = spark.createDataFrame(fp_rows, "doc_id string, simhash long")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = {
            (r["id_a"], r["id_b"])
            for r in D.near_pairs_from_fingerprints(
                fdf, "doc_id", max_hamming=6, max_block_size=10
            ).collect()
        }
    assert any("hot" in str(x.message) for x in w)
    assert ("x0", "x1") in got
    dd = {p for p in got if p[0].startswith("d") and p[1].startswith("d")}
    assert dd  # within-chunk duplicates in the hot block are still found
    assert len(dd) <= 60 * 10  # bounded (expectation n·cap/2, 2x margin)
    assert len(dd) < 60 * 59 / 2


def test_image_phash_near_pairs_matches_python_oracle(spark):
    """64-bit perceptual-hash near-dup pairs: exact agreement with a brute
    force python oracle, including negative (sign-bit-set) hashes and the
    pigeonhole recall guarantee for hamming ≤ bands-1."""
    rng = np.random.default_rng(7)
    base = [int(rng.integers(-(2**63), 2**63 - 1)) for _ in range(40)]
    rows = [(f"img_{i:04d}", h) for i, h in enumerate(base)]
    # seeded near-dups: flip ≤3 bits (within the pigeonhole bound for 4 bands)
    for i in range(0, 40, 5):
        h = base[i]
        for b in rng.choice(64, size=3, replace=False):
            h ^= 1 << int(b)
        if h >= 2**63:
            h -= 2**64
        rows.append((f"img_9{i:03d}", h))
    df = spark.createDataFrame(rows, "image_id string, phash long")
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in D.image_phash_near_pairs(df, max_hamming=6).collect()
    }

    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    def blocks(h):
        return {(b, (h >> (16 * b)) & 0xFFFF) for b in range(4)}

    want = set()
    for i, (ida, ha) in enumerate(rows):
        for idb, hb in rows[i + 1:]:
            a, b = sorted((ida, idb))
            hav = ham(ha, hb)
            # candidate iff some 16-bit sub-block matches (the banding rule)
            if hav <= 6 and blocks(ha) & blocks(hb):
                want.add((a, b, hav))
    assert got == want
    # every seeded ≤3-bit flip is guaranteed found (pigeonhole: 4 bands)
    seeded = {i for i in range(0, 40, 5)}
    found_seeded = {
        int(a.split("_")[1]) for a, b, _ in got if b.startswith("img_9")
    }
    assert seeded <= found_seeded


def test_scaled_geometry_recall_on_seeded_neardups(spark):
    """Scaling the LSH geometry (more rows per band → more, smaller buckets)
    must keep near-duplicate recall: on a seeded set of true near-dups
    (tiny perturbations, cosine ≥ 0.999), the 4×2^9 geometry finds at least
    what the default 4×2^6 geometry finds — shrinking buckets bounds
    candidate-pair work, it must not lose the actual duplicates."""
    rng = np.random.default_rng(23)
    n, dim = 200, 64
    base = rng.normal(size=(n, dim)).astype(np.float32)
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
    # seeded near-dups: ids 1000+i are tiny perturbations of i
    noise = rng.normal(scale=1e-4, size=(n, dim)).astype(np.float32)
    rows += [(1000 + i, [float(x) for x in (base[i] + noise[i])]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    seeded = {(i, 1000 + i) for i in range(n)}

    def recall(tables):
        pairs = {
            (r["id_a"], r["id_b"])
            for r in D.embedding_near_dup(
                df, "embedding", "vec_id", threshold=0.999, tables=tables
            ).collect()
        }
        return len(pairs & seeded) / len(seeded)

    r_fixed = recall(ann_planes(4, 6))
    r_scaled = recall(ann_planes(4, 9))
    assert r_scaled >= r_fixed
    assert r_scaled >= 0.95  # near-exact dups survive 9-row buckets


def test_connected_components_logn_on_long_chain(spark):
    """Adversarial long chains must converge in O(log n) driver rounds, not
    O(diameter): a 50-node path graph (diameter 49) through the pointer-
    jumping loop finishes within ceil(log2 n) + 3 iterations, with every
    node labeled by the global minimum."""
    import math

    n = 50
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    labels, iters = D.connected_components(path)
    got = {r["doc_id"]: r["comp"] for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}
    assert iters <= math.ceil(math.log2(n)) + 3, iters
    # several disjoint chains in one pass: each labeled by its own minimum
    two = spark.createDataFrame(
        [(i, i + 1) for i in range(9)] + [(100 + i, 101 + i) for i in range(9)],
        "doc_a long, doc_b long",
    )
    labels2, _ = D.connected_components(two)
    got2 = {r["doc_id"]: r["comp"] for r in labels2.collect()}
    assert got2 == {**{i: 0 for i in range(10)}, **{100 + i: 100 for i in range(10)}}


def test_ngram_jaccard_verifies_only_lsh_candidates(spark):
    """The verify stage must consume the LSH candidate feed — every verified
    pair is an LSH candidate pair (no all-pairs block join behind it)."""
    from od_database_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    cand = {(r["doc_a"], r["doc_b"]) for r in Q._minhash_candidates(
        spark.read.parquet(f"{sf}/documents.parquet")).collect()}
    verified = {(r["doc_a"], r["doc_b"])
                for r in Q.q_ngram_jaccard(spark, sf).collect()}
    assert verified <= cand


def test_connected_components_string_ids(spark):
    """Node ids need not be longs: the carried previous label takes the
    labels' own type, so string ids converge to the min id per component."""
    edges = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("y", "x"), ("d", "c")], "doc_a string, doc_b string"
    )
    labels, _ = D.connected_components(edges)
    assert labels.schema["comp"].dataType.simpleString() == "string"
    got = {r["doc_id"]: r["comp"] for r in labels.collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}
