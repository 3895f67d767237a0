"""Dedup operator semantics on constructed corpora."""

import pytest
from pyspark.sql import functions as F

from storagetapper_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    shingle_grams,
    simhash,
    simhash_near_pairs,
)

DOC = ("the quick brown fox jumps over the lazy dog and keeps running "
       "through the quiet green field until the evening light fades")


def _docs(spark):
    rows = [
        (1, DOC, "b1"),
        (2, DOC, "b1"),                          # exact duplicate
        (3, DOC.replace("quiet", "silent"), "b1"),  # near duplicate
        (4, "completely different text about spark query engines and "
            "distributed columnar execution at scale", "b1"),
        (5, "another unrelated document mentioning kafka pipelines and "
            "binlog replication with schema registry", "b2"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, bucket string")


def test_exact_dedup(spark):
    out = exact_dedup(_docs(spark))
    dup = [r for r in out.collect() if r.n_copies > 1]
    assert len(dup) == 1 and dup[0].keeper_id == 1 and dup[0].n_copies == 2


def test_minhash_identical_docs_same_signature(spark):
    sig = {r.doc_id: tuple(r[f"mh_{i}"] for i in range(8))
           for r in minhash_signature(_docs(spark)).collect()}
    assert sig[1] == sig[2]
    assert sig[1] != sig[4]


def test_minhash_lsh_finds_dups(spark):
    pairs = {(r.id_a, r.id_b): r.jaccard_est
             for r in minhash_lsh_pairs(_docs(spark)).collect()}
    assert pairs[(1, 2)] == 1.0          # exact dup: all bands match
    assert (1, 4) not in pairs           # unrelated: no shared band
    if (1, 3) in pairs:                  # near-dup may band-collide
        assert pairs[(1, 3)] >= 0.5


def test_ngram_jaccard_exact_values(spark):
    out = {(r.id_a, r.id_b): r.jaccard
           for r in ngram_jaccard_pairs(_docs(spark), ["bucket"],
                                        threshold=0.0).collect()}
    assert out[(1, 2)] == 1.0
    # near-dup: one word changed in a 20-word doc → substantial overlap
    assert 0.5 < out[(1, 3)] < 1.0
    # cross-bucket pairs are never compared (blocking)
    assert all(a != 5 and b != 5 for a, b in out)


def test_simhash_properties(spark):
    fp = {r.doc_id: r.simhash for r in simhash(_docs(spark)).collect()}
    assert fp[1] == fp[2]                # identical docs, identical prints
    assert fp[1] != fp[4]
    pairs = simhash_near_pairs(simhash(_docs(spark)), max_hamming=10)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert got[(1, 2)] == 0
    assert got[(1, 3)] <= 10             # near-dup within hamming budget


def test_connected_components_chains(spark):
    """Transitive clusters: chains collapse to min-id label; separate
    clusters stay separate; convergence needs multiple propagation
    rounds for a long path."""
    from storagetapper_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),      # path 1-2-3-4-5
         (10, 11), (11, 12),                   # path 10-11-12
         (20, 21)],                            # pair
        "id_a long, id_b long")
    got = {r.node: r.comp for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def test_minhash_jvm_arrow_parity(spark):
    """The codegen'd signature path must be byte-identical to the
    Arrow/pandas-UDF reference implementation (same md5-hex-min
    contract the DuckDB oracle checks)."""
    from storagetapper_spark.operators.dedup import minhash_signature_arrow

    docs = _docs(spark).union(spark.createDataFrame(
        [(6, "one two", "b3"),      # shorter than shingle_n -> whole text
         (7, "  MIXED Case,  punct!! and   spaces ", "b3"),
         (8, "", "b3")],            # empty text -> empty-string shingle
        "doc_id long, text string, bucket string"))
    jvm = {r.doc_id: tuple(r[f"mh_{i}"] for i in range(8))
           for r in minhash_signature(docs).collect()}
    arrow = {r.doc_id: tuple(r[f"mh_{i}"] for i in range(8))
             for r in minhash_signature_arrow(docs).collect()}
    assert jvm == arrow


def test_lsh_star_capping_preserves_clusters(spark, sf_dir):
    """star_threshold caps quadratic buckets with linear star edges;
    connected-components clustering must be IDENTICAL to all-pairs."""
    from storagetapper_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )
    from storagetapper_spark.plans.common import t

    docs = t(spark, sf_dir, "documents")
    full = minhash_lsh_pairs(docs)
    star = minhash_lsh_pairs(docs, star_threshold=3)
    n_full, n_star = full.count(), star.count()
    assert n_star <= n_full
    comp_full = {(r.node, r.comp) for r in
                 connected_components(full, "id_a", "id_b").collect()}
    comp_star = {(r.node, r.comp) for r in
                 connected_components(star, "id_a", "id_b").collect()}
    assert comp_full == comp_star
    # star pairs always include the hub (bucket min id) on the left
    for r in star.collect():
        assert r.id_a < r.id_b


def test_lsh_incremental_maintains_pair_set(spark, sf_dir):
    """incremental(new vs corpus) ∪ lsh(corpus) == lsh(corpus ∪ new):
    repeated ingests maintain the pair set without re-pairing the
    corpus."""
    from pyspark.sql import functions as F

    from storagetapper_spark.operators.dedup import (
        minhash_lsh_incremental,
        minhash_lsh_pairs,
        minhash_signature,
    )
    from storagetapper_spark.plans.common import t

    docs = t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    new = docs.where(F.col("doc_id") % 5 == 0)

    incr = minhash_lsh_incremental(minhash_signature(corpus), new)
    corpus_pairs = minhash_lsh_pairs(corpus)
    full_pairs = minhash_lsh_pairs(docs)

    def keyset(df):
        return {(r.id_a, r.id_b, r.jaccard_est) for r in df.collect()}

    assert keyset(incr) | keyset(corpus_pairs) == keyset(full_pairs)
    # incremental pairs always involve a new doc
    for r in incr.collect():
        assert r.id_a % 5 == 0 or r.id_b % 5 == 0


def test_connected_components_long_chain(spark):
    """Regression (r4): plain per-round label propagation referenced the
    previous generation 3x per round — the unmaterialized plan grew
    ~3^k and OOMed an 8g heap at diameter ~17, and max_iters=20 would
    have silently misclustered longer chains.  Pointer-jumping +
    per-round localCheckpoint must resolve a 400-node chain exactly."""
    from storagetapper_spark.operators.dedup import connected_components

    e = spark.createDataFrame([(i, i + 1) for i in range(400)],
                              "id_a long, id_b long")
    rows = connected_components(e).collect()
    assert len(rows) == 401
    assert all(r.comp == 0 for r in rows)


def test_connected_components_blocked_matches_iterative(spark):
    """r10: the one-pass per-block union-find must produce EXACTLY the
    iterative operator's labels (comp = min reachable id) on a random
    block-local edge set — chains, stars, diamonds and singleton-free
    blocks included."""
    import random

    from storagetapper_spark.operators.dedup import (
        connected_components, connected_components_blocked)

    rng = random.Random(7)
    rows = []
    node = 0
    for blk in range(12):
        n = rng.randint(2, 40)
        ids = list(range(node, node + n))
        node += n
        # random spanning structure plus noise edges, all inside blk
        for i in range(1, n):
            a = ids[rng.randint(0, i - 1)] if rng.random() < 0.7 else ids[0]
            if rng.random() < 0.8:           # leave some singleton-ish gaps
                rows.append((f"b{blk}", a, ids[i]))
        for _ in range(n // 3):
            a, b = rng.sample(ids, 2)
            rows.append((f"b{blk}", min(a, b), max(a, b)))
    e = spark.createDataFrame(rows, "blk string, id_a long, id_b long")
    fast = {(r.node, r.comp)
            for r in connected_components_blocked(e, "blk").collect()}
    slow = {(r.node, r.comp)
            for r in connected_components(e).collect()}
    assert fast == slow


def test_shared_grams_matches_builtin_shingling(spark):
    """The r11 shared-grams path (one shingle_grams table fed to both
    minhash_lsh_pairs and ngram_jaccard_pairs, the
    dedup_minhash_calibration shape) must reproduce the operators'
    built-in shingling bit-for-bit — including short docs whose single
    shingle is the whole normalized text."""
    rows = [
        (1, DOC, "b1"),
        (2, DOC, "b1"),
        (3, DOC.replace("quiet", "silent"), "b1"),
        (4, "tiny doc", "b1"),              # < shingle_n words: shorts branch
        (5, "one", "b2"),                   # single word
        (6, "kafka pipelines with binlog replication", "b2"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, bucket string")
    grams = shingle_grams(docs, ["bucket"], shingle_n=3).persist()

    est_shared = minhash_lsh_pairs(docs, num_hashes=8, bands=4,
                                   shingle_n=3, grams=grams)
    est_own = minhash_lsh_pairs(docs, num_hashes=8, bands=4, shingle_n=3)
    assert sorted(map(tuple, est_shared.collect())) == \
        sorted(map(tuple, est_own.collect()))

    ex_shared = ngram_jaccard_pairs(docs, ["bucket"], shingle_n=3,
                                    threshold=0.0, grams=grams)
    ex_own = ngram_jaccard_pairs(docs, ["bucket"], shingle_n=3,
                                 threshold=0.0)
    assert sorted(map(tuple, ex_shared.collect())) == \
        sorted(map(tuple, ex_own.collect()))
    grams.unpersist()


@pytest.mark.parametrize("op,drop", [
    ("minhash_signature", "doc_id"),
    ("minhash_signature", "_g"),
    ("minhash_lsh_pairs", "doc_id"),
    ("minhash_lsh_pairs", "_g"),
    ("ngram_jaccard_pairs", "doc_id"),
    ("ngram_jaccard_pairs", "_g"),
    ("ngram_jaccard_pairs", "bucket"),
])
def test_grams_missing_column_raises(spark, op, drop):
    """A grams= table lacking a column its consumer reads must raise
    ValueError up front, naming the column."""
    docs = _docs(spark)
    grams = shingle_grams(docs, ["bucket"], shingle_n=3).drop(drop)
    calls = {
        "minhash_signature": lambda: minhash_signature(docs, grams=grams),
        "minhash_lsh_pairs": lambda: minhash_lsh_pairs(docs, grams=grams),
        "ngram_jaccard_pairs": lambda: ngram_jaccard_pairs(
            docs, ["bucket"], grams=grams),
    }
    with pytest.raises(ValueError, match=f"'{drop}'"):
        calls[op]()
