"""Training-data pipeline plans: dedup, similarity search, text analysis
over the ``documents`` and ``embeddings`` fixtures — the beyond-reference
operator set, each with a DuckDB oracle where exactly expressible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storagetapper_spark.operators import dedup as D
from storagetapper_spark.operators import similarity as S
from storagetapper_spark.operators import text as X
from storagetapper_spark.operators.pin import pin
from storagetapper_spark.plans.common import t


# --- exact dedup --------------------------------------------------------

def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    return D.exact_dedup(t(spark, sf, "documents"))


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


# --- minhash signatures (portable salted-md5 min over shingles) ---------

_MH_HASHES = 8
_SHINGLE_N = 3


def dedup_minhash_signature(spark: SparkSession, sf: str) -> DataFrame:
    return D.minhash_signature(t(spark, sf, "documents"),
                               num_hashes=_MH_HASHES, shingle_n=_SHINGLE_N)


def _mh_sql() -> str:
    mins = ",\n       ".join(
        f"min(md5('{i}|' || s)) AS mh_{i}" for i in range(_MH_HASHES))
    return f"""
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')) AS nt
  FROM documents
), toks AS (
  SELECT doc_id, string_split(nt, ' ') AS w FROM norm
), sh AS (
  SELECT doc_id,
         CASE WHEN len(w) < {_SHINGLE_N} THEN [array_to_string(w, ' ')]
              ELSE list_distinct(list_transform(range(1, len(w) - {_SHINGLE_N - 1} + 1),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
         END AS shingles
  FROM toks
), ex AS (
  SELECT doc_id, unnest(shingles) AS s FROM sh
)
SELECT doc_id,
       {mins}
FROM ex GROUP BY doc_id
"""


# --- minhash LSH candidate pairs ---------------------------------------

def dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    return D.minhash_lsh_pairs(t(spark, sf, "documents"),
                               num_hashes=_MH_HASHES, bands=4,
                               shingle_n=_SHINGLE_N)


def dedup_minhash_lsh_star(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB-guard variant: buckets >3 members emit linear star
    edges to the bucket-min hub instead of quadratic all-pairs
    (operators/dedup.minhash_lsh_pairs star_threshold); clustering is
    provably unchanged (test_dedup)."""
    return D.minhash_lsh_pairs(t(spark, sf, "documents"),
                               num_hashes=_MH_HASHES, bands=4,
                               shingle_n=_SHINGLE_N, star_threshold=3)


def dedup_minhash_lsh_incr(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental ingest dedup: docs with doc_id % 5 == 0 arrive as the
    new batch; the rest are the existing corpus contributing only its
    signature table.  Output = every candidate pair involving a new doc
    (oracle: the full-corpus LSH filtered to those pairs — equality IS
    the incremental-maintenance invariant)."""
    docs = t(spark, sf, "documents")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    new = docs.where(F.col("doc_id") % 5 == 0)
    corpus_sig = D.minhash_signature(corpus, num_hashes=_MH_HASHES,
                                     shingle_n=_SHINGLE_N)
    return D.minhash_lsh_incremental(corpus_sig, new,
                                     num_hashes=_MH_HASHES, bands=4,
                                     shingle_n=_SHINGLE_N)


def _lsh_incr_sql() -> str:
    return f"""
WITH full_pairs AS ({_lsh_sql()})
SELECT * FROM full_pairs WHERE id_a % 5 = 0 OR id_b % 5 = 0
"""


def _lsh_star_sql(threshold: int = 3) -> str:
    rpb = _MH_HASHES // 4
    bands = []
    for b in range(4):
        cols = " || '|' || ".join(f"mh_{b * rpb + j}" for j in range(rpb))
        bands.append(f"SELECT doc_id, {b} AS band, md5({cols}) AS band_key, "
                     + ", ".join(f"mh_{i}" for i in range(_MH_HASHES))
                     + " FROM sig")
    banded = "\nUNION ALL\n".join(bands)
    eqs = " + ".join(
        f"(CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END)" for i in range(_MH_HASHES))
    star_eqs = " + ".join(
        f"(CASE WHEN mh_{i} = hub_mh_{i} THEN 1 ELSE 0 END)" for i in range(_MH_HASHES))
    hub_cols = ", ".join(
        f"arg_min(mh_{i}, doc_id) OVER w AS hub_mh_{i}" for i in range(_MH_HASHES))
    return f"""
WITH sig AS ({_mh_sql()}),
banded AS ({banded}),
sized AS (
  SELECT *, count(*) OVER w AS bsz, min(doc_id) OVER w AS hub, {hub_cols}
  FROM banded
  WINDOW w AS (PARTITION BY band, band_key)
),
small_pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         round(({eqs}) / {float(_MH_HASHES)}, 4) AS jaccard_est
  FROM sized a JOIN sized b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.bsz <= {threshold} AND b.bsz <= {threshold} AND a.doc_id < b.doc_id
),
star_pairs AS (
  SELECT hub AS id_a, doc_id AS id_b,
         round(({star_eqs}) / {float(_MH_HASHES)}, 4) AS jaccard_est
  FROM sized WHERE bsz > {threshold} AND doc_id <> hub
)
SELECT id_a, id_b, max(jaccard_est) AS jaccard_est
FROM (SELECT * FROM small_pairs UNION ALL SELECT * FROM star_pairs)
GROUP BY id_a, id_b
"""


def _lsh_sql() -> str:
    rpb = _MH_HASHES // 4
    bands = []
    for b in range(4):
        cols = " || '|' || ".join(f"mh_{b * rpb + j}" for j in range(rpb))
        bands.append(f"SELECT doc_id, {b} AS band, md5({cols}) AS band_key, "
                     + ", ".join(f"mh_{i}" for i in range(_MH_HASHES))
                     + " FROM sig")
    banded = "\nUNION ALL\n".join(bands)
    eqs = " + ".join(
        f"(CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END)" for i in range(_MH_HASHES))
    return f"""
WITH sig AS ({_mh_sql()}),
banded AS ({banded}),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         round(({eqs}) / {float(_MH_HASHES)}, 4) AS jaccard_est
  FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, max(jaccard_est) AS jaccard_est FROM pairs GROUP BY id_a, id_b
"""


# --- exact n-gram Jaccard within (lang, source) blocks ------------------

def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    return D.ngram_jaccard_pairs(t(spark, sf, "documents"),
                                 bucket_cols=["lang", "source"],
                                 shingle_n=_SHINGLE_N, threshold=0.1)


NGRAM_JACCARD_SQL = f"""
WITH norm AS (
  SELECT doc_id, lang, source,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')) AS nt
  FROM documents
), toks AS (
  SELECT doc_id, lang, source, string_split(nt, ' ') AS w FROM norm
), sh AS (
  SELECT doc_id, lang, source,
         CASE WHEN len(w) < {_SHINGLE_N} THEN [array_to_string(w, ' ')]
              ELSE list_distinct(list_transform(range(1, len(w) - {_SHINGLE_N - 1} + 1),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
         END AS shingles
  FROM toks
), ex AS (
  SELECT doc_id, lang, source, unnest(shingles) AS s FROM sh
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM ex a JOIN ex b ON a.lang = b.lang AND a.source = b.source AND a.s = b.s
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       round(n_inter / (sa.sz + sb.sz - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_inter / (sa.sz + sb.sz - n_inter) >= 0.1
"""


def dedup_ngram_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric near-dup: containment catches excerpts/supersets that
    Jaccard misses (operators/dedup.ngram_containment_pairs)."""
    return D.ngram_containment_pairs(t(spark, sf, "documents"),
                                     bucket_cols=["lang", "source"],
                                     shingle_n=_SHINGLE_N, threshold=0.05)


NGRAM_CONTAINMENT_SQL = f"""
WITH norm AS (
  SELECT doc_id, lang, source,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')) AS nt
  FROM documents
), toks AS (
  SELECT doc_id, lang, source, string_split(nt, ' ') AS w FROM norm
), sh AS (
  SELECT doc_id, lang, source,
         CASE WHEN len(w) < {_SHINGLE_N} THEN [array_to_string(w, ' ')]
              ELSE list_distinct(list_transform(range(1, len(w) - {_SHINGLE_N - 1} + 1),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
         END AS shingles
  FROM toks
), ex AS (
  SELECT doc_id, lang, source, unnest(shingles) AS s FROM sh
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM ex a JOIN ex b ON a.lang = b.lang AND a.source = b.source AND a.s = b.s
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       round(n_inter / sa.sz, 4) AS containment_a,
       round(n_inter / sb.sz, 4) AS containment_b,
       round(n_inter / least(sa.sz, sb.sz), 4) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(n_inter / least(sa.sz, sb.sz), 4) >= 0.05
"""


# --- duplicate-cluster resolution (connected components over pairs) ----

def dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Transitive duplicate clusters: connected components over the
    n-gram-Jaccard candidate pairs, labelling each doc with the min
    doc_id of its cluster (the canonical keeper).  The completion step
    after any pairwise dedup — pairs alone can't answer "keep one per
    group" when dups chain A~B~C."""
    from storagetapper_spark.operators.dedup import (
        connected_components_blocked)

    # r10: the (lang, source)-blocked pairs are block-local, so the
    # one-pass per-block union-find replaces the iterative loop.
    pairs = D.ngram_jaccard_pairs(t(spark, sf, "documents"),
                                  bucket_cols=["lang", "source"],
                                  shingle_n=_SHINGLE_N, threshold=0.1,
                                  keep_bucket=True)
    return (connected_components_blocked(pairs, "_blk", "id_a", "id_b")
            .select(F.col("node").alias("doc_id"),
                    F.col("comp").alias("cluster_id"))
            .orderBy("doc_id"))


def _clusters_sql() -> str:
    # transitive closure over the same edge set via recursive CTE;
    # component id = min reachable node (DuckDB executes the recursion,
    # Spark runs label propagation — same fixpoint)
    return f"""
WITH RECURSIVE edges AS (
  {NGRAM_JACCARD_SQL}
), sym AS (
  SELECT id_a AS src, id_b AS dst FROM edges
  UNION
  SELECT id_b, id_a FROM edges
), reach(a, b) AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
)
SELECT a AS doc_id, least(a, min(b)) AS cluster_id
FROM reach GROUP BY a ORDER BY doc_id
"""


# --- end-to-end corpus dedup summary ------------------------------------
# The composition a real dedup run executes: candidate pairs →
# transitive clusters → keep ONE doc per cluster (min id; singletons
# keep themselves) → per-language kept/dropped accounting.

def dedup_corpus_summary(spark: SparkSession, sf: str) -> DataFrame:
    from storagetapper_spark.operators.dedup import (
        connected_components_blocked)

    docs = t(spark, sf, "documents").select("doc_id", "lang")
    pairs = D.ngram_jaccard_pairs(t(spark, sf, "documents"),
                                  bucket_cols=["lang", "source"],
                                  shingle_n=_SHINGLE_N, threshold=0.1,
                                  keep_bucket=True)
    comp = connected_components_blocked(pairs, "_blk", "id_a", "id_b")
    labeled = (docs.join(comp, docs.doc_id == comp.node, "left")
                   .select("doc_id", "lang",
                           F.coalesce(F.col("comp"), F.col("doc_id"))
                            .alias("cluster_id")))
    keeper = (F.col("doc_id") == F.col("cluster_id")).cast("int")
    return (labeled.groupBy("lang")
                   .agg(F.count(F.lit(1)).alias("n_docs"),
                        F.sum(keeper).alias("n_kept"),
                        F.sum(1 - keeper).alias("n_dropped")))


def _corpus_summary_sql() -> str:
    return f"""
WITH RECURSIVE edges AS (
  {NGRAM_JACCARD_SQL}
), sym AS (
  SELECT id_a AS src, id_b AS dst FROM edges
  UNION
  SELECT id_b, id_a FROM edges
), reach(a, b) AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
), comp AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
)
SELECT d.lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN COALESCE(c.cluster_id, d.doc_id) = d.doc_id
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN COALESCE(c.cluster_id, d.doc_id) <> d.doc_id
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
GROUP BY d.lang
"""


def dedup_survivorship(spark: SparkSession, sf: str) -> DataFrame:
    """Survivorship policy: within each duplicate cluster elect the
    canonical doc by QUALITY (longest text, doc_id as tiebreak) — the
    production rule, vs corpus_summary's min-id bookkeeping rule.  Emits
    one row per non-canonical member (doc_id -> canonical_id)."""
    from pyspark.sql import Window

    from storagetapper_spark.operators.dedup import (
        connected_components_blocked)

    docs = t(spark, sf, "documents").select("doc_id", "n_chars")
    pairs = D.ngram_jaccard_pairs(t(spark, sf, "documents"),
                                  bucket_cols=["lang", "source"],
                                  shingle_n=_SHINGLE_N, threshold=0.1,
                                  keep_bucket=True)
    comp = connected_components_blocked(pairs, "_blk", "id_a", "id_b")
    members = (comp.join(docs, comp.node == docs.doc_id)
                   .select("comp", "doc_id", "n_chars"))
    w = Window.partitionBy("comp")
    canon = F.expr("max_by(doc_id, n_chars * 10000000 - doc_id)").over(w)
    return (members.select("doc_id",
                           canon.alias("canonical_id"),
                           "n_chars")
                   .where(F.col("doc_id") != F.col("canonical_id")))


def _survivorship_sql() -> str:
    return f"""
WITH RECURSIVE edges AS (
  {NGRAM_JACCARD_SQL}
), sym AS (
  SELECT id_a AS src, id_b AS dst FROM edges
  UNION
  SELECT id_b, id_a FROM edges
), reach(a, b) AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
), comp AS (
  SELECT a AS node, least(a, min(b)) AS comp FROM reach GROUP BY a
), members AS (
  SELECT c.comp, d.doc_id, d.n_chars
  FROM comp c JOIN documents d ON d.doc_id = c.node
), canon AS (
  SELECT comp, arg_max(doc_id, n_chars * 10000000 - doc_id) AS canonical_id
  FROM members GROUP BY comp
)
SELECT m.doc_id, c.canonical_id, m.n_chars
FROM members m JOIN canon c ON m.comp = c.comp
WHERE m.doc_id <> c.canonical_id
"""


# --- embedding-cosine near-dup (label-blocked exact; SRP variant in
# --- tests — blocking column is the only difference) --------------------

def dedup_embedding_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Near-duplicate embedding pairs: same-label blocking, cosine ≥ 0.4
    (fixture embeddings are near-random; real corpora use ≥0.95).  Pair
    join shuffles only on the block key — never all-pairs."""
    emb = t(spark, sf, "embeddings")
    return (S.embedding_near_dup(emb, threshold=0.4, block_col="label")
             .select("id_a", "id_b", "cosine_sim"))


DEDUP_EMB_COS_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6)
       AS cosine_sim
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
            / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
               * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6)
      >= 0.4
"""


# --- simhash (Spark-native; rows-only check) ----------------------------

def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """Portable-hash simhash (md5-derived 60-bit token hash) so the
    sign-sum pipeline is exactly replayed by the DuckDB oracle; the
    xxhash64 form (same shape, cheaper hash) stays the scale default in
    operators/dedup.simhash."""
    return D.simhash(t(spark, sf, "documents"), token_hash="md5_60")


def _simhash_sql(bits: int = 60) -> str:
    # h = int(md5(w)[0:15], 16) via per-hex-digit arithmetic
    hexpos = "strpos('0123456789abcdef', substr(m, {j}, 1)) - 1"
    h_terms = " + ".join(
        f"({hexpos.format(j=j + 1)}) * {16 ** (14 - j)}" for j in range(15))
    votes = ",\n         ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits))
    fp = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits))
    return f"""
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')) AS nt
  FROM documents
), toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(nt, ' '))) AS w FROM norm
), hashed AS (
  SELECT doc_id, CAST({h_terms} AS BIGINT) AS h
  FROM (SELECT doc_id, md5(w) AS m FROM toks)
), votes AS (
  SELECT doc_id,
         {votes}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes
"""


# --- ANN: brute-force cosine top-k --------------------------------------

def ann_brute_force(spark: SparkSession, sf: str) -> DataFrame:
    emb = t(spark, sf, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 5)
                  .select(F.col("vec_id").alias("query_id"), "embedding"))
    corpus = emb.filter(F.col("vec_id") >= 5)
    return S.brute_force_topk(corpus, queries, k=5)


ANN_BRUTE_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
scored AS (
  SELECT q.query_id, c.vec_id,
         round(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))), 6)
         AS cosine_sim
  FROM c CROSS JOIN q
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine_sim, rank FROM ranked WHERE rank <= 5
"""


# --- embedding norms / stats (portable exact) ---------------------------

def ann_vectorized(spark: SparkSession, sf: str) -> DataFrame:
    """Numpy/Arrow vectorized exact top-k — same oracle as the
    expression baseline (round-6 cosine agrees; verified in tests)."""
    emb = t(spark, sf, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 5)
                  .select(F.col("vec_id").alias("query_id"), "embedding"))
    corpus = emb.filter(F.col("vec_id") >= 5)
    return S.brute_force_topk_np(corpus, queries, k=5)


def ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF approximate top-k.  Fully deterministic with the default
    centroids (first 16 corpus vectors by id) and stable probe argsort,
    so the ENTIRE IVF pipeline — cell assignment, probe selection,
    in-cell search — is replayed by the DuckDB oracle below."""
    emb = t(spark, sf, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 5)
                  .select(F.col("vec_id").alias("query_id"), "embedding"))
    corpus = emb.filter(F.col("vec_id") >= 5)
    return S.ivf_topk(corpus, queries, k=5, n_centroids=16, n_probe=4)


# cosine ranking is scale-invariant, so the oracle ranks by raw
# dot/(|a||b|); ties (exact-duplicate vectors) break on centroid_id —
# matching np.argmax's first-index rule and the stable probe argsort.
_IVF_COS = ("(list_dot_product({a}, {b}) / "
            "(sqrt(list_dot_product({a}, {a})) * "
            "sqrt(list_dot_product({b}, {b}))))")

ANN_IVF_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id >= 5),
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, v AS cv
  FROM (SELECT vec_id, v FROM c ORDER BY vec_id LIMIT 16)
),
assign AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT c.vec_id, c.v, cent.centroid_id,
           row_number() OVER (PARTITION BY c.vec_id ORDER BY
             {_IVF_COS.format(a='c.v', b='cent.cv')} DESC, cent.centroid_id
           ) AS rn
    FROM c CROSS JOIN cent) WHERE rn = 1
),
probes AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT q.query_id, q.qv, cent.centroid_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             {_IVF_COS.format(a='q.qv', b='cent.cv')} DESC, cent.centroid_id
           ) AS rn
    FROM q CROSS JOIN cent) WHERE rn <= 4
),
scored AS (
  SELECT p.query_id, a.vec_id,
         round({_IVF_COS.format(a='a.v', b='p.qv')}, 6) AS cosine_sim
  FROM assign a JOIN probes p USING (centroid_id)
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cosine_sim DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine_sim, rank FROM ranked WHERE rank <= 5
"""


def embedding_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label embedding norms.  The mean norm is the quantized
    statistic sum(round(norm·1e6))/n/1e6: per-row micro-units are
    identical in both engines (index-ordered dot product, IEEE sqrt),
    the BIGINT sum is order-free however the partials combine, and the
    display is one shared double division — a raw double avg() over a
    label's vectors varies per run with the partial order (the
    rfm_segments class)."""
    emb = t(spark, sf, "embeddings")
    # r10 (guide §1.2): the 64-element interpreted norm fold ran TWICE
    # per row (once under sum, once under max — aggregate children are
    # not CSE'd); project it once and aggregate the projected column.
    # Same expression per row, so every aggregate sees identical doubles.
    normed = emb.select("label", S.l2_norm(F.col("embedding")).alias("_norm"))
    norm_u = F.round(F.col("_norm") * 1e6).cast("long")
    return normed.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        (F.sum(norm_u).cast("double") / F.count(F.lit(1)) / 1e6)
        .alias("avg_norm"),
        F.round(F.max("_norm"), 4).alias("max_norm"),
    )


EMBEDDING_STATS_SQL = """
SELECT label, count(*) AS n_vectors,
       CAST(sum(CAST(round(sqrt(list_dot_product(
                CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
              * 1000000) AS BIGINT)) AS DOUBLE) / count(*) / 1e6
         AS avg_norm,
       round(max(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[])))), 4) AS max_norm
FROM embeddings GROUP BY label
"""


# --- text: language ID heuristic ---------------------------------------

def text_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    docs = t(spark, sf, "documents")
    return docs.select("doc_id", "lang",
                       X.lang_id(F.col("text")).alias("pred_lang"))


def _lang_sql() -> str:
    def count_of(marker: str) -> str:
        m = marker.replace("'", "''")
        return (f"CAST((length(pt) - length(replace(pt, '{m}', ''))) "
                f"/ {len(marker)} AS BIGINT)")

    score = {lg: " + ".join(count_of(m) for m in ms)
             for lg, ms in X.LANG_MARKERS.items()}
    langs = list(X.LANG_MARKERS)
    whens = " ".join(
        f"WHEN s_{lg} > 0 AND s_{lg} = best THEN '{lg}'" for lg in langs)
    scores_sel = ",\n         ".join(f"{score[lg]} AS s_{lg}" for lg in langs)
    greatest = ", ".join(f"s_{lg}" for lg in langs)
    return f"""
WITH padded AS (
  SELECT doc_id, lang, ' ' || lower(text) || ' ' AS pt FROM documents
), scored AS (
  SELECT doc_id, lang,
         {scores_sel}
  FROM padded
), best AS (
  SELECT *, greatest({greatest}) AS best FROM scored
)
SELECT doc_id, lang,
       CASE {whens} ELSE 'und' END AS pred_lang
FROM best
"""


# --- text: quality features --------------------------------------------

def text_quality(spark: SparkSession, sf: str) -> DataFrame:
    docs = t(spark, sf, "documents").select("doc_id", "text")
    return X.quality_features(docs).drop("text")


TEXT_QUALITY_SQL = """
WITH base AS (
  SELECT doc_id, text,
         length(text) AS n_chars_calc,
         CASE WHEN length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0 THEN 0
              ELSE length(trim(regexp_replace(text, '\\s+', ' ', 'g')))
                   - length(replace(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ', '')) + 1
         END AS n_words,
         length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
         length(text) - length(replace(text, ' ', '')) AS n_space,
         CAST((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' the ', ''))) / 5 AS BIGINT)
         + CAST((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' and ', ''))) / 5 AS BIGINT)
         + CAST((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' of ', ''))) / 4 AS BIGINT)
         AS stop_hits
  FROM documents
)
SELECT doc_id, n_chars_calc, n_words,
       round((n_chars_calc - n_space) / greatest(n_words, 1), 4) AS mean_word_len,
       round(n_punct / greatest(n_chars_calc, 1), 4) AS punct_ratio,
       round(n_digit / greatest(n_chars_calc, 1), 4) AS digit_ratio,
       round(stop_hits / greatest(n_words, 1), 4) AS stopword_ratio,
       round(least(1.0, n_words / 100.0) * 0.4
             + least(1.0, round(stop_hits / greatest(n_words, 1), 4) * 5) * 0.4
             + (1.0 - least(1.0, round(n_digit / greatest(n_chars_calc, 1), 4) * 5)) * 0.2,
             4) AS quality_score
FROM base
"""


# --- text: token stats --------------------------------------------------

def text_tokens(spark: SparkSession, sf: str) -> DataFrame:
    docs = t(spark, sf, "documents").select("doc_id", "text")
    return X.token_stats(docs).drop("text")


TEXT_TOKENS_SQL = """
WITH base AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0 THEN 0
              ELSE length(trim(regexp_replace(text, '\\s+', ' ', 'g')))
                   - length(replace(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ', '')) + 1
         END AS ws_tokens,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS digit_chars,
         length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct
  FROM documents
)
SELECT doc_id, ws_tokens,
       CAST(ceil(alpha_chars / 4.0) + digit_chars + n_punct AS BIGINT) AS bpe_tokens_est,
       round(length(text) / greatest(ws_tokens, 1), 4) AS chars_per_token
FROM base
"""


# --- text: document fingerprint ----------------------------------------

def text_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    docs = t(spark, sf, "documents")
    return docs.select("doc_id", X.fingerprint(F.col("text")).alias("fingerprint"))


TEXT_FINGERPRINT_SQL = """
SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g'))) AS fingerprint
FROM documents
"""


# --- lang-ID confusion matrix vs the labeled lang column ----------------

def text_lang_confusion(spark: SparkSession, sf: str) -> DataFrame:
    docs = t(spark, sf, "documents")
    pred = docs.select("lang", X.lang_id(F.col("text")).alias("pred_lang"))
    return (pred.groupBy("lang", "pred_lang")
                .agg(F.count(F.lit(1)).alias("n")))


def _lang_confusion_sql() -> str:
    inner = _lang_sql()
    return f"SELECT lang, pred_lang, count(*) AS n FROM ({inner}) GROUP BY lang, pred_lang"


# --- exact decimal aggregation (no float rounding in the check) ---------

def agg_decimal_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Money aggregated in DECIMAL — bit-exact across engines, proving
    the engine's decimal arithmetic (the reference loses decimals to
    double; we keep fidelity — SURVEY §1.3)."""
    li = t(spark, sf, "lineitem")
    dec = F.col("l_extendedprice").cast("decimal(18,2)")
    return (li.groupBy("l_returnflag")
              .agg(F.sum(dec).alias("sum_price_dec"),
                   F.min(dec).alias("min_price_dec"),
                   F.max(dec).alias("max_price_dec"),
                   F.count(F.lit(1)).alias("n")))


AGG_DECIMAL_SQL = """
SELECT l_returnflag,
       sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_price_dec,
       min(CAST(l_extendedprice AS DECIMAL(18,2))) AS min_price_dec,
       max(CAST(l_extendedprice AS DECIMAL(18,2))) AS max_price_dec,
       count(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


# --- composite training-data pipeline (flagship #2) ---------------------

def training_data_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The end-to-end curation pass: exact-dedup keepers → quality
    filter → per-language token/size stats.  One declarative lineage:
    dedup groupBy → join-back → quality features → aggregate."""
    docs = t(spark, sf, "documents")
    keepers = D.exact_dedup(docs).select(F.col("keeper_id").alias("doc_id"))
    kept = docs.join(keepers, "doc_id")
    feat = X.quality_features(kept)
    good = feat.filter((F.col("n_words") >= 10) & (F.col("quality_score") >= 0.3))
    return (good.groupBy("lang")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("n_words").alias("total_words"),
                     # quality_score is 1e-4-quantized per row, so the
                     # mean rides an exact BIGINT unit sum + one shared
                     # division (raw double group avgs flake per run)
                     (F.sum(F.round(F.col("quality_score") * 1e4)
                            .cast("long")).cast("double")
                      / F.count(F.lit(1)) / 1e4).alias("avg_quality"),
                     F.sum("n_chars_calc").alias("total_chars")))


TRAINING_PIPELINE_SQL = """
WITH keepers AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
), base AS (
  SELECT d.doc_id, d.lang, d.text,
         length(d.text) AS n_chars_calc,
         CASE WHEN length(trim(regexp_replace(d.text, '\\s+', ' ', 'g'))) = 0 THEN 0
              ELSE length(trim(regexp_replace(d.text, '\\s+', ' ', 'g')))
                   - length(replace(trim(regexp_replace(d.text, '\\s+', ' ', 'g')), ' ', '')) + 1
         END AS n_words,
         length(d.text) - length(regexp_replace(d.text, '[0-9]', '', 'g')) AS n_digit,
         CAST((length(' ' || lower(d.text) || ' ') - length(replace(' ' || lower(d.text) || ' ', ' the ', ''))) / 5 AS BIGINT)
         + CAST((length(' ' || lower(d.text) || ' ') - length(replace(' ' || lower(d.text) || ' ', ' and ', ''))) / 5 AS BIGINT)
         + CAST((length(' ' || lower(d.text) || ' ') - length(replace(' ' || lower(d.text) || ' ', ' of ', ''))) / 4 AS BIGINT)
         AS stop_hits
  FROM documents d JOIN keepers k ON d.doc_id = k.doc_id
), scored AS (
  SELECT *,
         round(least(1.0, n_words / 100.0) * 0.4
               + least(1.0, round(stop_hits / greatest(n_words, 1), 4) * 5) * 0.4
               + (1.0 - least(1.0, round(n_digit / greatest(n_chars_calc, 1), 4) * 5)) * 0.2,
               4) AS quality_score
  FROM base
)
SELECT lang, count(*) AS n_docs, CAST(sum(n_words) AS BIGINT) AS total_words,
       CAST(sum(CAST(round(quality_score * 10000) AS BIGINT)) AS DOUBLE)
         / count(*) / 1e4 AS avg_quality,
       CAST(sum(n_chars_calc) AS BIGINT) AS total_chars
FROM scored
WHERE n_words >= 10 AND quality_score >= 0.3
GROUP BY lang
"""


# --- deterministic content-hash sampling --------------------------------

def sample_deterministic(spark: SparkSession, sf: str) -> DataFrame:
    """Reproducible 20% sample of documents by id-hash (same docs every
    run, engine-portable — unlike RNG sampling)."""
    from storagetapper_spark.operators.sampling import hash_sample

    docs = t(spark, sf, "documents")
    return hash_sample(docs, 0.2, "doc_id").select("doc_id", "lang", "n_chars")


SAMPLE_SQL = """
SELECT doc_id, lang, n_chars
FROM documents
WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      / 1152921504606846976.0 < 0.2
"""


def sample_weighted(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature sampling: longer documents kept with probability
    min(1, 0.3*sqrt(n_chars/1000)) — deterministic (same docs every
    run), the domain-rebalancing primitive of corpus construction."""
    from storagetapper_spark.operators.sampling import weighted_hash_sample

    docs = t(spark, sf, "documents") \
        .withColumn("w", F.col("n_chars") / F.lit(1000.0))
    return (weighted_hash_sample(docs, "w", "doc_id", alpha=0.5, scale=0.3)
            .select("doc_id", "lang", "n_chars"))


SAMPLE_WEIGHTED_SQL = """
SELECT doc_id, lang, n_chars
FROM documents
WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      / 1152921504606846976.0
      < least(1.0, 0.3 * sqrt(n_chars / 1000.0))
"""


# --- corpus-duplication fraction (Dolma/CCNet-style quality signal) -----

def text_dup_ngram_fraction(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source rollup of operators/dedup.dup_ngram_fraction: how much
    of each source's content is n-grams the corpus already has in
    another document.  The share divides exact integer gram counts
    (single division, then round) and the flag compares integers
    (n_dup*10 >= n_grams*3, i.e. dup_frac >= 0.3) so both engines
    agree at boundaries."""
    docs = t(spark, sf, "documents")
    frac = D.dup_ngram_fraction(docs, shingle_n=_SHINGLE_N)
    per_doc = frac.join(docs.select("doc_id", "source"), "doc_id")
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_grams").alias("n_grams"),
                 F.sum("n_dup").alias("n_dup"),
                 # exact-integer ratio, no round: round(double, n) is
                 # engine-divergent when the quotient grazes a half
                 (F.sum("n_dup").cast("double")
                  / F.sum("n_grams").cast("double"))
                  .alias("dup_instance_share"),
                 F.sum(F.when(F.col("n_dup") * 10
                              >= F.col("n_grams") * 3, 1).otherwise(0))
                  .alias("n_flagged"))
            .orderBy("source"))


TEXT_DUP_NGRAM_SQL = f"""
WITH norm AS (
  SELECT doc_id, source,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')) AS nt
  FROM documents
), toks AS (
  SELECT doc_id, source, string_split(nt, ' ') AS w FROM norm
), inst AS (
  SELECT doc_id, source, unnest(
           CASE WHEN len(w) < {_SHINGLE_N} THEN [array_to_string(w, ' ')]
                ELSE list_transform(range(1, len(w) - {_SHINGLE_N - 1} + 1),
                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
           END) AS s
  FROM toks
), docfreq AS (
  SELECT s, count(*) AS df FROM (SELECT DISTINCT doc_id, s FROM inst)
  GROUP BY s
), per_doc AS (
  SELECT i.doc_id, any_value(i.source) AS source,
         count(*) AS n_grams,
         sum(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) AS n_dup
  FROM inst i JOIN docfreq d ON i.s = d.s
  GROUP BY i.doc_id
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_grams) AS BIGINT) AS n_grams,
       CAST(sum(n_dup) AS BIGINT) AS n_dup,
       CAST(sum(n_dup) AS DOUBLE) / CAST(sum(n_grams) AS DOUBLE)
         AS dup_instance_share,
       CAST(sum(CASE WHEN n_dup * 10 >= n_grams * 3 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flagged
FROM per_doc GROUP BY source ORDER BY source
"""


# --- semantic dedup (SemDeDup composition) -------------------------------

_SEMDEDUP_K, _SEMDEDUP_THRESH = 16, 0.45


def dedup_semantic(spark: SparkSession, sf: str) -> DataFrame:
    """operators/similarity.semantic_dedup over the embeddings fixture
    (deterministic first-K centroids; threshold 0.45 because the
    fixture vectors are near-random — real corpora use ~0.95+; 0.35
    chains most of the corpus into ONE sprawling component), rolled
    up per label: vectors kept vs dropped.  The oracle replicates the
    whole chain in SQL — argmax-cosine assignment (ties to the lowest
    cell, matching np.argmax), within-cell pair edges on round-6
    cosine, components via recursive CTE, canonical = min id."""
    from storagetapper_spark.operators import similarity as S2

    emb = t(spark, sf, "embeddings")
    dec = S2.semantic_dedup(emb, n_centroids=_SEMDEDUP_K,
                            threshold=_SEMDEDUP_THRESH)
    lab = emb.select("vec_id", "label")
    return (dec.join(lab, "vec_id")
            .groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_vectors"),
                 F.sum(F.when(F.col("is_canonical"), 1).otherwise(0))
                  .alias("n_kept"),
                 F.sum(F.when(F.col("is_canonical"), 0).otherwise(1))
                  .alias("n_dropped"))
            .orderBy("label"))


DEDUP_SEMANTIC_SQL = f"""
WITH RECURSIVE cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         CAST(embedding AS DOUBLE[]) AS c
  FROM (SELECT vec_id, embedding FROM embeddings
        ORDER BY vec_id LIMIT {_SEMDEDUP_K})
), scored AS (
  SELECT e.vec_id, e.label, cents.cell,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), cents.c)
           AS cos
  FROM embeddings e CROSS JOIN cents
), assigned AS (
  SELECT vec_id, label, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cos DESC, cell ASC) AS rn
    FROM scored) WHERE rn = 1
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM assigned a
  JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  WHERE round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                     CAST(eb.embedding AS DOUBLE[])), 6)
        >= {_SEMDEDUP_THRESH}
), sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach(a, b) AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
), comp AS (
  SELECT a AS vec_id, least(a, min(b)) AS component
  FROM reach GROUP BY a
)
SELECT ass.label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(CASE WHEN comp.component IS NULL
                     OR comp.component = ass.vec_id
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN comp.component IS NOT NULL
                     AND comp.component <> ass.vec_id
                THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM assigned ass LEFT JOIN comp ON ass.vec_id = comp.vec_id
GROUP BY ass.label ORDER BY ass.label
"""


def sample_split_leakage_safe(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe train/val/test split: the split hash is keyed by
    the doc's DUPLICATE-CLUSTER id (connected components over the
    n-gram-Jaccard pairs, singletons keep their own id), so near-
    duplicate documents can never straddle train and test — the
    benchmark-leakage failure mode a per-doc split cannot prevent.
    Same portable md5-band assignment as sample_split; output is the
    per-split doc and cluster census.  Scale: the components run over
    the edge list only, the split itself is a pure projection."""
    from storagetapper_spark.operators.dedup import (
        connected_components_blocked)
    from storagetapper_spark.operators.sampling import split_assign

    docs = t(spark, sf, "documents")
    pairs = D.ngram_jaccard_pairs(docs, bucket_cols=["lang", "source"],
                                  shingle_n=_SHINGLE_N, threshold=0.1,
                                  keep_bucket=True)
    comp = connected_components_blocked(pairs, "_blk", "id_a", "id_b")
    with_comp = (docs.join(comp, docs.doc_id == comp.node, "left")
                 .withColumn("component",
                             F.coalesce("comp", F.col("doc_id"))))
    assigned = split_assign(with_comp, "component")
    return (assigned.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct("component").alias("n_clusters"))
            .orderBy("split"))


def _split_leakage_safe_sql() -> str:
    u = ("CAST(('0x' || substring(md5('split' || CAST(component AS VARCHAR)"
         "), 1, 15)) AS BIGINT) / 1152921504606846976.0")
    return f"""
WITH RECURSIVE edges AS (
  {NGRAM_JACCARD_SQL}
), sym AS (
  SELECT id_a AS src, id_b AS dst FROM edges
  UNION
  SELECT id_b, id_a FROM edges
), reach(a, b) AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
), comp AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
  FROM reach GROUP BY a
), wc AS (
  SELECT d.doc_id,
         coalesce(c.cluster_id, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
)
SELECT CASE WHEN {u} < 0.8 THEN 'train'
            WHEN {u} < 0.9 THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT component) AS BIGINT) AS n_clusters
FROM wc GROUP BY 1 ORDER BY split
"""


def dedup_minhash_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-calibration report: how well does the MinHash signature
    estimate track EXACT n-gram Jaccard on the pairs LSH surfaces?
    Joins the LSH candidate pairs (jaccard_est = matching signature
    fraction) against the exact blocked-Jaccard pairs on the same
    corpus, buckets the estimate into 0.25-wide bands, and reports per
    band: pair count, mean exact Jaccard (exact integer-sum division),
    and the mean absolute estimation error — the number that justifies
    (or indicts) trusting the sketch at 100 TB where exact Jaccard is
    unaffordable.  Both sides reuse the oracle-proven pair machinery;
    the join key is the (id_a, id_b) pair."""
    docs = t(spark, sf, "documents")
    # r11 (guide §1.2): both pipelines shingle the SAME corpus with the
    # SAME n — build the token-occurrence table once and share it
    # (operators/dedup.shingle_grams; ~0.7 s warm per avoided
    # tokenize+explode pass at sf0.1), pinned: both sides read it.
    grams = pin(D.shingle_grams(docs, ["lang", "source"],
                                shingle_n=_SHINGLE_N))
    est = D.minhash_lsh_pairs(docs, num_hashes=_MH_HASHES, bands=4,
                              shingle_n=_SHINGLE_N, grams=grams)
    exact = D.ngram_jaccard_pairs(docs, bucket_cols=["lang", "source"],
                                  shingle_n=_SHINGLE_N, threshold=0.0,
                                  grams=grams)
    joined = est.join(exact, ["id_a", "id_b"])
    band = (F.floor(F.col("jaccard_est") / 0.25) * 0.25).alias("est_band")
    # means ride exact 1e-9-unit BIGINT sums + one shared division:
    # the per-pair jaccards are identical doubles in both engines, but
    # a raw double group sum's partial order varies per run
    return (joined.groupBy(band)
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 (F.sum(F.round(F.col("jaccard") * 1e9).cast("long"))
                  .cast("double") / F.count(F.lit(1)) / 1e9)
                 .alias("mean_exact_jaccard"),
                 (F.sum(F.round(F.abs(F.col("jaccard_est")
                                      - F.col("jaccard")) * 1e9)
                        .cast("long")).cast("double")
                  / F.count(F.lit(1)) / 1e9).alias("mean_abs_err"))
            .orderBy("est_band"))


def _minhash_calibration_sql() -> str:
    return f"""
WITH est AS ({_lsh_sql()}),
exact AS ({NGRAM_JACCARD_SQL.replace(">= 0.1", ">= 0.0")})
SELECT floor(e.jaccard_est / 0.25) * 0.25 AS est_band,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CAST(round(x.jaccard * 1e9) AS BIGINT)) AS DOUBLE)
         / count(*) / 1e9 AS mean_exact_jaccard,
       CAST(sum(CAST(round(abs(e.jaccard_est - x.jaccard) * 1e9)
                     AS BIGINT)) AS DOUBLE)
         / count(*) / 1e9 AS mean_abs_err
FROM est e JOIN exact x ON e.id_a = x.id_a AND e.id_b = x.id_b
GROUP BY 1 ORDER BY est_band
"""


def embedding_drift_cells(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-distribution drift between two corpus snapshots
    (model-version change detection): assign a reference cohort
    (vec_id even) and a current cohort (odd) to the SAME frozen
    centroids, then PSI over the cell-occupancy shares — the
    embedding-space analog of the scalar drift_psi monitor.  Laplace
    (+1) smoothing keeps empty cells finite; shares divide exact
    integer counts so both engines agree before the boundary round."""
    from storagetapper_spark.streaming.ann_index import assign_cells

    emb = t(spark, sf, "embeddings")
    cent = (emb.orderBy("vec_id").limit(_SEMDEDUP_K)
            .select("embedding").collect())
    C = [list(r[0]) for r in cent]
    assigned = assign_cells(emb, C).join(
        emb.select("vec_id"), "vec_id").withColumn(
        "cohort", F.when(F.col("vec_id") % 2 == 0, "ref")
                   .otherwise("cur"))
    counts = (assigned.groupBy("centroid_id")
              .agg(F.sum(F.when(F.col("cohort") == "ref", 1).otherwise(0))
                   .alias("n_ref"),
                   F.sum(F.when(F.col("cohort") == "cur", 1).otherwise(0))
                   .alias("n_cur")))
    tot = counts.agg(F.sum("n_ref").alias("t_ref"),
                     F.sum("n_cur").alias("t_cur"),
                     F.count(F.lit(1)).alias("n_cells"))
    sm = (counts.crossJoin(F.broadcast(tot))
          .withColumn("p", (F.col("n_ref") + 1)
                      / (F.col("t_ref") + F.col("n_cells")))
          .withColumn("q", (F.col("n_cur") + 1)
                      / (F.col("t_cur") + F.col("n_cells"))))
    # psi rides an exact 1e-12-unit BIGINT sum + one shared division
    # (per-cell terms are identical doubles in both engines; the
    # integer sum is order-free); max_share_shift is a max over
    # identical doubles — both portable without a display round
    return (sm.agg(
        (F.sum(F.round((F.col("q") - F.col("p"))
                       * F.log(F.col("q") / F.col("p")) * 1e12)
               .cast("long")).cast("double") / 1e12).alias("psi"),
        F.max("n_cells").alias("n_cells"),
        F.max(F.abs(F.col("q") - F.col("p"))).alias("max_share_shift")))


def _embedding_drift_sql() -> str:
    return f"""
WITH cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         CAST(embedding AS DOUBLE[]) AS c
  FROM (SELECT vec_id, embedding FROM embeddings
        ORDER BY vec_id LIMIT {_SEMDEDUP_K})
), scored AS (
  SELECT e.vec_id, cents.cell,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), cents.c)
           AS cos
  FROM embeddings e CROSS JOIN cents
), assigned AS (
  SELECT vec_id, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cos DESC, cell ASC) AS rn
    FROM scored) WHERE rn = 1
), counts AS (
  SELECT cell,
         sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS n_ref,
         sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS n_cur
  FROM assigned GROUP BY cell
), tot AS (
  SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur,
         count(*) AS n_cells FROM counts
), sm AS (
  SELECT (n_ref + 1) / CAST(t_ref + n_cells AS DOUBLE) AS p,
         (n_cur + 1) / CAST(t_cur + n_cells AS DOUBLE) AS q,
         n_cells
  FROM counts CROSS JOIN tot
)
SELECT CAST(sum(CAST(round((q - p) * ln(q / p) * 1e12) AS BIGINT))
            AS DOUBLE) / 1e12 AS psi,
       CAST(max(n_cells) AS BIGINT) AS n_cells,
       max(abs(q - p)) AS max_share_shift
FROM sm
"""


def dedup_semantic_incr(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental semantic ingest dedup: vectors with vec_id % 5 == 0
    arrive as the new batch against the existing corpus (the rest) —
    output is every within-cell cosine pair (>= threshold) involving a
    new vector, with frozen first-K centroids from the FULL corpus.
    Oracle: the one-shot within-cell pair set filtered to new-involving
    pairs — equality IS the incremental-maintenance invariant
    (streaming/semantic.py proves the multi-batch form)."""
    from storagetapper_spark.streaming.ann_index import assign_cells
    from storagetapper_spark.streaming.semantic import semantic_pairs_frames

    emb = t(spark, sf, "embeddings")
    cent = (emb.orderBy("vec_id").limit(_SEMDEDUP_K)
            .select("embedding").collect())
    C = [list(r[0]) for r in cent]
    new = emb.where(F.col("vec_id") % 5 == 0)
    corpus = emb.where(F.col("vec_id") % 5 != 0)
    pairs = semantic_pairs_frames(assign_cells(new, C),
                                  assign_cells(corpus, C),
                                  threshold=_SEMDEDUP_THRESH)
    return pairs.select("id_a", "id_b",
                        F.round("cosine_sim", 6).alias("cosine_sim"))


def _semantic_incr_sql() -> str:
    return f"""
WITH cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         CAST(embedding AS DOUBLE[]) AS c
  FROM (SELECT vec_id, embedding FROM embeddings
        ORDER BY vec_id LIMIT {_SEMDEDUP_K})
), scored AS (
  SELECT e.vec_id, cents.cell,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), cents.c)
           AS cos
  FROM embeddings e CROSS JOIN cents
), assigned AS (
  SELECT vec_id, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cos DESC, cell ASC) AS rn
    FROM scored) WHERE rn = 1
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                    CAST(eb.embedding AS DOUBLE[])), 6)
         AS cosine_sim
FROM assigned a
JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
JOIN embeddings ea ON ea.vec_id = a.vec_id
JOIN embeddings eb ON eb.vec_id = b.vec_id
WHERE round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                   CAST(eb.embedding AS DOUBLE[])), 6)
      >= {_SEMDEDUP_THRESH}
  AND (a.vec_id % 5 = 0 OR b.vec_id % 5 = 0)
"""


QUERIES = {
    "dedup_semantic": (dedup_semantic, DEDUP_SEMANTIC_SQL),
    "dedup_semantic_incr": (dedup_semantic_incr, _semantic_incr_sql()),
    "sample_split_leakage_safe": (sample_split_leakage_safe,
                                  _split_leakage_safe_sql()),
    "embedding_drift_cells": (embedding_drift_cells,
                              _embedding_drift_sql()),
    "dedup_minhash_calibration": (dedup_minhash_calibration,
                                  _minhash_calibration_sql()),
    "text_dup_ngram_fraction": (text_dup_ngram_fraction,
                                TEXT_DUP_NGRAM_SQL),
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "dedup_embedding_cosine": (dedup_embedding_cosine, DEDUP_EMB_COS_SQL),
    "dedup_clusters": (dedup_clusters, _clusters_sql()),
    "dedup_corpus_summary": (dedup_corpus_summary, _corpus_summary_sql()),
    "sample_deterministic": (sample_deterministic, SAMPLE_SQL),
    "sample_weighted": (sample_weighted, SAMPLE_WEIGHTED_SQL),
    "text_lang_confusion": (text_lang_confusion, _lang_confusion_sql()),
    "agg_decimal_exact": (agg_decimal_exact, AGG_DECIMAL_SQL),
    "training_data_pipeline": (training_data_pipeline, TRAINING_PIPELINE_SQL),
    "dedup_minhash_signature": (dedup_minhash_signature, _mh_sql()),
    "dedup_minhash_lsh": (dedup_minhash_lsh, _lsh_sql()),
    "dedup_minhash_lsh_star": (dedup_minhash_lsh_star, _lsh_star_sql()),
    "dedup_minhash_lsh_incr": (dedup_minhash_lsh_incr, _lsh_incr_sql()),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, NGRAM_JACCARD_SQL),
    "dedup_ngram_containment": (dedup_ngram_containment, NGRAM_CONTAINMENT_SQL),
    "dedup_survivorship": (dedup_survivorship, _survivorship_sql()),
    "dedup_simhash": (dedup_simhash, _simhash_sql()),
    "ann_brute_force": (ann_brute_force, ANN_BRUTE_SQL),
    "ann_vectorized": (ann_vectorized, ANN_BRUTE_SQL),
    "ann_ivf": (ann_ivf, ANN_IVF_SQL),
    "embedding_stats": (embedding_stats, EMBEDDING_STATS_SQL),
    "text_lang_id": (text_lang_id, _lang_sql()),
    "text_quality": (text_quality, TEXT_QUALITY_SQL),
    "text_tokens": (text_tokens, TEXT_TOKENS_SQL),
    "text_fingerprint": (text_fingerprint, TEXT_FINGERPRINT_SQL),
}
