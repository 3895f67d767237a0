"""Deduplication operators for training-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup as DataFrame
transforms.  Everything except SimHash uses engine-portable hashing
(md5 hex, lexicographic min) so a DuckDB oracle can verify it exactly;
SimHash uses xxhash64 + bit ops (Spark-native, rows-only checked).

Scale design:
  - exact dedup: one hash-shuffle on the content hash (map-side partial
    aggregation applies); never shuffles the raw text wider than needed.
  - MinHash/LSH: per-row signature computation is shuffle-free; the only
    shuffle is the band-key self-join, whose fan-in is bounded by bucket
    size (skew-safe: near-duplicate clusters are small by construction;
    a hot bucket means real duplicates, which is the signal itself).
  - candidate verification joins only candidate PAIRS (LSH output), not
    the full cross-product — the O(n²) never materializes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from storagetapper_spark.operators.graph import (iterate, pin, release,
                                                 symmetrize)
from storagetapper_spark.operators.text import normalize_text


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per distinct text
    with the smallest id as keeper and the duplicate count."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
          .agg(F.min(id_col).alias("keeper_id"),
               F.count(F.lit(1)).alias("n_copies"))
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles over normalized text (array<string>).
    Pure expression: split → transform over index sequence.

    NOTE: higher-order functions run interpreted (no codegen) — measured
    ~7ms/row at 60 words/doc, 36s for 5k docs.  Bulk shingling uses the
    lookahead-regex pass inside ``minhash_signature`` /
    ``ngram_jaccard_pairs`` (pure JVM, overlap-safe); this expression
    form is kept for small/streaming uses where an array result is
    needed inline.
    """
    words = F.split(normalize_text(text), " ")
    k = F.size(words) - (n - 1)
    idx = F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0)))
    joined = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(words, (i + j + 1).cast("int"))
                                          for j in range(n)])
    )
    return F.when(k <= 0, F.array(normalize_text(text))).otherwise(joined)


def _normalize_py(x: str) -> str:
    import re
    return re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", x.lower())).strip()


def _shingles_py(x: str, n: int) -> list[str]:
    t = _normalize_py(x)
    w = t.split(" ")
    if len(w) < n:
        return [t]
    return list(dict.fromkeys(" ".join(w[i:i + n]) for i in range(len(w) - n + 1)))


def minhash_udf(num_hashes: int, n: int = 3):
    """Arrow-batched pandas UDF computing the full MinHash signature
    (array of num_hashes md5-hex minima) in one pass.  hashlib.md5 hex ==
    Spark md5() == DuckDB md5(), so the oracle match is exact.  Measured
    ~45x faster than the interpreted higher-order-function expression."""
    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _udf(s):
        import hashlib

        def go(x):
            sh = _shingles_py(x, n)
            return [min(hashlib.md5((f"{i}|" + g).encode()).hexdigest() for g in sh)
                    for i in range(num_hashes)]
        return s.map(go)
    return _udf


def shingle_grams(df: DataFrame, bucket_cols: list[str],
                  text_col: str = "text", id_col: str = "doc_id",
                  shingle_n: int = 3) -> DataFrame:
    """The shared shingling front-end of :func:`minhash_signature` and
    :func:`ngram_jaccard_pairs` (r11, guide §1.2): one
    (bucket_cols…, id_col, _g) row per overlapping word n-gram
    OCCURRENCE (duplicates kept — a min-hash ignores them and the
    Jaccard side's ``collect_set`` drops them), with sub-n-word docs
    contributing their whole normalized text as the single shingle.

    Split out so a query that needs BOTH the sketch and the exact
    pipeline over the same corpus (dedup_minhash_calibration) can
    persist ONE tokenize+explode pass instead of paying the
    regex-normalize scan once per operator (~0.7 s warm at sf0.1,
    measured with the noop sink).
    """
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism,
                        id_col)
    norm = normalize_text(F.col(text_col))
    # one overlapping-ngram pass: at each word start ((?<!\S)), capture
    # the next n whitespace-delimited words via lookahead (overlap-safe)
    pat = "(?<!\\S)(?=(" + " ".join(["\\S+"] * shingle_n) + "))"
    keep = [F.col(c) for c in bucket_cols] + [F.col(id_col)]
    grams = df.select(
        *keep,
        F.explode(F.regexp_extract_all(norm, F.lit(pat), 1)).alias("_g"))
    # plan hazard (see minhash_signature): the normalized text is never
    # carried through the explode — short docs come from a separate
    # non-exploded branch
    shorts = (df.select(*keep, norm.alias("_g"))
                .filter(F.size(F.split("_g", " ")) < shingle_n))
    return grams.unionByName(shorts)


def _check_grams(grams: DataFrame, id_col: str,
                 bucket_cols: list[str] = ()) -> None:
    """Reject a ``grams=`` table that lacks a column its consumer
    reads: a wrong table must fail here, not yield silently wrong
    similarity numbers."""
    missing = [c for c in (id_col, "_g", *bucket_cols)
               if c not in grams.columns]
    if missing:
        raise ValueError(f"grams lacks column(s) {missing}; build it "
                         f"with shingle_grams(df, bucket_cols, text_col, "
                         f"id_col, shingle_n)")


def minhash_signature(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 8,
                      shingle_n: int = 3,
                      grams: DataFrame | None = None) -> DataFrame:
    """MinHash signature: num_hashes salted-md5 minima over the shingle
    set.  min over md5 hex strings is a valid uniform min-hash (md5 is
    uniform; lexicographic order on fixed-width hex == numeric order).

    Entirely JVM-side (codegen'd): normalize → overlapping n-gram
    shingles in ONE regex (`(?<!\\S)(?=(\\S+ … \\S+))` — a lookahead
    capture at each word start) → explode → ``num_hashes`` salted md5
    columns → map-side partial min aggregation.  ONE shuffle total (the
    groupBy, after partial aggs); no window, no sort.  Byte-identical
    to the Arrow variant and the DuckDB oracle (duplicate shingles
    don't affect a min).  Replaces the pandas-UDF path whose Python
    hashlib.md5 loop was Python-throughput-bound.

    Plan hazard encoded here: an expression projected NEXT TO a
    generator is re-evaluated per exploded OUTPUT row (measured 9.6s vs
    0.5s at sf0.1 for the regex-normalize chain), so the normalized
    text is never carried through the explode — short docs (< n words,
    whose single shingle is the whole normalized text) come from a
    separate non-exploded branch instead.

    Output: (id_col, mh_0 … mh_{k-1}).

    ``grams``: optionally a pre-built :func:`shingle_grams` table
    (must carry ``id_col`` and ``_g`` — a missing column raises
    ``ValueError``; extra bucket columns are projected away) so a
    caller running several shingle consumers can share one tokenize
    pass.  ``df``, ``text_col`` and ``shingle_n`` are then unused:
    ``grams`` must have been built with the ``shingle_n`` the caller
    means.
    """
    if grams is not None:
        _check_grams(grams, id_col)
    # small fixture files arrive as one partition; shingle_grams fans
    # the regex/explode work out to cluster width (no-op at scale where
    # the scan is already many-partitioned — AQE coalesces)
    sh = (grams.select(id_col, "_g") if grams is not None
          else shingle_grams(df, [], text_col, id_col, shingle_n))
    return sh.groupBy(id_col).agg(*[
        F.min(F.md5(F.concat_ws("|", F.lit(str(i)), F.col("_g"))))
         .alias(f"mh_{i}")
        for i in range(num_hashes)])


def minhash_signature_arrow(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", num_hashes: int = 8,
                            shingle_n: int = 3) -> DataFrame:
    """Arrow/pandas-UDF form of ``minhash_signature`` (same output,
    Python-hashing-bound).  Kept for parity testing and as the template
    for codecs that genuinely need Python."""
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism, id_col)
    sig = df.select(F.col(id_col),
                    minhash_udf(num_hashes, shingle_n)(text_col).alias("_mhs"))
    return sig.select(
        id_col, *[F.col("_mhs").getItem(i).alias(f"mh_{i}") for i in range(num_hashes)])


def lsh_plan(threshold: float, num_hashes: int,
             fp_budget: float = 0.10, fp_at: float = 0.10) -> tuple[int, int]:
    """Pick (bands, rows_per_band) for a target Jaccard threshold.

    The LSH s-curve is p(J) = 1 - (1 - J^r)^b with r = num_hashes/b.
    Contract: maximize the catch probability p(threshold) subject to
    the unrelated-pair collision rate p(``fp_at``) ≤ ``fp_budget``
    (unrelated real-corpus pairs sit near J≈0; their collisions are
    pure wasted candidate-verification compute).  Falls back to the
    minimum-fp banding if no divisor satisfies the budget.  Pure
    planning function: tune bands offline, run ``minhash_lsh_pairs``
    with the result."""
    def p_collide(j: float, b: int, r: int) -> float:
        return 1.0 - (1.0 - j ** r) ** b

    candidates = []
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        candidates.append((p_collide(threshold, b, r),
                           p_collide(fp_at, b, r), b, r))
    within = [c for c in candidates if c[1] <= fp_budget]
    if within:
        _, _, b, r = max(within)
    else:
        _, _, b, r = min(candidates, key=lambda c: c[1])
    return b, r


def _band_signature(sig: DataFrame, id_col: str, num_hashes: int,
                    bands: int) -> DataFrame:
    """Explode a signature table into (id, mh_*, band, band_key) rows —
    one md5 band key per ``rows_per_band`` signature slots."""
    rpb = num_hashes // bands
    band_rows = []
    for b in range(bands):
        key = F.md5(F.concat_ws("|", *[F.col(f"mh_{b * rpb + j}")
                                       for j in range(rpb)]))
        band_rows.append(F.struct(F.lit(b).alias("band"),
                                  key.alias("band_key")))
    return sig.select(
        F.col(id_col), *[F.col(f"mh_{i}") for i in range(num_hashes)],
        F.explode(F.array(*band_rows)).alias("bk"),
    ).select(id_col, *[f"mh_{i}" for i in range(num_hashes)],
             "bk.band", "bk.band_key")


def minhash_lsh_incremental(corpus_sig: DataFrame, new_docs: DataFrame,
                            text_col: str = "text", id_col: str = "doc_id",
                            num_hashes: int = 8, bands: int = 4,
                            shingle_n: int = 3) -> DataFrame:
    """Candidate pairs for a NEW ingest batch against an existing corpus
    — the production streaming-ingest shape: the corpus contributes only
    its (checkpointed) signature table, its text is never re-read, and
    corpus×corpus pairs are never re-derived.  Cost per batch is
    O(|new| + matching buckets), not O(|corpus|²).

    Emits new×corpus and new×new pairs; unioned with the corpus's own
    historical pairs this equals ``minhash_lsh_pairs`` over the combined
    corpus exactly (tested) — so repeated ingests maintain the pair set
    incrementally.

    ``corpus_sig`` is the output of ``minhash_signature`` (id + mh_*),
    normally persisted parquet updated per ingest.
    """
    assert num_hashes % bands == 0
    new_sig = minhash_signature(new_docs, text_col, id_col, num_hashes,
                                shingle_n).persist()
    new_sig.count()
    mh = [f"mh_{i}" for i in range(num_hashes)]
    new_b = _band_signature(new_sig, id_col, num_hashes, bands) \
        .withColumn("_new", F.lit(True))
    all_b = (_band_signature(corpus_sig.select(id_col, *mh), id_col,
                             num_hashes, bands)
             .withColumn("_new", F.lit(False))
             .unionByName(new_b))
    a, b = new_b.alias("a"), all_b.alias("b")
    keep = F.when(F.col("b._new"),
                  F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) \
            .otherwise(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
    eqs = sum([(F.col(f"a.mh_{i}") == F.col(f"b.mh_{i}")).cast("int")
               for i in range(num_hashes)], F.lit(0))
    pairs = (a.join(b, on=["band", "band_key"]).filter(keep)
              .select(F.least(f"a.{id_col}", f"b.{id_col}").alias("id_a"),
                      F.greatest(f"a.{id_col}", f"b.{id_col}").alias("id_b"),
                      F.round(eqs / F.lit(float(num_hashes)), 4)
                       .alias("jaccard_est")))
    return pairs.groupBy("id_a", "id_b") \
                .agg(F.max("jaccard_est").alias("jaccard_est"))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 8,
                      bands: int = 4, shingle_n: int = 3,
                      star_threshold: int | None = None,
                      grams: DataFrame | None = None) -> DataFrame:
    """LSH candidate pairs: band the signature (bands × rows_per_band),
    bucket-join on (band, band_key), emit distinct (id_a < id_b) pairs
    with the estimated Jaccard = fraction of matching signature slots.

    The self-join shuffles only (band_key, id, signature) — never text.

    ``star_threshold``: buckets larger than this emit STAR edges (every
    member paired to the bucket's min id, computed with one window —
    no join at all) instead of all pairs.  Per-bucket cost drops from
    quadratic to linear while downstream connected-components clustering
    is provably unchanged — a star spans exactly the same bucket the
    clique did (tested).  This is the guard that keeps a 100 TB corpus
    with million-member duplicate buckets from emitting 10^12 pairs;
    the emitted jaccard_est is then the similarity to the hub, not to
    every sibling.

    ``grams``: as in :func:`minhash_signature` — must carry ``id_col``
    and ``_g`` (else ``ValueError``) and come from the same
    ``shingle_n``.
    """
    assert num_hashes % bands == 0
    # Materialize signatures before anything fans out over them: a
    # generator (explode) or self-join whose child is the expensive
    # signature expression re-evaluates it per emitted row (measured
    # 250s vs <1s at sf0.1).  At 100 TB this is the checkpointed
    # signature table.
    sig = minhash_signature(df, text_col, id_col, num_hashes, shingle_n,
                            grams=grams).persist()
    sig.count()
    banded = _band_signature(sig, id_col, num_hashes, bands)
    if star_threshold is not None:
        from pyspark.sql import Window

        # ALL window columns in one pass over one (band, band_key)
        # exchange — branching with filters afterwards would otherwise
        # recompute the banded lineage per branch (measured 14 vs 4
        # exchanges).  The persist below is the branch point.
        w = Window.partitionBy("band", "band_key")
        sized = banded.select(
            "*", F.count(F.lit(1)).over(w).alias("_bsz"),
            F.expr(f"min({id_col})").over(w).alias("_hub"),
            *[F.expr(f"min_by(mh_{i}, {id_col})").over(w)
               .alias(f"_hub_mh_{i}") for i in range(num_hashes)]).persist()
        small = sized.where(F.col("_bsz") <= star_threshold) \
                     .drop("_bsz", "_hub",
                           *[f"_hub_mh_{i}" for i in range(num_hashes)])
        large = (sized.where(F.col("_bsz") > star_threshold)
                      .where(F.col(id_col) != F.col("_hub")))
        star_eqs = sum(
            [(F.col(f"mh_{i}") == F.col(f"_hub_mh_{i}")).cast("int")
             for i in range(num_hashes)], F.lit(0))
        star_pairs = large.select(
            F.col("_hub").alias("id_a"), F.col(id_col).alias("id_b"),
            F.round(star_eqs / F.lit(float(num_hashes)), 4).alias("jaccard_est"))
        banded = small
    else:
        star_pairs = None
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, on=["band", "band_key"])
         .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
         .select(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"),
                 *[(F.col(f"a.mh_{i}") == F.col(f"b.mh_{i}")).cast("int").alias(f"eq_{i}")
                   for i in range(num_hashes)])
         .distinct()
    )
    est = sum([F.col(f"eq_{i}") for i in range(num_hashes)], F.lit(0)) / F.lit(float(num_hashes))
    pairs = pairs.select("id_a", "id_b", F.round(est, 4).alias("jaccard_est"))
    if star_pairs is not None:
        pairs = pairs.unionByName(star_pairs)
    return pairs.groupBy("id_a", "id_b").agg(F.max("jaccard_est").alias("jaccard_est"))


def ngram_jaccard_pairs(df: DataFrame, bucket_cols: list[str],
                        text_col: str = "text", id_col: str = "doc_id",
                        shingle_n: int = 3, threshold: float = 0.0,
                        keep_bucket: bool = False,
                        grams: DataFrame | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs within a bucket
    (blocking on ``bucket_cols`` keeps this quadratic-in-bucket, linear
    overall — the standard blocked-dedup shape).

    Implemented set-theoretically: one doc-id set per (bucket,
    shingle), an in-map pair explode counts the intersection, per-doc
    set sizes give the union.  Only hashable narrow keys are shuffled,
    so it's a plain shuffle aggregate at scale.

    Shingling is the same JVM-side lookahead-regex pass as
    ``minhash_signature`` (zero Python in the row path); Jaccard needs
    SET semantics, which the per-(bucket, shingle) ``collect_set``
    supplies.  Bucket columns are plain attributes, safe to carry
    through the generator — only computed EXPRESSIONS get re-evaluated
    per exploded row.

    ``grams``: optionally a pre-built :func:`shingle_grams` table
    carrying ``id_col``, ``_g`` and the same ``bucket_cols`` (a missing
    column raises ``ValueError``) — shares one tokenize pass with other
    shingle consumers (r11, dedup_minhash_calibration).  ``df``,
    ``text_col`` and ``shingle_n`` are then unused: ``grams`` must have
    been built with the ``shingle_n`` the caller means.
    """
    if grams is None:
        grams = shingle_grams(df, bucket_cols, text_col, id_col, shingle_n)
    else:
        _check_grams(grams, id_col, bucket_cols)
    # r10 (guide §2.4): basket-array intersection build — ONE shuffle of
    # the gram table by (bucket, sh) + an in-map i<j combination explode
    # replaces the two-sided (bucket, sh) self-join.  collect_set lists
    # each (bucket, sh)'s doc ids exactly once (the SET semantics);
    # sort_array + slice keeps the strict id_a < id_b orientation, so
    # the per-pair shared-gram count is identical.
    baskets = (grams.groupBy(*bucket_cols, F.col("_g").alias("sh"))
               .agg(F.sort_array(F.collect_set(id_col)).alias("ids")))
    # a pair lives in exactly ONE bucket (each doc has one bucket row),
    # so grouping by the bucket keys too leaves n_inter unchanged and
    # lets keep_bucket callers feed connected_components_blocked.
    # The explode is size-guarded and pins baskets
    # (operators/skew.basket_units); sz reads the pinned baskets: a doc
    # sits in one basket per distinct (bucket, gram), so its basket
    # count is its distinct-gram count.
    from storagetapper_spark.operators.skew import guarded_pair_explode

    inter = (guarded_pair_explode(baskets, "ids", "id_a", "id_b",
                                  keep=tuple(bucket_cols))
             .groupBy(*bucket_cols, "id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("n_inter")))
    sizes = (baskets.select(F.explode("ids").alias(id_col))
             .groupBy(id_col).agg(F.count(F.lit(1)).alias("sz")))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    jac = (F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")))
    keep = ([F.concat_ws("|", *bucket_cols).alias("_blk")]
            if keep_bucket else [])
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
             .select(*keep, "id_a", "id_b", F.round(jac, 4).alias("jaccard"))
             .filter(F.col("jaccard") >= threshold)
    )


def connected_components_blocked(edges: DataFrame, block_col: str,
                                 a_col: str = "id_a",
                                 b_col: str = "id_b") -> DataFrame:
    """Exact connected components for BLOCK-LOCAL edge lists — the case
    every blocked pair generator in this engine produces (each node
    lives in exactly one block, so components never span blocks).

    ONE shuffle by block + a linear union-find per block inside
    applyInPandas replaces the whole O(log diameter) iterative loop of
    :func:`connected_components` (which pays several fixed-latency
    stages per round).  Same contract: (node, comp) for every edge
    endpoint, comp = min node id reachable.  Scale-safe under the same
    invariant the pair join already relies on: block size is bounded,
    so no single task sees more than one block's edges (r10, guide
    §1.2 — remove passes the problem doesn't need)."""
    import pandas as pd

    def uf(pdf: "pd.DataFrame") -> "pd.DataFrame":
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for a, b in zip(pdf["_ca"], pdf["_cb"]):
            a, b = int(a), int(b)
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = list(parent)
        return pd.DataFrame({"node": nodes,
                             "comp": [find(n) for n in nodes]})

    e = edges.select(F.col(block_col).alias("_blk"),
                     F.col(a_col).alias("_ca"), F.col(b_col).alias("_cb"))
    return e.groupBy("_blk").applyInPandas(uf, "node long, comp long")


def connected_components(edges: DataFrame, a_col: str = "id_a",
                         b_col: str = "id_b", max_iters: int = 20) -> DataFrame:
    """Duplicate-cluster resolution: connected components over candidate
    pairs → (node, component) with component = min node id reachable.

    This is the completion step of every pairwise dedup (LSH/Jaccard/
    cosine emit PAIRS; keeping one doc per transitive cluster needs
    components).  Each round does one min-label propagation
    (component[u] = min over neighbors' components) PLUS one
    pointer-jump (component[u] = component[component[u]]), so
    convergence is O(log diameter) rounds, not O(diameter) — a
    400-node chain resolves in ~9 rounds where plain propagation needs
    400 (and would silently stop wrong at max_iters).  The rounds run on
    operators/graph.iterate: each round references the previous
    generation three times (propagation, jump, convergence sum), so
    every generation is checkpointed, and the superseded one is
    released.  Convergence (r10, guide §2.4): labels are monotonically
    non-increasing per node and the node set is fixed, so sum(comp)
    strictly decreases iff ANY label changed — that one exact integer
    (decimal(38,0), overflow-safe at any node-id scale) is the ladder's
    ``until``, and its scan is also the action that materializes the
    generation.  On a cluster, point spark.sparkContext.setCheckpointDir
    at durable storage and swap localCheckpoint for checkpoint if
    executor loss matters; only the edge list and the (node, comp)
    table ever shuffle.  Deterministic, no driver-side graph state.
    """
    sym = pin(symmetrize(edges, a_col, b_col).select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")).distinct())
    seed = (sym.groupBy("src").agg(F.min("dst").alias("nbr_min"))
            .select(F.col("src").alias("node"),
                    F.least("src", "nbr_min").alias("comp")))

    def label_sum(labels: DataFrame):
        return labels.agg(F.sum(F.col("comp").cast("decimal(38,0)"))
                          .alias("_s")).collect()[0]._s

    def step(labels: DataFrame) -> DataFrame:
        # propagate: candidate label for dst = min over neighbors' comps
        prop = (sym.join(labels, sym.src == labels.node)
                   .groupBy("dst").agg(F.min("comp").alias("nbr_comp")))
        stepped = (labels.join(prop, labels.node == prop.dst, "left")
                   .select("node",
                           F.least("comp", "nbr_comp").alias("comp")))
        # pointer-jump: follow the label's own label (comp ids are node
        # ids, so comp[comp[u]] <= comp[u]) — doubles reach per round
        m = labels.select(F.col("node").alias("_mn"),
                          F.col("comp").alias("_mc"))
        return (stepped.join(m, stepped.comp == m._mn, "left")
                .select("node",
                        F.least("comp", F.coalesce("_mc", "comp"))
                        .alias("comp")))

    labels = iterate(seed, step, max_iters, until=label_sum)
    release(sym)
    return labels


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 64, token_hash: str = "xxhash64") -> DataFrame:
    """SimHash fingerprint: sign-sum of per-token hashes.

    ``token_hash``:
      - ``"xxhash64"`` (default): Spark-native 64-bit token hash — the
        scale path (one JVM hash per token).
      - ``"md5_60"``: 60-bit hash from the first 15 hex chars of
        md5(token) — engine-portable (DuckDB computes the identical
        value from the same hex arithmetic), enabling an exact SQL
        oracle for the full simhash pipeline at ~2x the hash cost.

    Near-dup pairs = fingerprints within small Hamming distance; at
    scale, block on bit-bands of the fingerprint like LSH.
    """
    # Explode tokens and bit-vote in ONE hash aggregation: 64 codegen'd
    # sum() expressions over (doc_id, token_hash) rows.  The previous
    # form folded 64 interpreted higher-order aggregates per row —
    # measured 14s vs ~1s at sf0.1 (the pyspark_guide HOF pitfall).
    # Scale shape: explode → map-side partial agg → one shuffle on
    # doc_id; token fan-out never crosses the exchange unaggregated.
    words = F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))
    if token_hash == "md5_60":
        bits = min(bits, 60)
        h = F.conv(F.substring(F.md5(F.col("_w")), 1, 15), 16, 10).cast("long")
        masks = [1 << i for i in range(bits)]
    else:
        h = F.xxhash64("_w")
        masks = [(1 << i) if i < 63 else -(1 << 63) for i in range(bits)]
    tok = df.select(F.col(id_col), F.explode(words).alias("_w")) \
            .select(id_col, h.alias("_h"))
    votes = tok.groupBy(id_col).agg(*[
        F.sum(F.when(F.col("_h").bitwiseAND(F.lit(m)) != 0, 1).otherwise(-1))
         .alias(f"_v{i}")
        for i, m in enumerate(masks)])
    bit_cols = [F.when(F.col(f"_v{i}") > 0, F.lit(m)).otherwise(F.lit(0)).cast("long")
                for i, m in enumerate(masks)]
    fp = sum(bit_cols[1:], bit_cols[0])
    return votes.select(F.col(id_col), fp.alias("simhash"))


def simhash_near_pairs(df: DataFrame, id_col: str = "doc_id",
                       fp_col: str = "simhash", max_hamming: int = 3,
                       blocks: int = 4) -> DataFrame:
    """Near-dup candidates by SimHash: split the 64-bit fingerprint into
    ``blocks`` bands; any pair within hamming distance < blocks shares
    at least one exact band (pigeonhole) → band-equality join, then
    exact popcount filter."""
    width = 64 // blocks
    banded = df.select(
        id_col, fp_col,
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftrightunsigned(F.col(fp_col), b * width)
                      .bitwiseAND(F.lit((1 << width) - 1)).alias("bkey"))
            for b in range(blocks)
        ])).alias("bk"),
    ).select(id_col, fp_col, "bk.band", "bk.bkey")
    banded = banded.persist()
    banded.count()  # eager: self-join over lazy persist recomputes lineage
    a, b = banded.alias("a"), banded.alias("b")
    xor = F.col(f"a.{fp_col}").bitwiseXOR(F.col(f"b.{fp_col}"))
    return (
        a.join(b, on=["band", "bkey"])
         .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
         .select(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"),
                 F.bit_count(xor).alias("hamming"))
         .distinct()
         .filter(F.col("hamming") <= max_hamming)
    )


def ngram_containment_pairs(df: DataFrame, bucket_cols: list[str],
                            text_col: str = "text", id_col: str = "doc_id",
                            shingle_n: int = 3,
                            threshold: float = 0.0) -> DataFrame:
    """Asymmetric near-dup: n-gram CONTAINMENT |A∩B| / min(|A|,|B|) —
    catches quotes/excerpts/supersets that Jaccard misses (a 100-line
    doc fully contained in a 10000-line doc has tiny Jaccard but
    containment 1.0).  Same blocked posting-list shape (and cost) as
    ``ngram_jaccard_pairs``; emits both directional containments plus
    the max."""
    # the same basket-array intersection build as ngram_jaccard_pairs
    # (collect_set == per-(bucket, gram) distinct doc ids; sort_array +
    # slice keeps the id_a < id_b orientation, so n_inter is identical);
    # the guarded explode pins baskets and sz reads them.
    baskets = (shingle_grams(df, bucket_cols, text_col, id_col, shingle_n)
               .groupBy(*bucket_cols, F.col("_g").alias("sh"))
               .agg(F.sort_array(F.collect_set(id_col)).alias("ids")))
    from storagetapper_spark.operators.skew import guarded_pair_explode

    inter = (guarded_pair_explode(baskets, "ids", "id_a", "id_b")
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("n_inter")))
    sizes = (baskets.select(F.explode("ids").alias(id_col))
             .groupBy(id_col).agg(F.count(F.lit(1)).alias("sz")))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
             .select("id_a", "id_b",
                     F.round(F.col("n_inter") / F.col("sz_a"), 4)
                      .alias("containment_a"),
                     F.round(F.col("n_inter") / F.col("sz_b"), 4)
                      .alias("containment_b"),
                     F.round(F.col("n_inter")
                             / F.least("sz_a", "sz_b"), 4)
                      .alias("containment"))
             .filter(F.col("containment") >= threshold)
    )


def dup_ngram_fraction(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       shingle_n: int = 3) -> DataFrame:
    """Corpus-duplication quality signal (the Dolma/CCNet-style
    "fraction of content in duplicate n-grams"): per document, the
    share of its n-gram INSTANCES whose gram occurs in more than one
    distinct document of the corpus.  Near-1 values mean the document
    is mostly boilerplate the corpus already has — the per-doc filter
    signal that pairwise dedup (jaccard/minhash) does not give you.

    Returns (id, n_grams, n_dup, dup_frac).

    Scale shape: one generator pass (the same JVM lookahead-regex
    shingling as minhash_signature — zero Python), ONE distinct for the
    doc-frequency table, gram-keyed shuffles of narrow rows only; the
    text never shuffles.  The instance table is materialized before
    fan-out (generator-recompute hazard, see ngram_jaccard_pairs).
    """
    norm = normalize_text(F.col(text_col))
    pat = "(?<!\\S)(?=(" + " ".join(["\\S+"] * shingle_n) + "))"
    grams = df.select(
        F.col(id_col),
        F.explode(F.regexp_extract_all(norm, F.lit(pat), 1)).alias("sh"))
    shorts = (df.select(F.col(id_col), norm.alias("sh"))
                .filter(F.size(F.split("sh", " ")) < shingle_n))
    inst = grams.unionByName(shorts).persist()
    inst.count()
    docfreq = (inst.distinct().groupBy("sh")
               .agg(F.count(F.lit(1)).alias("_df")))
    return (inst.join(docfreq, "sh")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.sum(F.when(F.col("_df") > 1, 1).otherwise(0))
                  .alias("n_dup"))
            .select(id_col, "n_grams", "n_dup",
                    F.round(F.col("n_dup") / F.col("n_grams"), 4)
                     .alias("dup_frac")))


def lsh_verified_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 8,
                       bands: int = 4, shingle_n: int = 3,
                       threshold: float = 0.5,
                       star_threshold: int | None = None) -> DataFrame:
    """The verification stage that completes the MinHash dedup pipeline
    (candidates → EXACT Jaccard → keep/drop): every LSH candidate pair
    is re-scored with the true shingle-set Jaccard and flagged against
    ``threshold``.  This is the standard two-stage near-dup design
    (sketch recall, exact precision) — reference parity: generalizes
    storagetapper's row-key equality dedup to set similarity.

    Scale shape: the exact re-score touches ONLY candidate pairs (LSH
    output, band-bounded — never O(n^2)).  Each doc's distinct shingle
    SET is built in one narrow pass (array_distinct over the lookahead
    regex — no explode, no shuffle) and rides two id-keyed joins onto
    the pair list; per-pair cost is one array_intersect over two
    doc-length arrays.  At 100 TB the join payload is candidate-count
    × doc-shingle-set — output-bounded, not corpus-bounded.
    """
    cand = minhash_lsh_pairs(df, text_col, id_col, num_hashes, bands,
                             shingle_n, star_threshold)
    norm = normalize_text(F.col(text_col))
    pat = "(?<!\\S)(?=(" + " ".join(["\\S+"] * shingle_n) + "))"
    sets = df.select(
        F.col(id_col),
        F.array_distinct(
            F.when(F.size(F.split(norm, " ")) < shingle_n,
                   F.array(norm))
             .otherwise(F.regexp_extract_all(norm, F.lit(pat), 1)))
         .alias("_sh"))
    # r10 (guide §5): both join sides read the same shingle sets —
    # persist so the normalize+shingle regex runs once, not twice.
    sets = (sets.select(id_col, "_sh", F.size("_sh").alias("_sz"))
            .persist())
    a = sets.select(F.col(id_col).alias("id_a"),
                    F.col("_sh").alias("_sh_a"), F.col("_sz").alias("_sz_a"))
    b = sets.select(F.col(id_col).alias("id_b"),
                    F.col("_sh").alias("_sh_b"), F.col("_sz").alias("_sz_b"))
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    exact = inter / (F.col("_sz_a") + F.col("_sz_b") - inter)
    return (cand.join(a, "id_a").join(b, "id_b")
            .select("id_a", "id_b", "jaccard_est",
                    F.round(exact, 4).alias("jaccard_exact"),
                    (exact >= threshold).alias("verified")))


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", shingle_n: int = 3,
                        window_w: int = 4) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, the
    MOSS local fingerprinting scheme): hash every overlapping word
    ``shingle_n``-gram, slide a ``window_w`` window over the hash
    sequence, and select each window's minimum — rightmost occurrence
    on ties, the paper's rule — yielding a position-robust fingerprint
    subset with guaranteed density ~2/(w+1) and guaranteed detection
    of any shared run of ``shingle_n + window_w - 1`` words.  The
    reference engine has no local-fingerprint operator; this extends
    its row-hash surface (encoder/*.go row hashing) to substring-level
    identity, the curation primitive exact/minhash dedup can't express
    (minhash sees global similarity, winnowing sees shared PASSAGES).

    Spark shape: the one-regex overlapping-shingle extraction from
    ``minhash_signature`` (codegen'd), posexplode for positions, ONE
    window pass partitioned by document (docs are length-bounded, so
    partitions are balanced at any corpus size), then a per-doc
    distinct.  The rightmost-min tie rule costs no second pass: the
    window minimizes ``md5hex || (10^9-1-pos)`` so the lexicographic
    min IS (min hash, max pos).

    Output: one row per selected fingerprint —
    (id_col, fp_hash, fp_pos, n_grams).
    """
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism,
                        id_col)
    norm = normalize_text(F.col(text_col))
    pat = "(?<!\\S)(?=(" + " ".join(["\\S+"] * shingle_n) + "))"
    grams = df.select(
        F.col(id_col),
        F.posexplode(F.regexp_extract_all(norm, F.lit(pat), 1))
         .alias("pos", "_g"))
    shorts = (df.select(F.col(id_col), F.lit(0).alias("pos"),
                        norm.alias("_g"))
                .filter(F.size(F.split("_g", " ")) < shingle_n))
    ex = grams.unionByName(shorts)
    # rightmost-min encoding: min over (md5 asc, pos desc)
    key = F.concat(F.md5(F.col("_g")),
                   F.lpad((F.lit(999_999_999) - F.col("pos"))
                          .cast("string"), 9, "0"))
    wdoc = Window.partitionBy(id_col)
    wslide = (Window.partitionBy(id_col).orderBy("pos")
              .rowsBetween(0, window_w - 1))
    keyed = ex.select(
        F.col(id_col), "pos",
        F.count(F.lit(1)).over(wdoc).alias("n_grams"),
        F.min(key).over(wslide).alias("_wkey"))
    # full windows only (a doc shorter than w contributes its pos-0
    # whole-doc window)
    sel = keyed.filter(
        F.col("pos") <= F.greatest(F.lit(0),
                                   F.col("n_grams") - window_w))
    return (sel.select(
        F.col(id_col), "n_grams",
        F.substring("_wkey", 1, 32).alias("fp_hash"),
        (F.lit(999_999_999)
         - F.substring("_wkey", 33, 9).cast("long")).alias("fp_pos"))
        .distinct())
