"""Text-analysis operators for training-data pipelines.

All pure Column expressions (JVM-side, whole-stage codegen) — no Python
in the row path.  Deliberately built from engine-portable primitives
(length/replace/md5/regexp) so every operator has an exact DuckDB oracle.

Scale: each operator is a narrow per-row projection — no shuffle, fully
partition-parallel, unaffected by skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from storagetapper_spark.operators.graph import iterate, release


def occurrence_count(text: Column, marker: str) -> Column:
    """# of occurrences of ``marker`` via the length/replace identity —
    portable across engines (no regexp dialect differences)."""
    return ((F.length(text) - F.length(F.regexp_replace(text, _re_escape(marker), "")))
            / F.lit(len(marker))).cast("long")


def _re_escape(s: str) -> str:
    out = []
    for ch in s:
        out.append("\\" + ch if ch in r"\.^$*+?()[]{}|" else ch)
    return "".join(out)


def word_count(text: Column) -> Column:
    """Whitespace token count: spaces+1 on single-space-normalized text."""
    t = F.trim(F.regexp_replace(text, "\\s+", " "))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.length(t) - F.length(F.regexp_replace(t, " ", "")) + 1
    ).cast("long")


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, alnum+space only,
    collapsed whitespace."""
    t = F.lower(text)
    t = F.regexp_replace(t, "[^a-z0-9 ]", " ")
    t = F.trim(F.regexp_replace(t, " +", " "))
    return t


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    (The rolling-hash variant for shingle-level fingerprints lives in
    dedup.shingles + md5.)"""
    return F.md5(normalize_text(text))


#: language → marker words used by the n-gram-ish language-ID heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " et ", " les "],
    "es": [" el ", " y ", " los "],
    "zh": ["的", "是", "了"],
}


def lang_score(text: Column, lang: str) -> Column:
    """Marker-occurrence score for one language."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    score = F.lit(0).cast("long")
    for m in LANG_MARKERS[lang]:
        score = score + occurrence_count(padded, m)
    return score


def lang_id(text: Column, langs: list[str] | None = None) -> Column:
    """Argmax over per-language marker scores; deterministic tie-break by
    the declared language order; 'und' (undetermined) when all zero."""
    langs = langs or list(LANG_MARKERS)
    scores = {lg: lang_score(text, lg) for lg in langs}
    best = F.greatest(*scores.values()) if len(scores) > 1 else scores[langs[0]]
    expr = F.lit("und")
    for lg in reversed(langs):
        expr = F.when((scores[lg] > 0) & (scores[lg] == best), F.lit(lg)).otherwise(expr)
    return expr


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring features: char/word counts, mean word length,
    punctuation & digit & whitespace ratios, stopword ratio, and a
    composite [0,1] quality score (heuristic in the spirit of C4/Gopher
    document-quality rules)."""
    t = F.col(text_col)
    n_chars = F.length(t).cast("long")
    n_words = word_count(t)
    n_punct = (F.length(t) - F.length(F.regexp_replace(t, "[.,;:!?]", ""))).cast("long")
    n_digit = (F.length(t) - F.length(F.regexp_replace(t, "[0-9]", ""))).cast("long")
    n_space = (F.length(t) - F.length(F.regexp_replace(t, " ", ""))).cast("long")
    stop_hits = lang_score(t, "en")
    mean_wlen = F.round((n_chars - n_space) / F.greatest(n_words, F.lit(1)), 4)
    stop_ratio = F.round(stop_hits / F.greatest(n_words, F.lit(1)), 4)
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4)
    digit_ratio = F.round(n_digit / F.greatest(n_chars, F.lit(1)), 4)
    quality = F.round(
        F.least(F.lit(1.0), n_words / F.lit(100.0)) * 0.4
        + F.least(F.lit(1.0), stop_ratio * 5) * 0.4
        + (F.lit(1.0) - F.least(F.lit(1.0), digit_ratio * 5)) * 0.2,
        4,
    )
    return df.select(
        "*",
        n_chars.alias("n_chars_calc"),
        n_words.alias("n_words"),
        mean_wlen.alias("mean_word_len"),
        punct_ratio.alias("punct_ratio"),
        digit_ratio.alias("digit_ratio"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality_score"),
    )


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens, alphabetic-run tokens (a cheap
    BPE-ish proxy: alpha runs + digit runs + punct singles), chars/token."""
    t = F.col(text_col)
    ws_tokens = word_count(t)
    alpha_chars = F.length(F.regexp_replace(t, "[^A-Za-z]", "")).cast("long")
    digit_chars = F.length(F.regexp_replace(t, "[^0-9]", "")).cast("long")
    # alpha runs ≈ word-ish subword units; ~4.4 chars/BPE token is the
    # published GPT-2 average — use ceil(alpha/4) + digits + punct as the
    # deterministic estimator.
    n_punct = (F.length(t) - F.length(F.regexp_replace(t, "[.,;:!?]", ""))).cast("long")
    bpe_est = (F.ceil(alpha_chars / F.lit(4.0)) + digit_chars + n_punct).cast("long")
    return df.select(
        "*",
        ws_tokens.alias("ws_tokens"),
        bpe_est.alias("bpe_tokens_est"),
        F.round(F.length(t) / F.greatest(ws_tokens, F.lit(1)), 4).alias("chars_per_token"),
    )


def chunk_fixed(df: DataFrame, text_col: str = "text", size: int = 200,
                stride: int = 150, id_cols: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """Split documents into fixed-width character chunks with overlap
    (``size`` chars every ``stride`` — the standard pre-tokenization
    windowing for embedding / training-context prep).

    ``posexplode(sequence(...))`` generates start offsets JVM-side — the
    fan-out is a narrow generator, no shuffle, no Python.  Only the
    (ids, text) projection feeds the generator so nothing else is
    re-evaluated per chunk (see SCALE.md on generator re-evaluation)."""
    starts = F.sequence(F.lit(1),
                        F.greatest(F.lit(1), F.length(F.col(text_col))),
                        F.lit(stride))
    exploded = df.select(*id_cols, F.col(text_col),
                         F.posexplode(starts).alias("chunk_id", "chunk_start"))
    chunk = F.expr(f"substring({text_col}, chunk_start, {size})")
    return exploded.select(*id_cols, "chunk_id", "chunk_start",
                           F.length(chunk).cast("long").alias("chunk_len"),
                           F.md5(chunk).alias("chunk_md5"))


def chunk_tokens(df: DataFrame, text_col: str = "text", tokens: int = 64,
                 id_cols: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """Split documents into non-overlapping ``tokens``-whitespace-token
    chunks (LLM-context-budget windowing).  Same narrow generator shape
    as chunk_fixed; the token array is built once per row."""
    toks = F.split(F.col(text_col), " ")
    starts = F.sequence(F.lit(1),
                        F.greatest(F.lit(1), F.size(toks)),
                        F.lit(tokens))
    exploded = df.select(*id_cols, toks.alias("_toks"),
                         F.posexplode(starts).alias("chunk_id", "tok_start"))
    piece = F.slice(F.col("_toks"), F.col("tok_start"), tokens)
    chunk = F.concat_ws(" ", piece)
    return exploded.select(*id_cols, "chunk_id", "tok_start",
                           F.size(piece).cast("long").alias("n_tokens"),
                           F.md5(chunk).alias("chunk_md5"))


def token_windows(text: Column, k: int) -> Column:
    """Array of all k-token sliding windows of ``text`` (space-joined),
    deduplicated WITHIN the row.  Pure generator expression — the
    per-doc ``array_distinct`` is the trick that keeps downstream
    cross-doc aggregation map-side combinable (the same pre-shuffle
    dedup that fixed contamination_check's shingle shuffle).  Rows
    shorter than k tokens yield an empty array (sequence() would
    otherwise count DOWN when start > stop)."""
    toks = F.split(text, " ")
    starts = F.sequence(F.lit(1), F.size(toks) - F.lit(k - 1))
    windows = F.transform(starts,
                          lambda s: F.concat_ws(" ", F.slice(toks, s, k)))
    return F.when(F.size(toks) >= k,
                  F.array_distinct(windows)).otherwise(
                      F.array().cast("array<string>"))


def repeated_passages(df: DataFrame, text_col: str = "text", k: int = 8,
                      min_docs: int = 2,
                      id_col: str = "doc_id") -> DataFrame:
    """Cross-document repeated-passage detection — the exact-substring
    dedup signal of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), expressed over k-token sliding windows:
    a window that occurs verbatim in >= min_docs distinct documents
    marks a duplicated passage, and each document reports what fraction
    of its distinct windows are cross-duplicated.

    Shape (reference parity: this generalizes storagetapper's row-level
    dedup-by-key to passage granularity):
      1. per-doc distinct windows (narrow generator, no shuffle);
      2. ONE gram-keyed count agg — because windows are pre-deduped per
         doc, count(*) == count of docs containing the gram, a plain
         map-side-combinable count (no countDistinct expand);
      3. gram-keyed LEFT shuffle join back (AQE skew-join safe — a
         window over partitionBy(gram) would pin hot grams to one
         task), so per-doc totals AND dup counts come out of one
         doc-keyed agg — the text is tokenized exactly ONCE;
      4. a doc_id-only (column-pruned) outer join re-attaches docs too
         short to have any window.
    At 100 TB every wide op is keyed by gram or doc_id — never all-pairs.
    """
    # r10 (guide §5): the exploded window table feeds BOTH the gram-
    # frequency agg and the join back — persist the narrow (doc_id,
    # gram) rows so the text is tokenized once, as the docstring
    # promises (plan-wise the two references otherwise re-run the
    # generator).
    exploded = df.select(id_col,
                         F.explode(token_windows(F.col(text_col), k))
                          .alias("gram")).persist()
    gram_docs = (exploded.groupBy("gram")
                 .agg(F.count(F.lit(1)).alias("n_docs"))
                 .filter(F.col("n_docs") >= min_docs))
    per_doc = (exploded.join(gram_docs, "gram", "left")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_windows"),
                    F.count("n_docs").alias("n_dup_windows"),
                    F.max("n_docs").alias("max_spread")))
    return (df.select(id_col)
            .join(per_doc, id_col, "left")
            .select(id_col,
                    F.coalesce("n_windows", F.lit(0)).cast("long")
                     .alias("n_windows"),
                    F.coalesce("n_dup_windows", F.lit(0)).cast("long")
                     .alias("n_dup_windows"),
                    F.coalesce("max_spread", F.lit(0)).cast("long")
                     .alias("max_spread"),
                    F.when(F.coalesce("n_windows", F.lit(0)) > 0,
                           F.round(F.coalesce("n_dup_windows", F.lit(0))
                                   / F.col("n_windows"), 6))
                     .otherwise(F.lit(0.0)).alias("dup_fraction")))


def adjacent_pair_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-wide adjacent-token-pair frequencies — the first merge
    round of BPE tokenizer training (Sennrich et al. 2016).  Pair
    generation is a narrow JVM generator (transform over an index
    sequence); the single wide op is the pair-keyed count, map-side
    combined, so 100 TB of text reduces to vocabulary-squared-bounded
    partial maps before the shuffle."""
    toks = F.split(F.col(text_col), " ")
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda s: F.concat_ws(" ", F.slice(toks, s, 2)))
    ).otherwise(F.array().cast("array<string>"))
    return (df.select(F.explode(pairs).alias("pair"))
            .groupBy("pair")
            .agg(F.count(F.lit(1)).alias("n")))


def bpe_greedy_merge(df: DataFrame, x: str, y: str,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Apply ONE BPE merge (x, y) → xy to every document's token stream,
    greedy left-to-right non-overlapping — the merge step between two
    pair-count rounds of tokenizer training (Sennrich et al. 2016).

    Greediness is the subtle part: in a run of CONSECUTIVE candidate
    positions (e.g. "x x x" under merge (x,x)), only every other one
    merges, counted from the run's start.  That is exactly "island
    offset is even", so the plan is gaps-and-islands over per-document
    windows: candidate flag via lead(), island key = i − running
    candidate count, in-island rank via row_number, then drop each
    merged position's right neighbor via lag().  Every window is
    partitioned by doc_id — one shuffle, partition size bounded by
    document length, no cross-document state.  Returns
    (id_col, i, tok): the merged stream keyed by original position.
    """
    toks = df.select(
        id_col, F.posexplode(F.split(F.col(text_col), " ")).alias("i", "tok"))
    return merge_stream(toks, x, y, id_col=id_col)


def merge_stream(stream: DataFrame, x: str, y: str,
                 id_col: str = "doc_id") -> DataFrame:
    """The merge itself, over an existing (id, i, tok) stream.

    REQUIRES consecutive integer positions per document (posexplode
    output, or a renumbered stream) — the island key ``i − running
    candidate count`` only groups adjacent candidates when positions
    have no gaps.  :func:`bpe_train` renumbers between rounds for
    exactly this reason."""
    from pyspark.sql import Window

    w1 = Window.partitionBy(id_col).orderBy("i")
    marked = (stream
              .withColumn("nxt", F.lead("tok").over(w1))
              .withColumn("cand", ((F.col("tok") == F.lit(x))
                                   & (F.col("nxt") == F.lit(y))).cast("int")))
    keyed = marked.withColumn(
        "ckey",
        F.when(F.col("cand") == 1,
               F.col("i") - F.sum("cand").over(
                   w1.rowsBetween(Window.unboundedPreceding, 0))))
    w2 = Window.partitionBy(id_col, "ckey").orderBy("i")
    sel = keyed.withColumn(
        "sel", (F.col("cand") == 1) & (F.row_number().over(w2) % 2 == 1))
    merged = (sel
              .withColumn("prev_sel",
                          F.lag(F.col("sel").cast("int")).over(w1))
              .filter(F.coalesce(F.col("prev_sel"), F.lit(0)) == 0)
              .select(id_col, "i",
                      F.when(F.col("sel"),
                             F.concat(F.col("tok"), F.col("nxt")))
                       .otherwise(F.col("tok")).alias("tok")))
    return merged


def pair_counts_of_stream(stream: DataFrame,
                          id_col: str = "doc_id") -> DataFrame:
    """Adjacent-pair counts over a (id, i, tok) token stream — the
    re-count after a merge step.  One doc-partitioned lead window plus
    the map-side-combined pair count."""
    from pyspark.sql import Window

    w1 = Window.partitionBy(id_col).orderBy("i")
    return (stream
            .withColumn("nxt", F.lead("tok").over(w1))
            .filter(F.col("nxt").isNotNull())
            .select(F.concat_ws(" ", "tok", "nxt").alias("pair"))
            .groupBy("pair")
            .agg(F.count(F.lit(1)).alias("n")))


def bpe_train(docs: DataFrame, rounds: int = 3, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """k rounds of BPE tokenizer training: per round, count adjacent
    pairs corpus-wide, pick the top pair (deterministic tie-break by
    pair text), merge it greedily everywhere, repeat.  Returns the merge
    table (round, pair, n) — the artifact a tokenizer ships.

    The rounds are one operators/graph.iterate ladder, so each round's
    stream is checkpointed and lineage never compounds.  Since r10 the
    stream is one token ARRAY per document (see _bpe_train_loop): a
    round costs one Arrow pass for the per-batch pair Counter, one
    tiny (pair, n) shuffle, a 1-row collect, and one Arrow merge pass
    — no doc-keyed exchanges or sorts at all."""
    merges, stream = _bpe_train_loop(docs, rounds, text_col, id_col)
    release(stream)
    return docs.sparkSession.createDataFrame(
        merges, "round int, pair string, n bigint")


def array_pair_counts(stream: DataFrame,
                      toks_col: str = "toks") -> DataFrame:
    """Adjacent-pair counts over an (id, token-array) stream — the
    array-form sibling of :func:`pair_counts_of_stream`.  Per Arrow
    batch a Counter emits only the distinct (pair, n) partials (guide
    §2.3 map-side aggregation by hand: vocabulary-squared-bounded
    output per batch, never one row per adjacent position), and one
    tiny pair-keyed agg sums the partials."""
    import pandas as pd

    def count_pairs(batches):
        from collections import Counter
        for pdf in batches:
            c: Counter = Counter()
            for a in pdf[toks_col]:
                c.update(zip(a[:-1], a[1:]))
            if c:
                yield pd.DataFrame(
                    {"pair": [f"{x} {y}" for x, y in c.keys()],
                     "n": list(c.values())})

    return (stream.select(toks_col)
            .mapInPandas(count_pairs, "pair string, n long")
            .groupBy("pair").agg(F.sum("n").alias("n")))


def _bpe_train_loop(docs: DataFrame, rounds: int, text_col: str,
                    id_col: str) -> tuple[list, DataFrame]:
    """The train loop, returning (merge list, final (id, toks) stream).

    r10 rewrite (guide §4.2/§2.3): tokens stay as ONE ARRAY ROW PER
    DOCUMENT instead of exploded (id, i, tok) rows.  Per round the
    pair count is a per-batch Counter over adjacent tokens (only the
    tiny per-batch (pair, n) partials shuffle — map-side aggregation
    by hand), and the greedy non-overlapping merge is a linear scan
    per document inside mapInPandas.  The former form paid, per round,
    a doc-keyed exchange + sort for EACH of: the lead-window count,
    the three-window gaps-and-islands merge, and the row_number
    renumber.  Now a round has exactly one shuffle (the pair-count
    agg) and zero sorts; no renumbering is needed because arrays keep
    order by construction.  The greedy semantics are identical: within
    a run of consecutive candidates the island/odd-row selection picks
    the 1st, 3rd, … — exactly what the left-to-right scan does (see
    test_bpe_merge's reference checks).

    The rounds run on operators/graph.iterate: a round collects the
    pinned generation's top pair, and the merged stream is the next
    generation.  Once no pair is left, the remaining rounds copy the
    stream unchanged."""
    import pandas as pd

    merges = []

    def step(stream: DataFrame) -> DataFrame:
        top = (array_pair_counts(stream)
               .orderBy(F.desc("n"), "pair").limit(1).collect())
        if not top:
            return stream
        pair, n = top[0]["pair"], int(top[0]["n"])
        merges.append((len(merges) + 1, pair, n))
        x, y = pair.split(" ", 1)

        def merge(batches, x=x, y=y):
            xy = x + y
            for pdf in batches:
                out = []
                for a in pdf["toks"]:
                    b, i, last = [], 0, len(a)
                    while i < last:
                        if (i + 1 < last and a[i] == x
                                and a[i + 1] == y):
                            b.append(xy)
                            i += 2
                        else:
                            b.append(a[i])
                            i += 1
                    out.append(b)
                yield pd.DataFrame({id_col: pdf[id_col], "toks": out})

        return stream.mapInPandas(merge, f"{id_col} long, toks array<string>")

    stream = iterate(docs.select(id_col,
                                 F.split(F.col(text_col), " ").alias("toks"))
                     .filter(F.col("toks").isNotNull()),
                     step, rounds)
    return merges, stream


def bpe_encode_stats(docs: DataFrame, rounds: int = 3,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """The inference side of BPE: train ``rounds`` merges and report the
    per-document compression they buy — (id, n_before, n_after, saved).
    Same checkpointed-generation ladder as :func:`bpe_train`; the stats are
    two doc-keyed counts joined on the id."""
    _, stream = _bpe_train_loop(docs, rounds, text_col, id_col)
    before = docs.select(
        id_col,
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_before"))
    after = stream.select(id_col,
                          F.size("toks").cast("long").alias("n_after"))
    return (before.join(after, id_col)
            .select(id_col, "n_before", "n_after",
                    (F.col("n_before") - F.col("n_after")).alias("saved")))
