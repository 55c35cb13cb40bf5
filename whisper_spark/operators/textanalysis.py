"""Text-analysis operators: language-ID, quality scoring, token counting,
fingerprinting.  All pure column expressions (whole-stage codegen; no
Python in the hot path), so they compose with filters/joins and scan at
parquet speed on any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import word_tokens

#: marker tokens per language for the n-gram heuristic; extend freely.
LANG_MARKERS: list[tuple[str, str]] = [
    ("en", " the "),
    ("de", " der "),
    ("es", " el "),
    ("fr", " le "),
    ("zh", " de "),
]

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "on", "for"]


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Append a predicted-language column: counts of per-language marker
    tokens, priority-ordered argmax (deterministic ties)."""
    padded = F.concat(F.lit(" "), F.col(text_col), F.lit(" "))
    counts = {
        lang: (
            (F.length(padded) - F.length(F.replace(padded, F.lit(m)))) / F.lit(len(m))
        ).cast("long")
        for lang, m in LANG_MARKERS
    }
    mx = F.greatest(*counts.values())
    expr = None
    for lang, cnt in counts.items():
        cond = cnt == mx
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return df.withColumn(out_col, expr)


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append n_tokens (whitespace), n_bpe_est (~chars/4, the BPE-ish
    estimate), avg_tok_len."""
    toks = word_tokens(text_col)
    return (
        df.withColumn("n_tokens", F.size(toks).cast("long"))
        .withColumn("n_bpe_est", F.ceil(F.length(text_col) / 4.0).cast("long"))
        .withColumn(
            "avg_tok_len",
            F.length(F.regexp_replace(text_col, " ", "")) * 1.0 / F.size(toks),
        )
    )


def quality_score(df: DataFrame, text_col: str = "text", out_col: str = "score") -> DataFrame:
    """Append a [0,1] quality score: stopword ratio + length + token
    shape.  Deliberately simple and fully declarative — swap the formula,
    keep the shape."""
    toks = word_tokens(text_col)
    stop_toks = F.filter(
        F.split(F.col(text_col), " "), lambda x: x.isin(*STOPWORDS)
    )
    n = F.size(toks)
    stop_ratio = F.size(stop_toks) * F.lit(1.0) / n
    avg_len = F.length(F.regexp_replace(text_col, " ", "")) * 1.0 / n
    score = (
        0.4 * stop_ratio
        + 0.3 * F.when(n >= 20, F.lit(1.0)).otherwise(n / F.lit(20.0))
        + 0.3 * F.when((avg_len >= 3) & (avg_len <= 8), F.lit(1.0)).otherwise(F.lit(0.0))
    )
    return df.withColumn("stop_ratio", stop_ratio).withColumn(out_col, score)


def fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "fp") -> DataFrame:
    """Append a normalized content fingerprint (md5 of lower/trim) —
    engine-portable (see functions.hashing)."""
    return df.withColumn(out_col, F.md5(F.lower(F.trim(F.col(text_col)))))


def chunk_fixed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 200,
    stride: int = 150,
) -> DataFrame:
    """Split documents into fixed-size character chunks with overlap —
    the training-pipeline pre-tokenization step.

    Chunk ``i`` covers characters ``[i*stride, i*stride + chunk_size)``
    (1-based substring), for ``i in [0, ceil(len/stride))``; the trailing
    chunk may be shorter, and when ``chunk_size > stride`` the final
    chunk can be a suffix of the previous one — the rule is deliberately
    closed-form so it is reproducible by any engine.

    One narrow generate-and-explode per row: no shuffle, no Python; the
    output keeps ``(id, chunk_id)`` so downstream tokenization can
    repartition by id for locality.
    """
    n_chunks = F.greatest(
        F.lit(1), F.ceil(F.length(text_col) / F.lit(float(stride)))
    ).cast("int")
    chunk = F.expr(
        f"substring({text_col}, chunk_id * {stride} + 1, {chunk_size})"
    )
    return (
        df.select(
            id_col,
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
            F.col(text_col),
        )
        .select(
            id_col,
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.length(chunk).cast("long").alias("chunk_len"),
            F.md5(chunk).alias("chunk_sig"),
        )
    )


def _word_grams(text_col: str, n: int) -> F.Column:
    """Array of word n-grams (split on single space), duplicates kept.
    Guarded so docs with fewer than n words yield an EMPTY array —
    ``sequence(1, 0)`` in Spark counts DOWN ([1, 0]), it is not empty.

    Let-binding form (see functions.hashing.word_ngrams_expr): the
    outer transform over a 1-element array binds the split ONCE per
    row; slicing an inlined split inside the per-gram lambda would
    re-split the text per gram (O(words²) per document)."""
    return F.expr(
        f"flatten(transform(array(split({text_col}, ' ')), ws -> "
        f"CASE WHEN size(ws) >= {n} THEN "
        f"transform(sequence(1, size(ws) - {n - 1}), "
        f"i -> array_join(slice(ws, i, {n}), ' ')) "
        f"ELSE CAST(array() AS array<string>) END))"
    )


def word_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    out_col: str = "g",
) -> DataFrame:
    """Distinct word n-grams per document (split on single space),
    ``(id, g)`` rows.  Declarative transform+explode — no Python."""
    grams = _word_grams(text_col, n)
    return df.select(
        F.col(id_col), F.explode(F.array_distinct(grams)).alias(out_col)
    )


def contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: for each corpus document, count the
    distinct word n-grams it shares with ANY benchmark document, plus how
    many distinct benchmark documents it collides with.

    The join is an equi-join on the n-gram string — shuffle volume is
    proportional to matching shingles, never |corpus| x |benchmark|.  At
    100 TB the benchmark side is small (eval sets) and broadcasts; the
    corpus side streams through one exploded scan.
    """
    cg = word_ngrams(corpus, text_col, id_col, n)
    bg = word_ngrams(benchmark, text_col, id_col, n).withColumnRenamed(
        id_col, "bench_id"
    )
    hits = cg.join(F.broadcast(bg), "g")
    return hits.groupBy(id_col).agg(
        F.count_distinct("g").alias("n_hits"),
        F.count_distinct("bench_id").alias("n_bench_docs"),
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Intra-document repetition (Gopher-style quality rule): total vs
    distinct word n-grams and the duplicate fraction.  Group-by on the
    document id only — partial aggregation keeps the shuffle narrow."""
    grams = _word_grams(text_col, n)
    per_doc = df.select(
        F.col(id_col),
        F.size(grams).cast("long").alias("n_grams"),
        F.size(F.array_distinct(grams)).cast("long").alias("n_distinct"),
    )
    return per_doc.withColumn(
        "dup_ratio",
        F.when(F.col("n_grams") > 0,
               (F.col("n_grams") - F.col("n_distinct")) * F.lit(1.0) / F.col("n_grams"))
        .otherwise(F.lit(0.0)),
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    "Winnowing: Local Algorithms for Document Fingerprinting", the MOSS
    algorithm; public paper, no reference-repo analog).

    Hash every ``k``-char gram (60-bit md5 so any engine reproduces it),
    slide a window of ``w`` consecutive hashes, and keep each window's
    MINIMUM: the selected set is position-robust (guaranteed to share
    fingerprints with any copy >= w+k-1 chars) yet ~1/w the gram count.

    Returns (id, n_fp, fp_sig): distinct-fingerprint count and the md5 of
    the sorted fingerprint list — a verifiable digest of the exact
    selection.  Pure array expressions over one scan; joining docs on
    exploded fingerprints is the near-dup candidate generator, with
    shuffle proportional to matches like the MinHash-LSH path."""
    t = F.col(text_col)
    hashes = F.expr(
        f"CASE WHEN length({text_col}) >= {k} THEN "
        f"transform(sequence(1, length({text_col}) - {k - 1}), "
        f"i -> cast(conv(substring(md5(substring({text_col}, i, {k})), 1, 15), 16, 10) AS BIGINT)) "
        f"ELSE CAST(array() AS array<bigint>) END"
    )
    h = df.select(F.col(id_col), hashes.alias("hs"))
    fps = F.when(
        F.size("hs") >= w,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("hs") - (w - 1)),
                lambda i: F.array_min(F.slice("hs", i, w)),
            )
        ),
    ).otherwise(
        F.array_distinct(
            F.when(F.size("hs") > 0, F.array(F.array_min("hs"))).otherwise(
                F.expr("CAST(array() AS array<bigint>)")
            )
        )
    )
    out = h.select(F.col(id_col), fps.alias("fps"))
    return out.select(
        F.col(id_col),
        F.size("fps").cast("long").alias("n_fp"),
        F.md5(
            F.array_join(
                F.transform(F.array_sort("fps"), lambda x: x.cast("string")), ","
            )
        ).alias("fp_sig"),
    )


def bigram_lm_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int | None = None,
) -> DataFrame:
    """Corpus-trained bigram-LM fluency score per document — the
    perplexity-style quality filter of CCNet/Gopher pipelines, trained
    on the corpus itself instead of an external model.

    Model: add-one-smoothed conditional ``P(w2|w1) = (c(w1,w2) + 1) /
    (c(w1) + V)`` with counts from ONE pass over the corpus' bigrams.
    The score is the per-doc AVERAGE conditional probability, kept in
    RATIONAL arithmetic (integer counts, one exact float division per
    distinct bigram, decimal accumulation) so it is bit-deterministic
    on any engine — the log-space cross-entropy is one ``F.log`` away
    for users who want perplexity units but costs engine-dependent
    transcendentals.

    Scale: two count aggregations + two joins keyed on bigram/unigram
    (shuffle ~ corpus token count, the same cost class as TF-IDF);
    ``V`` is one bounded driver probe (same precedent as the session
    now-pin) unless passed explicitly.  A note for 100 TB callers: the
    exploded bigram frame feeds three subtrees and Catalyst will NOT
    exchange-reuse them (join-key null filters make the canonical
    plans differ), so checkpoint your own pre-aggregated per-doc bigram
    counts first — see q_doc_bigram_lm_score for the weighted-sum
    restructure that keeps results bit-identical.

    Returns (id, n_bigrams, avg_bigram_prob); docs with < 2 tokens are
    absent (no bigram evidence).
    """
    toks = word_tokens(text_col)
    tdf = docs.select(F.col(id_col), toks.alias("t"))
    if vocab_size is None:
        vocab_size = (
            tdf.select(F.explode("t").alias("w")).distinct().count()
        )
    big = (
        tdf.filter(F.size("t") >= 2)
        .select(
            id_col,
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> struct(element_at(t, i) AS w1, "
                    "element_at(t, i + 1) AS w2))"
                )
            ).alias("b"),
        )
        .select(id_col, "b.w1", "b.w2")
    )
    c2 = big.groupBy("w1", "w2").agg(F.count("*").alias("_c2"))
    c1 = big.groupBy("w1").agg(F.count("*").alias("_c1"))
    p = (
        (F.col("_c2") + 1) * 1.0 / (F.col("_c1") + F.lit(int(vocab_size)))
    ).cast("decimal(25,8)")
    scored = (
        big.join(c2, ["w1", "w2"]).join(c1, ["w1"]).select(id_col, p.alias("_p"))
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        (F.sum("_p").cast("string").cast("double") / F.count("*"))
        .alias("avg_bigram_prob"),
    )


def build_vocab(
    docs: DataFrame,
    text_col: str = "text",
    vocab_size: int = 1000,
) -> DataFrame:
    """Corpus vocabulary: the ``vocab_size`` most frequent whitespace
    tokens, ids assigned 1..N by (count desc, token asc) — fully
    deterministic; id 0 is reserved for OOV.  One count aggregation +
    one distributed top-N; the dense id assignment happens on the
    driver over the <=vocab_size collected survivors (top-N bounded by
    construction) and is broadcast back — no WindowExec anywhere."""
    counts = (
        docs.select(F.explode(word_tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("count"))
    )
    # orderBy+limit compiles to TakeOrderedAndProject — a distributed
    # top-N, never a single-partition sort of the full vocabulary
    top = sorted(
        counts.orderBy(F.desc("count"), F.asc("token"))
        .limit(vocab_size)
        .collect(),
        key=lambda r: (-r["count"], r["token"]),
    )
    return docs.sparkSession.createDataFrame(
        [(r["token"], i + 1, r["count"]) for i, r in enumerate(top)],
        "token string, token_id int, count bigint",
    )


def encode_token_ids(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode each document as its token-id sequence against ``vocab``
    (OOV -> 0).  The vocab is broadcast (top-N bounded); the sequence
    itself is order-preserving via positional explode + re-collect, and
    the output carries an md5 signature of the id sequence so equality
    is checkable without array-representation pitfalls.

    Returns (id, n_tokens, n_oov, ids_sig)."""
    pos = docs.select(
        F.col(id_col),
        F.posexplode(word_tokens(text_col)).alias("pos", "token"),
    )
    joined = pos.join(F.broadcast(vocab.select("token", "token_id")),
                      "token", "left").select(
        id_col, "pos",
        F.coalesce(F.col("token_id"), F.lit(0)).alias("tid"),
    )
    seq = F.expr(
        "transform(array_sort(collect_list(struct(pos, tid))), s -> s.tid)"
    )
    return joined.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum((F.col("tid") == 0).cast("long")).cast("long").alias("n_oov"),
        F.md5(
            F.array_join(
                F.transform(seq, lambda x: x.cast("string")), ","
            )
        ).alias("ids_sig"),
    )


# --------------------------------------------------------------------- #
# BPE merge training (Sennrich et al. 2016, the subword-vocab shape)
# --------------------------------------------------------------------- #

#: symbol separator inside a word's merge sequence; words containing it
#: are dropped on both engines (defensive — it never occurs in text)
BPE_SEP = "\x1f"


def _bpe_merge_fold(col: F.Column, left: str, right: str) -> F.Column:
    """Apply ONE learned merge (left, right) to a BPE-SEP-joined symbol
    string: the classic leftmost, non-overlapping single pass, as a
    string left-fold.  A merge fires when the accumulator's LAST symbol
    is exactly ``left`` and the incoming symbol is ``right``; the merged
    symbol is their concatenation, so firing appends ``right`` with no
    separator.  A symbol created by a merge earlier in the pass is never
    re-merged (its value is left+right, not left) — exactly Sennrich's
    re.sub semantics.  The same fold is expressible verbatim in DuckDB
    (``list_reduce`` over ``list_prepend('', string_split(...))``), which
    is what makes the training oracle-checkable bit-for-bit."""
    sep_left = F.lit(BPE_SEP + left)

    def step(acc: F.Column, x: F.Column) -> F.Column:
        fires = (x == F.lit(right)) & (
            (acc == F.lit(left)) | acc.endswith(sep_left)
        )
        return (
            F.when(fires, F.concat(acc, x))
            .when(acc == F.lit(""), x)
            .otherwise(F.concat(acc, F.lit(BPE_SEP), x))
        )

    return F.aggregate(F.split(col, BPE_SEP), F.lit(""), step)


def _bpe_word_freqs(docs: DataFrame, text_col: str) -> DataFrame:
    """(w, freq, seq) per distinct whitespace word — seq is the word's
    character sequence joined by BPE_SEP.  Characters come from an
    explicit substring transform (NOT split(w, '')) so Spark and DuckDB
    agree codepoint-for-codepoint.  ``w`` rides along so the trained
    table doubles as the segmentation vocabulary (the train/apply fusion
    in :func:`bpe_token_counts` joins occurrences back on it)."""
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.explode(word_tokens(text_col)).alias("w"))
        .filter(~F.col("w").contains(BPE_SEP))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
        .select(
            "w",
            "freq",
            F.array_join(
                F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
                BPE_SEP,
            ).alias("seq"),
        )
    )


def bpe_train_merges(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    return_vocab: bool = False,
):
    """Train ``n_merges`` BPE merges on the corpus; returns
    [(left, right, pair_freq), ...] in learned order — or, with
    ``return_vocab=True``, ``(merges, vocab)`` where ``vocab`` is the
    checkpointed (w, freq, seq) table with ALL learned merges applied: the
    training by-product that :func:`bpe_token_counts` can segment with
    directly (train/apply fusion — the apply-side re-fold of the whole
    vocabulary through every merge disappears, because training already
    folded each merge in as it was learned; leftmost-non-overlapping
    single passes compose identically either way).

    Distributed shape per round: ONE pair-count aggregation over the
    distinct-word table (freq-weighted adjacent symbol pairs) and ONE
    top-1 collect — a single bounded row per round, the same
    driver-literal envelope as the trained-IVF centroids.  The word
    table is checkpointed and each round's fold of it is checkpointed
    in turn, so lineage stays O(1) deep.  Ties break (count desc, left
    asc, right asc) — fully deterministic.
    At 100 TB the word table is the DISTINCT vocabulary (Zipf-bounded,
    orders of magnitude under the corpus); every per-round job is a
    groupBy over it, never a corpus rescan."""
    words = _bpe_word_freqs(docs, text_col).localCheckpoint()
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        s = F.split(F.col("seq"), BPE_SEP)
        # words are short, so re-evaluating the split inside the
        # lambda is a non-issue (contrast word_ngrams_expr's
        # let-binding idiom, where texts are documents)
        pair_arr = F.transform(
            F.sequence(F.lit(1), F.size(s) - 1),
            lambda i: F.struct(
                F.element_at(s, i).alias("l"),
                F.element_at(s, i + 1).alias("r"),
            ),
        )
        top = (
            words.filter(F.size(s) >= 2)
            .select("freq", F.explode(pair_arr).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, c = top[0]["l"], top[0]["r"], int(top[0]["c"])
        merges.append((left, right, c))
        words = words.select(
            "w", "freq",
            _bpe_merge_fold(F.col("seq"), left, right).alias("seq"),
        ).localCheckpoint()
    if not return_vocab:
        return merges
    return merges, words


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
) -> DataFrame:
    """BPE merge table as a DataFrame:
    (merge_rank, lhs, rhs, pair_freq) in learned order."""
    spark = docs.sparkSession
    merges = bpe_train_merges(docs, text_col, n_merges)
    return spark.createDataFrame(
        [(i + 1, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "merge_rank int, lhs string, rhs string, pair_freq long",
    )


def bpe_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Segment every document with the learned merges and report
    (id, n_words, n_chars, n_bpe_tokens) — the compression-ratio
    numbers a subword-vocab pipeline tracks.

    The merge chain is applied per DISTINCT word (Zipf: the distinct
    vocabulary is orders of magnitude under the occurrence count), then
    joined back to occurrences — so the fold cost is vocabulary-
    proportional, and the join key is the word itself.

    ``vocab``: the (w, ..., seq) table from ``bpe_train_merges(...,
    return_vocab=True)`` — its ``seq`` already carries every learned
    merge (training folds each merge in as it is learned, and leftmost-
    non-overlapping passes compose), so passing it skips BOTH the
    distinct-word shuffle and the apply-side re-fold of the vocabulary
    through the whole merge chain.  The caller must pass the vocab
    trained on the SAME docs/merges; results are bit-identical either
    way (pinned by tests/test_operators.py)."""
    occ = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.explode(word_tokens(text_col)).alias("w"))
        .filter(~F.col("w").contains(BPE_SEP))
    )
    if vocab is not None:
        missing = {"w", "seq"} - set(vocab.columns)
        if missing:
            raise ValueError(
                "vocab= must be the (w, ..., seq) table from "
                "bpe_train_merges(return_vocab=True); missing columns "
                f"{sorted(missing)} — a mismatched frame would silently "
                "drop words absent from it (ADVICE r13)"
            )
        dtok = vocab.select(
            "w",
            F.size(F.split(F.col("seq"), BPE_SEP)).cast("long").alias("n_sym"),
        )
    else:
        dseq = occ.select("w").distinct().select(
            "w",
            F.array_join(
                F.expr(
                    "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
                ),
                BPE_SEP,
            ).alias("seq"),
        )
        col = F.col("seq")
        for m in merges:
            col = _bpe_merge_fold(col, m[0], m[1])
        dtok = dseq.select(
            "w", F.size(F.split(col, BPE_SEP)).cast("long").alias("n_sym")
        )
    return (
        occ.join(dtok, "w")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum(F.length("w")).cast("long").alias("n_chars"),
            F.sum("n_sym").cast("long").alias("n_bpe_tokens"),
        )
    )


# --------------------------------------------------------------------- #
# PII detection / redaction (the C4/Dolma curation-scrub shape)
# --------------------------------------------------------------------- #

#: detection patterns, deliberately restricted to the regex subset with
#: identical semantics in Java regex (Spark) and RE2 (DuckDB oracle):
#: character classes, bounded repetition, ASCII \b — no lookaround, no
#: backreferences, no ambiguous alternation
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("emails", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ips", r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phones", r"\+\d{7,15}", "<PHONE>"),
]


def pii_scrub(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: list[tuple[str, str, str]] | None = None,
) -> DataFrame:
    """Detect and redact PII-shaped spans — by default emails, IPv4
    addresses, +international phone numbers — as pure column
    expressions (JVM regex, whole-stage codegen, no Python).

    ``patterns``: ordered (name, regex, replacement) triples; stick to
    the Java/RE2-common subset if the output feeds a cross-engine
    oracle.  Counts are reported against the ORIGINAL text per
    pattern; redaction is SEQUENTIAL (each pass over the previous
    pass's output, in list order) so overlapping candidates resolve
    deterministically.  Returns (id, n_<name>..., redacted_len,
    redacted_sig, redacted_text) — the md5 signature makes the exact
    transform checkable without shipping long strings.
    """
    t = F.col(text_col)
    red = t
    counts = []
    for name, pat, tok in patterns if patterns is not None else PII_PATTERNS:
        counts.append(
            F.regexp_count(t, F.lit(pat)).cast("long").alias(f"n_{name}")
        )
        red = F.regexp_replace(red, pat, tok)
    return docs.select(
        F.col(id_col),
        *counts,
        F.length(red).cast("long").alias("redacted_len"),
        F.md5(red).alias("redacted_sig"),
        red.alias("redacted_text"),
    )


#: required-stopword set for the Gopher document filter (Rae et al.
#: 2021, "Scaling Language Models: ... Gopher", App. A1.1): a document
#: must contain at least 2 of these as whole tokens.
GOPHER_REQUIRED_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_metric_cols(text_col: str = "text") -> dict:
    """The Gopher quality METRICS as named per-row column expressions
    — shared by :func:`gopher_rules` (which applies the paper's
    thresholds) and :func:`quality_features` (which assembles the raw
    metrics into a classifier feature matrix), so the two can never
    drift.  Division guards: a zero token count divides by 1 (the
    word-count rule fails such docs anyway)."""
    t = F.col(text_col)
    toks = word_tokens(text_col)
    n = F.size(toks)
    nz = F.when(n > 0, n).otherwise(F.lit(1))
    mean_wl = F.length(F.concat_ws("", toks)) * F.lit(1.0) / nz
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#")))
    n_ell = (F.length(t) - F.length(F.replace(t, F.lit("...")))) / F.lit(3)
    sym_ratio = (n_hash + n_ell) * F.lit(1.0) / nz
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    bullets = F.size(
        F.filter(
            lines,
            lambda x: F.ltrim(x).startswith("-")
            | F.ltrim(x).startswith("*")
            | F.ltrim(x).startswith("•"),
        )
    )
    ellipsis_lines = F.size(
        F.filter(lines, lambda x: F.rtrim(x).endswith("..."))
    )
    alpha = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    stops = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(s) for s in GOPHER_REQUIRED_STOPS]),
        )
    )
    return {
        "n_words": n.cast("long"),
        "mean_word_len": mean_wl,
        "symbol_ratio": sym_ratio,
        "bullet_line_frac": bullets * F.lit(1.0) / n_lines,
        "ellipsis_line_frac": ellipsis_lines * F.lit(1.0) / n_lines,
        "alpha_word_frac": alpha * F.lit(1.0) / nz,
        "n_required_stops": stops.cast("long"),
    }


def gopher_rules(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """The published Gopher document-quality ruleset (Rae et al. 2021,
    Appendix A1.1) as one declarative pass — the standard pre-training
    corpus filter, complementing :func:`repetition_stats` (which covers
    the paper's intra-document repetition rules):

    1. word count in [min_words, max_words];
    2. mean word length in [3, 10];
    3. symbol-to-word ratio (``#`` and ``...``) <= 0.1;
    4. < 90% of lines may NOT start with a bullet  -> i.e. at most 90%
       bullet lines (paper: drop if > 90% bullet-started lines);
    5. <= 30% of lines end with an ellipsis;
    6. >= 80% of words contain at least one alphabetic character;
    7. >= 2 distinct tokens from :data:`GOPHER_REQUIRED_STOPS`.

    Everything is JVM column expressions over one pass of the text
    (whole-stage codegen, per-row independent — embarrassingly
    parallel, no shuffle), so the filter runs at parquet scan speed at
    any corpus size and composes with partition-pruned reads.

    Output: (id, n_words, mean_word_len, symbol_ratio,
    bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
    n_required_stops, pass_gopher) — the metric columns make each
    rule's contribution auditable; ``pass_gopher`` is the conjunction.
    """
    m = gopher_metric_cols(text_col)
    passes = (
        (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= 3) & (F.col("mean_word_len") <= 10)
        & (F.col("symbol_ratio") <= 0.1)
        & (F.col("bullet_line_frac") <= 0.9)
        & (F.col("ellipsis_line_frac") <= 0.3)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("n_required_stops") >= 2)
    )
    return (
        docs.select(F.col(id_col), *[c.alias(k) for k, c in m.items()])
        .withColumn("pass_gopher", passes)
    )


def repetition_full(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 10),
) -> DataFrame:
    """The FULL Gopher repetition rule set (Rae et al. 2021, App. A1.1
    "repetitious" filters), complementing :func:`repetition_stats`:

    - ``dup_line_frac`` / ``dup_line_char_frac``: fraction of lines
      (and of line characters) belonging to a line that occurs more
      than once in the document;
    - ``top{n}_char_frac`` for n in ``top_ns``: characters covered by
      the single most frequent word n-gram (count x gram length) over
      the document's total characters;
    - ``dup{n}_char_frac`` for n in ``dup_ns``: characters covered by
      word n-grams occurring more than once (count x gram length,
      the standard approximation that counts overlapping coverage
      multiply) over total characters.

    Shape, designed for corpus scale: ONE generate-and-explode pass
    emits (id, n, gram) rows for every rule at once (lines ride along
    as n = 0), then two hash aggregations — (id, n, gram) counts, then
    per-(id, n) rule stats — and a conditional-aggregation pivot back
    to one row per document.  Everything shuffles on narrow keys; no
    Python, no window over the whole corpus, linear in total grams.

    Deterministic top-gram tie-break: max by (count, gram length,
    gram) — mirrored in the DuckDB oracle with an ORDER BY row_number.
    """
    t, i = text_col, id_col
    parts = [
        f"transform(split({t}, '\\n'), x -> named_struct('n', 0, 'g', x))"
    ]
    for n in sorted(set(top_ns) | set(dup_ns)):
        parts.append(
            f"transform(flatten(transform(array(split({t}, ' ')), ws -> "
            f"CASE WHEN size(ws) >= {n} THEN "
            f"transform(sequence(1, size(ws) - {n - 1}), "
            f"k -> array_join(slice(ws, k, {n}), ' ')) "
            f"ELSE CAST(array() AS array<string>) END)), "
            f"x -> named_struct('n', {n}, 'g', x))"
        )
    rows = docs.select(
        F.col(i),
        F.length(t).cast("long").alias("_doc_chars"),
        F.explode(F.expr("concat(" + ", ".join(parts) + ")")).alias("e"),
    ).select(
        i, "_doc_chars",
        F.col("e.n").alias("n"),
        F.col("e.g").alias("g"),
    )
    counted = (
        rows.groupBy(i, "n", "g")
        .agg(
            F.count("*").alias("cnt"),
            F.first("_doc_chars").alias("_doc_chars"),
        )
        .withColumn("len", F.length("g"))
    )
    per_n = (
        counted.groupBy(i, "n")
        .agg(
            F.first("_doc_chars").alias("doc_chars"),
            F.sum("cnt").alias("total"),
            F.sum(F.col("cnt") * F.col("len")).alias("wchars"),
            F.sum(F.when(F.col("cnt") >= 2, F.col("cnt"))
                  .otherwise(F.lit(0))).alias("dup"),
            F.sum(F.when(F.col("cnt") >= 2, F.col("cnt") * F.col("len"))
                  .otherwise(F.lit(0))).alias("dup_wchars"),
            F.max(F.struct("cnt", "len", "g")).alias("top"),
        )
    )
    frac = lambda num, den: F.when(den > 0, num * F.lit(1.0) / den)  # noqa: E731
    aggs = [
        F.max(F.when(F.col("n") == 0,
                     frac(F.col("dup"), F.col("total"))))
        .alias("dup_line_frac"),
        F.max(F.when(F.col("n") == 0,
                     frac(F.col("dup_wchars"), F.col("wchars"))))
        .alias("dup_line_char_frac"),
    ]
    for n in top_ns:
        aggs.append(
            F.max(F.when(F.col("n") == n,
                         frac(F.col("top.cnt") * F.col("top.len"),
                              F.col("doc_chars"))))
            .alias(f"top{n}_char_frac")
        )
    for n in dup_ns:
        aggs.append(
            F.max(F.when(F.col("n") == n,
                         frac(F.col("dup_wchars"), F.col("doc_chars"))))
            .alias(f"dup{n}_char_frac")
        )
    return per_n.groupBy(i).agg(*aggs)


def c4_filters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_kept_lines: int = 5,
    min_line_words: int = 3,
) -> DataFrame:
    """The C4 cleaning heuristics (Raffel et al. 2020, §2.2 — the
    TRANSFORMING filter, where :func:`gopher_rules` only scores):

    line level — retain only lines that end in a terminal punctuation
    mark (``. ! ? "``), contain at least ``min_line_words`` words, and
    do not mention "javascript" (case-insensitive); document level —
    drop documents containing "lorem ipsum" (case-insensitive) or a
    curly brace, or retaining fewer than ``min_kept_lines`` lines.

    Pure higher-order column expressions per row (no shuffle, no
    Python): the line filter is one ``filter()`` over the split
    array, so the pass runs at parquet-scan speed and composes with
    partition pruning at any corpus size.  The cleaned text is
    returned alongside an md5 signature so exact-transform checks
    never ship long strings.

    Output: (id, n_lines, n_kept, kept_char_frac, has_lorem,
    has_brace, keep_doc, clean_len, clean_sig, clean_text).
    """
    t = F.col(text_col)
    lines = F.split(t, "\n")
    kept = F.filter(
        lines,
        lambda x: F.rtrim(x).rlike('[.!?"]$')
        & (F.size(F.filter(F.split(x, " "), lambda w: w != ""))
           >= min_line_words)
        & ~F.lower(x).contains("javascript"),
    )
    clean = F.array_join(kept, "\n")
    has_lorem = F.lower(t).contains("lorem ipsum")
    has_brace = t.contains("{")
    n_kept = F.size(kept)
    keep_doc = ~has_lorem & ~has_brace & (n_kept >= min_kept_lines)
    return docs.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        n_kept.cast("long").alias("n_kept"),
        F.when(F.length(t) > 0,
               F.length(clean) * F.lit(1.0) / F.length(t))
        .alias("kept_char_frac"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        keep_doc.alias("keep_doc"),
        F.length(clean).cast("long").alias("clean_len"),
        F.md5(clean).alias("clean_sig"),
        clean.alias("clean_text"),
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 50,
) -> DataFrame:
    """BM25 retrieval scoring of a fixed query against the corpus —
    the search shape behind decontamination lookups and curation
    retrieval (Robertson/Sparck-Jones probabilistic weighting with the
    Okapi tf saturation).

    Determinism-first design (repo policy): the idf is the LOG-FREE
    Robertson ratio ``(N - df + 0.5) / (df + 0.5)`` — monotone in the
    standard ``ln`` idf, so rankings match, while avoiding libm's
    engine-dependent last-ulp ``ln`` — and the per-term contributions
    are added in FIXED query order, so Spark and a SQL oracle produce
    bit-identical doubles.  A production deployment would swap the
    ratio for ``ln(ratio)`` at the one marked expression.

    Spark-first plan, no per-term shuffle: term frequencies are
    per-row ``size(filter(tokens, = term))`` columns (the query is
    fixed and short), corpus stats (N, avgdl, one df per term) are ONE
    scalar aggregation broadcast back via a 1-row join, scoring is
    per-row arithmetic, and the top-k is a distributed
    TakeOrderedAndProject on (score DESC, id ASC) — no global sort,
    no explode, linear in corpus size.

    Output: (id, dl, tf_<i>..., score) — the top ``k`` rows.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    toks = word_tokens(text_col)
    dl = F.size(toks).cast("long")

    def _tf(term: str) -> F.Column:
        # closure, NOT a default-arg lambda: pyspark's filter() passes
        # the element INDEX to a second lambda parameter, which would
        # silently shadow the term
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    tf_cols = {
        f"tf_{i}": _tf(t).cast("long")
        for i, t in enumerate(query_terms)
    }
    base = docs.select(
        F.col(id_col), dl.alias("dl"),
        *[c.alias(name) for name, c in tf_cols.items()],
    )
    stats = base.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0))
            .cast("long").alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = base.join(F.broadcast(stats))
    avgdl = F.col("sum_dl") * F.lit(1.0) / F.col("n_docs")
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl)
    score = None
    for i in range(len(query_terms)):
        # production: ln() of this ratio (marked libm swap point)
        idf = (
            (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5))
        )
        contrib = idf * (
            F.col(f"tf_{i}") * F.lit(k1 + 1.0)
            / (F.col(f"tf_{i}") + norm)
        )
        score = contrib if score is None else score + contrib
    out = scored.select(
        id_col, "dl",
        *[f"tf_{i}" for i in range(len(query_terms))],
        score.alias("score"),
    )
    return out.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def quality_features(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple = (),
) -> DataFrame:
    """Per-document quality FEATURE MATRIX — the frame a curation team
    trains its quality classifier (fastText / logreg) on: the Gopher
    metrics (:func:`gopher_metric_cols`, shared expressions so filter
    and features can never drift), token-shape statistics, the simple
    stopword ratio, the intra-document 3-gram duplication ratio, and a
    naive English indicator.

    Deliberately ONE projection: every feature is a per-row column
    expression over the same text, so the plan is a single
    exchange-free scan pass (enforced in tests/test_plan_properties.py)
    — at corpus scale this matters, because the alternative (running
    each scorer separately and joining on the id) pays one shuffle per
    feature family for the same arithmetic.

    Output: (id, <keep_cols...>, <gopher metrics...>, n_tokens,
    avg_tok_len, n_bpe_est, stop_ratio, dup3_ratio, is_en) —
    ``keep_cols`` passes through grouping columns (e.g. source) so
    downstream selection never needs a join back to the corpus.
    """
    t = F.col(text_col)
    toks = word_tokens(text_col)
    n = F.size(toks)
    nz = F.when(n > 0, n).otherwise(F.lit(1))
    grams3 = _word_grams(text_col, 3)
    ng = F.size(grams3)
    ngz = F.when(ng > 0, ng).otherwise(F.lit(1))
    stop_toks = F.filter(
        F.split(t, " "), lambda x: x.isin(*STOPWORDS)
    )
    en_stops = F.filter(
        F.split(F.lower(t), " "),
        lambda x: x.isin("the", "and", "of", "to", "is", "in", "that", "it"),
    )
    feats = dict(gopher_metric_cols(text_col))
    feats.update({
        "n_tokens": n.cast("long"),
        "avg_tok_len": F.length(F.regexp_replace(t, " ", ""))
        * F.lit(1.0) / nz,
        "n_bpe_est": F.ceil(F.length(t) / 4.0).cast("long"),
        "stop_ratio": F.size(stop_toks) * F.lit(1.0) / nz,
        "dup3_ratio": (ng - F.size(F.array_distinct(grams3)))
        * F.lit(1.0) / ngz,
        "is_en": (F.size(en_stops) > 0) | (F.length(t) == 0),
    })
    return docs.select(
        F.col(id_col), *[F.col(c) for c in keep_cols],
        *[c.alias(k) for k, c in feats.items()]
    )


#: demo weights for the linear quality scorer — a stand-in for trained
#: classifier coefficients (the feature matrix is what you train on);
#: fixed ORDER matters: contributions add left-to-right for
#: cross-engine bit determinism.
QUALITY_LOGIT_WEIGHTS: list[tuple[str, float]] = [
    ("alpha_word_frac", 2.0),
    ("stop_ratio", 1.5),
    ("mean_word_len", 0.25),
    ("symbol_ratio", -3.0),
    ("dup3_ratio", -2.0),
    ("ellipsis_line_frac", -1.0),
]


def quality_logit_select(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    weights: list[tuple[str, float]] | None = None,
    top_frac: float = 0.25,
) -> DataFrame:
    """Apply a linear quality classifier over :func:`quality_features`
    and keep each group's top fraction — the standard
    classifier-filtered curation step (score with trained weights,
    keep the best quartile PER SOURCE so no single source dominates).

    The score is a FIXED-ORDER weighted sum of feature columns (bit
    deterministic across engines; a deployment would wrap it in a
    sigmoid, which is monotone, so selection is unchanged — the one
    marked libm swap point).  Selection is a per-group window rank:
    ``rank <= ceil(top_frac * n_group)`` under (score DESC, id ASC) —
    partitioned by the group column, so it scales with group
    parallelism and never sorts globally.

    Output: (id, group, score, n_group, rnk) for the selected rows.
    """
    from pyspark.sql import Window

    feats = quality_features(docs, text_col, id_col, keep_cols=(group_col,))
    score = None
    for name, w in weights if weights is not None else QUALITY_LOGIT_WEIGHTS:
        c = F.col(name) * F.lit(w)
        score = c if score is None else score + c
    scored = feats.select(
        id_col, group_col, score.alias("score")
    )
    wr = Window.partitionBy(group_col).orderBy(
        F.desc("score"), F.asc(id_col)
    )
    wc = Window.partitionBy(group_col)
    ranked = (
        scored.withColumn("rnk", F.row_number().over(wr))
        .withColumn("n_group", F.count("*").over(wc))
    )
    return ranked.filter(
        F.col("rnk") <= F.ceil(F.col("n_group") * F.lit(top_frac))
    ).select(id_col, group_col, "score",
             F.col("n_group").cast("long").alias("n_group"),
             F.col("rnk").cast("long").alias("rnk"))
