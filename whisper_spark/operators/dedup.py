"""Deduplication operators.

Scale design notes (the part that matters at 100 TB):

* ``exact``: one hash-groupBy — a single shuffle on a 32-hex key with
  map-side combine.  No sort, no window.
* ``minhash_lsh``: the candidate generation is an equi-join on
  ``(band_id, band_signature)`` — LSH's whole point is that this join key
  is selective, so the shuffle is proportional to near-duplicates, not to
  |pairs|.  Signatures are k small aggregates over the shingle index.
* ``ngram_jaccard``: exact verification; the inverted-index self-join is
  quadratic per shingle bucket, so at scale it runs AFTER LSH candidate
  filtering (pass ``candidates=``), never standalone on the full corpus.
* ``simhash``: fingerprints are compact (one BIGINT); near-dup candidates
  come from exact-matching rotated bit-bands (classic Manku et al. 2007
  layout), again an equi-join.
* keep-rules avoid connected components (iterative, driver-bound): a doc
  is dropped iff a candidate duplicate with a smaller id exists — a
  min-aggregate, deterministic, one pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import explode_shingles, h60, h60_seeded, word_tokens

#: propagation rounds :func:`min_label_components` runs before it gives up
MAX_LABEL_ROUNDS = 64


# --------------------------------------------------------------------- #
# exact
# --------------------------------------------------------------------- #


def exact_duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(fp, n_docs, canonical): md5 content groups; canonical = min id."""
    return df.groupBy(F.md5(F.col(text_col)).alias("fp")).agg(
        F.count("*").alias("n_docs"), F.min(id_col).alias("canonical")
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row (the min id) per distinct content."""
    # no broadcast hint: the keep-set is ~one row per distinct document,
    # far too large to broadcast at corpus scale — let Catalyst pick
    keep = exact_duplicate_groups(df, text_col, id_col).select(
        F.col("canonical").alias(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


# --------------------------------------------------------------------- #
# identical-group collapse (mega-bucket guard)
# --------------------------------------------------------------------- #


def _collapse_groups(df: DataFrame, key, id_col: str):
    """Collapse rows with an identical ``key`` to their min-id
    representative: returns ``(reps, stars)``.

    ``reps`` is one row per distinct key (the min-``id_col`` row, full
    original schema); ``stars`` is the LINEAR (id_a=rep, id_b=member)
    pair set covering every identical group — c-1 star pairs instead of
    the c(c-1)/2 clique a band join would emit.

    This is the guard against identical-content mega-buckets: c copies
    of one viral page collide in EVERY band, so unguarded banding emits
    ~c^2/2 candidate pairs (a 5*10^13-pair bomb at c=10M).  Collapsing
    first makes candidate volume proportional to DISTINCT near-dups
    plus group sizes.  Downstream "drop the doc if a verified duplicate
    with a smaller id exists" dedup is provably unchanged: every
    non-rep member keeps a star pair with its (smaller) rep, and any
    cross-group duplicate relation survives between reps.  Cost: one
    extra groupBy on the key (same class as exact dedup).

    A NULL key means UNKNOWN content, not shared content: null-key rows
    each form their own singleton group (keyed by their own id), so
    null-text docs are never asserted to be duplicates of each other.
    """
    keyed = df.withColumn(
        "_grp",
        F.coalesce(
            key.cast("string"),
            F.concat(F.lit("\x00null:"), F.col(id_col).cast("string")),
        ),
    )
    rep_ids = keyed.groupBy("_grp").agg(F.min(F.col(id_col)).alias(id_col))
    reps = keyed.join(rep_ids, ["_grp", id_col], "left_semi").drop("_grp")
    stars = (
        keyed.select("_grp", F.col(id_col).alias("id_b"))
        .join(rep_ids.select("_grp", F.col(id_col).alias("id_a")), "_grp")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    return reps, stars


# --------------------------------------------------------------------- #
# MinHash + LSH
# --------------------------------------------------------------------- #


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 5,
) -> DataFrame:
    """(id, k, h): MinHash sketch — min over shingles of the k-th seeded
    md5 hash.  One groupBy over the exploded shingle index."""
    spark = df.sparkSession
    sh = explode_shingles(df, text_col, id_col, shingle_n)
    ks = spark.range(num_hashes).select(F.col("id").cast("int").alias("k"))
    return (
        sh.crossJoin(F.broadcast(ks))
        .select(F.col(id_col), "k", h60_seeded(F.col("g"), F.col("k")).alias("hh"))
        .groupBy(id_col, "k")
        .agg(F.min("hh").alias("h"))
    )


def lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 5,
    via: str = "index",
    collapse_exact: bool = True,
) -> DataFrame:
    """(id_a, id_b, n_shared_bands) candidate near-dup pairs: docs whose
    MinHash signatures collide in >= 1 of ``bands`` bands.

    ``via="index"`` (default) builds signatures from the exploded
    shingle index — one groupBy, the form the oracle queries pin.
    ``via="expr"`` computes band keys as a per-row projection
    (:func:`minhash_bands_expr` — ZERO shuffle before the candidate
    join); signature encodings differ between the two paths but the
    banding semantics are identical, so candidate sets agree up to
    md5-band collisions.  Prefer "expr" at corpus scale: the index
    path shuffles |shingles| rows to build signatures, the expr path
    shuffles nothing.

    ``collapse_exact`` (default ON — the identical-doc mega-bucket
    guard): docs with byte-identical ``text_col`` collapse to their
    min-id representative before banding (:func:`_collapse_groups`),
    and each identical group is covered by c-1 star pairs
    (``n_shared_bands = bands``) instead of a c^2/2 clique.  Candidate
    volume is then proportional to distinct near-dups; pair-level
    output differs from the unguarded clique only WITHIN identical
    groups (star shape) and for member-to-member cross pairs (covered
    transitively through the reps), while min-id-keep dedup results
    are provably identical.  Disable only for corpora already
    exact-deduplicated (saves one content-hash groupBy)."""
    if collapse_exact:
        reps, stars = _collapse_groups(df, F.md5(F.col(text_col)), id_col)
        core = lsh_candidates(
            reps, text_col, id_col, num_hashes, bands, shingle_n, via,
            collapse_exact=False,
        )
        return core.unionByName(
            stars.withColumn("n_shared_bands", F.lit(bands).cast("long"))
        )
    if via == "expr":
        b = minhash_bands_expr(text_col, num_hashes, bands, shingle_n)
        banded = df.select(
            F.col(id_col), F.explode(b).alias("_b")
        ).select(
            F.col(id_col),
            F.col("_b.band_id").alias("band_id"),
            F.col("_b.band_sig").alias("sig"),
        )
        a, b2 = banded.alias("a"), banded.alias("b")
        return (
            a.join(
                b2,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .groupBy(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .agg(F.count("*").alias("n_shared_bands"))
        )
    rows_per_band = num_hashes // bands
    mh = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    banded = (
        mh.withColumn("band_id", (F.col("k") / rows_per_band).cast("int"))
        .groupBy(id_col, "band_id")
        .agg(F.md5(F.concat_ws(",", F.sort_array(F.collect_list(F.struct("k", "h"))).cast("string"))).alias("sig"))
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("n_shared_bands"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_n: int = 5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, n_common, jaccard) pairs with exact shingle-set
    Jaccard >= threshold.

    With ``candidates`` (id_a, id_b — e.g. from :func:`lsh_candidates`),
    ONLY those pairs are verified — the intersection counts are built by
    joining the candidate list through the shingle index (cost
    proportional to |candidates| * shingles-per-doc, never the
    inverted-index self-join), so a candidate set that is already
    mega-bucket-guarded stays guarded through verification.  Without
    ``candidates``, a full inverted-index self-join runs — fine for
    bounded inputs only.
    """
    sh = explode_shingles(df, text_col, id_col, shingle_n)
    sz = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    if candidates is not None:
        sh_a = sh.select(F.col(id_col).alias("id_a"), "g")
        sh_b = sh.select(F.col(id_col).alias("id_b"), "g")
        inter = (
            candidates.select("id_a", "id_b")
            .distinct()
            .join(sh_a, "id_a")
            .join(sh_b, ["id_b", "g"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_common"))
        )
    else:
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.g") == F.col("b.g"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .groupBy(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .agg(F.count("*").alias("n_common"))
        )
    sza = sz.withColumnRenamed(id_col, "id_a").withColumnRenamed("n", "na")
    szb = sz.withColumnRenamed(id_col, "id_b").withColumnRenamed("n", "nb")
    out = (
        inter.join(sza, "id_a")
        .join(szb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") * 1.0 / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "n_common", "jaccard")


def dedup_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 5,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates -> exact Jaccard verify ->
    drop every doc that has a verified duplicate with a smaller id."""
    cand = lsh_candidates(df, text_col, id_col, num_hashes, bands, shingle_n)
    verified = ngram_jaccard_pairs(
        df, text_col, id_col, threshold, shingle_n, candidates=cand
    )
    drop = verified.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop, on=id_col, how="left_anti")


# --------------------------------------------------------------------- #
# SimHash
# --------------------------------------------------------------------- #


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 60,
) -> DataFrame:
    """(id, simhash): md5-token majority-vote fingerprint, <= 60 bits so
    it stays positive in a BIGINT everywhere."""
    spark = df.sparkSession
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_tokens(text_col))).alias("tok"),
    ).distinct()
    th = toks.select(id_col, h60("tok").alias("h"))
    js = spark.range(bits).select(F.col("id").cast("int").alias("j"))
    mask = F.pow(F.lit(2), F.col("j")).cast("long")
    bitsum = (
        th.crossJoin(F.broadcast(js))
        .select(
            id_col,
            "j",
            mask.alias("mask"),
            F.when(F.col("h").bitwiseAND(mask) != 0, 1).otherwise(-1).alias("c"),
        )
        .groupBy(id_col, "j", "mask")
        .agg(F.sum("c").alias("s"))
    )
    return bitsum.groupBy(id_col).agg(
        F.sum(F.when(F.col("s") > 0, F.col("mask")).otherwise(0)).alias("simhash")
    )


def simhash_candidates(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    bits: int = 60,
    bands: int = 4,
    collapse_identical: bool = True,
) -> DataFrame:
    """(id_a, id_b) pairs whose simhashes agree exactly on >= bands-1 of
    ``bands`` contiguous bit-bands — near-dups within a small Hamming
    radius collide on at least one band (Manku et al., WWW'07 layout).
    Equi-join per band; no pairwise Hamming scan.

    ``collapse_identical`` (default ON — the mega-bucket guard): rows
    with byte-identical fingerprints collapse to their min-id
    representative before banding and each identical group is covered
    by c-1 star pairs instead of a c^2/2 clique
    (:func:`_collapse_groups`).  Hamming distance is a function of the
    fingerprint alone, so downstream verification and min-id-keep
    dedup are unchanged; only the pair-level shape within/between
    identical-fingerprint groups differs (star + rep-to-rep, covered
    transitively).  Disable for small pinned slices that need the full
    clique."""
    if collapse_identical:
        reps, stars = _collapse_groups(fingerprints, F.col("simhash"), id_col)
        core = simhash_candidates(
            reps, id_col, bits, bands, collapse_identical=False
        )
        return core.unionByName(
            stars.select(F.col("id_a"), F.col("id_b"))
        ).distinct()
    per = bits // bands
    pieces = []
    for b in range(bands):
        shift = b * per
        piece = fingerprints.select(
            F.col(id_col),
            F.lit(b).alias("band_id"),
            (
                F.shiftright(F.col("simhash"), shift).bitwiseAND(F.lit((1 << per) - 1))
            ).alias("sig"),
        )
        pieces.append(piece)
    banded = pieces[0]
    for p in pieces[1:]:
        banded = banded.unionByName(p)
    a, b2 = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b2,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


# --------------------------------------------------------------------- #
# embedding near-dup
# --------------------------------------------------------------------- #


def embedding_neardup_pairs(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_buckets: int = 16,
) -> DataFrame:
    """(id_a, id_b, cosine) pairs with cosine >= threshold.

    Scale path: vectors are first coarse-quantized to their nearest seed
    centroid (IVF bucketing, see operators.similarity); the exact cosine
    self-join then runs per bucket, turning O(n^2) into
    O(sum of bucket^2).  The assignment is a narrow literal-centroid
    projection (no shuffle), so computing it on both self-join sides
    costs two cheap map passes, not two crossJoin+window shuffles."""
    from .similarity import centroid_literal, centroid_scores, ivf_assign, seed_centroids

    cent_arr, _ = centroid_literal(seed_centroids(df, n_buckets, emb_col, id_col))
    if cent_arr is not None:
        e = df.withColumn(
            "centroid", F.array_min(centroid_scores(emb_col, cent_arr))["cid"]
        )
    else:
        assigned = ivf_assign(df, emb_col, id_col, n_buckets).select(
            id_col, "centroid"
        )
        e = df.join(assigned, id_col)
    a = e.select(
        F.col(id_col).alias("id_a"), F.col(emb_col).alias("ea"), "centroid"
    )
    b = e.select(
        F.col(id_col).alias("id_b"), F.col(emb_col).alias("eb"), "centroid"
    )
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    j = (
        a.join(b, ["centroid"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            (dot / F.sqrt(nrm("ea") * nrm("eb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    return j


# --------------------------------------------------------------------- #
# near-dup clusters
# --------------------------------------------------------------------- #


def min_label_components(
    pairs: DataFrame, a_col: str, b_col: str, id_col: str
) -> DataFrame:
    """Connected components of the undirected pair graph ``pairs``
    (``a_col``, ``b_col``) by min-label propagation: ``(id_col,
    cluster_id)`` for every id that appears in a pair, where
    ``cluster_id`` is the smallest id in its component.

    Each round is one distributed join+aggregate; rounds ~ graph
    diameter (small for dup clusters).  If round ``MAX_LABEL_ROUNDS``
    still changes a label, the components are unfinished and it raises
    RuntimeError rather than return split clusters.  The seed labels are
    the first round's result, min(id, min neighbor id), straight off
    the edge list.  The edge list, the seed labels and every round's
    labels are ``localCheckpoint()``-ed: the plan does not grow with
    rounds, and each frame is computed once however many rounds read
    it."""
    edges = pairs.select(a_col, b_col).unionByName(
        pairs.select(F.col(b_col).alias(a_col), F.col(a_col).alias(b_col))
    ).localCheckpoint()
    labels = (
        edges.groupBy(F.col(a_col).alias(id_col))
        .agg(F.least(F.col(id_col), F.min(b_col)).alias("cluster_id"))
        .localCheckpoint()
    )
    for _round in range(MAX_LABEL_ROUNDS):
        prop = edges.join(
            labels, edges[a_col] == labels[id_col], "inner"
        ).select(F.col(b_col).alias(id_col), F.col("cluster_id"))
        new = (
            labels.unionByName(prop)
            .groupBy(id_col)
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint()
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), id_col)
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            return labels
    raise RuntimeError(
        f"min_label_components: labels still changing after {MAX_LABEL_ROUNDS} rounds"
    )


def simhash_hamming_pairs(
    fingerprints: DataFrame,
    max_hamming: int = 6,
    id_col: str = "doc_id",
    bits: int = 60,
    bands: int = 4,
    collapse_identical: bool = True,
) -> DataFrame:
    """Banded candidates -> EXACT Hamming verification: (id_a, id_b,
    hamming) for pairs within ``max_hamming`` bits.

    Completes the Manku pipeline: :func:`simhash_candidates` recalls
    every pair within radius (bands-1 bands must match somewhere), this
    stage removes band-collision false positives with one
    ``bit_count(xor)`` per candidate — work proportional to candidates,
    never |corpus|^2.  ``collapse_identical`` passes through to the
    candidate stage (mega-bucket guard, ON by default; identical-
    fingerprint star pairs verify at hamming 0)."""
    cand = simhash_candidates(
        fingerprints, id_col, bits, bands,
        collapse_identical=collapse_identical,
    )
    fa = fingerprints.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("_sh_a")
    )
    fb = fingerprints.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("_sh_b")
    )
    # no broadcast hints: fingerprints are one row per document (the BIG
    # side at corpus scale); the candidate set is the small side and AQE
    # broadcasts it when it fits — the shuffles are candidate-proportional
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_sh_a").bitwiseXOR(F.col("_sh_b")))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------------- #
# exact-substring (fixed-window) dedup
# --------------------------------------------------------------------- #


def window_fingerprints(
    df: DataFrame,
    window: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, wfp): 60-bit hashes of every distinct ``window``-word
    substring of each document.

    The distributed stand-in for suffix-array exact-substring dedup
    (Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better"): any exact repeat of >= ``window`` words between two
    documents shares at least one aligned window, so fixed-length window
    fingerprints recall every such overlap without building a global
    suffix structure.  All JVM-side: the window build is one
    transform-over-split per row (split bound once — see
    ``word_ngrams_expr``), hashes are 8-byte md5-60 keys."""
    from ..functions.hashing import word_ngrams_expr

    return df.select(
        F.col(id_col), F.explode(word_ngrams_expr(text_col, window)).alias("_w")
    ).select(F.col(id_col), h60(F.col("_w")).alias("wfp"))


def substring_duplicate_pairs(
    df: DataFrame,
    window: int = 20,
    max_df: int = 50,
    min_shared: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_a, id_b, n_shared): document pairs sharing >= ``min_shared``
    exact ``window``-word substrings.

    Scale shape: pairs come from the per-window posting lists
    (sort_array(collect_set(id)) then in-list pair expansion) — an
    equi-join-equivalent with shuffle proportional to shared windows,
    never |docs|^2.  ``max_df`` is the boilerplate guard: a window
    occurring in more than ``max_df`` documents (license headers,
    navigation chrome) would emit df^2/2 pair rows for zero dedup signal
    — the same document-frequency cap the corpus-mix queries use.
    Dropped windows are template text by construction; genuine long
    duplications still meet on their rarer neighboring windows."""
    fps = window_fingerprints(df, window, text_col, id_col)
    posting = fps.groupBy("wfp").agg(
        F.sort_array(F.collect_set(F.col(id_col))).alias("ids")
    )
    posting = posting.filter(
        (F.size("ids") >= 2) & (F.size("ids") <= max_df)
    )
    # i is 0-based: element a sits at 1-based position i+1, so the
    # strictly-after slice starts at i+2 — no self-pairs
    pairs = posting.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (a, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), "
                "b -> struct(a, b))))"
            )
        ).alias("p")
    )
    return (
        pairs.groupBy(
            F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b")
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def dedup_substring(
    df: DataFrame,
    window: int = 20,
    max_df: int = 50,
    min_shared: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep-rule over :func:`substring_duplicate_pairs`: drop a document
    iff it shares a window run with a SMALLER id — the same one-pass
    min-aggregate keep used by the other dedup families (no connected
    components)."""
    pairs = substring_duplicate_pairs(
        df, window, max_df, min_shared, text_col, id_col
    )
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop, id_col, "left_anti")


def minhash_bands_expr(
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 5,
) -> F.Column:
    """``array<struct<band_id:int, band_sig:string>>`` computed as ONE
    per-row column expression — no explode, no groupBy, no shuffle.

    The batch MinHash path builds signatures with a shingle-index
    aggregation (fine offline); this form keeps LSH banding legal on a
    STREAMING DataFrame (stateless projection), and doubles as the
    zero-shuffle batch variant.  Shingles bind once per row (let-idiom
    over a 1-element array); each signature is ``array_min`` of the
    seeded md5-60 family over the shingle set — identical values to
    ``minhash_signatures``.  Texts shorter than ``shingle_n`` yield an
    EMPTY band array (no signature, never collides)."""
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    per = num_hashes // bands
    from ..functions.hashing import char_shingles_expr

    sh = char_shingles_expr(text_col, shingle_n)

    def sig(k: int) -> str:
        # SQL text so the whole expression nests inside one transform.
        # Single-pass aggregate+least fold (round-13, same rewrite as
        # minhash_bands_fast_expr): one traversal, no intermediate
        # array; the bigint cast on conv()'s STRING output still
        # matters (a lexicographic least would pick the wrong min), and
        # 2^60 bounds every md5-60 value so it is a safe identity.
        return (
            "aggregate(ws, cast(1152921504606846976 as bigint), "
            "(acc, s) -> least(acc, cast("
            f"conv(substring(md5(concat_ws('#', s, '{k}')), 1, 15), 16, 10)"
            " as bigint)))"
        )

    band_structs = ", ".join(
        f"named_struct('band_id', {b}, 'band_sig', "
        "md5(concat_ws('#', "
        + ", ".join(f"cast({sig(b * per + k)} as string)" for k in range(per))
        + ")))"
        for b in range(bands)
    )
    return F.expr(
        "flatten(transform(array(" + sh._jc.toString() + "), ws -> "
        f"IF(size(ws) >= 1, array({band_structs}), "
        "CAST(array() AS array<struct<band_id:int,band_sig:string>>))))"
    )


def substring_duplicate_spans(
    df: DataFrame,
    window: int = 20,
    max_df: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, span_start, span_end): maximal word-offset runs covered by
    ``window``-word substrings that also occur in ANOTHER document —
    the span-level output the suffix-dedup method actually removes
    (doc-level dropping is the blunt variant; spans let the pipeline
    excise the duplicated region and keep the rest).

    Positioned windows (0-based word offsets) -> shared-window filter
    (cross-doc, df-capped like the pair path) -> per-doc interval merge:
    two windows merge iff the later starts within ``window`` words of
    the earlier (their coverage overlaps or touches), a lag+cumsum
    island pass over ONE per-doc shuffle."""
    from pyspark.sql import Window as W

    from ..functions.hashing import h60

    pos_windows = F.expr(
        f"flatten(transform(array(split({text_col}, ' ')), ws -> "
        f"CASE WHEN size(ws) >= {window} THEN "
        f"transform(sequence(1, size(ws) - {window - 1}), "
        f"i -> struct(i - 1 AS pos, array_join(slice(ws, i, {window}), ' ') AS w)) "
        "ELSE CAST(array() AS array<struct<pos:int,w:string>>) END))"
    )
    occ = df.select(
        F.col(id_col), F.explode(pos_windows).alias("_pw")
    ).select(
        F.col(id_col), F.col("_pw.pos").alias("pos"), h60(F.col("_pw.w")).alias("wfp")
    )
    shared = (
        occ.select(id_col, "wfp").distinct()
        .groupBy("wfp")
        .agg(F.count("*").alias("_docs"))
        .filter((F.col("_docs") >= 2) & (F.col("_docs") <= max_df))
        .select("wfp")
    )
    hits = occ.join(shared, "wfp").select(id_col, "pos").distinct()
    w_ord = W.partitionBy(id_col).orderBy("pos")
    flagged = hits.withColumn(
        "_new",
        F.when(
            F.lag("pos").over(w_ord).isNull()
            | (F.col("pos") > F.lag("pos").over(w_ord) + window),
            1,
        ).otherwise(0),
    ).withColumn(
        "_island",
        F.sum("_new").over(w_ord.rowsBetween(W.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy(id_col, "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + window - 1).alias("span_end"),
        )
        .drop("_island")
    )


def incremental_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str | None = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 5,
    fast: bool = True,
) -> DataFrame:
    """One-pass incremental-dedup index projection: ``(id?, _h, _bands)``
    — the md5 exact-hash plus the MinHash-LSH band array, computed in a
    SINGLE scan of ``text_col``.

    This is the frame a production pipeline persists as the incremental
    index (see :func:`incremental_dedup`): ~100 bytes/doc instead of the
    document text, so caching it is index-proportional, never
    corpus-sized.  Pass ``id_col=None`` for the seen side (its id never
    participates in the semi-joins).  Parameters must match the
    ``incremental_dedup`` call that consumes the index — same contract
    as ``bpe_token_counts(vocab=)`` / ``image_neardup_pairs(
    fingerprints=)``."""
    bander = minhash_bands_fast_expr if fast else minhash_bands_expr
    cols = [F.col(id_col)] if id_col else []
    cols += [
        F.md5(F.col(text_col)).alias("_h"),
        bander(text_col, num_hashes, bands, shingle_n).alias("_bands"),
    ]
    return docs.select(*cols)


def incremental_dedup(
    new_docs: DataFrame,
    seen_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 5,
    fast: bool = True,
    new_index: DataFrame | None = None,
    seen_index: DataFrame | None = None,
) -> DataFrame:
    """Dedup a NEW batch against an already-ingested corpus — the
    daily-crawl production shape: only cross-corpus comparisons, never
    new x new or seen x seen.

    Two passes, both semi-joins (no pair materialization):

    * exact: md5(text) of the new batch left-semi against the seen
      corpus' distinct hashes;
    * near: MinHash-LSH bands (minhash_bands_expr — a zero-shuffle
      per-row projection on BOTH sides) equi-semi-joined on
      (band_id, band_sig).

    Returns one row per new doc: (id, exact_dup, near_dup, keep) with
    keep = 1 iff neither flag fired.  At 100 TB the seen side's two
    projections (hash set, band set) are exactly what a production
    pipeline would persist as incremental indexes: both are
    grouped-distinct sets, so the day-over-day cost is one new-batch
    scan plus two semi-join shuffles proportional to the INDEX, not the
    corpus text.

    Band width at scale: a band of r rows fires by chance with
    probability ~J^r per seen doc, and the near flag is a semi-join
    against the WHOLE index — so false-candidate volume grows linearly
    with index size.  The 8/4 default (r=2) is fine to ~100k docs; at
    millions use 16/4 (r=4) or wider (verified by the 1M smoke in
    tests/test_scale_smoke.py).

    ``new_index`` / ``seen_index``: optional precomputed
    :func:`incremental_index` frames (same hash/band parameters and
    text/id columns as this call — the caller's responsibility, like
    ``bpe_token_counts(vocab=)``).  When given, every reference to that
    side reads the ~100-byte/doc index rows instead of re-deriving
    hash+bands from the text — so a caller that materializes the
    indexes holds index-proportional bytes, never the corpus text.
    Default path (no index) is unchanged.  Values are identical either
    way: the index computes the exact same md5/band expressions."""
    for idx, need, side in (
        (new_index, {id_col, "_h", "_bands"}, "new_index"),
        (seen_index, {"_h", "_bands"}, "seen_index"),
    ):
        if idx is not None and (need - set(idx.columns)):
            raise ValueError(
                f"{side}= must be an incremental_index frame; missing "
                f"columns {sorted(need - set(idx.columns))} — a "
                "mismatched index would yield silently wrong flags"
            )
    h = F.md5(F.col(text_col))
    bander = minhash_bands_fast_expr if fast else minhash_bands_expr
    bands_col = bander(text_col, num_hashes, bands, shingle_n)
    if seen_index is not None:
        seen_h = seen_index.select("_h").distinct()
        seen_b = (
            seen_index.select(F.explode("_bands").alias("_b"))
            .select("_b.band_id", "_b.band_sig")
            .distinct()
        )
    else:
        seen_h = seen_docs.select(h.alias("_h")).distinct()
        seen_b = (
            seen_docs.select(F.explode(bands_col).alias("_b"))
            .select("_b.band_id", "_b.band_sig")
            .distinct()
        )
    if new_index is not None:
        new_b = new_index.select(
            id_col, F.explode("_bands").alias("_b")
        ).select(id_col, "_b.band_id", "_b.band_sig")
        exact_src = new_index.select(id_col, "_h")
        new_ids = new_index.select(id_col)
    else:
        new_b = new_docs.select(
            id_col, F.explode(bands_col).alias("_b")
        ).select(id_col, "_b.band_id", "_b.band_sig")
        exact_src = new_docs.select(id_col, h.alias("_h"))
        new_ids = new_docs.select(id_col)
    exact = (
        exact_src
        .join(seen_h, "_h", "left_semi")
        .select(id_col)
        .withColumn("_e", F.lit(1))
    )
    near = (
        new_b.join(seen_b, ["band_id", "band_sig"], "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("_n", F.lit(1))
    )
    return (
        new_ids
        .join(exact, id_col, "left")
        .join(near, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("_e"), F.lit(0)).alias("exact_dup"),
            F.coalesce(F.col("_n"), F.lit(0)).alias("near_dup"),
            F.when(
                F.col("_e").isNull() & F.col("_n").isNull(), F.lit(1)
            ).otherwise(F.lit(0)).alias("keep"),
        )
    )


#: modulus for the seed-mixed MinHash family (prime, < 2^31: every
#: product below stays inside exact BIGINT range on any engine)
MINHASH_MIX_M = 2147483647


def _mix_consts(k: int) -> tuple[int, int]:
    """Per-seed affine constants for the mixed family — md5-derived so
    the multipliers are structurally independent.  (A first cut used
    a_k = c*(k+1): then every seed orders by (k+1)*g mod M with the
    SAME g per shingle, the orderings nearly coincide for small k, the
    "16 hashes" collapse toward one, and chance band collisions explode
    — caught by the 1M smoke, 14.8k false candidates.)  Plain integers,
    baked identically into the Spark expression and the SQL oracles."""
    import hashlib

    a = int(hashlib.md5(f"mh-a-{k}".encode()).hexdigest()[:8], 16) % (
        MINHASH_MIX_M - 1
    ) + 1
    b = int(hashlib.md5(f"mh-b-{k}".encode()).hexdigest()[:8], 16) % MINHASH_MIX_M
    return a, b


def minhash_bands_fast_expr(
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 5,
) -> F.Column:
    """Seed-mixed variant of :func:`minhash_bands_expr`: ONE md5 per
    shingle (not one per shingle per seed), the per-seed hash families
    derived by exact affine mixing ``(h * a_k + b_k) mod M`` over the
    md5-60's low 31 bits (Broder-style universal family).  Cuts the
    dominant banding cost ``num_hashes x |shingles| md5`` down to
    ``|shingles|`` — the 15.5 s sf0.1 incremental-dedup bench profile
    was ~entirely md5 calls (PERF.md).  All arithmetic stays below
    2^62, so Spark and DuckDB compute bit-identical signatures.

    Same output shape as minhash_bands_expr (band structs), same LSH
    recall characteristics; NOT signature-compatible with the md5-seeded
    family — pick one per index."""
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    per = num_hashes // bands
    from ..functions.hashing import char_shingles_expr

    sh = char_shingles_expr(text_col, shingle_n)
    base = (
        f"transform(ws, s -> cast(conv(substring(md5(s), 1, 15), 16, 10) "
        f"as bigint) % {MINHASH_MIX_M})"
    )

    def sig(k: int) -> str:
        a, b = _mix_consts(k)
        # single-pass fold (round-13 optimization): aggregate+least
        # computes the same minimum as array_min(transform(...)) with
        # ONE traversal and no intermediate array allocation per seed —
        # the banding projection is the dominant cost of the
        # incremental-dedup path (measured value-identical, ~20% faster
        # on the sf0.1 documents banding; every element is < M, so M is
        # a safe identity, and the expression is only evaluated under
        # the size(ws) >= 1 guard)
        return (
            f"aggregate(hs, cast({MINHASH_MIX_M} as bigint), "
            f"(acc, h) -> least(acc, (h * {a} + {b}) % {MINHASH_MIX_M}))"
        )

    band_structs = ", ".join(
        f"named_struct('band_id', {band}, 'band_sig', "
        "md5(concat_ws('#', "
        + ", ".join(f"cast({sig(band * per + k)} as string)" for k in range(per))
        + ")))"
        for band in range(bands)
    )
    return F.expr(
        # nested let: bind the shingle array once (ws), then its base
        # md5-60 hashes once (hs) — every seed family reads hs
        "flatten(transform(array(" + sh._jc.toString() + "), ws -> "
        "flatten(transform(array(" + base + "), hs -> "
        f"IF(size(ws) >= 1, array({band_structs}), "
        "CAST(array() AS array<struct<band_id:int,band_sig:string>>))))))"
    )


# --------------------------------------------------------------------- #
# content-defined chunking (round 12)
# --------------------------------------------------------------------- #


def cdc_chunks(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 16,
    mask: int = 64,
) -> DataFrame:
    """Content-defined chunking: split each document at positions where
    a rolling window hash lands on a boundary mask — the rsync / LBFS /
    FastCDC dedup shape (a shared run of text produces the SAME chunks
    in every document containing it, regardless of its offset, which
    fixed-size blocks cannot do).

    Boundary rule: position ``i`` (1-based, i >= window) ends a chunk
    iff ``H(text[i-window+1 .. i]) % mask == 0`` where ``H`` is the
    integer value of the first two hex digits of md5 of the window —
    a designed substitute for the published Gear/Rabin tables (repo
    policy: machinery over transcribed constants), identical in Spark
    and DuckDB so oracle comparison is exact.  The document tail is
    always a final chunk.  Average chunk length ~= ``mask`` with
    geometric spread, exactly like Rabin CDC.

    Everything is JVM column expressions (one md5 per position via a
    HOF transform — no Python in the path); rows are independent, so
    the stage is embarrassingly parallel at any corpus size.  A
    production engine would swap the per-position md5 for a Gear or
    Rabin ROLLING hash (one table lookup + shift per byte instead of a
    fresh digest over the whole window, ~100× less hashing per byte);
    md5-per-position is kept here because it is expressible identically
    in Spark SQL and the DuckDB oracle, making the boundary rule
    bit-exactly checkable.

    Documents shorter than ``window`` have no boundary candidates at
    all (the rule is only defined for ``i >= window``), so they come
    back as a single whole-document chunk.  The guard matters: Spark's
    ``sequence(lo, hi)`` DESCENDS when ``hi < lo``, which would
    otherwise fabricate out-of-range positions for short documents.

    Output: (id_col, chunk_idx, chunk) — one row per chunk, exploded.
    """
    if window < 1 or mask < 1:
        raise ValueError("window and mask must be positive")
    t = text_col
    bounds = (
        f"CASE WHEN length({t}) >= {window} THEN "
        f"transform(filter(transform(sequence({window}, length({t})), "
        f"i -> named_struct('i', i, 'h', "
        f"cast(conv(substring(md5(substring({t}, i - {window - 1}, "
        f"{window})), 1, 2), 16, 10) as int))), "
        f"s -> s.h % {mask} = 0), s -> s.i) "
        f"ELSE cast(array() as array<int>) END"
    )
    ends = (
        f"CASE WHEN size(_b) = 0 OR element_at(_b, -1) <> length({t}) "
        f"THEN concat(_b, array(length({t}))) ELSE _b END"
    )
    chunks = (
        "transform(sequence(1, size(_e)), k -> substring("
        f"{t}, CASE WHEN k = 1 THEN 1 ELSE element_at(_e, k - 1) + 1 END, "
        "element_at(_e, k) - CASE WHEN k = 1 THEN 0 "
        "ELSE element_at(_e, k - 1) END))"
    )
    return (
        docs.filter(F.col(t).isNotNull() & (F.length(t) >= 1))
        .withColumn("_b", F.expr(bounds))
        .withColumn("_e", F.expr(ends))
        .select(
            id_col,
            F.posexplode(F.expr(chunks)).alias("chunk_idx", "chunk"),
        )
    )


def cdc_shared_chunks(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 16,
    mask: int = 64,
    min_docs: int = 2,
) -> DataFrame:
    """Chunk-level dedup over :func:`cdc_chunks`: the chunks appearing
    in at least ``min_docs`` DISTINCT documents (the storage/transfer
    savings a CDC system would dedupe), with occurrence counts.  One
    hash-shuffle keyed on the 32-char md5 DIGEST of the chunk, computed
    *before* the exchange — the shuffle never carries chunk bodies, so
    its width is constant whatever the chunk size (at production CDC
    chunk sizes of 4–64 KB that is a 100–1000× narrower exchange than
    grouping on the text itself).

    Output: (chunk_md5, chunk_len, n_docs, n_occ).
    """
    ch = cdc_chunks(docs, text_col, id_col, window, mask)
    return (
        ch.select(
            id_col,
            F.md5("chunk").alias("chunk_md5"),
            F.length("chunk").alias("chunk_len"),
        )
        .groupBy("chunk_md5", "chunk_len")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count("*").alias("n_occ"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select("chunk_md5", "chunk_len", "n_docs", "n_occ")
    )


def cdc_incremental_savings(
    new_docs: DataFrame,
    seen_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 16,
    mask: int = 64,
) -> DataFrame:
    """Per-document CDC transfer savings of NEW documents against a
    SEEN corpus — the rsync/backup computation: chunks of a new
    document that already exist in the seen corpus (or earlier in the
    new batch is NOT counted — identity is against the seen index
    only, so results are per-doc independent and embarrassingly
    parallel).

    Both sides chunk with :func:`cdc_chunks`; membership is a LEFT
    SEMI-style join keyed on the 32-char md5 digest, so the shuffle
    carries digests + lengths, never chunk bodies, and the seen side
    reduces to its DISTINCT digest index first (index-proportional,
    like :func:`incremental_dedup`).  At production scale the distinct
    digest index is the only state a backup system keeps.

    Output: (id_col, n_chunks, total_bytes, dup_chunks, dup_bytes,
    savings_frac) — ``savings_frac`` = dup_bytes / total_bytes.
    """
    newc = cdc_chunks(new_docs, text_col, id_col, window, mask).select(
        id_col,
        F.md5("chunk").alias("h"),
        F.length("chunk").alias("len"),
    )
    index = (
        cdc_chunks(seen_docs, text_col, id_col, window, mask)
        .select(F.md5("chunk").alias("h"))
        .distinct()
        .withColumn("_seen", F.lit(1))
    )
    joined = newc.join(index, "h", "left")
    return joined.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum("len").cast("long").alias("total_bytes"),
        F.sum(F.when(F.col("_seen").isNotNull(), 1).otherwise(0))
        .cast("long").alias("dup_chunks"),
        F.sum(F.when(F.col("_seen").isNotNull(), F.col("len"))
              .otherwise(0)).cast("long").alias("dup_bytes"),
        (F.sum(F.when(F.col("_seen").isNotNull(), F.col("len"))
               .otherwise(0))
         * F.lit(1.0)
         / F.sum("len")).alias("savings_frac"),
    )
