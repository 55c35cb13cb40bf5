"""Data-pipeline operator tests: dedup, similarity, text analysis,
multimodal plumbing — on the driver testdata plus constructed near-dups."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import sf_dir
from whisper_spark.operators import dedup, multimodal, similarity, textanalysis

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "0.001")


@pytest.fixture()
def docs(spark):
    return spark.read.parquet(f"{sf_dir(SF)}/documents.parquet")


@pytest.fixture()
def docs_with_dups(spark, docs):
    """testdata docs + exact copies and near-copies with shifted ids."""
    base = docs.limit(50)
    exact = base.limit(5).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    near = base.limit(5).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
        "lang", "source", "n_chars",
    )
    return base.unionByName(exact).unionByName(near)


def test_exact_dedup(spark, docs_with_dups):
    out = dedup.dedup_exact(docs_with_dups)
    assert out.count() == 55  # 5 exact copies dropped
    groups = dedup.exact_duplicate_groups(docs_with_dups)
    assert groups.filter("n_docs > 1").count() == 5
    # canonical is the original (smaller) id
    assert groups.filter("n_docs > 1").filter("canonical >= 100000").count() == 0


def test_minhash_lsh_finds_near_dups(spark, docs_with_dups):
    cand = dedup.lsh_candidates(docs_with_dups, num_hashes=16, bands=8)
    pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    # every exact copy pair must be a candidate (identical signatures)
    for i in range(5):
        orig = docs_with_dups.orderBy("doc_id").limit(5).collect()[i]["doc_id"]
        assert (orig, orig + 100000) in pairs, f"exact pair {orig} missed"


def test_dedup_minhash_pipeline(spark, docs_with_dups):
    out = dedup.dedup_minhash(
        docs_with_dups, threshold=0.9, num_hashes=16, bands=8
    )
    n = out.count()
    # all 5 exact dups (jaccard 1.0) must be gone; near-dups (one word
    # appended, jaccard ~0.95+) should mostly be gone too
    assert n <= 55
    assert out.filter("doc_id >= 100000 and doc_id < 200000").count() == 0


def test_ngram_jaccard_verifies(spark, docs_with_dups):
    cand = dedup.lsh_candidates(docs_with_dups, num_hashes=16, bands=8)
    ver = dedup.ngram_jaccard_pairs(
        docs_with_dups, threshold=0.99, candidates=cand
    )
    rows = ver.collect()
    assert all(r["jaccard"] >= 0.99 for r in rows)
    ids = {(r["id_a"], r["id_b"]) for r in rows}
    assert all(b - a == 100000 for a, b in ids)  # only the exact copies


def test_simhash_near_dups_collide(spark, docs_with_dups):
    fp = dedup.simhash(docs_with_dups)
    assert fp.count() == 60
    cand = dedup.simhash_candidates(fp, bands=4)
    pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    for i in range(5):
        orig = docs_with_dups.orderBy("doc_id").limit(5).collect()[i]["doc_id"]
        assert (orig, orig + 100000) in pairs  # identical docs -> same simhash


def test_cosine_topk_and_ivf(spark):
    emb = spark.read.parquet(f"{sf_dir(SF)}/embeddings.parquet")
    q = emb.filter("vec_id < 4")
    exact = similarity.cosine_topk(q, emb, k=5)
    rows = exact.collect()
    assert len(rows) == 20
    assert all(0 <= r["score"] <= 1.0001 for r in rows)
    # ivf with full probe = exact
    full = similarity.ivf_topk(q, emb, k=5, nprobe=16, n_buckets=16)
    e = {(r["qid"], r["rank"]): r["nid"] for r in rows}
    f = {(r["qid"], r["rank"]): r["nid"] for r in full.collect()}
    assert e == f
    # narrow probe recalls most of the exact top-5
    approx = similarity.ivf_topk(q, emb, k=5, nprobe=4, n_buckets=16)
    a = {(r["qid"], r["nid"]) for r in approx.collect()}
    hits = sum(1 for (qid, _), nid in e.items() if (qid, nid) in a)
    assert hits >= 10  # >= 50% recall on random data with 1/4 of buckets


def test_ivf_literal_and_join_paths_agree(spark, monkeypatch):
    """The broadcast-join fallback (centroid set too large to inline)
    must produce the same assignment and top-k as the literal path."""
    emb = spark.read.parquet(f"{sf_dir(SF)}/embeddings.parquet")
    q = emb.filter("vec_id < 4")
    lit_assign = similarity.ivf_assign(emb, n_buckets=8).collect()
    lit_topk = similarity.ivf_topk(q, emb, k=3, nprobe=2, n_buckets=8).collect()
    monkeypatch.setattr(similarity, "LITERAL_FLOATS_MAX", 0)
    join_assign = similarity.ivf_assign(emb, n_buckets=8).collect()
    join_topk = similarity.ivf_topk(q, emb, k=3, nprobe=2, n_buckets=8).collect()
    assert {(r["vec_id"], r["centroid"]) for r in lit_assign} == {
        (r["vec_id"], r["centroid"]) for r in join_assign
    }
    assert {(r["qid"], r["rank"], r["nid"]) for r in lit_topk} == {
        (r["qid"], r["rank"], r["nid"]) for r in join_topk
    }


def test_textanalysis(spark, docs):
    out = textanalysis.token_stats(docs)
    r = out.filter("n_tokens > 0").count()
    assert r == docs.count()
    scored = textanalysis.quality_score(docs)
    vals = scored.select("score").collect()
    assert all(0 <= v["score"] <= 1.0 for v in vals)
    lid = textanalysis.lang_id(docs)
    assert lid.filter(F.col("lang_pred").isNull()).count() == 0
    fp = textanalysis.fingerprint(docs)
    assert fp.select("fp").distinct().count() == docs.select("text").distinct().count()


def test_multimodal_plumbing(spark):
    """Arrow-batched decode over binary payloads: schema + batch shape are
    real; the decoder is the documented deterministic stub."""
    rows = [
        (i, "image" if i % 2 else "video", bytes([i]) * (100 + i),
         ("x/" + str(i), 100 + i, None, None, 5000 + i * 1000))
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    dec = multimodal.decode_media(df, decoder="fake")
    got = {r["media_id"]: r for r in dec.collect()}
    assert len(got) == 20
    assert got[3]["n_bytes"] == 103
    assert len(got[3]["feature"]) == 8
    # determinism: same payload -> same feature
    again = {r["media_id"]: r for r in multimodal.decode_media(df).collect()}
    assert got[7]["feature"] == again[7]["feature"]

    frames = multimodal.frame_sample(df, every_ms=1000)
    f = frames.groupBy("media_id").count().collect()
    by_id = {r["media_id"]: r["count"] for r in f}
    assert by_id[0] == 5  # 5000ms video -> 5 frames
    assert 2 not in by_id or df.filter("media_id = 2").first()["kind"] == "video"

    with pytest.raises(NotImplementedError):
        multimodal.decode_media(df, decoder="raise")


def test_embedding_neardup(spark):
    emb = spark.read.parquet(f"{sf_dir(SF)}/embeddings.parquet")
    # plant a near-identical copy of vec 0
    twin = emb.filter("vec_id = 0").select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.000001)).alias("embedding"),
        "label",
    )
    both = emb.unionByName(twin)
    pairs = dedup.embedding_neardup_pairs(both, threshold=0.999)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 10000) in got


def test_min_label_components_raises_past_the_round_cap(spark, monkeypatch):
    # a path 0-1-...-7: each round carries the smallest label one hop
    # further, so node 7 gets label 0 only in round 6
    chain = spark.createDataFrame([(i, i + 1) for i in range(7)], "a long, b long")
    labels = dedup.min_label_components(chain, "a", "b", "id")
    assert {(r["id"], r["cluster_id"]) for r in labels.collect()} == {(i, 0) for i in range(8)}
    monkeypatch.setattr(dedup, "MAX_LABEL_ROUNDS", 2)
    with pytest.raises(RuntimeError, match="after 2 rounds"):
        dedup.min_label_components(chain, "a", "b", "id")


def test_ivf_recall_floor(spark):
    """ANN quality: IVF-probed top-5 (nprobe=4/16) keeps recall >= 0.5
    per query and >= 0.8 mean vs the exact cosine scan."""
    from whisper_spark.queries import q_emb_ivf_recall

    rows = q_emb_ivf_recall(spark, sf_dir(SF)).collect()
    assert rows, "no query vectors"
    recalls = [r["recall"] for r in rows]
    assert min(recalls) >= 0.5, recalls
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_ivf_trained_recall_floor_and_balance(spark):
    """Lloyd-trained centroids (train_ivf, the build_ivf_index default)
    must clear a HIGHER gate than raw seeds at the same nprobe — and
    tighten the bucket layout (lower weighted mean assignment dist2,
    the emb_ivf_bucket_stats skew signal)."""
    from whisper_spark.queries import q_emb_ivf_recall_trained

    rows = q_emb_ivf_recall_trained(spark, sf_dir(SF)).collect()
    assert rows, "no query vectors"
    recalls = [r["recall"] for r in rows]
    assert min(recalls) >= 0.8, recalls          # seeded floor is 0.5
    assert sum(recalls) / len(recalls) >= 0.89, recalls  # seeded gate: 0.8

    emb = spark.read.parquet(f"{sf_dir(SF)}/embeddings.parquet")

    def wmean_dist2(cent):
        st = (
            similarity.ivf_assign(emb, n_buckets=16, centroids=cent)
            .agg(F.avg("dist2").alias("m"))
            .collect()
        )
        return st[0]["m"]

    seeded = wmean_dist2(similarity.seed_centroids(emb, 16))
    trained = wmean_dist2(similarity.train_ivf(emb, 16, rounds=2))
    assert trained < seeded * 0.8, (trained, seeded)


def test_ivf_indexed_pruning(spark, tmp_path):
    """A persisted IVF index answers identically to the in-memory probe
    path, and the scan reads ONLY the probed bucket partitions
    (PartitionFilters on centroid)."""
    emb = spark.read.parquet(f"{sf_dir(SF)}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, idx, n_buckets=16)
    q = emb.filter("vec_id < 8")

    got = similarity.ivf_topk_indexed(spark, idx, q, k=5, nprobe=4)
    # compare against the in-memory path driven by the INDEX's own
    # (trained-by-default) centroid table
    want = similarity.ivf_topk(
        q, emb, k=5, nprobe=4, n_buckets=16,
        centroids=spark.read.parquet(f"{idx}/centroids"),
    )
    as_set = lambda df: {  # noqa: E731
        (r["qid"], r["nid"], r["rank"], round(r["score"], 12)) for r in df.collect()
    }
    assert as_set(got) == as_set(want)

    plan = got._jdf.queryExecution().executedPlan().toString()
    # several scans exist (query side reads the raw embeddings parquet);
    # the INDEX scan must carry the centroid partition filter
    pfs = [seg[:200] for seg in plan.split("PartitionFilters")[1:]]
    assert any("centroid" in pf for pf in pfs), plan


def test_ivf_indexed_fallback_agrees(spark, tmp_path, monkeypatch):
    """ivf_topk_indexed's broadcast-join probe selection (centroid set
    too large to inline) matches the literal-probe path."""
    emb = spark.read.parquet(f"{sf_dir(SF)}/embeddings.parquet")
    idx = str(tmp_path / "ivf_fb")
    similarity.build_ivf_index(emb, idx, n_buckets=8)
    q = emb.filter("vec_id < 4")
    lit = similarity.ivf_topk_indexed(spark, idx, q, k=3, nprobe=2).collect()
    monkeypatch.setattr(similarity, "LITERAL_FLOATS_MAX", 0)
    fb = similarity.ivf_topk_indexed(spark, idx, q, k=3, nprobe=2).collect()
    assert {(r["qid"], r["rank"], r["nid"]) for r in lit} == {
        (r["qid"], r["rank"], r["nid"]) for r in fb
    }


def test_chunk_fixed_covers_text(spark, docs):
    out = textanalysis.chunk_fixed(docs, chunk_size=200, stride=150)
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    lens = {r.doc_id: r.n_chars for r in docs.select("doc_id", "n_chars").collect()}
    for doc_id, chunks in by_doc.items():
        ids = sorted(c.chunk_id for c in chunks)
        assert ids == list(range(len(ids)))  # dense chunk ids from 0
        # closed-form count: max(1, ceil(len/stride))
        import math
        assert len(ids) == max(1, math.ceil(lens[doc_id] / 150))
        # no empty chunks, none longer than chunk_size
        assert all(0 < c.chunk_len <= 200 for c in chunks)
    assert set(by_doc) == set(lens)  # every doc chunked, even short ones


def test_word_ngrams_short_doc_empty(spark):
    df = spark.createDataFrame(
        [(1, "only three words here"), (2, "tiny"), (3, "a b c d e f")],
        "doc_id long, text string",
    )
    out = textanalysis.word_ngrams(df, n=5).collect()
    ids = {r.doc_id for r in out}
    assert 2 not in ids  # 1 word < n: empty, NOT a descending-sequence artifact
    got = sorted(r.g for r in out if r.doc_id == 3)
    assert got == ["a b c d e", "b c d e f"]


def test_contamination_finds_planted_overlap(spark, docs):
    base = docs.limit(20)
    bench = base.limit(3).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    out = textanalysis.contamination(base, bench, n=5)
    hits = {r.doc_id: r for r in out.collect()}
    # the 3 copied docs are fully contaminated, each against exactly 1 bench doc
    copied = [r.doc_id for r in base.limit(3).collect()]
    for cid in copied:
        assert cid in hits and hits[cid].n_bench_docs >= 1


def test_repetition_stats_bounds(spark, docs):
    out = textanalysis.repetition_stats(docs, n=3)
    rows = out.collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert r.n_distinct <= r.n_grams
        assert 0.0 <= r.dup_ratio < 1.0
    rep = spark.createDataFrame([(1, "x y x y x y x y")], "doc_id long, text string")
    r = textanalysis.repetition_stats(rep, n=3).collect()[0]
    assert r.n_grams == 6 and r.n_distinct == 2
    assert abs(r.dup_ratio - 4 / 6) < 1e-12


def test_quantize_int8_roundtrip_and_zero(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r for r in similarity.quantize_int8(df).collect()}
    assert out[1].amax == 1.0
    assert out[1].qvec == [127, -63, 32, 0]  # floor(x*127/amax + .5)
    assert out[2].amax == 0.0 and out[2].qvec == [0, 0, 0, 0]
    # int8 range: every element within [-127, 127]
    ed = spark.read.parquet(f"{sf_dir(SF)}/embeddings.parquet")
    q = similarity.quantize_int8(ed)
    bad = q.filter(
        F.exists(F.col("qvec"), lambda v: (v > 127) | (v < -127))
    ).count()
    assert bad == 0


def test_pq_pipeline_shapes_and_recall_floor(spark):
    """PQ: codebook covers every (subspace, code); encode assigns every
    vector in every subspace; shortlist+re-rank recall@5 stays above the
    measured floor (integer-exact pipeline, so this is deterministic)."""
    from whisper_spark.operators.similarity import (
        int_quantize, pq_adc_topk, pq_codebook, pq_encode, pq_train_round,
    )
    from whisper_spark import queries as Q

    emb = spark.read.parquet(f"{sf_dir('0.01')}/embeddings.parquet")
    qv = int_quantize(emb)
    n = emb.count()
    cb0 = pq_codebook(qv, n_sub=8, n_codes=16)
    assert cb0.count() == 8 * 16
    assert cb0.select(F.size("cq")).distinct().collect()[0][0] == 8
    codes0 = pq_encode(qv, cb0)
    assert codes0.count() == n * 8  # every vector coded in every subspace
    cb1 = pq_train_round(qv, codes0, n_sub=8)
    # training keeps the codebook shape (no empty codes on this corpus)
    assert cb1.count() == 8 * 16
    # deterministic: re-running encode yields identical codes
    a = set(map(tuple, pq_encode(qv, cb1).collect()))
    b = set(map(tuple, pq_encode(qv, cb1).collect()))
    assert a == b
    # end-to-end recall floor (value measured once; integer-exact => stable)
    rec = Q.QUERIES["emb_pq_recall"].fn(spark, sf_dir("0.01")).collect()
    mean = sum(r.recall for r in rec) / len(rec)
    assert mean >= 0.75, mean


def test_parse_media_header_real_formats():
    """The stdlib container-header parser against handcrafted files."""
    import struct

    from whisper_spark.operators.multimodal import parse_media_header as p

    png = (b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0d" + b"IHDR"
           + struct.pack(">II", 640, 480))
    assert p(png) == {"mime": "image/png", "width": 640, "height": 480,
                      "duration_ms": None}

    gif = b"GIF89a" + struct.pack("<HH", 320, 200)
    assert p(gif) == {"mime": "image/gif", "width": 320, "height": 200,
                      "duration_ms": None}

    # BMP with a matching file-size field parses; text that merely starts
    # with "BM" must NOT false-positive
    body = (b"\x00" * 4 + struct.pack("<I", 54)
            + struct.pack("<I", 40) + struct.pack("<ii", 800, -600)
            + b"\x00" * 28)
    bmp = b"BM" + struct.pack("<I", 2 + 4 + len(body)) + body
    assert p(bmp) == {"mime": "image/bmp", "width": 800, "height": 600,
                      "duration_ms": None}
    assert p(b"BMW production rose 4% in the third quarter, said...") is None

    jpg = (b"\xff\xd8\xff\xc0" + struct.pack(">H", 17) + b"\x08"
           + struct.pack(">HH", 768, 1024) + b"\x00" * 12)
    assert p(jpg) == {"mime": "image/jpeg", "width": 1024, "height": 768,
                      "duration_ms": None}

    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    wav = (b"RIFF" + struct.pack("<I", 36) + b"WAVE"
           + b"fmt " + struct.pack("<I", 16) + fmt
           + b"data" + struct.pack("<I", 48000))
    # 48000 bytes at 16000 B/s -> 3000 ms
    assert p(wav) == {"mime": "audio/wav", "width": None, "height": None,
                      "duration_ms": 3000}

    assert p(b"just some text") is None
    assert p(b"") is None


def test_decode_media_auto_mixes_real_and_fallback(spark):
    """decoder='auto' header-parses recognized formats and md5-stubs the
    rest, in one Arrow batch pass."""
    import hashlib
    import struct

    png = (b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0d" + b"IHDR"
           + struct.pack(">II", 12, 34))
    blob = b"opaque unknown payload"
    rows = [
        (1, "image", png, None),
        (2, "image", blob, None),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in multimodal.decode_media(df).collect()}
    assert got[1]["mime"] == "image/png"
    assert (got[1]["width"], got[1]["height"]) == (12, 34)
    d = hashlib.md5(blob).digest()
    assert got[2]["mime"] == "application/octet-stream"
    assert (got[2]["width"], got[2]["height"]) == (16 + d[0], 16 + d[1])
    # the feature stays digest-derived for BOTH paths
    assert got[1]["feature"] == [
        pytest.approx(b / 255.0) for b in hashlib.md5(png).digest()[:8]
    ]


def test_cosine_topk_broadcast_guard(spark):
    """cosine_topk must not broadcast an oversized query side: above the
    limit the hint is dropped (shuffled join, same results); below it the
    broadcast plan is kept."""
    emb = spark.read.parquet(f"{sf_dir(SF)}/embeddings.parquet")
    corpus = emb.select("vec_id", "embedding")
    probes = corpus.filter(F.col("vec_id") < 30)

    # kill size-based auto-broadcast so any Broadcast node in the plan
    # can only come from cosine_topk's explicit hint
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big = similarity.cosine_topk(probes, corpus, k=2, broadcast_limit=10)
        plan_big = big._jdf.queryExecution().executedPlan().toString()
        assert "Broadcast" not in plan_big, plan_big

        small = similarity.cosine_topk(probes, corpus, k=2, broadcast_limit=1000)
        plan_small = small._jdf.queryExecution().executedPlan().toString()
        assert "Broadcast" in plan_small

        g = sorted(map(tuple, big.collect()))
        s = sorted(map(tuple, small.collect()))
        assert g == s and len(g) == 30 * 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_source_ngram_jaccard_stop_gram_cap(spark, tmp_path):
    """A gram present in every source (a stop-gram) must be excluded by
    the document-frequency cap: it contributes no pair rows, so a
    stop-gram-only corpus yields ZERO pairs instead of S^2/2 per gram."""
    from whisper_spark import queries as Q

    stop = "the quick brown fox jumps"          # shared by ALL sources
    rows = []
    for s in range(6):
        # each source: the ubiquitous sentence + one unique sentence
        rows.append((2 * s, f"src{s}", "xx", stop))
        rows.append((2 * s + 1, f"src{s}", "xx", f"unique words for source {s} only"))
    # sources 0 and 1 additionally share a rare sentence (df=2 <= cap=3)
    rare = "rare shared signal sentence here"
    rows.append((100, "src0", "xx", rare))
    rows.append((101, "src1", "xx", rare))
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string"
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))

    out = Q.QUERIES["doc_source_ngram_jaccard"].fn(spark, str(tmp_path))
    got = {(r.src_a, r.src_b): r.n_inter for r in out.collect()}
    # ONLY the rare-gram pair survives; the stop sentence (df=6 > 3) is
    # capped out and creates no cross-source rows at all
    assert set(got) == {("src0", "src1")}
    assert got[("src0", "src1")] == 3          # the rare sentence's 3-grams


def test_substring_dedup_window_pairs_and_keep_rule(spark):
    from whisper_spark.operators.dedup import (
        dedup_substring,
        substring_duplicate_pairs,
    )

    shared = "one two three four five six"          # 6-word run
    rows = [
        (1, f"intro text {shared} outro a"),        # shares the run with 2
        (2, f"different head {shared} tail words"),
        (3, "totally unrelated content with no overlap at all"),
        (4, f"intro text {shared} outro a"),        # exact dup of 1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = substring_duplicate_pairs(docs, window=6, max_df=50)
    got = {(r.id_a, r.id_b): r.n_shared for r in pairs.collect()}
    # every pair among {1,2,4} shares the 6-word window; 3 pairs with none
    assert set(got) == {(1, 2), (1, 4), (2, 4)}
    assert got[(1, 4)] > got[(1, 2)]               # exact dup shares more windows

    kept = sorted(r.doc_id for r in dedup_substring(docs, window=6).collect())
    assert kept == [1, 3]                          # min-id survivor per overlap

    # boilerplate cap: a window present in > max_df docs emits NO pairs
    many = [(i, f"boiler plate header row {i} {shared}") for i in range(10)]
    boiler = spark.createDataFrame(many, "doc_id long, text string")
    capped = substring_duplicate_pairs(boiler, window=6, max_df=3)
    assert capped.count() == 0


def test_parse_media_header_audio_formats():
    """Round-4 formats: FLAC STREAMINFO, MP3 (bare + ID3v2-tagged), Ogg."""
    import struct

    from whisper_spark.operators.multimodal import parse_media_header as p

    # FLAC: 44100 Hz, 441000 total samples -> 10 s
    u64 = (44100 << 44) | (1 << 41) | (15 << 36) | 441000
    flac = (b"fLaC" + b"\x00\x00\x00\x22" + b"\x00" * 10
            + u64.to_bytes(8, "big") + b"\x00" * 16)
    assert p(flac) == {"mime": "audio/flac", "width": None, "height": None,
                       "duration_ms": 10000}

    # MP3 MPEG1 Layer III, 128 kbps header; payload 16000 bytes -> 1000 ms
    hdr = bytes([0xFF, 0xFB, 0x90, 0x00])   # ver=3, layer=1, br_idx=9
    mp3 = hdr + b"\x00" * (16000 - 4)
    got = p(mp3)
    assert got["mime"] == "audio/mpeg" and got["duration_ms"] == 1000

    # ID3v2-tagged MP3: 100-byte tag (syncsafe), then the same frame
    tag = b"ID3" + bytes([3, 0, 0]) + bytes([0, 0, 0, 100]) + b"\x00" * 100
    tagged = tag + hdr + b"\x00" * (16000 - 4)
    got = p(tagged)
    assert got["mime"] == "audio/mpeg" and got["duration_ms"] == 1000

    # tag-only payload: recognized, no duration
    assert p(tag)["mime"] == "audio/mpeg"
    assert p(tag)["duration_ms"] is None

    ogg = b"OggS" + b"\x00" * 20
    assert p(ogg) == {"mime": "application/ogg", "width": None,
                      "height": None, "duration_ms": None}

    # Ogg/Vorbis: ident packet on page 0, duration from the LAST
    # page's granule position (PCM samples / rate)
    def ogg_page(payload, granule, seq, htype=0):
        lace = bytes([255] * (len(payload) // 255) + [len(payload) % 255])
        return (b"OggS" + bytes([0, htype])
                + struct.pack("<q", granule)
                + struct.pack("<II", 1, seq) + b"\x00" * 4
                + bytes([len(lace)]) + lace + payload)

    vorbis_id = (b"\x01vorbis" + struct.pack("<I", 0) + bytes([2])
                 + struct.pack("<I", 44100) + b"\x00" * 12)
    stream = (ogg_page(vorbis_id, 0, 0, 2)
              + ogg_page(b"\xffaudio-ish", 44100 * 3, 1, 4))
    got = p(stream)
    assert got["mime"] == "audio/ogg" and got["duration_ms"] == 3000

    # false sync: payload bytes containing 'OggS\x00' + a plausible
    # granule must NOT hijack the duration (forward page walk)
    fake = b"OggS\x00" + struct.pack("<q", 999999999) + b"\x00" * 10
    stream = (ogg_page(vorbis_id, 0, 0, 2)
              + ogg_page(fake + b"tail", 44100 * 2, 1, 4))
    assert p(stream)["duration_ms"] == 2000

    # Ogg/Opus: 48 kHz granule clock minus pre-skip
    opus_id = (b"OpusHead" + bytes([1, 2]) + struct.pack("<H", 312)
               + struct.pack("<I", 48000) + b"\x00" * 3)
    stream = (ogg_page(opus_id, 0, 0, 2)
              + ogg_page(b"opus-data", 48000 + 312, 1, 4))
    got = p(stream)
    assert got["mime"] == "audio/ogg" and got["duration_ms"] == 1000

    # Ogg/Theora: picture dimensions from the ident header
    theora_id = (b"\x80theora" + bytes([3, 2, 1])
                 + struct.pack(">HH", 40, 30)
                 + (640).to_bytes(3, "big") + (480).to_bytes(3, "big")
                 + b"\x00" * 10)
    got = p(ogg_page(theora_id, 0, 0, 2))
    assert got["mime"] == "video/ogg" and (got["width"], got["height"]) \
        == (640, 480) and got["duration_ms"] is None

    # free-format / bad bitrate index -> recognized, no duration
    bad = bytes([0xFF, 0xFB, 0xF0, 0x00]) + b"\x00" * 100
    assert p(bad)["duration_ms"] is None

    # multiplexed streams: pages from a DIFFERENT serial (e.g. the
    # Theora track of a Theora+Vorbis mux, or a chained stream) must
    # not donate their granule clock to the identified codec
    def ogg_page_ser(payload, granule, serial, seq, htype=0):
        lace = bytes([255] * (len(payload) // 255) + [len(payload) % 255])
        return (b"OggS" + bytes([0, htype])
                + struct.pack("<q", granule)
                + struct.pack("<II", serial, seq) + b"\x00" * 4
                + bytes([len(lace)]) + lace + payload)

    stream = (ogg_page_ser(vorbis_id, 0, 1, 0, 2)
              + ogg_page_ser(b"vorbis-data", 44100 * 2, 1, 1, 0)
              # foreign serial LAST, huge granule (video clock)
              + ogg_page_ser(b"theora-data", 10_000_000, 2, 7, 4))
    got = p(stream)
    assert got["mime"] == "audio/ogg" and got["duration_ms"] == 2000


def test_srp_lsh_recalls_planted_neighbors(spark):
    """Charikar SRP-LSH: planted near-identical vectors (tiny angle)
    must collide in >= 3 of 4 bands; the candidate join must stay an
    equi-join."""
    import math

    from whisper_spark.operators.similarity import (
        srp_candidate_pairs,
        srp_fingerprints,
        srp_planes,
    )

    # deterministic "random" base vectors; pairs (2i, 2i+1) nearly equal
    rows = []
    for i in range(40):
        base = [math.sin(0.7 * i + 0.13 * d) for d in range(16)]
        rows.append((2 * i, base))
        rows.append((2 * i + 1, [x * 1.001 + 1e-4 for x in base]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # banding recall property: pin the unguarded clique
    cand = srp_candidate_pairs(emb, bits=48, bands=4,
                               collapse_identical=False)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan

    got = {(r.id_a, r.id_b) for r in cand.collect()}
    planted = [(2 * i, 2 * i + 1) for i in range(40)]
    hit = [p for p in planted if p in got]
    assert len(hit) == 40                       # tiny angle -> all recalled

    # guarded default (mega-bucket collapse): every planted pair is
    # covered either directly or transitively through its group rep —
    # union-find over the guarded pairs must put 2i and 2i+1 together
    gcand = srp_candidate_pairs(emb, bits=48, bands=4)
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in gcand.collect():
        ra, rb = find(r.id_a), find(r.id_b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    assert all(find(a) == find(b) for a, b in planted)

    # fingerprints are pure per-row projections: same input, same bits
    fp1 = {r.vec_id: r.simhash for r in srp_fingerprints(emb, bits=48).collect()}
    fp2 = {r.vec_id: r.simhash for r in srp_fingerprints(emb, bits=48).collect()}
    assert fp1 == fp2
    # planes are engine-portable md5 constants
    assert srp_planes(2, 3) == srp_planes(2, 3)


def test_substring_spans_merge_intervals(spark):
    from whisper_spark.operators.dedup import substring_duplicate_spans

    run = "one two three four five six"
    rows = [
        # doc 1: the shared run appears TWICE, far apart -> two islands
        (1, f"{run} filler a b c d e f g h i j k l {run} tail"),
        (2, f"head words {run} middle unrelated stuff {run} more"),
        (3, "no overlap at all in this one document text here now ok"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {
        (r.doc_id, r.span_start, r.span_end)
        for r in substring_duplicate_spans(docs, window=6, max_df=10).collect()
    }
    by_doc = {}
    for d, s, e in spans:
        by_doc.setdefault(d, []).append((s, e))
    assert 3 not in by_doc
    assert len(by_doc[1]) == 2 and len(by_doc[2]) == 2
    # first island of doc 1 covers exactly the 6-word run at offset 0
    assert min(by_doc[1]) == (0, 5)


def test_lsh_candidates_expr_path_matches_index_path(spark):
    """The zero-shuffle expression banding must produce the same
    candidate set as the shingle-index path (encodings differ, banding
    semantics identical) — and its pre-join plan has no Exchange."""
    from whisper_spark.operators.dedup import lsh_candidates, minhash_bands_expr

    eff = F.col("id") - (F.col("id") % 10 == 1).cast("long")
    docs = spark.range(500).select(
        F.col("id").alias("doc_id"), F.md5(eff.cast("string")).alias("text")
    )
    idx = {(r.id_a, r.id_b, r.n_shared_bands) for r in
           lsh_candidates(docs, via="index").collect()}
    expr = {(r.id_a, r.id_b, r.n_shared_bands) for r in
            lsh_candidates(docs, via="expr").collect()}
    assert idx == expr and len(idx) >= 50

    banded = docs.select(F.explode(minhash_bands_expr("text")).alias("b"))
    plan = banded._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_incremental_dedup_cross_corpus_only(spark):
    from whisper_spark.operators.dedup import incremental_dedup

    base = "the quick brown fox jumps over the lazy dog " * 4
    seen = spark.createDataFrame(
        [(1, base), (2, "completely different seen text here " * 4)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, base),                      # exact copy of seen 1
            (11, base + "tail!"),            # near copy of seen 1
            (12, "fresh never seen content " * 4),
            (13, "completely different seen text here " * 4),  # exact of 2
            (14, "zz"),                      # too short to shingle
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.exact_dup, r.near_dup, r.keep)
        for r in incremental_dedup(new, seen).collect()
    }
    assert out[10] == (1, 1, 0)
    assert out[11] == (0, 1, 0)   # near only
    assert out[12] == (0, 0, 1)
    assert out[13] == (1, 1, 0)
    assert out[14] == (0, 0, 1)   # short text: no bands, no flags
    # duplicates WITHIN the new batch are NOT flagged (cross-corpus only)
    both_new = spark.createDataFrame(
        [(20, base), (21, base)], "doc_id long, text string"
    )
    fresh_seen = spark.createDataFrame(
        [(1, "nothing in common at all " * 4)], "doc_id long, text string"
    )
    out2 = {
        r.doc_id: r.keep
        for r in incremental_dedup(both_new, fresh_seen).collect()
    }
    assert out2 == {20: 1, 21: 1}


def test_pca_project_recovers_dominant_axis(spark):
    from whisper_spark.operators.similarity import (
        embedding_covariance,
        pca_project,
    )

    # synthetic: dim 4, variance concentrated on axis 1 (x4 scale),
    # deterministic hash-based noise on the rest
    import random

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-8, 8), rng.uniform(-1, 1),
             rng.uniform(-1, 1), rng.uniform(-1, 1)])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cov = {(r.i, r.j): r.cov for r in embedding_covariance(df, dim=4).collect()}
    assert len(cov) == 10  # upper triangle of 4x4
    assert cov[(1, 1)] > 5 * max(cov[(2, 2)], cov[(3, 3)], cov[(4, 4)])

    out = pca_project(df, n_components=2, dim=4)
    rows_out = out.collect()
    assert {c for c in out.columns} == {
        "vec_id", "pc1", "explained_1", "pc2", "explained_2"
    }
    # pc1 must essentially be axis 1 (up to sign normalization):
    # correlation with the raw first coordinate ~ 1
    raw = {r[0]: r[1][0] for r in rows}
    import numpy as np

    a = np.array([raw[r.vec_id] for r in rows_out])
    b = np.array([r.pc1 for r in rows_out])
    corr = abs(np.corrcoef(a, b)[0, 1])
    assert corr > 0.99, corr
    assert rows_out[0].explained_1 > rows_out[0].explained_2 > 0
    # deterministic: second run bit-identical (sign normalization)
    again = {r.vec_id: r.pc1 for r in pca_project(df, 2, dim=4).collect()}
    assert all(again[r.vec_id] == r.pc1 for r in rows_out)

# --------------------------------------------------------------------- #
# PNG scanline pixel decode (round 6: the image leg of the pixel-decode
# integration point, stdlib only)
# --------------------------------------------------------------------- #


def _png_filter_stream(height, pixels, channels, filters):
    """Encode rows with the chosen per-row PNG filters (shared by the
    plain and Adam7 builders)."""
    bpp = channels
    raw = bytearray()
    prev = bytes(len(pixels[0])) if height else b""
    for r, ft in zip(range(height), filters):
        row = bytes(pixels[r])
        enc = bytearray(row)
        if ft == 1:
            for i in range(len(row) - 1, bpp - 1, -1):
                enc[i] = (row[i] - row[i - bpp]) & 0xFF
        elif ft == 2:
            for i in range(len(row)):
                enc[i] = (row[i] - prev[i]) & 0xFF
        elif ft == 3:
            for i in range(len(row)):
                left = row[i - bpp] if i >= bpp else 0
                enc[i] = (row[i] - ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:
            for i in range(len(row)):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (row[i] - pred) & 0xFF
        raw += bytes([ft]) + bytes(enc)
        prev = row
    return bytes(raw)


def _png(width, height, pixels, channels=1, filters=None, level=9,
         ctype=None, plte=None, depth=8):
    """Build a real PNG with python zlib: pixels is rows x (width*channels)
    byte values; filters picks the per-row filter type actually ENCODED.
    ``ctype``/``plte`` override the color type for palette (3) and
    alpha (4/6) variants — ``channels`` stays the filtered-stream
    bytes-per-pixel."""
    import struct
    import zlib

    if ctype is None:
        ctype = 0 if channels == 1 else 2
    filters = filters or [0] * height
    raw = _png_filter_stream(height, pixels, channels, filters)

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, depth, ctype, 0, 0, 0)
    body = chunk(b"IHDR", ihdr)
    if plte is not None:
        body += chunk(b"PLTE", bytes(plte))
    return (
        b"\x89PNG\r\n\x1a\n"
        + body
        + chunk(b"IDAT", zlib.compress(bytes(raw), level))
        + chunk(b"IEND", b"")
    )


def test_png_pixel_decoder_all_filters_gray_and_rgb():
    import random

    from whisper_spark.operators.multimodal import decode_png_pixels

    rng = random.Random(6)
    for channels in (1, 3):
        w, h = 7, 5
        pixels = [
            [rng.randrange(256) for _ in range(w * channels)]
            for _ in range(h)
        ]
        for filters in ([0] * h, [1] * h, [2] * h, [3] * h, [4] * h,
                        [0, 1, 2, 3, 4]):
            got = decode_png_pixels(_png(w, h, pixels, channels, filters))
            flat = [v for row in pixels for v in row]
            assert got["width"] == w and got["height"] == h
            assert got["channels"] == channels
            assert got["n_pixels"] == w * h
            assert got["px_sum"] == sum(flat), filters
            assert got["px_min"] == min(flat)
            assert got["px_max"] == max(flat)
            assert got["px_mean"] == sum(flat) / (w * h * channels)


def test_png_pixel_decoder_rejects_unsupported():
    from whisper_spark.operators.multimodal import decode_png_pixels

    assert decode_png_pixels(b"not a png") is None
    assert decode_png_pixels(None) is None
    # 16-bit depth unsupported -> None, not garbage
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", 2, 1, 16, 0, 0, 0, 0)
    p = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + b"\0\0\0\0"
        + struct.pack(">I", 5) + b"IDAT" + zlib.compress(b"\0\0\0\0\0")
        + b"\0\0\0\0"
    )
    assert decode_png_pixels(p) is None


def test_decode_pixels_mapinpandas(spark):
    from whisper_spark.operators.multimodal import decode_pixels

    rows = [
        (1, "image", bytearray(_png(3, 2, [[10, 20, 30], [40, 50, 60]])), None),
        (2, "image", bytearray(b"garbage"), None),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r.media_id: r for r in decode_pixels(df).collect()}
    assert got[1].px_sum == 210 and got[1].n_pixels == 6
    assert got[1].px_mean == 210 / 6
    assert got[2].px_sum is None  # kept, null stats


def test_png_pixel_decoder_corrupt_idat_returns_none():
    """A structurally valid PNG whose IDAT bytes are garbage must yield
    NULL stats, not a raised zlib error that would kill the Spark task."""
    import struct

    from whisper_spark.operators.multimodal import decode_png_pixels

    ihdr = struct.pack(">IIBBBBB", 4, 2, 8, 0, 0, 0, 0)
    bad = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + b"\0\0\0\0"
        + struct.pack(">I", 6) + b"IDAT" + b"broken" + b"\0\0\0\0"
        + struct.pack(">I", 0) + b"IEND" + b"\0\0\0\0"
    )
    assert decode_png_pixels(bad) is None


def test_png_pixel_decoder_truncated_ihdr_returns_none():
    """An IHDR chunk that DECLARES 13 bytes but is cut short by EOF
    (truncated upload) must yield None, not struct.error/IndexError
    (round-6 self-review finding)."""
    import struct

    from whisper_spark.operators.multimodal import decode_png_pixels

    magic = b"\x89PNG\r\n\x1a\n"
    # body shorter than the 10 bytes struct.unpack needs
    assert decode_png_pixels(
        magic + struct.pack(">I", 13) + b"IHDR" + b"\0\0\0\0"
    ) is None
    # 12 body bytes: unpack succeeds, body[12] would IndexError
    assert decode_png_pixels(
        magic + struct.pack(">I", 13) + b"IHDR" + b"\0" * 12
    ) is None


def test_png_pixel_decoder_bounds_decompression_bomb():
    """IDAT inflation is bounded by the size IHDR promises: a 1x1 image
    whose IDAT inflates to 10 MB must return None without fully
    expanding the stream (round-6 self-review finding)."""
    import struct
    import zlib

    from whisper_spark.operators.multimodal import decode_png_pixels

    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
    bomb = zlib.compress(b"\x00" * 10_000_000)
    p = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + b"\0\0\0\0"
        + struct.pack(">I", len(bomb)) + b"IDAT" + bomb + b"\0\0\0\0"
        + struct.pack(">I", 0) + b"IEND" + b"\0\0\0\0"
    )
    assert decode_png_pixels(p) is None


def _gif_lzw_encode(pixels, min_code):
    """INDEPENDENT textbook GIF-LZW encoder (string-table compression,
    LSB-first variable-width codes, clear on table overflow) — the
    verification direction for decode_gif_pixels' decompressor."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    out_bits = []
    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    code_size = min_code + 1
    out_bits.append((clear, code_size))
    s = b""
    for px in pixels:
        c = bytes([px])
        if s + c in table:
            s = s + c
            continue
        out_bits.append((table[s], code_size))
        if next_code < 4096:
            table[s + c] = next_code
            next_code += 1
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        else:
            out_bits.append((clear, code_size))
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            code_size = min_code + 1
        s = c
    if s:
        out_bits.append((table[s], code_size))
    out_bits.append((end, code_size))
    acc = nbits = 0
    by = bytearray()
    for code, size in out_bits:
        acc |= code << nbits
        nbits += size
        while nbits >= 8:
            by.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        by.append(acc & 0xFF)
    return bytes(by)


def _gif(w, h, pixels, min_code, palette_n, interlace=False, gce=True):
    import struct

    palette = b"".join(
        bytes([(7 * i) % 256, (11 * i) % 256, (13 * i) % 256])
        for i in range(palette_n)
    )
    data = _gif_lzw_encode(pixels, min_code)
    blocks = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i:i + 255]
        blocks += bytes([len(chunk)]) + chunk
    blocks += b"\x00"
    packed = 0x80 | (palette_n.bit_length() - 2)
    ext = b"\x21\xF9\x04\x00\x00\x00\x00\x00" if gce else b""
    ipacked = 0x40 if interlace else 0
    return (
        b"GIF89a" + struct.pack("<HHBBB", w, h, packed, 0, 0) + palette
        + ext + b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h, ipacked)
        + bytes([min_code]) + bytes(blocks) + b"\x3B"
    )


def test_gif_pixel_decoder_against_independent_lzw_encoder():
    """Round-trip decode_gif_pixels against an independently written
    LZW compressor, covering every code-width transition (min codes
    2/4/7/8), run-heavy input, the kwkwk (code == next_code) case,
    extension skipping, and multi-sub-block chunking."""
    import random

    from whisper_spark.operators.multimodal import decode_gif_pixels

    rng = random.Random(42)
    for trial in range(20):
        w, h = rng.randint(1, 60), rng.randint(1, 60)
        min_code = rng.choice([2, 4, 7, 8])
        palette_n = 1 << min_code
        style = rng.choice(["random", "runs", "kwkwk"])
        n = w * h
        if style == "random":
            pixels = [rng.randrange(palette_n) for _ in range(n)]
        elif style == "runs":
            pixels = []
            while len(pixels) < n:
                pixels += [rng.randrange(palette_n)] * rng.randint(1, 40)
            pixels = pixels[:n]
        else:
            a, b = (rng.sample(range(palette_n), 2)
                    if palette_n > 1 else (0, 0))
            pixels = [(a if i % 2 == 0 else b) for i in range(n)]
        got = decode_gif_pixels(_gif(w, h, pixels, min_code, palette_n))
        pal = [((7 * i) % 256, (11 * i) % 256, (13 * i) % 256)
               for i in range(palette_n)]
        rgb = [c for p in pixels for c in pal[p]]
        assert _nopix(got) == {
            "width": w, "height": h, "channels": 3, "n_pixels": n,
            "px_min": min(rgb), "px_max": max(rgb), "px_sum": sum(rgb),
            "px_mean": sum(rgb) / (n * 3),
        }, (trial, w, h, min_code, style)


def test_gif_pixel_decoder_dict_overflow_and_rejects():
    """14400 random 256-color pixels walk the code width 9->12 and force
    a mid-stream table-overflow clear; corrupt shapes yield None."""
    import random

    from whisper_spark.operators.multimodal import decode_gif_pixels

    rng = random.Random(7)
    w = h = 120
    pixels = [rng.randrange(256) for _ in range(w * h)]
    gif = _gif(w, h, pixels, 8, 256)
    got = decode_gif_pixels(gif)
    pal = [((7 * i) % 256, (11 * i) % 256, (13 * i) % 256)
           for i in range(256)]
    rgb = [c for p in pixels for c in pal[p]]
    assert got["px_sum"] == sum(rgb) and got["n_pixels"] == w * h

    assert decode_gif_pixels(None) is None
    assert decode_gif_pixels(b"GIF89a") is None  # truncated LSD
    assert decode_gif_pixels(b"not a gif at all") is None
    # interlaced: SUPPORTED (deinterlace round trip in
    # test_png_palette_alpha_types_and_gif_interlace)
    assert decode_gif_pixels(
        _gif(4, 4, [0] * 16, 2, 4, interlace=True)
    )["n_pixels"] == 16
    # truncated LZW stream: cut the payload mid-sub-block
    assert decode_gif_pixels(gif[: len(gif) // 2]) is None
    # a code beyond the dictionary: min_code 2 stream starting with an
    # unassigned code (6 = end+1 with nothing assigned yet... use 7)
    import struct

    bad = (
        b"GIF89a" + struct.pack("<HHBBB", 2, 1, 0x80, 0, 0)
        + bytes(12)  # 4-entry palette
        + b"\x2C" + struct.pack("<HHHHB", 0, 0, 2, 1, 0)
        + bytes([2, 2, 0b00111100, 0b0000, 0])  # clear(100) then 7
        + b"\x3B"
    )
    assert decode_gif_pixels(bad) is None


def _nopix(d):
    """Decoder stats without the raster (the pixels key is covered by
    its own tests; stat assertions stay byte-for-byte)."""
    return {k: v for k, v in d.items() if k != "pixels"}


def _bmp(w, h, rows_bgr, top_down=False):
    """24-bit BI_RGB BMP; rows_bgr is h rows of 3*w bytes (bottom-up
    storage order unless top_down)."""
    import struct

    stride = (3 * w + 3) & ~3
    hdr = (
        b"BM" + struct.pack("<IHHI", 54 + stride * h, 0, 0, 54)
        + struct.pack(
            "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, 24, 0,
            stride * h, 2835, 2835, 0, 0,
        )
    )
    body = b"".join(
        bytes(r) + bytes(stride - 3 * w) for r in rows_bgr
    )
    return hdr + body


def test_bmp_pixel_decoder_stats_padding_and_orientation():
    import random

    from whisper_spark.operators.multimodal import decode_bmp_pixels

    rng = random.Random(5)
    for w, h in [(1, 1), (2, 3), (5, 4), (7, 2)]:  # strides 4,8,16,24
        rows = [[rng.randrange(256) for _ in range(3 * w)]
                for _ in range(h)]
        flat = [b for r in rows for b in r]
        exp = {
            "width": w, "height": h, "channels": 3, "n_pixels": w * h,
            "px_min": min(flat), "px_max": max(flat),
            "px_sum": sum(flat), "px_mean": sum(flat) / (w * h * 3),
        }
        assert _nopix(decode_bmp_pixels(_bmp(w, h, rows))) == exp
        # top-down (negative height): same orderless stats
        assert _nopix(decode_bmp_pixels(_bmp(w, h, rows, top_down=True))) == exp


def test_bmp_pixel_decoder_rejects():
    from whisper_spark.operators.multimodal import decode_bmp_pixels

    good = _bmp(2, 2, [[0] * 6, [1] * 6])
    assert decode_bmp_pixels(good)["n_pixels"] == 4
    assert decode_bmp_pixels(None) is None
    assert decode_bmp_pixels(b"BMshort") is None
    assert decode_bmp_pixels(good[:-3]) is None  # truncated pixel array
    # 16-bpp and compressed variants: out of scope, NULL stats
    bad_bpp = bytearray(good)
    bad_bpp[28] = 16
    assert decode_bmp_pixels(bytes(bad_bpp)) is None
    bad_comp = bytearray(good)
    bad_comp[30] = 1  # BI_RLE8
    assert decode_bmp_pixels(bytes(bad_comp)) is None


def test_decode_pixels_dispatches_all_three_formats(spark):
    from whisper_spark.operators.multimodal import decode_pixels

    gif = _gif(3, 2, [1, 2, 3, 0, 1, 2], 2, 4)
    bmp = _bmp(2, 2, [[10, 20, 30, 40, 50, 60], [1, 2, 3, 4, 5, 6]])
    rows = [
        (1, "image", bytearray(_png(3, 2, [[10, 20, 30], [40, 50, 60]])), None),
        (2, "image", bytearray(gif), None),
        (3, "image", bytearray(bmp), None),
        (4, "image", bytearray(b"garbage"), None),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r.media_id: r for r in decode_pixels(df).collect()}
    assert got[1].px_sum == 210 and got[1].channels == 1
    pal = [((7 * i) % 256, (11 * i) % 256, (13 * i) % 256) for i in range(4)]
    assert got[2].px_sum == sum(
        c for p in [1, 2, 3, 0, 1, 2] for c in pal[p]
    ) and got[2].channels == 3
    assert got[3].px_sum == 210 + 21 and got[3].n_pixels == 4
    assert got[4].px_sum is None


class _FlacBitWriter:
    def __init__(self):
        self.bits = []

    def write(self, v, n):
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def unary(self, q):
        self.bits += [0] * q + [1]

    def align(self):
        while len(self.bits) % 8:
            self.bits.append(0)

    def bytes(self):
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for bit in self.bits[i:i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


def _flac_crc8(data):
    c = 0
    for b in data:
        c ^= b
        for _ in range(8):
            c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
    return c


def _flac_crc16(data):
    c = 0
    for b in data:
        c ^= b << 8
        for _ in range(8):
            c = (
                ((c << 1) ^ 0x8005) & 0xFFFF
                if c & 0x8000 else (c << 1) & 0xFFFF
            )
    return c


_FLAC_FIXED = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}


def _flac_frame(chans, bps, frame_no, porder=0):
    """INDEPENDENTLY written fixed-predictor FLAC frame encoder (best
    fixed order per channel, Rice method 0, optional partitioning) —
    the verification direction for decode_flac_samples."""
    import struct

    n = len(chans[0])
    w = _FlacBitWriter()
    w.write(0b11111111111110, 14)
    w.write(0, 2)                     # reserved + fixed-blocksize strategy
    w.write(7, 4)                     # blocksize: 16-bit at header end
    w.write(0, 4)                     # rate: from STREAMINFO
    w.write(len(chans) - 1, 4)        # independent channels
    w.write({8: 1, 12: 2, 16: 4, 20: 5, 24: 6}[bps], 3)
    w.write(0, 1)
    w.write(frame_no, 8)              # UTF-8 1-byte frame number (< 128)
    w.write(n - 1, 16)
    w.write(_flac_crc8(w.bytes()), 8)
    for samples in chans:
        best, border = None, 0
        for order in range(0, min(5, n)):
            res = [
                samples[i] - sum(
                    c * samples[i - 1 - j]
                    for j, c in enumerate(_FLAC_FIXED[order])
                )
                for i in range(order, n)
            ]
            cost = sum(abs(r) for r in res)
            if best is None or cost < best[0]:
                best, border = (cost, res), order
        order, res = border, best[1]
        w.write(0, 1)
        w.write(0b001000 | order, 6)  # FIXED subframe of that order
        w.write(0, 1)                 # no wasted bits
        for s in samples[:order]:
            w.write(s & ((1 << bps) - 1), bps)
        w.write(0, 2)                 # Rice method 0 (4-bit params)
        w.write(porder, 4)
        idx = 0
        for part in range(1 << porder):
            cnt = (n >> porder) - (order if part == 0 else 0)
            chunk = res[idx:idx + cnt]
            idx += cnt
            zz = [(r << 1) if r >= 0 else ((-r) << 1) - 1 for r in chunk]
            best_p = min(
                range(15),
                key=lambda p: sum((z >> p) + 1 + p for z in zz),
            )
            w.write(best_p, 4)
            for z in zz:
                w.unary(z >> best_p)
                if best_p:
                    w.write(z & ((1 << best_p) - 1), best_p)
    w.align()
    frame = w.bytes()
    return frame + struct.pack(">H", _flac_crc16(frame))


def _flac(chans_frames, bps, rate=8000, channels=1, porder=0):
    import struct

    total = sum(len(f[0]) for f in chans_frames)
    si = _FlacBitWriter()
    si.write(16, 16)
    si.write(65535, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(rate, 20)
    si.write(channels - 1, 3)
    si.write(bps - 1, 5)
    si.write(total, 36)
    info = si.bytes() + b"\0" * 16
    out = (
        b"fLaC" + bytes([0x80]) + struct.pack(">I", len(info))[1:] + info
    )
    for i, chans in enumerate(chans_frames):
        out += _flac_frame(chans, bps, i, porder=porder)
    return out


def _flac_frame_lpc(chans, bps, frame_no, coef, prec, shift):
    """LPC-subframe encoder variant: residuals are derived from the
    GIVEN quantized coefficients, so the round trip is exact for any
    coefficient choice — which independently verifies the decoder's
    LPC bit layout and integer predictor."""
    import struct

    n = len(chans[0])
    order = len(coef)
    w = _FlacBitWriter()
    w.write(0b11111111111110, 14)
    w.write(0, 2)
    w.write(7, 4)
    w.write(0, 4)
    w.write(len(chans) - 1, 4)
    w.write({8: 1, 12: 2, 16: 4, 20: 5, 24: 6}[bps], 3)
    w.write(0, 1)
    w.write(frame_no, 8)
    w.write(n - 1, 16)
    w.write(_flac_crc8(w.bytes()), 8)
    for samples in chans:
        res = []
        for i in range(order, n):
            acc = sum(c * samples[i - 1 - j] for j, c in enumerate(coef))
            res.append(samples[i] - (acc >> shift))
        w.write(0, 1)
        w.write(0b100000 | (order - 1), 6)  # LPC, order
        w.write(0, 1)
        for s in samples[:order]:
            w.write(s & ((1 << bps) - 1), bps)
        w.write(prec - 1, 4)
        w.write(shift, 5)
        for c in coef:
            w.write(c & ((1 << prec) - 1), prec)
        w.write(0, 2)
        w.write(0, 4)  # one partition
        zz = [(r << 1) if r >= 0 else ((-r) << 1) - 1 for r in res]
        best_p = min(
            range(15), key=lambda p: sum((z >> p) + 1 + p for z in zz)
        )
        w.write(best_p, 4)
        for z in zz:
            w.unary(z >> best_p)
            if best_p:
                w.write(z & ((1 << best_p) - 1), best_p)
    w.align()
    frame = w.bytes()
    return frame + struct.pack(">H", _flac_crc16(frame))


def _flac_frame_stereo(left, right, bps, frame_no, mode):
    """Stereo-decorrelated frame (mode 8 left/side, 9 right/side,
    10 mid/side), coded channels as VERBATIM subframes — the side
    channel at bps+1 bits per the spec."""
    import struct

    n = len(left)
    side = [a - b for a, b in zip(left, right)]
    if mode == 8:
        coded = [(left, bps), (side, bps + 1)]
    elif mode == 9:
        coded = [(side, bps + 1), (right, bps)]
    else:
        mid = [(a + b) >> 1 for a, b in zip(left, right)]
        coded = [(mid, bps), (side, bps + 1)]
    w = _FlacBitWriter()
    w.write(0b11111111111110, 14)
    w.write(0, 2)
    w.write(7, 4)
    w.write(0, 4)
    w.write(mode, 4)
    w.write({8: 1, 12: 2, 16: 4, 20: 5, 24: 6}[bps], 3)
    w.write(0, 1)
    w.write(frame_no, 8)
    w.write(n - 1, 16)
    w.write(_flac_crc8(w.bytes()), 8)
    for samples, sbps in coded:
        w.write(0, 1)
        w.write(1, 6)  # VERBATIM
        w.write(0, 1)
        for s in samples:
            w.write(s & ((1 << sbps) - 1), sbps)
    w.align()
    frame = w.bytes()
    return frame + struct.pack(">H", _flac_crc16(frame))


def test_flac_sample_decoder_lpc_and_stereo_decorrelation():
    """LPC subframes (random quantized coefficients, orders 1-8,
    shifts 0-14) and all three stereo decorrelation modes round-trip
    exactly — the residual derivation makes any coefficient choice
    self-consistent, so a decoder bit-layout or predictor error cannot
    cancel out."""
    import random
    import struct

    from whisper_spark.operators.multimodal import decode_flac_samples

    rng = random.Random(21)

    def stream(frame_bytes, bps, channels, total):
        si = _FlacBitWriter()
        si.write(16, 16)
        si.write(65535, 16)
        si.write(0, 24)
        si.write(0, 24)
        si.write(8000, 20)
        si.write(channels - 1, 3)
        si.write(bps - 1, 5)
        si.write(total, 36)
        info = si.bytes() + b"\0" * 16
        return (
            b"fLaC" + bytes([0x80])
            + struct.pack(">I", len(info))[1:] + info + frame_bytes
        )

    for trial in range(10):
        bps = rng.choice([8, 16, 16, 24])
        lim = 1 << (bps - 1)
        n = rng.choice([32, 64, 128])
        order = rng.randint(1, 8)
        prec = rng.randint(4, 14)
        shift = rng.randint(0, 14)
        coef = [
            rng.randrange(-(1 << (prec - 1)), 1 << (prec - 1))
            for _ in range(order)
        ]
        sam = [rng.randrange(-lim // 2, lim // 2) for _ in range(n)]
        flac = stream(
            _flac_frame_lpc([sam], bps, 0, coef, prec, shift), bps, 1, n
        )
        got = decode_flac_samples(flac)
        assert got and got["s_sum"] == sum(sam) and got["n_samples"] == n, (
            trial, order, prec, shift
        )

    for mode in (8, 9, 10):
        n = 96
        left = [rng.randrange(-30000, 30000) for _ in range(n)]
        right = [rng.randrange(-30000, 30000) for _ in range(n)]
        flac = stream(_flac_frame_stereo(left, right, 16, 0, mode), 16, 2, n)
        got = decode_flac_samples(flac)
        flat = [v for pair in zip(left, right) for v in pair]
        assert got == {
            "sample_rate": 8000, "channels": 2, "bits": 16,
            "n_samples": 2 * n, "s_min": min(flat), "s_max": max(flat),
            "s_sum": sum(flat), "s_sq_sum": sum(x * x for x in flat),
            "s_mean": sum(flat) / (2 * n),
        }, mode


def test_flac_sample_decoder_against_independent_encoder():
    """Round-trip decode_flac_samples against an independently written
    fixed-predictor FLAC encoder: bit depths 8/12/16/24, 1-3 channels,
    constant/ramp/noise signals (exercising fixed orders 0-4 and the
    full Rice path), multi-frame streams."""
    import random

    from whisper_spark.operators.multimodal import decode_flac_samples

    rng = random.Random(11)
    for trial in range(15):
        bps = rng.choice([8, 12, 16, 16, 24])
        channels = rng.choice([1, 1, 2, 3])
        style = rng.choice(["const", "ramp", "noise"])
        lim = 1 << (bps - 1)
        frames, flat = [], []
        for _ in range(rng.randint(1, 3)):
            n = rng.choice([16, 64, 192])
            chans = []
            for _c in range(channels):
                if style == "const":
                    chans.append([rng.randrange(-lim, lim)] * n)
                elif style == "ramp":
                    v0 = rng.randrange(-lim // 2, lim // 2)
                    chans.append([
                        max(-lim, min(lim - 1, v0 + i * rng.randint(-3, 3)))
                        for i in range(n)
                    ])
                else:
                    chans.append(
                        [rng.randrange(-lim, lim) for _ in range(n)]
                    )
            frames.append(chans)
            for i in range(n):
                for ch in chans:
                    flat.append(ch[i])
        got = decode_flac_samples(_flac(frames, bps, channels=channels))
        assert got == {
            "sample_rate": 8000, "channels": channels, "bits": bps,
            "n_samples": len(flat), "s_min": min(flat), "s_max": max(flat),
            "s_sum": sum(flat),
            "s_sq_sum": sum(x * x for x in flat),
            "s_mean": sum(flat) / len(flat),
        }, (trial, bps, channels, style)


def test_flac_sample_decoder_partitions_and_rejects():
    import random

    from whisper_spark.operators.multimodal import decode_flac_samples

    rng = random.Random(3)
    sam = [rng.randrange(-500, 500) for _ in range(256)]
    good = _flac([[sam]], 16, porder=2)  # partitioned Rice (4 parts)
    got = decode_flac_samples(good)
    assert got["s_sum"] == sum(sam) and got["n_samples"] == 256

    assert decode_flac_samples(None) is None
    assert decode_flac_samples(b"fLaC") is None       # truncated
    assert decode_flac_samples(good[:-2]) is None     # missing CRC-16
    bad = bytearray(good)
    bad[-1] ^= 0xFF                                   # CRC-16 mismatch
    assert decode_flac_samples(bytes(bad)) is None
    bad = bytearray(good)
    bad[46] ^= 0x40                                   # corrupt header
    assert decode_flac_samples(bytes(bad)) is None

    # round-6 review findings: corrupt shapes must yield None, never an
    # escaping exception (the mapInPandas stage has no try/except)
    import struct

    short_info = (
        b"fLaC"
        + bytes([0x01]) + struct.pack(">I", 20)[1:] + b"\0" * 20  # pad
        + bytes([0x80]) + struct.pack(">I", 34)[1:] + b"\0" * 12  # cut
    )
    assert decode_flac_samples(short_info) is None
    # wasted-bits count >= bps (eff <= 0): header CRC valid, subframe
    # bits corrupt — take the good stream and splice a poisoned
    # subframe: flag=1 then 16 zero bits (unary 17) makes eff = -1
    hdr_end = 42 + 8  # fLaC+streaminfo(38) ... frame header is 7+1 bytes
    poisoned = bytearray(good[:hdr_end])
    poisoned += bytes([0b00000011, 0x00, 0x00])  # pad0,type000001,wasted..
    poisoned += b"\x80" + b"\x00" * 8
    assert decode_flac_samples(bytes(poisoned)) is None
    # truncated at a FRAME boundary: one valid 256-sample frame but
    # STREAMINFO declares 512 total -> incomplete, None
    full2 = _flac([[sam], [sam]], 16)
    one_frame_len = len(_flac_frame([sam], 16, 0))
    cut = full2[:42 + one_frame_len]
    assert decode_flac_samples(cut) is None


def test_decode_samples_dispatches_wav_and_flac(spark):
    from whisper_spark.operators.multimodal import decode_samples

    flac = _flac([[[5, 6, 7, 8] * 8]], 16)
    rows = [
        (1, "audio", bytearray(flac), None),
        (2, "audio", bytearray(b"not audio"), None),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r.media_id: r for r in decode_samples(df).collect()}
    assert got[1].s_sum == (5 + 6 + 7 + 8) * 8 and got[1].bits == 16
    assert got[2].s_sum is None


def _jpeg_encoder_env():
    """INDEPENDENTLY written baseline JPEG encoder (forward DCT via a
    matmul-formulated orthonormal basis, quantize, zigzag, canonical
    Huffman with CUSTOM fixed-length tables, byte stuffing, optional
    restart intervals, 4:2:0 downsampling) plus the matching
    expected-stats reconstruction — the verification direction for
    decode_jpeg_pixels."""
    import struct

    import numpy as np

    k = np.arange(8)
    B = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) / 2.0
    B[0, :] *= 1 / np.sqrt(2)

    ZZ = [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
    DC_COUNTS = [0, 0, 0, 12] + [0] * 12
    DC_VALS = list(range(12))
    AC_SYMS = [0x00, 0xF0] + [
        (r << 4) | s for r in range(16) for s in range(1, 11)
    ]
    AC_COUNTS = [0] * 16
    AC_COUNTS[7] = len(AC_SYMS)

    def canon(counts, vals):
        code, k2, t = 0, 0, {}
        for ln in range(1, 17):
            for _ in range(counts[ln - 1]):
                t[vals[k2]] = (ln, code)
                code += 1
                k2 += 1
            code <<= 1
        return t

    DC_ENC, AC_ENC = canon(DC_COUNTS, DC_VALS), canon(AC_COUNTS, AC_SYMS)

    class BW:
        def __init__(self):
            self.bits = []

        def put(self, v, n):
            for i in range(n - 1, -1, -1):
                self.bits.append((v >> i) & 1)

        def bytes_stuffed(self):
            out = bytearray()
            bits = self.bits + [1] * ((8 - len(self.bits) % 8) % 8)
            for i in range(0, len(bits), 8):
                b = 0
                for bit in bits[i:i + 8]:
                    b = (b << 1) | bit
                out.append(b)
                if b == 0xFF:
                    out.append(0x00)
            return bytes(out)

    def cat(v):
        a, t = abs(v), 0
        while a:
            t += 1
            a >>= 1
        return t

    def emit_block(w, qblk, pred):
        zz = [int(qblk.flat[ZZ[i]]) for i in range(64)]
        diff = zz[0] - pred
        t = cat(diff)
        ln, code = DC_ENC[t]
        w.put(code, ln)
        if t:
            w.put((diff if diff > 0 else diff + (1 << t) - 1)
                  & ((1 << t) - 1), t)
        run = 0
        last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
        for k2 in range(1, 64):
            if k2 > last_nz:
                break
            v = zz[k2]
            if v == 0:
                run += 1
                continue
            while run >= 16:
                ln, code = AC_ENC[0xF0]
                w.put(code, ln)
                run -= 16
            s = cat(v)
            ln, code = AC_ENC[(run << 4) | s]
            w.put(code, ln)
            w.put((v if v > 0 else v + (1 << s) - 1) & ((1 << s) - 1), s)
            run = 0
        if last_nz < 63:
            ln, code = AC_ENC[0x00]
            w.put(code, ln)
        return zz[0]

    def encode(planes_full, h, w, samp, qtabs, dri=0):
        nc = len(planes_full)
        hmax = max(s[0] for s in samp)
        vmax = max(s[1] for s in samp)
        mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
        qblocks = []
        for i, (sh, sv) in enumerate(samp):
            pl = planes_full[i]
            if (sh, sv) != (hmax, vmax):
                fy, fx = vmax // sv, hmax // sh
                H, W = pl.shape
                pH, pW = -(-H // fy) * fy, -(-W // fx) * fx
                pp = np.empty((pH, pW))
                pp[:H, :W] = pl
                pp[H:, :W] = pl[H - 1:H, :]
                pp[:, W:] = pp[:, W - 1:W]
                pl = pp.reshape(pH // fy, fy, pW // fx, fx).mean(axis=(1, 3))
            need_h, need_w = mcuy * sv * 8, mcux * sh * 8
            H, W = pl.shape
            big = np.empty((need_h, need_w))
            big[:H, :W] = pl
            if need_h > H:
                big[H:, :W] = pl[H - 1:H, :]
            if need_w > W:
                big[:, W:] = big[:, W - 1:W]
            q = np.array(qtabs[i]).reshape(8, 8)
            bl = np.zeros((need_h // 8, need_w // 8, 8, 8), dtype=np.int64)
            for by in range(need_h // 8):
                for bx in range(need_w // 8):
                    blk = big[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] - 128.0
                    bl[by, bx] = np.round((B @ blk @ B.T) / q)
            qblocks.append(bl)

        def seg(marker, payload):
            return (
                b"\xff" + bytes([marker])
                + struct.pack(">H", len(payload) + 2) + payload
            )

        out = bytearray(b"\xff\xd8")
        out += seg(0xDB, bytes([0x00])
                   + bytes([qtabs[0][ZZ[i]] for i in range(64)]))
        if nc == 3:
            out += seg(0xDB, bytes([0x01])
                       + bytes([qtabs[1][ZZ[i]] for i in range(64)]))
        sof = struct.pack(">BHHB", 8, h, w, nc)
        for i in range(nc):
            sof += bytes([
                i + 1, (samp[i][0] << 4) | samp[i][1], 0 if i == 0 else 1
            ])
        out += seg(0xC0, sof)
        out += seg(0xC4, bytes([0x00]) + bytes(DC_COUNTS) + bytes(DC_VALS))
        out += seg(0xC4, bytes([0x10]) + bytes(AC_COUNTS) + bytes(AC_SYMS))
        if dri:
            out += seg(0xDD, struct.pack(">H", dri))
        sos = bytes([nc])
        for i in range(nc):
            sos += bytes([i + 1, 0x00])
        out += seg(0xDA, sos + bytes([0, 63, 0]))
        pred = [0] * nc
        w_ = BW()
        mcu_done = rst = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if dri and mcu_done and mcu_done % dri == 0:
                    out += w_.bytes_stuffed()
                    out += bytes([0xFF, 0xD0 + (rst % 8)])
                    rst += 1
                    w_ = BW()
                    pred = [0] * nc
                for i, (sh, sv) in enumerate(samp):
                    for by in range(sv):
                        for bx in range(sh):
                            pred[i] = emit_block(
                                w_,
                                qblocks[i][my * sv + by, mx * sh + bx],
                                pred[i],
                            )
                mcu_done += 1
        out += w_.bytes_stuffed() + b"\xff\xd9"
        return bytes(out), qblocks

    def expected_stats(qblocks, samp, qtabs, h, w, nc):
        hmax = max(s[0] for s in samp)
        vmax = max(s[1] for s in samp)
        planes = []
        for i, (sh, sv) in enumerate(samp):
            q = np.array(qtabs[i]).reshape(8, 8)
            bl = qblocks[i].astype(np.float64) * q
            by, bx = bl.shape[:2]
            px = np.empty((by * 8, bx * 8))
            for yy in range(by):
                for xx in range(bx):
                    px[yy * 8:(yy + 1) * 8, xx * 8:(xx + 1) * 8] = (
                        B.T @ bl[yy, xx] @ B
                    )
            px += 128.0
            px = np.repeat(
                np.repeat(px, vmax // sv, axis=0), hmax // sh, axis=1
            )
            planes.append(px[:h, :w])
        if nc == 1:
            rgb = np.clip(np.round(planes[0]), 0, 255)
            channels = 1
        else:
            y, cb, cr = planes
            r = y + 1.402 * (cr - 128.0)
            g = y - 0.3441363 * (cb - 128.0) - 0.71413636 * (cr - 128.0)
            b = y + 1.772 * (cb - 128.0)
            rgb = np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255)
            channels = 3
        arr = rgb.astype(np.int64)
        tot = int(arr.sum())
        return {
            "width": w, "height": h, "channels": channels,
            "n_pixels": h * w, "px_min": int(arr.min()),
            "px_max": int(arr.max()), "px_sum": tot,
            "px_mean": tot / (h * w * channels),
        }

    return encode, expected_stats


_JPEG_QL = [
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]
_JPEG_QC = [
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
] + [99] * 32


def test_jpeg_pixel_decoder_against_independent_encoder():
    """Baseline JPEG end-to-end vs an independently written encoder:
    grayscale and YCbCr, 4:4:4 and 4:2:0, non-multiple-of-8 sizes, and
    restart intervals.  The expected stats apply the identical
    dequant -> IDCT -> round/clamp pipeline to the encoder's KNOWN
    quantized coefficients (the IDCT itself is verified independently
    below), so Huffman/marker/zigzag/predictor errors cannot hide."""
    import numpy as np

    from whisper_spark.operators.multimodal import decode_jpeg_pixels

    encode, expected_stats = _jpeg_encoder_env()
    rng = np.random.RandomState(9)
    for trial in range(8):
        color = trial % 2 == 1
        h, w = int(rng.randint(8, 40)), int(rng.randint(8, 40))
        if color:
            samp = (
                [(2, 2), (1, 1), (1, 1)]
                if trial % 4 == 3 else [(1, 1)] * 3
            )
            planes = [
                rng.randint(0, 256, (h, w)).astype(float) for _ in range(3)
            ]
            qtabs, nc = [_JPEG_QL, _JPEG_QC, _JPEG_QC], 3
        else:
            samp = [(1, 1)]
            planes = [rng.randint(0, 256, (h, w)).astype(float)]
            qtabs, nc = [_JPEG_QL], 1
        dri = 2 if trial == 5 else 0
        jpeg, qb = encode(planes, h, w, samp, qtabs, dri=dri)
        got = decode_jpeg_pixels(jpeg)
        assert _nopix(got) == expected_stats(qb, samp, qtabs, h, w, nc), (
            trial, color, samp, dri, h, w
        )


def test_jpeg_idct_matches_independent_basis():
    """The decoder's einsum IDCT vs an independently formulated
    matmul basis on random coefficient blocks — float64 agreement to
    1e-9 BEFORE any rounding, so the round-trip test above cannot be
    self-confirming on the transform."""
    import numpy as np

    from whisper_spark.operators.multimodal import _jpeg_idct_f64

    rng = np.random.RandomState(4)
    k = np.arange(8)
    B = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) / 2.0
    B[0, :] *= 1 / np.sqrt(2)
    coef = rng.uniform(-2000, 2000, (5, 8, 8))
    want = np.stack([B.T @ c @ B for c in coef])
    assert np.allclose(_jpeg_idct_f64(coef), want, atol=1e-9)


def test_jpeg_grayscale_sampling_factors_and_fill_bytes():
    """Round-6 review findings: a one-component scan is NON-interleaved
    per B.2.3 (one 8x8 unit per MCU, whatever the declared sampling
    factors say), and 0xFF fill bytes before a marker are legal
    padding — both used to make valid files return None."""
    import numpy as np

    from whisper_spark.operators.multimodal import decode_jpeg_pixels

    encode, expected_stats = _jpeg_encoder_env()
    rng = np.random.RandomState(6)
    planes = [rng.randint(0, 256, (8, 24)).astype(float)]
    jpeg, qb = encode(planes, 8, 24, [(1, 1)], [_JPEG_QL])
    exp = expected_stats(qb, [(1, 1)], [_JPEG_QL], 8, 24, 1)
    # declare H=V=2 sampling in SOF: entropy layout must stay raster
    i = jpeg.find(b"\xff\xc0")
    hacked = bytearray(jpeg)
    assert hacked[i + 2 + 2 + 6 + 1] == 0x11
    hacked[i + 2 + 2 + 6 + 1] = 0x22
    assert _nopix(decode_jpeg_pixels(bytes(hacked))) == exp
    # a 0xFF fill byte after SOI is padding, not a marker
    padded = jpeg[:2] + b"\xff" + jpeg[2:]
    assert _nopix(decode_jpeg_pixels(padded)) == exp


def test_jpeg_pixel_decoder_rejects():
    import numpy as np

    from whisper_spark.operators.multimodal import decode_jpeg_pixels

    encode, _ = _jpeg_encoder_env()
    rng = np.random.RandomState(1)
    planes = [rng.randint(0, 256, (16, 16)).astype(float)]
    good, _qb = encode(planes, 16, 16, [(1, 1)], [_JPEG_QL])
    assert decode_jpeg_pixels(good) is not None
    assert decode_jpeg_pixels(None) is None
    assert decode_jpeg_pixels(b"\xff\xd8\xff\xd9") is None  # empty
    assert decode_jpeg_pixels(good[: len(good) // 2]) is None  # truncated
    prog = bytearray(good)
    i = bytes(prog).find(b"\xff\xc0")
    prog[i + 1] = 0xC2  # SOF2 + a baseline-shaped full-band DC scan:
    # invalid progressive structure (DC scans carry only Ss=Se=0)
    assert decode_jpeg_pixels(bytes(prog)) is None


def _jpeg_prog_encoder_env():
    """INDEPENDENTLY written PROGRESSIVE JPEG encoder (ISO G.1.2:
    spectral-selection band scans, successive-approximation point
    transforms — arithmetic shift for DC, magnitude shift toward zero
    for AC — cross-block EOB-run accumulation, ZRL, and the refinement
    scans' deferred correction-bit buffer), reusing only the forward
    DCT/quantize step of the baseline env to produce the quantized
    coefficients.  Verification direction for decode_jpeg_pixels'
    progressive path: after ALL scans a progressive decode recovers
    the quantized coefficients exactly, so pixel stats must equal the
    baseline encoding of the same blocks."""
    import struct

    import numpy as np

    encode_base, expected_stats = _jpeg_encoder_env()

    ZZ = [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
    DC_COUNTS = [0, 0, 0, 12] + [0] * 12
    DC_VALS = list(range(12))
    # progressive AC alphabet: EOBn (r<<4, r 0..14), ZRL, (r<<4)|s
    AC_SYMS = [r << 4 for r in range(16)] + [
        (r << 4) | s for r in range(16) for s in range(1, 11)
    ]
    AC_COUNTS = [0] * 16
    AC_COUNTS[7] = len(AC_SYMS)  # all codes 8 bits (176 <= 256)

    def canon(counts, vals):
        code, k2, t = 0, 0, {}
        for ln in range(1, 17):
            for _ in range(counts[ln - 1]):
                t[vals[k2]] = (ln, code)
                code += 1
                k2 += 1
            code <<= 1
        return t

    DC_ENC, AC_ENC = canon(DC_COUNTS, DC_VALS), canon(AC_COUNTS, AC_SYMS)

    def cat(v):
        a, t = abs(v), 0
        while a:
            t += 1
            a >>= 1
        return t

    class SW:
        """Scan writer: bit buffer + EOB-run + correction-bit deferral
        + restart-interval flushing."""

        def __init__(self, dri=0):
            self.bits = []
            self.out = bytearray()
            self.eobrun = 0
            self.pending = []  # correction bits deferred with the run
            self.dri = dri
            self.units = 0
            self.rst = 0

        def put(self, v, n):
            for i in range(n - 1, -1, -1):
                self.bits.append((v >> i) & 1)

        def sym(self, enc, s):
            ln, code = enc[s]
            self.put(code, ln)

        def mag(self, v, s):
            self.put((v if v > 0 else v + (1 << s) - 1) & ((1 << s) - 1), s)

        def emit_eobrun(self):
            if self.eobrun:
                n = self.eobrun.bit_length() - 1
                self.sym(AC_ENC, n << 4)
                if n:
                    self.put(self.eobrun - (1 << n), n)
                self.eobrun = 0
            for b in self.pending:
                self.put(b, 1)
            self.pending = []

        def flush_bits(self):
            bits = self.bits + [1] * ((8 - len(self.bits) % 8) % 8)
            for i in range(0, len(bits), 8):
                b = 0
                for bit in bits[i:i + 8]:
                    b = (b << 1) | bit
                self.out.append(b)
                if b == 0xFF:
                    self.out.append(0x00)
            self.bits = []

        def unit_done(self):
            """Returns True when the caller must reset its predictors
            (a restart marker was just written)."""
            self.units += 1
            if self.dri and self.units % self.dri == 0:
                self.emit_eobrun()
                self.flush_bits()
                self.out += bytes([0xFF, 0xD0 + (self.rst % 8)])
                self.rst += 1
                return True
            return False

        def finish(self):
            self.emit_eobrun()
            self.flush_bits()
            return bytes(self.out)

    def dc_first_scan(qblocks, order, al, dri):
        w = SW(dri)
        pred = {i: 0 for i, _by, _bx in order}
        for i, by, bx in order:
            v = int(qblocks[i][by, bx].flat[0]) >> al
            diff = v - pred[i]
            pred[i] = v
            t = cat(diff)
            w.sym(DC_ENC, t)
            if t:
                w.mag(diff, t)
            if w.unit_done():
                pred = {k: 0 for k in pred}
        return w.finish()

    def dc_refine_scan(qblocks, order, al, dri):
        w = SW(dri)
        for i, by, bx in order:
            w.put((int(qblocks[i][by, bx].flat[0]) >> al) & 1, 1)
            w.unit_done()
        return w.finish()

    def ac_first_scan(blocks, ss, se, al, dri):
        w = SW(dri)
        for blk in blocks:
            zz = [int(blk.flat[ZZ[k]]) for k in range(ss, se + 1)]
            pt = [v >> al if v >= 0 else -((-v) >> al) for v in zz]
            r = 0
            any_emit = False
            for v in pt:
                if v == 0:
                    r += 1
                    continue
                w.emit_eobrun()
                while r > 15:
                    w.sym(AC_ENC, 0xF0)
                    r -= 16
                s = cat(v)
                w.sym(AC_ENC, (r << 4) | s)
                w.mag(v, s)
                r = 0
                any_emit = True
            if r > 0 or not any_emit:
                w.eobrun += 1
                if w.eobrun == 0x7FFF:
                    w.emit_eobrun()
            if w.unit_done():
                pass  # eobrun flushed inside unit_done
        return w.finish()

    def ac_refine_scan(blocks, ss, se, al, dri):
        w = SW(dri)
        for blk in blocks:
            zz = [int(blk.flat[ZZ[k]]) for k in range(ss, se + 1)]
            absv = [abs(v) >> al for v in zz]
            eob = 0
            for i, t in enumerate(absv):
                if t == 1:
                    eob = i + 1
            r = 0
            br: list = []
            for i, t in enumerate(absv):
                if t == 0:
                    r += 1
                    continue
                while r > 15 and i < eob:
                    w.emit_eobrun()
                    w.sym(AC_ENC, 0xF0)
                    r -= 16
                    for b in br:
                        w.put(b, 1)
                    br = []
                if t > 1:
                    br.append(t & 1)
                    continue
                w.emit_eobrun()
                w.sym(AC_ENC, (r << 4) | 1)
                w.put(1 if zz[i] >= 0 else 0, 1)
                for b in br:
                    w.put(b, 1)
                br = []
                r = 0
            if r > 0 or br:
                w.eobrun += 1
                w.pending.extend(br)
                if w.eobrun == 0x7FFF:
                    w.emit_eobrun()
            w.unit_done()
        return w.finish()

    def encode_progressive(planes_full, h, w, samp, qtabs, bands,
                           dc_al=1, ac_al=1, dri=0):
        """Full progressive stream: DC first at dc_al + DC refinements
        down to 0, then per-component AC band scans at ac_al with
        refinements down to 0.  ``bands`` is a list of (ss, se)."""
        nc = len(planes_full)
        _base_stream, qblocks = encode_base(planes_full, h, w, samp, qtabs)
        hmax = max(s[0] for s in samp)
        vmax = max(s[1] for s in samp)
        mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))

        def seg(marker, payload):
            return (
                b"\xff" + bytes([marker])
                + struct.pack(">H", len(payload) + 2) + payload
            )

        out = bytearray(b"\xff\xd8")
        out += seg(0xDB, bytes([0x00])
                   + bytes([qtabs[0][ZZ[i]] for i in range(64)]))
        if nc == 3:
            out += seg(0xDB, bytes([0x01])
                       + bytes([qtabs[1][ZZ[i]] for i in range(64)]))
        sof = struct.pack(">BHHB", 8, h, w, nc)
        for i in range(nc):
            sof += bytes([
                i + 1, (samp[i][0] << 4) | samp[i][1], 0 if i == 0 else 1
            ])
        out += seg(0xC2, sof)
        out += seg(0xC4, bytes([0x00]) + bytes(DC_COUNTS) + bytes(DC_VALS))
        out += seg(0xC4, bytes([0x10]) + bytes(AC_COUNTS) + bytes(AC_SYMS))
        if dri:
            out += seg(0xDD, struct.pack(">H", dri))

        # interleaved MCU order for the DC scans
        order = []
        for my in range(mcuy):
            for mx in range(mcux):
                for i, (sh, sv) in enumerate(samp):
                    for by in range(sv):
                        for bx in range(sh):
                            order.append((i, my * sv + by, mx * sh + bx))

        def sos(comp_specs, ss, se, ah, al):
            body = bytes([len(comp_specs)])
            for cid, td, ta in comp_specs:
                body += bytes([cid, (td << 4) | ta])
            return seg(0xDA, body + bytes([ss, se, (ah << 4) | al]))

        all_comps = [(i + 1, 0, 0) for i in range(nc)]
        out += sos(all_comps, 0, 0, 0, dc_al)
        out += dc_first_scan(qblocks, order, dc_al, dri)
        for al in range(dc_al - 1, -1, -1):
            out += sos(all_comps, 0, 0, al + 1, al)
            out += dc_refine_scan(qblocks, order, al, dri)
        # AC scans: per component, true (non-MCU-padded) block grid
        for i, (sh, sv) in enumerate(samp):
            cw = -(-(-(-(w * sh) // hmax)) // 8)
            chh = -(-(-(-(h * sv) // vmax)) // 8)
            blocks = [
                qblocks[i][by, bx]
                for by in range(chh) for bx in range(cw)
            ]
            for ss, se in bands:
                out += sos([(i + 1, 0, 0)], ss, se, 0, ac_al)
                out += ac_first_scan(blocks, ss, se, ac_al, dri)
            for al in range(ac_al - 1, -1, -1):
                for ss, se in bands:
                    out += sos([(i + 1, 0, 0)], ss, se, al + 1, al)
                    out += ac_refine_scan(blocks, ss, se, al, dri)
        out += b"\xff\xd9"
        return bytes(out), qblocks

    return encode_progressive, expected_stats


def test_jpeg_progressive_decoder_against_independent_encoder():
    """Progressive JPEG end-to-end vs the independent G.1.2 encoder:
    grayscale and 4:2:0 color, successive approximation on DC and AC,
    split spectral bands, restart intervals, and an EOB-run-heavy
    smooth image.  Progressive decode is lossless w.r.t. the quantized
    coefficients, so stats must EQUAL the expected reconstruction (and
    the baseline encoding of the same planes)."""
    import numpy as np

    from whisper_spark.operators.multimodal import decode_jpeg_pixels

    encode_prog, expected_stats = _jpeg_prog_encoder_env()
    encode_base, _ = _jpeg_encoder_env()
    rng = np.random.RandomState(11)
    cases = [
        # (h, w, samp, qtabs, bands, dc_al, ac_al, dri, smooth)
        (24, 17, [(1, 1)], [_JPEG_QL], [(1, 5), (6, 63)], 1, 1, 0, False),
        (16, 16, [(1, 1)], [_JPEG_QL], [(1, 63)], 2, 2, 0, False),
        (29, 35, [(2, 2), (1, 1), (1, 1)], [_JPEG_QL, _JPEG_QC, _JPEG_QC],
         [(1, 5), (6, 63)], 1, 1, 0, False),
        (24, 24, [(1, 1)], [_JPEG_QL], [(1, 63)], 1, 1, 2, False),
        (40, 40, [(1, 1)], [_JPEG_QL], [(1, 2), (3, 63)], 1, 1, 0, True),
    ]
    for h, w, samp, qtabs, bands, dc_al, ac_al, dri, smooth in cases:
        nc = len(samp)
        if smooth:
            # near-flat image: quantization zeroes most AC -> long
            # EOB runs spanning blocks in first AND refinement scans
            base = np.full((h, w), 130.0)
            base += rng.randint(-2, 3, (h, w))
            planes = [base]
        else:
            planes = [
                rng.randint(0, 256, (h, w)).astype(float)
                for _ in range(nc)
            ]
        prog, qb = encode_prog(planes, h, w, samp, qtabs, bands,
                               dc_al=dc_al, ac_al=ac_al, dri=dri)
        got = decode_jpeg_pixels(prog)
        exp = expected_stats(qb, samp, qtabs, h, w, nc)
        assert _nopix(got) == exp, (h, w, samp, bands, dc_al, ac_al, dri)
        # cross-check: baseline encoding of the same planes decodes to
        # the same stats (identical quantized coefficients)
        base_stream, _qb2 = encode_base(planes, h, w, samp, qtabs)
        assert _nopix(decode_jpeg_pixels(base_stream)) == exp


def test_jpeg_progressive_rejects():
    import numpy as np

    from whisper_spark.operators.multimodal import decode_jpeg_pixels

    encode_prog, _ = _jpeg_prog_encoder_env()
    rng = np.random.RandomState(5)
    planes = [rng.randint(0, 256, (16, 16)).astype(float)]
    good, _qb = encode_prog(planes, 16, 16, [(1, 1)], [_JPEG_QL],
                            [(1, 63)])
    assert decode_jpeg_pixels(good) is not None
    assert decode_jpeg_pixels(good[:-40]) is None      # truncated scans
    bad = bytearray(good)
    i = bytes(bad).find(b"\xff\xda")
    assert decode_jpeg_pixels(bytes(bad[:i]) + b"\xff\xc9\x00\x02"
                              + bytes(bad[i:])) is None  # arithmetic SOF gated


def test_decode_pixels_dispatches_jpeg(spark):
    import numpy as np

    from whisper_spark.operators.multimodal import decode_pixels

    encode, expected_stats = _jpeg_encoder_env()
    rng = np.random.RandomState(2)
    planes = [rng.randint(0, 256, (8, 8)).astype(float)]
    jpeg, qb = encode(planes, 8, 8, [(1, 1)], [_JPEG_QL])
    df = spark.createDataFrame(
        [(1, "image", bytearray(jpeg), None)], multimodal.MEDIA_SCHEMA
    )
    r = decode_pixels(df).collect()[0]
    exp = expected_stats(qb, [(1, 1)], [_JPEG_QL], 8, 8, 1)
    assert (r.px_sum, r.n_pixels, r.channels) == (
        exp["px_sum"], 64, 1
    )


def test_pca_project_forwards_custom_id_col(spark):
    """pca_project(id_col=...) must thread the id through the
    covariance fold's bucket key, which hard-requires it (round-6
    self-review finding: it used to fail on any frame without a
    'vec_id' column)."""
    import random

    from whisper_spark.operators.similarity import pca_project

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-4, 4), rng.uniform(-1, 1)]) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, embedding array<float>")
    out = pca_project(df, n_components=1, id_col="doc_id", dim=2)
    got = out.collect()
    assert len(got) == 40 and {c for c in out.columns} == {
        "doc_id", "pc1", "explained_1"
    }


def test_wav_sample_decoder_against_stdlib_wave_writer():
    """decode_wav_samples vs an INDEPENDENT WAV producer: files written
    by the stdlib `wave` module (mono + stereo 16-bit, varied rates)
    must decode to exactly the numpy stats of the samples written."""
    import io
    import struct
    import wave

    import numpy as np

    from whisper_spark.operators.multimodal import decode_wav_samples

    rng = __import__("random").Random(17)
    for channels, rate in [(1, 8000), (2, 44100), (1, 16000)]:
        vals = [rng.randint(-32768, 32767) for _ in range(600 * channels)]
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(channels)
            wf.setsampwidth(2)
            wf.setframerate(rate)
            wf.writeframes(struct.pack(f"<{len(vals)}h", *vals))
        got = decode_wav_samples(buf.getvalue())
        arr = np.array(vals, dtype=np.int64)
        assert got == {
            "sample_rate": rate, "channels": channels, "bits": 16,
            "n_samples": arr.size, "s_min": int(arr.min()),
            "s_max": int(arr.max()), "s_sum": int(arr.sum()),
            "s_sq_sum": int((arr * arr).sum()),
            "s_mean": int(arr.sum()) / arr.size,
        }, (channels, rate)


def test_wav_sample_decoder_pcm8_and_rejects():
    """PCM8 decodes with NATIVE unsigned values; truncated data chunks,
    non-PCM formats, 24-bit depth, and odd 16-bit byte counts all yield
    None (NULL stats), never an exception."""
    import struct

    from whisper_spark.operators.multimodal import decode_wav_samples

    def wav(fmt=1, ch=1, rate=8000, bits=8, data=b"", declared=None):
        dlen = len(data) if declared is None else declared
        return (
            b"RIFF" + struct.pack("<I", 36 + dlen) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16)
            + struct.pack("<HHIIHH", fmt, ch, rate,
                          rate * ch * bits // 8, ch * bits // 8, bits)
            + b"data" + struct.pack("<I", dlen) + data
        )

    got = decode_wav_samples(wav(bits=8, data=bytes([0, 128, 255, 7])))
    assert got["bits"] == 8 and got["s_min"] == 0 and got["s_max"] == 255
    assert got["s_sum"] == 390 and got["n_samples"] == 4

    assert decode_wav_samples(None) is None
    assert decode_wav_samples(b"RIFFxxxx") is None
    assert decode_wav_samples(b"not audio at all") is None
    # data chunk declares 8 bytes but carries 4 (truncated upload)
    assert decode_wav_samples(wav(data=b"\0\0\0\0", declared=8)) is None
    # IEEE float only at 32/64 bits -> a 16-bit float fmt is corrupt
    assert decode_wav_samples(wav(fmt=3, bits=16, data=b"\0\0")) is None
    # 24-bit PCM is SUPPORTED (see test_wav_float_q15_and_pcm_widths)
    assert decode_wav_samples(wav(bits=24, data=b"\0" * 6))["n_samples"] == 2
    # odd byte count at 16 bits
    assert decode_wav_samples(wav(bits=16, data=b"\0\0\0")) is None
    # stereo 16-bit with a non-multiple sample count
    assert decode_wav_samples(wav(ch=2, bits=16, data=b"\0\0")) is None


def test_decode_samples_mapinpandas(spark):
    """The Arrow-batched decode_samples stage: valid WAV decoded, junk
    rows kept with NULL stats."""
    import io
    import struct
    import wave

    from whisper_spark.operators import multimodal
    from whisper_spark.operators.multimodal import decode_samples

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(struct.pack("<4h", -2, -1, 3, 4))
    rows = [
        (1, "audio", bytearray(buf.getvalue()), None),
        (2, "audio", bytearray(b"garbage"), None),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r.media_id: r for r in decode_samples(df).collect()}
    assert got[1].s_sum == 4 and got[1].n_samples == 4
    assert got[1].s_min == -2 and got[1].s_max == 4
    assert got[1].s_sq_sum == 4 + 1 + 9 + 16
    assert got[1].s_mean == 1.0
    assert got[2].s_sum is None  # kept, null stats


def _ref_bpe(corpus_words, n_merges):
    """Independent pure-Python Sennrich BPE: dict of word->freq, merge
    the most frequent adjacent pair each round (ties: lexicographic),
    leftmost-non-overlapping application."""
    from collections import Counter

    vocab = {tuple(w): f for w, f in corpus_words.items()}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        if not pairs:
            break
        (a, b), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, c))
        nv = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + f
        vocab = nv
    return merges, vocab


def test_bpe_train_matches_pure_python_reference(spark):
    """bpe_train vs an INDEPENDENT in-test Sennrich implementation:
    merge table and per-doc token counts must agree exactly on a corpus
    with ties, repeats, single-char words, and identical-run words."""
    from collections import Counter

    from whisper_spark.operators.textanalysis import (
        bpe_token_counts,
        bpe_train_merges,
    )

    docs = [
        (1, "low lower lowest low low"),
        (2, "newer newest new news low"),
        (3, "aaaa aaa aa a baab"),
        (4, "the the the them theme"),
        (5, "x yz the lowest newest"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    words = Counter(w for _, t in docs for w in t.split() if w)

    got = bpe_train_merges(df, n_merges=6)
    want, _ = _ref_bpe(words, 6)
    assert got == want, (got, want)

    counts = {
        r.doc_id: (r.n_words, r.n_chars, r.n_bpe_tokens)
        for r in bpe_token_counts(df, got).collect()
    }
    # reference token counts: re-apply the merges per word
    def seg_len(w):
        syms = list(w)
        for a, b, _ in want:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    for did, text in docs:
        ws = [w for w in text.split() if w]
        assert counts[did] == (
            len(ws), sum(len(w) for w in ws), sum(seg_len(w) for w in ws)
        ), did


def test_bpe_fused_vocab_matches_unfused(spark):
    """Train/apply fusion pin (round-13 optimization): segmenting with
    the vocab returned by bpe_train_merges(return_vocab=True) must be
    bit-identical to the unfused path that re-folds the distinct
    vocabulary through the whole merge chain — including on single-char
    words, merge-created symbols, and repeat-run words."""
    from whisper_spark.operators.textanalysis import (
        bpe_token_counts,
        bpe_train_merges,
    )

    docs = [
        (1, "low lower lowest low low"),
        (2, "newer newest new news low"),
        (3, "aaaa aaa aa a baab"),
        (4, "the the the them theme"),
        (5, "x yz the lowest newest"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    merges, vocab = bpe_train_merges(df, n_merges=6, return_vocab=True)
    assert merges == bpe_train_merges(df, n_merges=6)
    fused = sorted(
        tuple(r) for r in bpe_token_counts(df, merges, vocab=vocab).collect()
    )
    unfused = sorted(
        tuple(r) for r in bpe_token_counts(df, merges).collect()
    )
    assert fused == unfused


def test_pii_scrub_matches_python_re(spark):
    """pii_scrub vs Python `re` as an INDEPENDENT third regex engine:
    counts and the sequentially-redacted text must agree on adversarial
    spans (adjacent punctuation, multiple hits, boundary digits, clean
    rows, None)."""
    import re

    from whisper_spark.operators.textanalysis import PII_PATTERNS, pii_scrub

    texts = [
        (1, "mail a.b+c%d@ex-ample.co.uk then 10.0.0.1 and +4915112345678."),
        (2, "two mails x@y.io z@w.org, ips 1.2.3.4 5.6.7.8, phone +1234567"),
        (3, "no pii here just words and 123 numbers"),
        (4, "edge: 999.999.999.999 still matches the heuristic; +123456 too short"),
        (5, "email@at.end.example.com"),
        (6, ""),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r.doc_id: r for r in pii_scrub(df).collect()}
    for did, t in texts:
        counts = {
            f"n_{name}": len(re.findall(pat, t))
            for name, pat, _ in PII_PATTERNS
        }
        red = t
        for _, pat, tok in PII_PATTERNS:
            red = re.sub(pat, tok, red)
        g = got[did]
        assert (g.n_emails, g.n_ips, g.n_phones) == (
            counts["n_emails"], counts["n_ips"], counts["n_phones"]
        ), (did, t)
        assert g.redacted_text == red and g.redacted_len == len(red), did


def test_exact_kth_smallest_matches_sorted(spark):
    """Distributed range-refinement selection == driver-side sort, for
    every k, across duplicates, negatives, and skewed clusters."""
    import random

    from whisper_spark.operators.quantile import exact_kth_smallest

    rng = random.Random(7)
    vals = (
        [rng.uniform(-5, 5) for _ in range(200)]
        + [1.25] * 37                       # heavy tie block
        + [rng.gauss(1e6, 1e-3) for _ in range(20)]  # far skew cluster
    )
    df = spark.createDataFrame([(v,) for v in vals], "score double")
    ordered = sorted(vals)
    for k in [1, 2, 100, 128, 129, 130, 200, len(vals) // 2, len(vals)]:
        got = exact_kth_smallest(df, "score", k, buckets=16, max_rounds=6)
        assert got == ordered[k - 1], (k, got, ordered[k - 1])


def test_exact_kth_smallest_all_equal_and_errors(spark):
    from whisper_spark.operators.quantile import exact_kth_smallest

    df = spark.createDataFrame([(3.5,)] * 50, "score double")
    assert exact_kth_smallest(df, "score", 25) == 3.5
    with pytest.raises(ValueError):
        exact_kth_smallest(df, "score", 0)
    with pytest.raises(ValueError):
        exact_kth_smallest(df, "score", 51)
    # nulls are ignored, not counted toward ranks
    dfn = spark.createDataFrame(
        [(None,), (2.0,), (1.0,), (None,), (3.0,)], "score double"
    )
    assert exact_kth_smallest(dfn, "score", 2) == 2.0


def test_exact_kth_smallest_rejects_non_finite(spark):
    """NaN/±inf inputs must fail fast with a clear error on the first
    pass — not degrade into a bucket-0 collapse or an opaque terminal-
    collect convergence failure (review finding, round 9)."""
    from whisper_spark.operators.quantile import exact_kth_smallest

    for poison in (float("nan"), float("inf"), float("-inf")):
        df = spark.createDataFrame(
            [(1.0,), (2.0,), (poison,), (4.0,)], "score double"
        )
        with pytest.raises(ValueError, match="non-finite"):
            exact_kth_smallest(df, "score", 2)
    # integer columns (no NaN possible) still work through the cast
    dfi = spark.createDataFrame([(i,) for i in range(10)], "score long")
    assert exact_kth_smallest(dfi, "score", 4) == 3.0


def test_exact_kth_smallest_bucket_edge_values(spark):
    """Values sitting exactly ON bucket edges (and one ulp either
    side): the narrowed bounds are the selected bucket's own data
    min/max, so the refiltered population is exactly the counted one —
    the float-edge drift class the round-7 advisor flagged."""
    import math as m

    from whisper_spark.operators.quantile import exact_kth_smallest

    vals = []
    for edge in range(0, 17):            # lo=0, hi=16, buckets=16
        e = float(edge)
        vals += [e, m.nextafter(e, -m.inf), m.nextafter(e, m.inf)]
    df = spark.createDataFrame([(v,) for v in vals], "score double")
    ordered = sorted(vals)
    for k in [1, 2, 3, 24, 25, 26, len(vals) - 1, len(vals)]:
        got = exact_kth_smallest(df, "score", k, buckets=16, max_rounds=8)
        assert got == ordered[k - 1], (k, got, ordered[k - 1])


def _avi_mjpeg(frames, fps_rate=25, fps_scale=1, handler=b"MJPG",
               compression=b"MJPG", total=None):
    """INDEPENDENT AVI/MJPEG container writer: RIFF/LIST layout with
    avih + vids strh/strf and word-aligned 00dc frame chunks — the
    verification direction for decode_mjpeg_frames."""
    import struct

    def chunk(tag, body):
        return tag + struct.pack("<I", len(body)) + body \
            + (b"\x00" if len(body) & 1 else b"")

    def lst(ltype, body):
        return chunk(b"LIST", ltype + body)

    avih = struct.pack(
        "<10I", 1000000 // max(fps_rate, 1), 0, 0, 0,
        total if total is not None else len(frames), 0, 1, 0, 64, 48,
    ) + b"\x00" * 16
    strh = (b"vids" + handler + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0,
                                            fps_scale, fps_rate, 0,
                                            len(frames), 0, 0, 0)
            + struct.pack("<4H", 0, 0, 64, 48))
    strf = struct.pack("<IiiHH4sIiiII", 40, 64, 48, 1, 24, compression,
                       0, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh)
                     + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def test_mjpeg_video_decoder_against_independent_container():
    """AVI/MJPEG end-to-end: an independently written RIFF container
    around independently encoded JPEG frames must aggregate to exactly
    the per-frame expected stats (every frame runs the full JPEG
    pipeline); fps comes from the strh rate/scale fraction."""
    import numpy as np

    from whisper_spark.operators.multimodal import decode_mjpeg_frames

    encode, expected_stats = _jpeg_encoder_env()
    rng = np.random.RandomState(7)
    frames, exps = [], []
    for i in range(5):
        planes = [rng.randint(0, 256, (24, 16)).astype(float)]
        jp, qb = encode(planes, 24, 16, [(1, 1)], [_JPEG_QL])
        frames.append(jp)
        exps.append(expected_stats(qb, [(1, 1)], [_JPEG_QL], 24, 16, 1))
    avi = _avi_mjpeg(frames, fps_rate=30000, fps_scale=1001)
    got = decode_mjpeg_frames(avi)
    assert got is not None
    assert (got["width"], got["height"], got["channels"]) == (16, 24, 1)
    assert got["n_frames"] == 5
    assert got["fps"] == 30000 / 1001
    assert got["n_pixels"] == sum(e["n_pixels"] for e in exps)
    assert got["px_sum"] == sum(e["px_sum"] for e in exps)
    assert got["px_min"] == min(e["px_min"] for e in exps)
    assert got["px_max"] == max(e["px_max"] for e in exps)
    assert got["px_mean"] == got["px_sum"] / got["n_pixels"]


def test_mjpeg_video_decoder_rejects():
    import numpy as np

    from whisper_spark.operators.multimodal import decode_mjpeg_frames

    encode, _ = _jpeg_encoder_env()
    rng = np.random.RandomState(8)
    jp, _qb = encode([rng.randint(0, 256, (16, 16)).astype(float)],
                     16, 16, [(1, 1)], [_JPEG_QL])
    jp2, _qb2 = encode([rng.randint(0, 256, (24, 24)).astype(float)],
                       24, 24, [(1, 1)], [_JPEG_QL])
    good = _avi_mjpeg([jp, jp])
    assert decode_mjpeg_frames(good) is not None
    assert decode_mjpeg_frames(None) is None
    assert decode_mjpeg_frames(good[:-10]) is None          # truncated
    assert decode_mjpeg_frames(
        _avi_mjpeg([jp], handler=b"H264", compression=b"H264")) is None
    assert decode_mjpeg_frames(_avi_mjpeg([])) is None      # no frames
    assert decode_mjpeg_frames(_avi_mjpeg([jp, jp2])) is None  # geometry
    assert decode_mjpeg_frames(
        _avi_mjpeg([jp[:40]])) is None                      # bad frame
    not_avi = b"RIFF" + (4).to_bytes(4, "little") + b"WAVE"
    assert decode_mjpeg_frames(not_avi) is None


def test_decode_video_frames_stage(spark):
    import numpy as np

    from whisper_spark.operators.multimodal import decode_video_frames

    encode, _ = _jpeg_encoder_env()
    rng = np.random.RandomState(9)
    jp, _qb = encode([rng.randint(0, 256, (8, 8)).astype(float)],
                     8, 8, [(1, 1)], [_JPEG_QL])
    df = spark.createDataFrame(
        [(1, bytearray(_avi_mjpeg([jp, jp, jp]))),
         (2, bytearray(b"not a video"))],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_video_frames(df).collect()}
    assert rows[1]["n_frames"] == 3 and rows[1]["n_pixels"] == 192
    assert rows[2]["n_frames"] is None


def test_decoder_pixels_key_raster():
    """Every image decoder's `pixels` key is the true top-down raster:
    PNG verbatim, BMP unflipped from bottom-up storage and BGR->RGB,
    GIF palette-expanded — checked per pixel against the inputs."""
    import numpy as np

    from whisper_spark.operators.multimodal import (
        decode_bmp_pixels,
        decode_png_pixels,
    )

    # PNG: 3x2 RGB, distinct values per pixel
    w, h = 3, 2
    pngrows = [[(10 * y + x) for x in range(w * 3)] for y in range(h)]
    got = decode_png_pixels(_png(w, h, pngrows, channels=3,
                                 filters=[0] * h))
    assert got["pixels"].shape == (h, w, 3)
    assert got["pixels"].dtype == np.uint8
    assert got["pixels"].reshape(h, w * 3).tolist() == pngrows
    assert int(got["pixels"].sum()) == got["px_sum"]

    # BMP: storage rows are BOTTOM-UP BGR; pixels must come back
    # top-down RGB.  Row 0 (stored last) is the image's TOP row.
    rows_bgr = [[1, 2, 3] * 2, [4, 5, 6] * 2]  # stored: bottom, top
    got = decode_bmp_pixels(_bmp(2, 2, rows_bgr))
    assert got["pixels"].shape == (2, 2, 3)
    # top row = stored row 1 ([4,5,6] BGR) -> RGB [6,5,4]
    assert got["pixels"][0].tolist() == [[6, 5, 4], [6, 5, 4]]
    assert got["pixels"][1].tolist() == [[3, 2, 1], [3, 2, 1]]
    # top-down storage: same raster
    got_td = decode_bmp_pixels(_bmp(2, 2, list(reversed(rows_bgr)),
                                    top_down=True))
    assert (got_td["pixels"] == got["pixels"]).all()


def test_resize_array_vs_independent_reference():
    """resize_array (vectorized) against a per-pixel double-loop
    reference coded independently from the kernel."""
    import random

    import numpy as np

    from whisper_spark.operators.multimodal import resize_array

    def ref_nearest(px, ow, oh):
        h, w, c = px.shape
        out = np.empty((oh, ow, c), dtype=px.dtype)
        for j in range(oh):
            for i in range(ow):
                out[j, i] = px[(j * h) // oh, (i * w) // ow]
        return out

    def ref_bilinear(px, ow, oh):
        h, w, c = px.shape
        out = np.empty((oh, ow, c), dtype=np.float64)
        for j in range(oh):
            sy = min(max((j + 0.5) * (h / oh) - 0.5, 0.0), h - 1.0)
            y0 = int(np.floor(sy)); y1 = min(y0 + 1, h - 1); fy = sy - y0
            for i in range(ow):
                sx = min(max((i + 0.5) * (w / ow) - 0.5, 0.0), w - 1.0)
                x0 = int(np.floor(sx)); x1 = min(x0 + 1, w - 1)
                fx = sx - x0
                for k in range(c):
                    a = px[y0, x0, k] * (1 - fx) + px[y0, x1, k] * fx
                    b = px[y1, x0, k] * (1 - fx) + px[y1, x1, k] * fx
                    out[j, i, k] = a * (1 - fy) + b * fy
        return out

    rng = random.Random(11)
    np_rng = np.random.RandomState(11)
    for _ in range(12):
        h, w = rng.randrange(1, 9), rng.randrange(1, 9)
        c = rng.choice([1, 3])
        oh, ow = rng.randrange(1, 13), rng.randrange(1, 13)
        px = np_rng.randint(0, 256, (h, w, c)).astype(np.uint8)
        assert (resize_array(px, ow, oh, "nearest")
                == ref_nearest(px, ow, oh)).all()
        got = resize_array(px, ow, oh, "bilinear")
        ref = ref_bilinear(px, ow, oh)
        assert np.abs(got - ref).max() < 1e-9
    # identity: same dims returns the source values exactly
    px = np_rng.randint(0, 256, (4, 5, 3)).astype(np.uint8)
    assert (resize_array(px, 5, 4, "nearest") == px).all()
    assert np.abs(resize_array(px, 5, 4, "bilinear") - px).max() == 0.0
    with pytest.raises(ValueError):
        resize_array(px, 0, 4)
    with pytest.raises(ValueError):
        resize_array(px, 5, 4, "bicubic")


def test_resize_pixels_operator(spark):
    """resize_pixels end-to-end over BMP payloads: fixed-dims and
    scale modes, NULL row for an undecodable payload, stats match a
    local decode+resize of the same payloads."""
    import numpy as np

    from whisper_spark.operators.multimodal import (
        decode_bmp_pixels,
        resize_array,
        resize_pixels,
    )

    payloads = {
        1: _bmp(4, 3, [[(10 * y + x) % 256 for x in range(12)]
                       for y in range(3)]),
        2: _bmp(2, 5, [[(7 * y + 3 * x) % 256 for x in range(6)]
                       for y in range(5)]),
        3: b"not an image",
    }
    df = spark.createDataFrame(
        [(k, bytearray(v)) for k, v in payloads.items()],
        "media_id long, payload binary",
    )
    got = {r["media_id"]: r
           for r in resize_pixels(df, out_w=6, out_h=4,
                                  method="bilinear").collect()}
    assert got[3]["px_sum"] is None and got[3]["width"] is None
    for mid in (1, 2):
        px = decode_bmp_pixels(payloads[mid])["pixels"]
        r = resize_array(px, 6, 4, "bilinear")
        assert got[mid]["width"] == 6 and got[mid]["height"] == 4
        assert got[mid]["n_pixels"] == 24
        assert got[mid]["px_sum"] == float(r.sum())
        assert got[mid]["px_min"] == float(r.min())
        assert got[mid]["px_max"] == float(r.max())
    # scale mode: per-image output dims
    got2 = {r["media_id"]: r
            for r in resize_pixels(df, scale=2.0,
                                   method="nearest").collect()}
    assert (got2[1]["width"], got2[1]["height"]) == (8, 6)
    assert (got2[2]["width"], got2[2]["height"]) == (4, 10)
    px = decode_bmp_pixels(payloads[1])["pixels"]
    assert got2[1]["px_sum"] == float(
        resize_array(px, 8, 6, "nearest").astype(np.int64).sum())
    with pytest.raises(ValueError, match="either"):
        resize_pixels(df, out_w=4, out_h=4, scale=2.0)
    with pytest.raises(ValueError, match="either"):
        resize_pixels(df)


def _wav_raw(fmt_tag, channels, rate, bits, data, extensible=False):
    """Hand-assembled RIFF/WAVE container (independent of the decoder's
    chunk walk)."""
    import struct

    block = channels * bits // 8
    if extensible:
        # cbSize=22, validBits, channelMask, SubFormat GUID (first u16
        # = the real format code, rest = the fixed PCM GUID tail)
        # validBits(u16) + channelMask(u32) + SubFormat GUID
        ext = struct.pack("<HI", bits, 0) + struct.pack(
            "<H", fmt_tag) + b"\x00\x00\x00\x00\x10\x00\x80\x00\x00\xaa" \
            b"\x00\x38\x9b\x71"
        fmt = struct.pack("<HHIIHHH", 0xFFFE, channels, rate,
                          rate * block, block, bits, 22) + ext
    else:
        fmt = struct.pack("<HHIIHH", fmt_tag, channels, rate,
                          rate * block, block, bits)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if len(fmt) % 2:
        chunks += b"\x00"
    chunks += b"data" + struct.pack("<I", len(data)) + data
    if len(data) % 2:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_wav_g711_expansion_matches_audioop():
    """All 256 mu-law and A-law codes expand to the stdlib audioop
    tables exactly (independent oracle for the G.711 formulas)."""
    import warnings

    import numpy as np

    from whisper_spark.operators.multimodal import decode_wav_samples

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import audioop
    codes = bytes(range(256))
    for tag, expand in ((7, audioop.ulaw2lin), (6, audioop.alaw2lin)):
        ref = np.frombuffer(expand(codes, 2), dtype="<i2").astype(np.int64)
        got = decode_wav_samples(_wav_raw(tag, 1, 8000, 8, codes))
        assert got is not None and got["n_samples"] == 256
        assert got["s_sum"] == int(ref.sum())
        assert got["s_min"] == int(ref.min())
        assert got["s_max"] == int(ref.max())
        assert got["s_sq_sum"] == int((ref * ref).sum())


def test_wav_float_q15_and_pcm_widths():
    import numpy as np

    from whisper_spark.operators.multimodal import decode_wav_samples

    # float32 on exact 2^-15 multiples -> Q15 ints verbatim
    vals = np.array([0.0, 1.0, -1.0, 0.5, -0.25, 3.0 / 32768.0],
                    dtype="<f4")
    got = decode_wav_samples(_wav_raw(3, 2, 48000, 32, vals.tobytes()))
    q15 = [0, 32768, -32768, 16384, -8192, 3]
    assert got["n_samples"] == 6 and got["bits"] == 32
    assert got["s_sum"] == sum(q15)
    assert (got["s_min"], got["s_max"]) == (min(q15), max(q15))
    # float64 and rounding to nearest
    v64 = np.array([0.50000762939453125, -0.25], dtype="<f8")
    got = decode_wav_samples(_wav_raw(3, 1, 8000, 64, v64.tobytes()))
    assert got["s_sum"] == int(np.rint(0.50000762939453125 * 32768)) \
        + int(np.rint(-0.25 * 32768))
    # non-finite floats are corrupt
    bad = np.array([0.5, float("nan")], dtype="<f4")
    assert decode_wav_samples(_wav_raw(3, 1, 8000, 32, bad.tobytes())) is None
    # finite but absurd amplitude: Q15 would overflow int32 — must be
    # rejected (NULL stats), NOT crash decode_samples' Int32 cast
    huge = np.array([0.5, 1.0e20], dtype="<f4")
    assert decode_wav_samples(
        _wav_raw(3, 1, 8000, 32, huge.tobytes())) is None
    edge = np.array([65535.0, -65535.0], dtype="<f8")  # max allowed
    got = decode_wav_samples(_wav_raw(3, 1, 8000, 64, edge.tobytes()))
    assert got is not None and got["s_max"] == 65535 * 32768
    over = np.array([65537.0], dtype="<f8")
    assert decode_wav_samples(
        _wav_raw(3, 1, 8000, 64, over.tobytes())) is None

    # 24-bit PCM: sign extension across the full range
    tri = b"".join(
        int(v & 0xFFFFFF).to_bytes(3, "little")
        for v in (0, 1, -1, 8388607, -8388608, -40000)
    )
    got = decode_wav_samples(_wav_raw(1, 1, 44100, 24, tri))
    assert got["n_samples"] == 6
    assert got["s_min"] == -8388608 and got["s_max"] == 8388607
    assert got["s_sum"] == 0 + 1 - 1 + 8388607 - 8388608 - 40000

    # 32-bit PCM
    v32 = np.array([2**31 - 1, -2**31, 12345], dtype="<i4")
    got = decode_wav_samples(_wav_raw(1, 1, 44100, 32, v32.tobytes()))
    assert got["s_sum"] == int(v32.astype(np.int64).sum())

    # EXTENSIBLE wrapper resolves to the inner code (PCM16 here)
    v16 = np.array([100, -200, 300, -400], dtype="<i2")
    got = decode_wav_samples(
        _wav_raw(1, 2, 22050, 16, v16.tobytes(), extensible=True))
    assert got is not None and got["s_sum"] == -200
    # ...and to mu-law
    got = decode_wav_samples(
        _wav_raw(7, 1, 8000, 8, bytes([0xFF, 0x7F]), extensible=True))
    assert got is not None and got["s_sum"] == 0  # both codes decode to 0

    # unsupported tag still NULLs
    assert decode_wav_samples(_wav_raw(2, 1, 8000, 4, b"\x00")) is None


def test_image_ahash_and_neardup(spark):
    """Average-hash over real rasters: bit layout pinned against a
    per-cell reference, identical images collide at hamming 0, a
    one-row change flips exactly that row's byte, near-dup pairs
    verified end to end."""
    import numpy as np

    from whisper_spark.operators.multimodal import (
        decode_bmp_pixels,
        image_ahash,
        image_neardup_pairs,
        resize_array,
    )

    def ref_hash(payload):
        px = decode_bmp_pixels(payload)["pixels"]
        g = resize_array(px, 8, 8, "bilinear").sum(axis=2)
        m = g.mean()
        h = 0
        for j in range(8):
            for i in range(8):
                if g[j, i] > m:
                    h |= 1 << (j * 8 + i)
        return format(h, "016x")

    # 8-row images: 8->8 bilinear resize is an exact passthrough, and
    # swapping a hot row with a cold one keeps the MEAN fixed, so the
    # hash differs in exactly those two rows' bytes (hamming 16) —
    # stored BOTTOM-UP, but a pure row permutation either way
    vals = [0, 0, 200, 0, 0, 250, 0, 0]          # hot logical rows 2, 5
    swapped = list(vals)
    swapped[2], swapped[4] = swapped[4], swapped[2]   # hot moves 2 -> 4
    payloads = {
        1: _bmp(2, 8, [[v] * 6 for v in reversed(vals)]),
        2: _bmp(2, 8, [[v] * 6 for v in reversed(vals)]),   # exact dup
        3: _bmp(2, 8, [[v] * 6 for v in reversed(swapped)]),
        4: b"junk",
    }
    df = spark.createDataFrame(
        [(k, bytearray(v)) for k, v in payloads.items()],
        "media_id long, payload binary",
    )
    got = {r["media_id"]: r for r in image_ahash(df).collect()}
    assert got[4]["ahash"] is None and got[4]["ahash_bits"] is None
    for mid in (1, 2, 3):
        assert got[mid]["ahash"] == ref_hash(payloads[mid]), mid
        # hex and BIGINT views agree (two's complement)
        assert got[mid]["ahash_bits"] & (2**64 - 1) == int(
            got[mid]["ahash"], 16)
    assert got[1]["ahash"] == got[2]["ahash"]
    # hot rows 2 and 5 set -> hex bytes for rows 2, 5 are 0xFF
    assert int(got[1]["ahash"], 16) == (0xFF << 16) | (0xFF << 40)
    d13 = bin(int(got[1]["ahash"], 16) ^ int(got[3]["ahash"], 16)
              ).count("1")
    assert d13 == 16  # exactly the swapped rows differ

    # differing rows 2 and 4 live in bands 1 and 2 of four 16-bit
    # bands, so bands 0 and 3 still match -> candidate recall holds
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in image_neardup_pairs(
                 df, max_hamming=16, collapse_identical=False).collect()}
    assert pairs[(1, 2)] == 0
    assert pairs.get((1, 3)) == 16 and pairs.get((2, 3)) == 16


def test_image_neardup_prebuilt_fingerprints_identical(spark):
    """image_neardup_pairs(fingerprints=...) — the round-13 hook that
    lets callers persist the ahash frame so the Python decode runs once
    per plan instead of once per subtree — returns exactly the pairs of
    the default build-it-internally path."""
    from whisper_spark.operators.multimodal import (
        image_ahash_fingerprints,
        image_neardup_pairs,
    )

    vals = [0, 0, 200, 0, 0, 250, 0, 0]
    swapped = list(vals)
    swapped[2], swapped[4] = swapped[4], swapped[2]
    payloads = {
        1: _bmp(2, 8, [[v] * 6 for v in reversed(vals)]),
        2: _bmp(2, 8, [[v] * 6 for v in reversed(vals)]),
        3: _bmp(2, 8, [[v] * 6 for v in reversed(swapped)]),
        4: b"junk",
    }
    df = spark.createDataFrame(
        [(k, bytearray(v)) for k, v in payloads.items()],
        "media_id long, payload binary",
    )
    want = sorted(
        map(tuple, image_neardup_pairs(
            df, max_hamming=16, collapse_identical=False).collect())
    )
    fp = image_ahash_fingerprints(df).persist()
    try:
        got = sorted(
            map(tuple, image_neardup_pairs(
                df, max_hamming=16, collapse_identical=False,
                fingerprints=fp).collect())
        )
    finally:
        fp.unpersist()
    assert got == want and len(got) == 3


def test_png_palette_alpha_types_and_gif_interlace():
    """PNG color types 3 (PLTE-expanded), 4 (gray+alpha) and 6 (RGBA)
    decode with every filter in play; interlaced GIFs deinterlace to
    the logical raster (stored pass order built independently)."""
    import random

    import numpy as np

    from whisper_spark.operators.multimodal import (
        decode_gif_pixels,
        decode_png_pixels,
    )

    rng = random.Random(23)

    # palette: indices through filters, expanded via PLTE
    w, h, n_pal = 5, 4, 16
    plte = [rng.randrange(256) for _ in range(3 * n_pal)]
    idx_rows = [[rng.randrange(n_pal) for _ in range(w)] for _ in range(h)]
    got = decode_png_pixels(_png(w, h, idx_rows, channels=1,
                                 filters=[0, 1, 2, 4], ctype=3, plte=plte))
    rgb = [plte[3 * v + c] for row in idx_rows for v in row
           for c in range(3)]
    assert got["channels"] == 3 and got["n_pixels"] == w * h
    assert got["px_sum"] == sum(rgb)
    assert got["pixels"].reshape(-1).tolist() == rgb
    # palette rejects: missing PLTE, index beyond palette
    assert decode_png_pixels(_png(w, h, idx_rows, 1, ctype=3)) is None
    assert decode_png_pixels(_png(1, 1, [[n_pal]], 1, ctype=3,
                                  plte=plte)) is None

    # gray+alpha and RGBA: alpha participates in the stats
    for ct, nch in ((4, 2), (6, 4)):
        rows = [[rng.randrange(256) for _ in range(w * nch)]
                for _ in range(h)]
        got = decode_png_pixels(_png(w, h, rows, channels=nch,
                                     filters=[4, 3, 2, 1], ctype=ct))
        flat = [v for r in rows for v in r]
        assert got["channels"] == nch
        assert got["px_sum"] == sum(flat)
        assert got["px_mean"] == sum(flat) / (w * h * nch)
        assert got["pixels"].shape == (h, w, nch)

    # GIF interlace: store rows in Appendix-E pass order; the decoder
    # must hand back the logical top-down raster
    w, h = 7, 13
    logical = [[rng.randrange(4) for _ in range(w)] for _ in range(h)]
    order = (list(range(0, h, 8)) + list(range(4, h, 8))
             + list(range(2, h, 4)) + list(range(1, h, 2)))
    stored = [v for y in order for v in logical[y]]
    got = decode_gif_pixels(_gif(w, h, stored, 2, 4, interlace=True))
    pal = [((7 * i) % 256, (11 * i) % 256, (13 * i) % 256)
           for i in range(4)]
    exp = np.array([[pal[v] for v in row] for row in logical],
                   dtype=np.uint8)
    assert got is not None
    assert (got["pixels"] == exp).all()
    assert got["px_sum"] == int(exp.sum())
    # non-interlaced remains bit-identical to the same logical image
    flat_logical = [v for row in logical for v in row]
    got2 = decode_gif_pixels(_gif(w, h, flat_logical, 2, 4))
    assert (got2["pixels"] == exp).all()


def _png_adam7(w, h, rows, channels, rng, ctype=None, plte=None):
    """Adam7 PNG built independently: extract each pass's sub-image
    from the logical rows, filter it with random per-row filters, and
    concatenate — interlace byte 1 in IHDR."""
    import struct
    import zlib

    if ctype is None:
        ctype = 0 if channels == 1 else 2
    ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
             (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    raw = b""
    for (x0, y0, dx, dy) in ADAM7:
        sub = []
        for y in range(y0, h, dy):
            r = []
            for x in range(x0, w, dx):
                r.extend(rows[y][x * channels:(x + 1) * channels])
            sub.append(r)
        if not sub or not sub[0]:
            continue
        filters = [rng.choice([0, 1, 2, 3, 4]) for _ in sub]
        raw += _png_filter_stream(len(sub), sub, channels, filters)

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 1)
    body = chunk(b"IHDR", ihdr)
    if plte is not None:
        body += chunk(b"PLTE", bytes(plte))
    return (b"\x89PNG\r\n\x1a\n" + body
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def test_png_adam7_interlace_round_trip():
    """Adam7 PNGs (every pass its own filtered sub-image) decode to the
    logical raster across sizes that exercise empty and single-pixel
    passes, for gray, RGB, RGBA and palette images."""
    import random

    from whisper_spark.operators.multimodal import decode_png_pixels

    rng = random.Random(31)
    for w, h in [(1, 1), (2, 2), (3, 5), (8, 8), (9, 10), (16, 3),
                 (5, 17)]:
        for channels, ctype in ((1, 0), (3, 2), (4, 6)):
            rows = [[rng.randrange(256) for _ in range(w * channels)]
                    for _ in range(h)]
            got = decode_png_pixels(
                _png_adam7(w, h, rows, channels, rng, ctype=ctype))
            assert got is not None, (w, h, ctype)
            assert got["width"] == w and got["height"] == h
            assert got["pixels"].reshape(h, w * channels).tolist() \
                == rows, (w, h, ctype)
    # palette + Adam7 compose
    plte = [rng.randrange(256) for _ in range(48)]
    rows = [[rng.randrange(16) for _ in range(6)] for _ in range(7)]
    got = decode_png_pixels(
        _png_adam7(6, 7, rows, 1, rng, ctype=3, plte=plte))
    exp = [plte[3 * v + c] for r in rows for v in r for c in range(3)]
    assert got["pixels"].reshape(-1).tolist() == exp
    # truncated pass stream: corrupt, NULL stats
    full = _png_adam7(8, 8, [[0] * 8 for _ in range(8)], 1, rng)
    assert decode_png_pixels(full[:-30]) is None


def test_bmp_8bit_palette_and_32bit():
    """8-bit palettized BMPs (BGRA color table) and 32-bit BGRX BMPs
    decode; pad bytes and the X byte stay out of the stats."""
    import random
    import struct

    from whisper_spark.operators.multimodal import decode_bmp_pixels

    rng = random.Random(29)

    def bmp8(w, h, idx_rows, pal, clr_used=0, top_down=False):
        stride = (w + 3) & ~3
        table = b"".join(bytes([b, g, r, 0]) for (b, g, r) in pal)
        data_off = 54 + len(table)
        hdr = (b"BM" + struct.pack("<IHHI", data_off + stride * h, 0, 0,
                                   data_off)
               + struct.pack("<IiiHHIIiiII", 40, w,
                             -h if top_down else h, 1, 8, 0, stride * h,
                             2835, 2835, clr_used, 0))
        body = b"".join(bytes(r) + bytes(stride - w) for r in idx_rows)
        return hdr + table + body

    def bmp32(w, h, rows_bgrx, top_down=False):
        stride = 4 * w
        hdr = (b"BM" + struct.pack("<IHHI", 54 + stride * h, 0, 0, 54)
               + struct.pack("<IiiHHIIiiII", 40, w,
                             -h if top_down else h, 1, 32, 0, stride * h,
                             2835, 2835, 0, 0))
        return hdr + b"".join(bytes(r) for r in rows_bgrx)

    # 8-bit: values come from the palette; pad bytes never counted
    w, h = 5, 3
    pal = [(rng.randrange(256), rng.randrange(256), rng.randrange(256))
           for _ in range(16)]
    idx = [[rng.randrange(16) for _ in range(w)] for _ in range(h)]
    got = decode_bmp_pixels(bmp8(w, h, idx, pal, clr_used=16))
    flat = [c for r in idx for v in r for c in pal[v]]
    assert got["channels"] == 3 and got["n_pixels"] == w * h
    assert got["px_sum"] == sum(flat)
    # pixels: top-down RGB (stored bottom-up, palette BGR)
    exp_top = [[tuple(reversed(pal[v])) for v in row]
               for row in reversed(idx)]
    assert [[tuple(px) for px in row] for row in got["pixels"].tolist()] \
        == exp_top
    # index beyond a truncated color table: corrupt
    idx_bad = [[15] * w for _ in range(h)]
    assert decode_bmp_pixels(bmp8(w, h, idx_bad, pal[:8],
                                  clr_used=8)) is None

    # 32-bit: X byte present on disk, absent from stats
    rows = [[rng.randrange(256) for _ in range(4 * w)] for _ in range(h)]
    for r in rows:
        for i in range(3, 4 * w, 4):
            r[i] = 255  # pad byte: must not leak into stats
    got = decode_bmp_pixels(bmp32(w, h, rows))
    bgr = [r[i] for r in rows for i in range(4 * w) if i % 4 != 3]
    assert got["px_sum"] == sum(bgr)
    assert got["px_max"] == max(bgr)
    assert got["n_pixels"] == w * h and got["channels"] == 3
    # top-down 32-bit agrees with the flipped bottom-up image
    got_td = decode_bmp_pixels(bmp32(w, h, list(reversed(rows)),
                                     top_down=True))
    assert (got_td["pixels"] == got["pixels"]).all()


def test_png_16bit_depth():
    """16-bit PNGs: byte-oriented filters at doubled distance, samples
    reassembled big-endian, raster dtype uint16."""
    import random

    import numpy as np

    from whisper_spark.operators.multimodal import decode_png_pixels

    rng = random.Random(37)
    for channels, ctype in ((1, 0), (3, 2), (4, 6)):
        w, h = 4, 3
        samples = [[rng.randrange(65536) for _ in range(w * channels)]
                   for _ in range(h)]
        rows = [[b for v in r for b in (v >> 8, v & 0xFF)]
                for r in samples]
        got = decode_png_pixels(_png(
            w, h, rows, channels=channels * 2, filters=[1, 4, 2],
            ctype=ctype, depth=16))
        flat = [v for r in samples for v in r]
        assert got is not None, ctype
        assert got["channels"] == channels
        assert got["pixels"].dtype == np.uint16
        assert got["px_max"] == max(flat) and got["px_min"] == min(flat)
        assert got["px_sum"] == sum(flat)
        assert got["pixels"].reshape(h, w * channels).tolist() == samples
    # 16-bit palette is not a legal PNG combination
    assert decode_png_pixels(_png(2, 2, [[0] * 4, [1] * 4], 2, ctype=3,
                                  plte=[0] * 12, depth=16)) is None


def _tiff_lzw_encode(data):
    """Independent TIFF6 section-13 LZW compressor: greedy string
    matching, MSB-first packing, Clear first, EARLY width change
    (NextCode == 511/1023/2047), table reset at NextCode 4094."""
    out = bytearray()
    acc = nbits = 0

    def emit(code, width):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    emit(256, width)
    omega = b""
    for byte in data:
        k = bytes([byte])
        if omega + k in table:
            omega += k
            continue
        emit(table[omega], width)
        table[omega + k] = next_code
        next_code += 1
        if next_code in (511, 1023, 2047):
            width += 1
        omega = k
        if next_code == 4094:
            emit(table[omega], width)
            emit(256, width)
            table = {bytes([i]): i for i in range(256)}
            next_code, width = 258, 9
            omega = b""
    if omega:
        emit(table[omega], width)
    emit(257, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _packbits_encode(data, rng):
    """Independent PackBits compressor with rng-chosen literal/run
    splits (any split is legal; the decoder must take them all)."""
    out = bytearray()
    i = 0
    while i < len(data):
        run = 1
        while (i + run < len(data) and run < 127
               and data[i + run] == data[i]):
            run += 1
        if run >= 2 and rng.random() < 0.8:
            out += bytes([256 - (run - 1), data[i]])
            i += run
        else:
            lit = rng.randint(1, min(16, len(data) - i))
            out += bytes([lit - 1]) + data[i:i + lit]
            i += lit
        if rng.random() < 0.1:
            out.append(128)  # no-op marker: must be skipped
    return bytes(out)


def _tiff(w, h, pixel_bytes, spp, comp, rng, endian="<", photo=None,
          rows_per_strip=None, predictor=None):
    """Independent TIFF builder: header + one IFD, strip layout with
    per-strip compression."""
    import struct

    e = endian
    rps = rows_per_strip or h
    photo = (2 if spp == 3 else 1) if photo is None else photo
    strips = []
    for y0 in range(0, h, rps):
        rows = min(rps, h - y0)
        seg = pixel_bytes[y0 * w * spp:(y0 + rows) * w * spp]
        if comp == 1:
            strips.append(bytes(seg))
        elif comp == 5:
            strips.append(_tiff_lzw_encode(seg))
        else:
            strips.append(_packbits_encode(seg, rng))

    entries = []  # (tag, type, count, packed-value-or-None, payload)

    def ent(tag, typ, vals):
        entries.append((tag, typ, vals))

    ent(256, 4, [w]); ent(257, 4, [h])
    ent(258, 3, [8] * spp)
    ent(259, 3, [comp]); ent(262, 3, [photo])
    ent(277, 3, [spp]); ent(278, 4, [rps]); ent(284, 3, [1])
    if predictor is not None:
        ent(317, 3, [predictor])
    # offsets/counts filled after layout
    n_ent = len(entries) + 2
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * n_ent + 4
    # external value areas (bits-per-sample when spp=3, strip arrays)
    ext = bytearray()
    tsz = {3: 2, 4: 4}
    fmtc = {3: "H", 4: "I"}

    def pack_vals(typ, vals):
        nonlocal ext
        total = tsz[typ] * len(vals)
        raw = b"".join(struct.pack(e + fmtc[typ], v) for v in vals)
        if total <= 4:
            return raw.ljust(4, b"\0"), None
        off = data_off + len(ext)
        ext.extend(raw)
        return struct.pack(e + "I", off), None

    # two passes: first place BitsPerSample etc, then strips
    packed = []
    for (tag, typ, vals) in entries:
        packed.append((tag, typ, len(vals), pack_vals(typ, vals)[0]))
    # strip arrays
    offs, cnts = [], []
    arr_bytes = 0
    if len(strips) > 1:
        arr_bytes = 2 * 4 * len(strips)
    strip_base = data_off + len(ext) + arr_bytes
    p = strip_base
    for sdat in strips:
        offs.append(p); cnts.append(len(sdat)); p += len(sdat)
    if len(strips) == 1:
        packed.append((273, 4, 1, struct.pack(e + "I", offs[0])))
        packed.append((279, 4, 1, struct.pack(e + "I", cnts[0])))
    else:
        o_off = data_off + len(ext)
        c_off = o_off + 4 * len(strips)
        ext.extend(b"".join(struct.pack(e + "I", v) for v in offs))
        ext.extend(b"".join(struct.pack(e + "I", v) for v in cnts))
        packed.append((273, 4, len(strips), struct.pack(e + "I", o_off)))
        packed.append((279, 4, len(strips), struct.pack(e + "I", c_off)))
    packed.sort()
    hdr = (b"II*\0" if e == "<" else b"MM\0*") + struct.pack(e + "I", 8)
    ifd = struct.pack(e + "H", len(packed))
    for (tag, typ, cnt, val4) in packed:
        ifd += struct.pack(e + "HHI", tag, typ, cnt) + val4
    ifd += struct.pack(e + "I", 0)  # next IFD
    return hdr + ifd + bytes(ext) + b"".join(strips)


def test_tiff_pixel_decoder_round_trips():
    """TIFF uncompressed / PackBits / LZW (early-change) round trips
    against independent compressors, both byte orders, gray and RGB,
    multi-strip layouts, WhiteIsZero inversion, LZW streams long
    enough to cross the 9->10->11-bit width changes."""
    import random

    from whisper_spark.operators.multimodal import decode_tiff_pixels

    rng = random.Random(41)
    for trial in range(10):
        w = rng.randint(1, 40)
        h = rng.randint(1, 40)
        spp = rng.choice([1, 3])
        comp = rng.choice([1, 5, 32773])
        endian = rng.choice(["<", ">"])
        rps = rng.choice([h, max(1, h // 3), 1])
        style = rng.choice(["random", "runs"])
        n = w * h * spp
        if style == "random":
            data = bytes(rng.randrange(256) for _ in range(n))
        else:
            data = bytearray()
            while len(data) < n:
                data += bytes([rng.randrange(256)]) * rng.randint(1, 50)
            data = bytes(data[:n])
        t = _tiff(w, h, data, spp, comp, rng, endian,
                  rows_per_strip=rps)
        got = decode_tiff_pixels(t)
        assert got is not None, (trial, w, h, spp, comp, endian, rps)
        assert (got["width"], got["height"], got["channels"]) \
            == (w, h, spp)
        assert got["pixels"].reshape(-1).tolist() == list(data), \
            (trial, comp, endian, rps)
        assert got["px_sum"] == sum(data)

    # LZW width changes AND the NextCode-4094 table reset: one strip
    # with ~10k emitted codes crosses 511/1023/2047 and forces the
    # encoder's mid-stream Clear
    w, h = 128, 128
    data = bytes(rng.randrange(256) for _ in range(w * h))
    t = _tiff(w, h, data, 1, 5, rng)
    got = decode_tiff_pixels(t)
    assert got["pixels"].reshape(-1).tolist() == list(data)

    # WhiteIsZero: stats over the inverted raster
    data = bytes([10, 250, 0, 255])
    t = _tiff(2, 2, data, 1, 1, rng, photo=0)
    got = decode_tiff_pixels(t)
    assert got["px_sum"] == sum(255 - v for v in data)
    assert got["pixels"].reshape(-1).tolist() == [245, 5, 255, 0]

    # rejects: tiles/planar-2/16-bit/unknown compression/truncated strip
    base = _tiff(3, 3, bytes(27), 3, 1, rng)
    assert decode_tiff_pixels(b"II+\0" + base[4:]) is None
    assert decode_tiff_pixels(base[:-5]) is None
    t16 = _tiff(2, 2, bytes(4), 1, 1, rng)
    t16 = t16.replace(b"\x08\x00\x00\x00", b"\x10\x00\x00\x00", 1)
    assert decode_tiff_pixels(t16) is None

    # Predictor tag (317): horizontal differencing (2) must yield
    # None — decoding the raw LZW output as-is would be silently
    # WRONG pixels; an explicit Predictor=1 is a no-op and decodes
    data = bytes(range(16))
    tp2 = _tiff(4, 4, data, 1, 5, rng, predictor=2)
    assert decode_tiff_pixels(tp2) is None
    tp1 = _tiff(4, 4, data, 1, 5, rng, predictor=1)
    got = decode_tiff_pixels(tp1)
    assert got is not None and got["px_sum"] == sum(data)


def _f80(x):
    """Independent 80-bit IEEE extended encode (test-side)."""
    import math
    import struct

    if x == 0:
        return b"\0" * 10
    sign = 0x8000 if x < 0 else 0
    x = abs(x)
    m, e = math.frexp(x)          # x = m * 2^e, m in [0.5, 1)
    mant = int(m * (1 << 64))     # explicit integer bit included
    return struct.pack(">HQ", sign | (e - 1 + 16383), mant)


def _aiff(channels, rate, bits, samples, ssnd_offset=0):
    import struct

    width = bits // 8
    frames = len(samples) // channels
    if bits == 24:
        data = b"".join((v & 0xFFFFFF).to_bytes(3, "big")
                        for v in samples)
    else:
        data = b"".join(
            struct.pack(f">{'bhiq'[width.bit_length() - 1]}"
                        if False else f">{ {1:'b',2:'h',4:'i'}[width] }",
                        v) for v in samples)
    comm = struct.pack(">HIH", channels, frames, bits) + _f80(rate)
    ssnd = struct.pack(">II", ssnd_offset, 0) + b"\0" * ssnd_offset + data
    out = b"FORM" + b"\0\0\0\0" + b"AIFF"
    for tag, body in ((b"COMM", comm), (b"SSND", ssnd)):
        out += tag + struct.pack(">I", len(body)) + body
        if len(body) % 2:
            out += b"\0"
    return out


def test_aiff_and_au_decoders():
    import struct
    import warnings

    import numpy as np

    from whisper_spark.operators.multimodal import (
        decode_aiff_samples,
        decode_au_samples,
        decode_samples,
    )

    rng = __import__("random").Random(43)

    # AIFF: signed PCM at every width, float80 rates, SSND offset
    for bits, lo, hi in ((8, -128, 127), (16, -32768, 32767),
                         (24, -(1 << 23), (1 << 23) - 1),
                         (32, -(1 << 25), (1 << 25) - 1)):
        vals = [rng.randint(lo, hi) for _ in range(24)]
        got = decode_aiff_samples(_aiff(2, 44100, bits, vals,
                                        ssnd_offset=4))
        assert got is not None, bits
        assert got["sample_rate"] == 44100 and got["bits"] == bits
        assert got["s_sum"] == sum(vals)
        assert got["s_min"] == min(vals) and got["s_max"] == max(vals)
        assert got["s_sq_sum"] == sum(v * v for v in vals)
    assert decode_aiff_samples(_aiff(1, 8000, 16, [1, 2, 3]))[
        "sample_rate"] == 8000
    # full-scale 32-bit: the exact square sum exceeds int64 -> NULL
    # (everything else stays exact); silent wraparound would be worse
    big = decode_aiff_samples(_aiff(1, 8000, 32,
                                    [(1 << 31) - 1] * 24))
    assert big["s_sq_sum"] is None
    assert big["s_sum"] == 24 * ((1 << 31) - 1)
    assert decode_aiff_samples(b"FORM\0\0\0\0AIFC") is None  # AIFC: no
    # fuzz regression: a huge 80-bit-float exponent must reject, not
    # raise OverflowError out of 2.0**e
    import struct as _st
    bad_rate = _st.pack(">HQ", 0x7FFE, 1 << 63)
    comm = _st.pack(">HIH", 1, 1, 16) + bad_rate
    pay = (b"FORM\0\0\0\0AIFF" + b"COMM" + _st.pack(">I", len(comm))
           + comm + b"SSND" + _st.pack(">I", 10) + _st.pack(">IIh", 0, 0, 5))
    assert decode_aiff_samples(pay) is None
    trunc = _aiff(1, 8000, 16, [1] * 10)[:-6]
    assert decode_aiff_samples(trunc) is None

    # AU: every encoding; mu/A-law re-checked against audioop through
    # the AU path
    def au(enc, data, channels=1, rate=8000):
        return (b".snd" + struct.pack(">IIIII", 24, len(data), enc,
                                      rate, channels) + data)

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import audioop
    codes = bytes(range(256))
    for enc, expand in ((1, audioop.ulaw2lin), (27, audioop.alaw2lin)):
        ref = np.frombuffer(expand(codes, 2), dtype="<i2").astype(np.int64)
        got = decode_au_samples(au(enc, codes))
        assert got["s_sum"] == int(ref.sum())
        assert got["s_sq_sum"] == int((ref * ref).sum())
    v = [3, -7, 100, -128]
    assert decode_au_samples(au(2, struct.pack(">4b", *v)))["s_sum"] \
        == sum(v)
    v = [300, -40000, 12345, -1]
    assert decode_au_samples(au(3, struct.pack(">4h", 300, -32000,
                                               12345, -1)))["s_sum"] \
        == 300 - 32000 + 12345 - 1
    v24 = [(1 << 23) - 1, -(1 << 23), 77]
    assert decode_au_samples(
        au(4, b"".join((x & 0xFFFFFF).to_bytes(3, "big") for x in v24))
    )["s_sum"] == sum(v24)
    assert decode_au_samples(au(5, struct.pack(">2i", 2**30, -5)))[
        "s_sum"] == 2**30 - 5
    f = struct.pack(">2f", 0.5, -0.25)
    assert decode_au_samples(au(6, f))["s_sum"] == 16384 - 8192
    f = struct.pack(">2d", 1.0, 3.0 / 32768.0)
    assert decode_au_samples(au(7, f))["s_sum"] == 32768 + 3
    # finite but absurd amplitude: Q15 overflows int32 -> NULL, not
    # an executor-side crash in decode_samples' Int32 cast
    assert decode_au_samples(au(6, struct.pack(">f", 1.0e20))) is None
    assert decode_au_samples(au(7, struct.pack(">d", -65537.0))) is None
    assert decode_au_samples(au(7, struct.pack(">d", 65535.0)))[
        "s_max"] == 65535 * 32768
    # unknown encoding / size 0xFFFFFFFF (read to EOF) / bad magic
    assert decode_au_samples(au(9, b"\0\0")) is None
    raw = (b".snd" + struct.pack(">IIIII", 24, 0xFFFFFFFF, 2, 8000, 1)
           + struct.pack(">4b", 1, 2, 3, 4))
    assert decode_au_samples(raw)["s_sum"] == 10
    assert decode_au_samples(b"snd." + b"\0" * 24) is None

    # dispatch: FORM -> aiff, .snd -> au
    assert decode_samples is not None  # (module-level factory import)


def test_pnm_pixel_decoder():
    import numpy as np

    from whisper_spark.operators.multimodal import decode_pnm_pixels

    rng = __import__("random").Random(47)
    # P6 with comments and odd whitespace; 8-bit
    pix = [rng.randrange(256) for _ in range(5 * 3 * 3)]
    hdr = b"P6 # a comment\n 5\t3 # another\n255\n"
    got = decode_pnm_pixels(hdr + bytes(pix))
    assert (got["width"], got["height"], got["channels"]) == (5, 3, 3)
    assert got["px_sum"] == sum(pix)
    assert got["pixels"].reshape(-1).tolist() == pix

    # P5 16-bit (maxval 65535): big-endian pairs -> uint16 raster
    vals = [rng.randrange(65536) for _ in range(8)]
    data = b"".join(v.to_bytes(2, "big") for v in vals)
    got = decode_pnm_pixels(b"P5\n4 2\n65535\n" + data)
    assert got["pixels"].dtype == np.uint16
    assert got["px_sum"] == sum(vals)
    assert got["px_max"] == max(vals)

    # maxval bound enforced; truncated raster; ASCII variant rejected
    assert decode_pnm_pixels(b"P5\n2 1\n100\n" + bytes([5, 200])) is None
    assert decode_pnm_pixels(b"P6\n5 3\n255\n" + bytes(10)) is None
    assert decode_pnm_pixels(b"P3\n1 1\n255\n0 0 0") is None


def test_png_palette_trns_alpha():
    """A tRNS chunk turns palette decode into RGBA: listed entries get
    their alpha, the rest are opaque 255; alpha joins the stats."""
    import struct
    import zlib

    from whisper_spark.operators.multimodal import decode_png_pixels

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body)))

    plte = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90])  # 3 entries
    trns = bytes([128, 0])                                # 2 alphas
    idx = [[0, 1], [2, 0]]
    raw = b"".join(b"\0" + bytes(r) for r in idx)
    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
           + chunk(b"PLTE", plte) + chunk(b"tRNS", trns)
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    got = decode_png_pixels(png)
    assert got["channels"] == 4
    exp = [[[10, 20, 30, 128], [40, 50, 60, 0]],
           [[70, 80, 90, 255], [10, 20, 30, 128]]]
    assert got["pixels"].tolist() == exp
    flat = [v for r in exp for px in r for v in px]
    assert got["px_sum"] == sum(flat)
    assert got["px_mean"] == sum(flat) / (4 * 4)
    # tRNS longer than the palette: corrupt
    bad = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
           + chunk(b"PLTE", plte) + chunk(b"tRNS", bytes(4))
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    assert decode_png_pixels(bad) is None


def test_jpeg_long_huffman_codes_and_restart():
    """Codes LONGER than 8 bits exercise the decoder's two-level
    Huffman fallback (the 256-entry first-level LUT only resolves
    lengths <= 8; 9-16-bit codes walk the (len, code) dict) — none of
    the other fixtures' tables leave the first level.  Hand-built
    canonical tables put every DC category at 9-16 bits and the AC
    EOB/coefficient symbols at 10-12 bits; a restart-interval variant
    pins the fallback across segment boundaries."""
    import struct

    import numpy as np

    from whisper_spark.operators.multimodal import decode_jpeg_pixels

    def canon(counts, vals):
        code, k, t = 0, 0, {}
        for ln in range(1, 17):
            for _ in range(counts[ln - 1]):
                t[vals[k]] = (ln, code)
                code += 1
                k += 1
            code <<= 1
        return t

    ZZ = [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
    # DC: 12 categories spread over lengths 9..16
    DC_COUNTS = [0] * 8 + [1, 1, 2, 2, 2, 2, 1, 1]
    DC_VALS = list(range(12))
    # AC: EOB at 10 bits, (run0,size4) at 11, ZRL at 12
    AC_COUNTS = [0] * 16
    AC_COUNTS[9], AC_COUNTS[10], AC_COUNTS[11] = 1, 1, 1
    AC_VALS = [0x00, 0x04, 0xF0]
    dc_enc, ac_enc = canon(DC_COUNTS, DC_VALS), canon(AC_COUNTS, AC_VALS)

    class BW:
        def __init__(self):
            self.bits = []

        def put(self, v, n):
            for i in range(n - 1, -1, -1):
                self.bits.append((v >> i) & 1)

        def bytes_stuffed(self):
            bits = self.bits + [1] * ((8 - len(self.bits) % 8) % 8)
            out = bytearray()
            for i in range(0, len(bits), 8):
                b = 0
                for bit in bits[i:i + 8]:
                    b = (b << 1) | bit
                out.append(b)
                if b == 0xFF:
                    out.append(0x00)
            return bytes(out)

    def seg(marker, payload):
        return (b"\xff" + bytes([marker])
                + struct.pack(">H", len(payload) + 2) + payload)

    def frame(dri):
        out = bytearray(b"\xff\xd8")
        out += seg(0xDB, bytes([0x00]) + bytes([1] * 64))
        out += seg(0xC0, struct.pack(">BHHB", 8, 8, 16, 1)
                   + bytes([1, 0x11, 0]))
        out += seg(0xC4, bytes([0x00]) + bytes(DC_COUNTS) + bytes(DC_VALS))
        out += seg(0xC4, bytes([0x10]) + bytes(AC_COUNTS) + bytes(AC_VALS))
        if dri:
            out += seg(0xDD, struct.pack(">H", dri))
        out += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        return out

    def emit_dc(w, diff):
        t = 0
        a = abs(diff)
        while a:
            t += 1
            a >>= 1
        ln, code = dc_enc[t]
        w.put(code, ln)
        if t:
            w.put((diff if diff > 0 else diff + (1 << t) - 1)
                  & ((1 << t) - 1), t)

    def expected(blocks):
        k = np.arange(8)
        b = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) / 2.0
        b[0, :] *= 1 / np.sqrt(2)
        imgs = []
        for coefzz in blocks:
            nat = np.zeros(64)
            nat[ZZ] = coefzz
            px = b.T @ nat.reshape(8, 8) @ b + 128.0
            imgs.append(np.clip(np.round(px), 0, 255).astype(np.int64))
        return np.concatenate(imgs, axis=1)  # two blocks side by side

    # --- no restarts: DC 160 then +8, one 11-bit AC coef in block 2
    w = BW()
    emit_dc(w, 160)
    ln, code = ac_enc[0x00]
    w.put(code, ln)                       # EOB block 1
    emit_dc(w, 8)                         # pred 160 -> 168
    ln, code = ac_enc[0x04]
    w.put(code, ln)                       # (run 0, size 4)
    w.put(9, 4)                           # AC coef +9 at zigzag k=1
    ln, code = ac_enc[0x00]
    w.put(code, ln)                       # EOB
    p = bytes(frame(0)) + w.bytes_stuffed() + b"\xff\xd9"
    got = decode_jpeg_pixels(p)
    assert got is not None and (got["width"], got["height"]) == (16, 8)
    b1 = [160] + [0] * 63
    b2 = [168, 9] + [0] * 62
    exp = expected([b1, b2])
    assert got["pixels"].reshape(8, 16).tolist() == exp.tolist()
    assert got["px_sum"] == int(exp.sum())

    # --- restart interval 1: RST0 between the MCUs, predictor resets,
    # the long-code dict survives the segment switch
    w = BW()
    emit_dc(w, 160)
    ln, code = ac_enc[0x00]
    w.put(code, ln)
    seg1 = w.bytes_stuffed()
    w = BW()
    emit_dc(w, 168)                       # pred reset: full value again
    ln, code = ac_enc[0x00]
    w.put(code, ln)
    seg2 = w.bytes_stuffed()
    p = (bytes(frame(1)) + seg1 + b"\xff\xd0" + seg2 + b"\xff\xd9")
    got = decode_jpeg_pixels(p)
    assert got is not None
    exp = expected([b1, [168] + [0] * 63])
    assert got["pixels"].reshape(8, 16).tolist() == exp.tolist()

    # ZRL at 12 bits: run of 16 zeros then a coefficient
    w = BW()
    emit_dc(w, 0)
    ln, code = ac_enc[0xF0]
    w.put(code, ln)                       # ZRL
    ln, code = ac_enc[0x04]
    w.put(code, ln)
    w.put(12, 4)                          # +12 at zigzag k=17
    ln, code = ac_enc[0x00]
    w.put(code, ln)
    emit_dc(w, 0)
    ln, code = ac_enc[0x00]
    w.put(code, ln)
    p = bytes(frame(0)) + w.bytes_stuffed() + b"\xff\xd9"
    got = decode_jpeg_pixels(p)
    assert got is not None
    bz = [0] * 64
    bz[17] = 12
    exp = expected([bz, [0] * 64])
    assert got["pixels"].reshape(8, 16).tolist() == exp.tolist()


def test_tiff_lzw_large_strip_linear_time():
    """64 KB single-strip LZW (256x256): pins the accumulator-masking
    fix — the unmasked reader decoded this correctly but in QUADRATIC
    time (1.4 s/image; masked: ~0.03 s).  Correctness assert plus a
    generous wall bound so a reintroduced quadratic fails CI loudly
    instead of silently slowing the suite."""
    import random
    import time

    from whisper_spark.operators.multimodal import decode_tiff_pixels

    rng = random.Random(9)
    w = h = 256
    data = bytes(rng.randrange(256) for _ in range(w * h))
    t = _tiff(w, h, data, 1, 5, rng)
    t0 = time.time()
    got = decode_tiff_pixels(t)
    dt = time.time() - t0
    assert got is not None and got["px_sum"] == sum(data)
    assert got["pixels"].reshape(-1).tolist() == list(data)
    assert dt < 1.0, f"large-strip LZW decode took {dt:.2f}s — quadratic?"


def test_cdc_chunks_reassemble_and_share(spark):
    """Content-defined chunking invariants: (1) chunks concatenate
    back to the document; (2) a long run shared by two documents at
    DIFFERENT offsets yields common interior chunks — the property
    fixed-size blocking lacks; (3) a document shorter than the window
    is one whole-document chunk."""
    from whisper_spark.operators.dedup import cdc_chunks, cdc_shared_chunks

    rng = __import__("random").Random(7)
    alpha = "abcdefghijklmnopqrstuvwxyz 0123456789"
    shared = "".join(rng.choice(alpha) for _ in range(400))
    pre_a = "".join(rng.choice(alpha) for _ in range(53))
    pre_b = "".join(rng.choice(alpha) for _ in range(211))
    docs = spark.createDataFrame(
        [(1, pre_a + shared), (2, pre_b + shared), (3, "tiny")],
        "doc_id long, text string",
    )
    ch = cdc_chunks(docs).orderBy("doc_id", "chunk_idx").collect()
    by_doc: dict = {}
    for r in ch:
        by_doc.setdefault(r["doc_id"], []).append(r["chunk"])
    assert "".join(by_doc[1]) == pre_a + shared
    assert "".join(by_doc[2]) == pre_b + shared
    assert by_doc[3] == ["tiny"]  # < window: single tail chunk
    # interior chunks of the shared run coincide despite the offset
    # difference (the first boundary inside `shared` resynchronizes
    # both documents onto identical cut points)
    common = set(by_doc[1]) & set(by_doc[2])
    assert any(len(c) >= 16 and c in shared for c in common), common
    sh = {r["chunk_md5"]: r for r in cdc_shared_chunks(docs).collect()}
    assert sh, "no shared chunks found"
    assert all(r["n_docs"] == 2 for r in sh.values())


def test_cdc_chunks_match_python_reference(spark):
    """CDC boundary semantics pinned against an independent per-doc
    Python reference (hashlib md5 over each 16-char window, 1-in-64
    mask, tail chunk) on random texts across the length spectrum."""
    import hashlib
    import random as _random

    from whisper_spark.operators.dedup import cdc_chunks

    def ref_chunks(text, window=16, mask=64):
        ends = [
            i for i in range(window, len(text) + 1)
            if int(hashlib.md5(
                text[i - window:i].encode()).hexdigest()[:2], 16)
            % mask == 0
        ]
        if not ends or ends[-1] != len(text):
            ends.append(len(text))
        out, start = [], 0
        for e in ends:
            out.append(text[start:e])
            start = e
        return out

    rng = _random.Random(123)
    alpha = "abcdefghij KLMNOP.,!?0123456789"
    rows = [
        (i, "".join(rng.choice(alpha)
                    for _ in range(rng.choice([1, 7, 16, 17, 64, 300,
                                               1000]))))
        for i in range(40)
    ]
    # Deterministic adversarial short docs (round-12 advisory): for a
    # doc shorter than the window, Spark's sequence(16, length) DESCENDS
    # and fabricates out-of-range window positions; these strings are
    # known to hash one of those bogus windows onto the boundary mask,
    # so an unguarded bounds expression emits a spurious empty chunk.
    # Random seeds only hit this ~5% of the time per short doc — pin it.
    rows += [(100, "!i4b2N"), (101, "K7846"), (102, "a" * 15),
             (103, "a" * 16), (104, "x")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = cdc_chunks(docs).orderBy("doc_id", "chunk_idx").collect()
    by_doc: dict = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r["chunk"])
    for i, text in rows:
        assert by_doc[i] == ref_chunks(text), (i, len(text))
    # every doc < window must be exactly one whole-doc chunk, never
    # split and never accompanied by an empty chunk
    for i, text in rows:
        if len(text) < 16:
            assert by_doc[i] == [text], (i, text, by_doc[i])


def test_cdc_shared_chunks_exchange_key_is_digest(spark):
    """The dedup shuffle must be keyed on the 32-char md5 digest, not
    the chunk text: the aggregate's grouping key (and hence the
    exchange's hashpartitioning) is (chunk_md5, chunk_len), and the
    raw `chunk` column is projected away before the exchange."""
    from whisper_spark.operators.dedup import cdc_shared_chunks

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog " * 4),
         (2, "pad " + "the quick brown fox jumps over the lazy dog " * 4)],
        "doc_id long, text string",
    )
    out = cdc_shared_chunks(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(chunk_md5" in plan, plan
    # the chunk body must not survive into the exchange key
    assert "hashpartitioning(chunk," not in plan, plan
    rows = {r["chunk_md5"]: r for r in out.collect()}
    assert rows and all(r["n_docs"] == 2 for r in rows.values())


def test_gopher_rules_match_python_reference(spark):
    """The Gopher quality ruleset pinned against an independent Python
    reference on crafted documents that each trip exactly one rule,
    plus a clean passing document."""
    from whisper_spark.operators.textanalysis import (
        GOPHER_REQUIRED_STOPS,
        gopher_rules,
    )

    good = ("the quick brown fox of the valley and the hound that we "
            "have seen move to the river with great speed today ") * 3
    docs = [
        (1, good),                                   # passes everything
        (2, "the and of short"),                     # rule 1: < 50 words
        (3, good + " " + "#tag " * 40),              # rule 3: symbols
        (4, good + "\n" + "\n".join("- item %d of the set" % i
                                    for i in range(40))),  # rule 4
        (5, good + "\n" + "\n".join("trailing thought..."
                                    for _ in range(30))),  # rule 5
        (6, good + " " + "12345 " * 60),             # rule 6: alpha frac
        (7, ("zebra quokka wombat lemur otter badger weasel marmot "
             "gopher ferret stoat mink ") * 6),      # rule 7: no stops
        (8, None),                                   # filtered upstream
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in gopher_rules(
            df.filter("text is not null")).collect()
    }

    def ref(text):
        toks = [t for t in text.split(" ") if t]
        n = len(toks)
        nz = n if n else 1
        lines = text.split("\n")
        bullets = sum(
            1 for x in lines
            if x.lstrip().startswith(("-", "*", "•")))
        ells = sum(1 for x in lines if x.rstrip().endswith("..."))
        alpha = sum(1 for t in toks if any(c.isascii() and c.isalpha()
                                           for c in t))
        stops = len(set(toks) & set(GOPHER_REQUIRED_STOPS))
        mwl = sum(len(t) for t in toks) / nz
        # the length-delta trick counts non-overlapping '...' exactly
        # like str.replace does
        sym = (text.count("#")
               + (len(text) - len(text.replace("...", ""))) / 3) / nz
        return dict(
            n_words=n, mean_word_len=mwl, symbol_ratio=sym,
            bullet_line_frac=bullets / len(lines),
            ellipsis_line_frac=ells / len(lines),
            alpha_word_frac=alpha / nz, n_required_stops=stops,
            pass_gopher=(50 <= n <= 100_000 and 3 <= mwl <= 10
                         and sym <= 0.1 and bullets / len(lines) <= 0.9
                         and ells / len(lines) <= 0.3
                         and alpha / nz >= 0.8 and stops >= 2),
        )

    assert 8 not in out
    expected_pass = {1: True, 2: False, 3: False, 4: False, 5: False,
                     6: False, 7: False}
    for i, text in docs:
        if text is None:
            continue
        want = ref(text)
        got = out[i]
        for k, v in want.items():
            if isinstance(v, float):
                assert got[k] == pytest.approx(v, abs=1e-12), (i, k)
            else:
                assert got[k] == v, (i, k, got[k], v)
        assert got["pass_gopher"] == expected_pass[i], i


def test_repetition_full_match_python_reference(spark):
    """The full Gopher repetition metrics pinned against an independent
    Python/Counter reference: duplicate-line fractions, top n-gram
    char coverage (deterministic tie-break), duplicate n-gram char
    coverage — on documents crafted to exercise every branch."""
    from collections import Counter

    from whisper_spark.operators.textanalysis import repetition_full

    docs = [
        (1, "alpha beta gamma\nalpha beta gamma\nunique line here\n"
            "alpha beta gamma"),
        (2, "one two one two one two one two one two"),
        (3, "all words differ here entirely today friend"),
        (4, "tiny"),
        (5, ""),
        (6, "a  b   a  b"),  # empty tokens from double spaces
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_full(df).collect()}

    def ref(text):
        out = {}
        lines = text.split("\n")
        lc = Counter(lines)
        total, wchars = len(lines), sum(len(x) for x in lines)
        dup = sum(c for c in lc.values() if c >= 2)
        dup_w = sum(c * len(x) for x, c in lc.items() if c >= 2)
        out["dup_line_frac"] = dup / total if total else None
        out["dup_line_char_frac"] = (dup_w / wchars) if wchars else None
        ws = text.split(" ")
        L = len(text)
        for n, kind in [(2, "top"), (3, "top"), (4, "top"),
                        (5, "dup"), (10, "dup")]:
            grams = (
                [" ".join(ws[k:k + n]) for k in range(len(ws) - n + 1)]
                if len(ws) >= n else []
            )
            key = f"{kind}{n}_char_frac"
            if not grams:
                out[key] = None
                continue
            c = Counter(grams)
            if kind == "top":
                g, cnt = max(c.items(),
                             key=lambda kv: (kv[1], len(kv[0]), kv[0]))
                out[key] = (cnt * len(g) / L) if L else None
            else:
                dw = sum(cnt * len(g) for g, cnt in c.items() if cnt >= 2)
                out[key] = (dw / L) if L else None
        return out

    for i, text in docs:
        want = ref(text)
        for k, v in want.items():
            g = got[i][k]
            if v is None:
                assert g is None, (i, k, g)
            else:
                assert g == pytest.approx(v, abs=1e-12), (i, k, g, v)
    # sanity of the crafted cases: doc 1 has 3 of 4 lines duplicated,
    # doc 2 is pure repetition, doc 3 has none
    assert got[1]["dup_line_frac"] == pytest.approx(0.75)
    assert got[2]["dup5_char_frac"] > 0.5
    assert got[3]["dup5_char_frac"] == 0.0


def test_c4_filters_match_python_reference(spark):
    """C4 line/document cleaning pinned against an independent Python
    reference, with documents exercising each rule: terminal
    punctuation, minimum words per line, javascript lines, lorem
    ipsum, curly braces, and the minimum-retained-lines gate."""
    import hashlib

    from whisper_spark.operators.textanalysis import c4_filters

    good_line = "This sentence is long enough and ends properly."
    docs = [
        (1, "\n".join([good_line] * 6)),            # kept, passes
        (2, "\n".join([good_line] * 4)),            # < 5 kept lines
        (3, "\n".join([good_line] * 6 + ["Enable JavaScript to view."])),
        (4, "no terminal punctuation here\n" + "\n".join([good_line] * 5)),
        (5, "Too short.\n" + "\n".join([good_line] * 5)),
        (6, "\n".join([good_line] * 6) + "\nLorem Ipsum dolor sit."),
        (7, "\n".join([good_line] * 6) + "\nfunction() { return 1; }"),
        (8, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in c4_filters(df).collect()}

    def ref(text):
        lines = text.split("\n")
        kept = [
            x for x in lines
            if x.rstrip()[-1:] in '.!?"'
            and len([w for w in x.split(" ") if w]) >= 3
            and "javascript" not in x.lower()
        ]
        clean = "\n".join(kept)
        has_lorem = "lorem ipsum" in text.lower()
        has_brace = "{" in text
        return dict(
            n_lines=len(lines), n_kept=len(kept),
            kept_char_frac=(len(clean) / len(text)) if text else None,
            has_lorem=has_lorem, has_brace=has_brace,
            keep_doc=not has_lorem and not has_brace and len(kept) >= 5,
            clean_len=len(clean),
            clean_sig=hashlib.md5(clean.encode()).hexdigest(),
            clean_text=clean,
        )

    for i, text in docs:
        want = ref(text)
        for k, v in want.items():
            g = got[i][k]
            if isinstance(v, float):
                assert g == pytest.approx(v, abs=1e-12), (i, k)
            else:
                assert g == v, (i, k, g, v)
    assert got[1]["keep_doc"] and not got[2]["keep_doc"]
    assert got[3]["n_kept"] == 6          # javascript line dropped
    assert not got[6]["keep_doc"] and not got[7]["keep_doc"]


def test_bm25_topk_match_python_reference(spark):
    """BM25 scoring pinned against an independent Python reference
    (identical expression tree, so doubles match to the bit), with the
    deterministic (score DESC, doc_id ASC) top-k tie-break."""
    from whisper_spark.operators.textanalysis import bm25_topk

    docs = [
        (1, "table scan join table table window"),
        (2, "join join stream window table"),
        (3, "stream stream stream"),
        (4, "nothing relevant here at all"),
        (5, "window"),
        (6, ""),
        (7, "table join stream window table join stream window"),
    ]
    terms = ["table", "join", "stream", "window"]
    k1, b = 1.2, 0.75
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = bm25_topk(df, terms, k1=k1, b=b, k=4).collect()

    toks = {i: [t for t in x.split(" ") if t] for i, x in docs}
    N = len(docs)
    sum_dl = sum(len(v) for v in toks.values())
    avgdl = sum_dl * 1.0 / N
    dfs = [sum(1 for v in toks.values() if t in v) for t in terms]

    def score(i):
        s = None
        dl = len(toks[i])
        for ti, t in enumerate(terms):
            tf = toks[i].count(t)
            idf = (N - dfs[ti] + 0.5) / (dfs[ti] + 0.5)
            c = idf * (tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * dl / avgdl)))
            s = c if s is None else s + c
        return s

    ranked = sorted(toks, key=lambda i: (-score(i), i))[:4]
    assert [r["doc_id"] for r in got] == ranked
    for r in got:
        assert r["score"] == score(r["doc_id"]), r
    # the all-miss doc scores 0 and the empty doc scores 0: neither
    # may outrank a matching doc
    assert 4 not in {r["doc_id"] for r in got} or len(
        [i for i in toks if score(i) > 0]) < 4


def test_cdc_incremental_savings_match_python_reference(spark):
    """rsync-style incremental savings pinned against a hashlib
    reference: a new doc sharing a long run with the seen corpus gets
    its shared interior chunks credited; a unique doc saves nothing;
    intra-batch duplicates do NOT count (identity is the seen index
    only)."""
    import hashlib
    import random as _random

    from whisper_spark.operators.dedup import cdc_incremental_savings

    rng = _random.Random(11)
    alpha = "abcdefghijklmnopqrstuvwxyz 0123456789"
    shared = "".join(rng.choice(alpha) for _ in range(500))
    seen = [(100, "seenpad " + shared), (101, "other content here")]
    new = [
        (1, "x" * 37 + shared),            # shares interior chunks
        (2, "".join(rng.choice(alpha) for _ in range(300))),  # unique
        (3, "x" * 37 + shared),            # same as doc 1: still only
                                           # credited against SEEN
        (4, "tiny"),                       # sub-window: one chunk
    ]
    newdf = spark.createDataFrame(new, "doc_id long, text string")
    seendf = spark.createDataFrame(seen, "doc_id long, text string")
    got = {r["doc_id"]: r
           for r in cdc_incremental_savings(newdf, seendf).collect()}

    def chunks(text, window=16, mask=64):
        ends = [i for i in range(window, len(text) + 1)
                if int(hashlib.md5(text[i - window:i].encode())
                       .hexdigest()[:2], 16) % mask == 0]
        if not ends or ends[-1] != len(text):
            ends.append(len(text))
        out, s = [], 0
        for e in ends:
            out.append(text[s:e]); s = e
        return out

    seen_set = {c for _, t in seen for c in chunks(t)}
    for i, t in new:
        cs = chunks(t)
        dup = [c for c in cs if c in seen_set]
        r = got[i]
        assert r["n_chunks"] == len(cs), i
        assert r["total_bytes"] == sum(len(c) for c in cs), i
        assert r["dup_chunks"] == len(dup), (i, dup, r)
        assert r["dup_bytes"] == sum(len(c) for c in dup), i
    assert got[1]["dup_bytes"] > 0 and got[2]["dup_bytes"] == 0
    assert got[3]["dup_bytes"] == got[1]["dup_bytes"]
    assert got[4]["n_chunks"] == 1


def test_quality_features_match_python_reference(spark):
    """Feature-matrix assembly spot-checked against a Python reference
    on crafted docs (and the gopher metric columns must equal
    gopher_rules' output exactly — shared expressions)."""
    from whisper_spark.operators.textanalysis import (
        gopher_rules,
        quality_features,
    )

    docs = [
        (1, "the cat sat on the mat and the dog ran to it now"),
        (2, "word word word word word"),
        (3, ""),
        (4, "a  b  a  b  a  b  a  b  a  b"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    feats = {r["doc_id"]: r for r in quality_features(df).collect()}
    goph = {r["doc_id"]: r for r in gopher_rules(df).collect()}
    for i, _t in docs:
        for k in ["n_words", "mean_word_len", "symbol_ratio",
                  "bullet_line_frac", "ellipsis_line_frac",
                  "alpha_word_frac", "n_required_stops"]:
            assert feats[i][k] == goph[i][k], (i, k)
    r1 = feats[1]
    toks = docs[0][1].split(" ")
    assert r1["n_tokens"] == len(toks)
    assert r1["stop_ratio"] == pytest.approx(
        sum(1 for t in toks
            if t in ["the", "a", "of", "and", "to", "in", "is", "it",
                     "on", "for"]) / len(toks))
    assert r1["is_en"] and feats[3]["is_en"]  # empty text counts as en
    assert not feats[2]["is_en"] and not feats[4]["is_en"]
    # doc 4 repeats "a b a" style 3-grams heavily
    assert feats[4]["dup3_ratio"] > 0.5
    assert feats[3]["dup3_ratio"] == 0.0 and feats[3]["n_tokens"] == 0


def test_quality_logit_select_reference_and_shape(spark):
    """The linear quality scorer pinned against a Python reference
    (same fixed-order arithmetic) and the per-group quartile rule."""
    import math

    from whisper_spark.operators.textanalysis import (
        QUALITY_LOGIT_WEIGHTS,
        quality_features,
        quality_logit_select,
    )

    rows = []
    for i in range(24):
        src = "a" if i < 16 else "b"
        good = "the quick brown fox and the lazy dog " * (1 + i % 4)
        bad = "#### " * 10 + "12345 " * 10
        rows.append((i, src, good if i % 3 else good + bad))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    feats = {r["doc_id"]: r for r in
             quality_features(df, keep_cols=("source",)).collect()}
    sel = quality_logit_select(df).collect()

    def score(i):
        s = None
        for name, w in QUALITY_LOGIT_WEIGHTS:
            c = feats[i][name] * w
            s = c if s is None else s + c
        return s

    for r in sel:
        assert r["score"] == score(r["doc_id"]), r
    by_src = {}
    for i, src, _t in rows:
        by_src.setdefault(src, []).append(i)
    got_by_src = {}
    for r in sel:
        got_by_src.setdefault(r["source"], []).append(r["doc_id"])
    for src, ids in by_src.items():
        k = math.ceil(len(ids) * 0.25)
        want = sorted(ids, key=lambda i: (-score(i), i))[:k]
        assert sorted(got_by_src[src]) == sorted(want), (src, want)


def test_compaction_report_tracks_compact_and_vacuum(spark, tmp_path):
    """The LSM bookkeeping view must (1) count live/shadowed/expired
    rows exactly, (2) prove compact() lossless: after a compact at the
    same `now`, shadowed drops to zero, expired live slots are
    trimmed, and the live-value checksum of the SURVIVING slots is
    unchanged."""
    from whisper_spark.store import WhisperStore

    NOW = 1_700_000_000
    st = WhisperStore.create(spark, str(tmp_path / "db"), [(10, 720)])
    # edge batch (will expire at NOW+1000), dense batch, overwrites
    st.update_many(
        [(NOW - 7000 + k * 10, float(k)) for k in range(10)],
        now=NOW, metric="m",
    )
    st.update_many(
        [(NOW - 1000 + k * 10, k + 0.25) for k in range(100)],
        now=NOW, metric="m",
    )
    st.update_many(
        [(NOW - 1000 + k * 10, k + 0.75) for k in range(0, 100, 3)],
        now=NOW, metric="m",
    )
    rep = {r["metric"]: r for r in
           st.compaction_report(now=NOW + 1000).collect()}["m"]
    assert rep["n_rows"] == 144 and rep["n_live"] == 110
    assert rep["n_shadowed"] == 34 and rep["n_expired_live"] == 10
    live = {**{NOW - 7000 + k * 10: float(k) for k in range(10)},
            **{NOW - 1000 + k * 10: k + 0.25 for k in range(100)},
            **{NOW - 1000 + k * 10: k + 0.75 for k in range(0, 100, 3)}}
    assert rep["live_value_sum"] == sum(
        round(v * 4) / 4 for v in live.values())

    st.compact(now=NOW + 1000)
    rep2 = {r["metric"]: r for r in
            st.compaction_report(now=NOW + 1000).collect()}["m"]
    assert rep2["n_shadowed"] == 0 and rep2["n_expired_live"] == 0
    assert rep2["n_rows"] == rep2["n_live"] == 100
    surviving = {ts: v for ts, v in live.items() if ts > NOW + 1000 - 7200}
    assert rep2["live_value_sum"] == sum(surviving.values())


def test_bigram_lm_weighted_query_matches_operator(spark):
    """Weighted-restructure pin (round-13 optimization): the registered
    doc_bigram_lm_score query pre-aggregates per-doc bigram counts and
    sums m*p instead of exploding the corpus three times; its output
    must stay bit-identical to the unrestructured operator — including
    n_bigrams (sum of m == occurrence count) and the decimal-summed
    avg_bigram_prob (m*p in decimal(38,8) == adding p per occurrence)."""
    from whisper_spark import queries as Q

    restructured = sorted(
        tuple(r)
        for r in Q.QUERIES["doc_bigram_lm_score"]
        .fn(spark, sf_dir(SF))
        .collect()
    )
    operator = sorted(
        tuple(r)
        for r in textanalysis.bigram_lm_score(
            spark.read.parquet(f"{sf_dir(SF)}/documents.parquet")
        ).collect()
    )
    assert restructured == operator


def test_minhash_bands_empty_and_short_texts_yield_no_bands(spark):
    """Both band expressions guard the single-pass aggregate/least fold
    with IF(size(ws) >= 1, ...): the fold's identity (2^60 resp. M)
    must stay UNREACHABLE, or an empty/short text would get a
    real-looking signature and band, creating spurious LSH collisions
    (ADVICE r13 — this pins the guard so a refactor fails loudly)."""
    rows = [(1, ""), (2, "abc"), (3, None), (4, "abcd"), (5, "abcde")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for bander in (dedup.minhash_bands_expr, dedup.minhash_bands_fast_expr):
        out = docs.select(
            "doc_id", F.size(bander("text", 8, 4, 5)).alias("n")
        ).collect()
        got = {r.doc_id: r.n for r in out}
        # shorter than the 5-char shingle (or NULL): zero bands;
        # exactly one shingle: the full 4 bands
        assert got[1] == 0 and got[2] == 0 and got[4] == 0, got
        assert got[3] in (0, -1), got  # NULL text -> empty/NULL, never bands
        assert got[5] == 4, got


def test_incremental_dedup_index_path_matches_default(spark):
    """incremental_dedup(new_index=, seen_index=) — the round-14
    index-proportional persist shape — must flag exactly what the
    default text-derived path flags (the index computes the identical
    md5/band expressions, just once per side)."""
    base = "the quick brown fox jumps over the lazy dog " * 4
    seen = spark.createDataFrame(
        [(1, base), (2, "completely different seen text here " * 4)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, base),                      # exact copy of seen 1
            (11, base + "tail!"),            # near copy of seen 1
            (12, "fresh never seen content " * 4),
        ],
        "doc_id long, text string",
    )
    default = sorted(
        tuple(r) for r in dedup.incremental_dedup(new, seen).collect()
    )
    indexed = sorted(
        tuple(r)
        for r in dedup.incremental_dedup(
            new,
            seen,
            new_index=dedup.incremental_index(new),
            seen_index=dedup.incremental_index(seen, id_col=None),
        ).collect()
    )
    assert default == indexed and len(default) == 3
    # mismatched index frames fail loudly, never silently wrong
    with pytest.raises(ValueError, match="incremental_index"):
        dedup.incremental_dedup(new, seen, new_index=new.select("doc_id"))
