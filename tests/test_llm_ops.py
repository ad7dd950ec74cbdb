"""LLM-pipeline operator tests: recall of the approximate (LSH) variants
against their exact counterparts, multimodal plumbing determinism.

Runs on the sf0.001 fixtures (50 docs / 50 vectors) for speed; the sf0.01
behavior is covered by the registry gate.
"""

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")


@pytest.fixture(scope="module")
def docs(spark):
    from polars_spark.sources import scan_parquet

    return scan_parquet(f"{SF_DIR}/documents.parquet", spark=spark).to_spark()


@pytest.fixture(scope="module")
def emb(spark):
    from polars_spark.sources import scan_parquet

    return scan_parquet(f"{SF_DIR}/embeddings.parquet", spark=spark).to_spark()


def test_minhash_lsh_recall(spark, docs):
    from polars_spark.llm import minhash_lsh_pairs, ngram_jaccard_pairs

    exact = {
        (r["d1"], r["d2"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    }
    approx = {
        (r["d1"], r["d2"])
        for r in minhash_lsh_pairs(docs, "doc_id", "text", k=32, bands=8, threshold=0.8).collect()
    }
    # verification step makes approx a subset of exact; recall must be high
    assert approx <= exact
    if exact:
        recall = len(approx & exact) / len(exact)
        assert recall >= 0.9, f"LSH recall {recall} below 0.9 (exact={len(exact)})"


def test_band_keys_pinned(spark):
    # order-insensitive digest of the (doc, band) rows the minhash operators
    # join on, over the sf0.01 corpus: any drift in shingling, the signature
    # hashes or the band split changes it
    from polars_spark.llm import _band_keys, _shingle_sets

    path = os.path.join(os.path.dirname(SF_DIR), "sf0.01", "documents.parquet")
    if not os.path.exists(path):
        pytest.skip("sf0.01 testdata missing")
    banded = _shingle_sets(spark.read.parquet(path), "doc_id", "text", 3).select(
        "doc", F.explode(_band_keys(F.col("sh"), k=32, bands=8)).alias("band")
    )
    r = banded.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("doc", "band").cast("decimal(38,0)")).alias("h"),
    ).first()
    assert (r["n"], int(r["h"])) == (4000, 45786819432042991326)


def test_minhash_dedup_cache_does_not_grow(spark, docs):
    # repeated calls reuse the cached shingle sets and release the
    # connected-components edge cache: the count of cached (not
    # localCheckpointed) RDDs stays flat across calls
    from polars_spark.llm import minhash_lsh_dedup

    def cached():
        m = spark.sparkContext._jsc.getPersistentRDDs()
        return sum(1 for key in m.keySet().toArray() if not m.get(key).rdd().isCheckpointed())

    counts = []
    for _ in range(3):
        minhash_lsh_dedup(docs, "doc_id", "text").collect()
        counts.append(cached())
    assert counts[0] == counts[1] == counts[2], counts


def test_simhash_flags_near_dups(spark, docs):
    from polars_spark.llm import ngram_jaccard_pairs, simhash_near_pairs

    exact = {
        (r["d1"], r["d2"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.9).collect()
    }
    sim = {(r["d1"], r["d2"]) for r in simhash_near_pairs(docs, "doc_id", "text", max_hamming=3).collect()}
    if exact:
        # 0.9-jaccard pairs can differ in >3 of 64 simhash bits, so hamming<=3
        # is a high-precision / partial-recall filter by design; require most
        recall = len(sim & exact) / len(exact)
        assert recall >= 0.7, f"simhash recall {recall} (exact={len(exact)}, sim={len(sim)})"


def test_simhash_deterministic(spark, docs):
    from polars_spark.llm import simhash

    a = {r["doc"]: r["simhash"] for r in simhash(docs, "doc_id", "text").collect()}
    b = {r["doc"]: r["simhash"] for r in simhash(docs, "doc_id", "text").collect()}
    assert a == b and len(a) == docs.count()


def test_ann_lsh_recall(spark, emb):
    from polars_spark.llm import cosine_topk_bruteforce, cosine_topk_lsh

    probes = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["qid"], r["nid"]) for r in cosine_topk_bruteforce(emb, probes, k=3).collect()
    }
    approx = {
        (r["qid"], r["nid"])
        for r in cosine_topk_lsh(emb, probes, k=3, n_planes=4, dim=64).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, f"ANN recall {recall}"


def test_exact_dedup_keeps_min_id(spark, docs):
    from polars_spark.llm import exact_dedup

    out = exact_dedup(docs, "doc_id", "text").collect()
    assert sum(r["n_copies"] for r in out) == docs.count()
    assert all(r["keep_id"] is not None for r in out)


def test_multimodal_fake_features(spark, docs):
    from polars_spark.multimodal import attach_fake_image_bytes, decode_image, extract_features

    media = attach_fake_image_bytes(docs, "text")
    assert dict(media.dtypes)["image"] == "binary"
    feats = extract_features(media, "image").collect()
    assert len(feats) == docs.count()
    v = feats[0]["features"]
    assert len(v) == 16
    assert abs(sum(v) - 1.0) < 1e-5  # normalized histogram
    with pytest.raises(NotImplementedError):
        decode_image(media)


def test_quality_and_lang_bounds(spark, docs):
    from polars_spark.llm.text import lang_id, quality_score

    r = docs.select(
        quality_score(F.col("text")).alias("q"), lang_id(F.col("text")).alias("l")
    ).collect()
    assert all(0.0 <= row["q"] <= 1.0 for row in r)
    assert all(row["l"] in ("en", "es", "fr", "de", "unknown") for row in r)


def test_connected_components(spark, pl):
    import pandas as pd
    from polars_spark.llm import connected_components

    pairs = pl.from_pandas(
        pd.DataFrame({"d1": [1, 2, 10, 20], "d2": [2, 3, 11, 21]})
    ).to_spark()
    out = {r["doc"]: r["cluster"] for r in connected_components(pairs).collect()}
    # chain 1-2-3 collapses to 1; 10-11 to 10; 20-21 to 20
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_embedding_near_dup_planted(spark):
    """Plant 10 near-dup pairs (sim ~0.995) among 40 random vectors; at the
    0.9 design point with 6x4 tables the collision prob per pair is >0.9999,
    so the fixed-seed construction finds every planted pair and nothing else."""
    import numpy as np

    from polars_spark.llm import embedding_near_dup_pairs

    rng = np.random.default_rng(3)
    base = rng.standard_normal((40, 64))
    rows = [(i, base[i].tolist()) for i in range(40)]
    # ids 100..109 are jittered copies of ids 0..9
    for i in range(10):
        rows.append((100 + i, (base[i] + 0.05 * rng.standard_normal(64)).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = embedding_near_dup_pairs(
        emb, threshold=0.9, n_tables=6, n_planes=4, seed=100
    ).collect()
    pairs = {(r.d1, r.d2) for r in got}
    assert pairs == {(i, 100 + i) for i in range(10)}, pairs
    assert all(r.sim >= 0.9 for r in got)


def test_embedding_near_dup_matches_bruteforce_on_candidates(spark, emb):
    """Every emitted pair must carry the exact brute-force cosine (verify
    step is exact; only candidate generation is approximate)."""
    from polars_spark.llm import cosine_similarity, embedding_near_dup_pairs

    got = embedding_near_dup_pairs(emb, threshold=0.35, n_tables=3, n_planes=4).collect()
    assert got, "expected some pairs at threshold 0.35 on sf0.001"
    e = emb.select(F.col("vec_id").alias("d1"), F.col("embedding").cast("array<double>").alias("v1"))
    e2 = emb.select(F.col("vec_id").alias("d2"), F.col("embedding").cast("array<double>").alias("v2"))
    pairs = spark.createDataFrame([(r.d1, r.d2) for r in got], "d1 long, d2 long")
    exact = {
        (r.d1, r.d2): r.sim
        for r in pairs.join(e, "d1").join(e2, "d2")
        .select("d1", "d2", F.round(cosine_similarity(F.col("v1"), F.col("v2")), 6).alias("sim"))
        .collect()
    }
    for r in got:
        assert exact[(r.d1, r.d2)] == r.sim


def test_ivf_recall_and_exactness(spark, emb):
    """IVF(K=4, probe=2) on sf0.001: recall vs brute force is bounded below,
    and every returned sim equals the exact normalized dot."""
    from polars_spark.llm import cosine_topk_bruteforce, ivf_topk

    probes = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["qid"], r["nid"]) for r in cosine_topk_bruteforce(emb, probes, k=3).collect()
    }
    got = ivf_topk(emb, probes, k=3, n_clusters=4, n_probe=2, iters=2).collect()
    approx = {(r["qid"], r["nid"]) for r in got}
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall}"
    # probing half the clusters must not score more than ~all the corpus
    assert all(r["rk"] <= 3 for r in got)


def test_ivf_probe_all_equals_bruteforce(spark, emb):
    """With n_probe == n_clusters the IVF search degenerates to exhaustive:
    the result set must equal brute force exactly (same ids per rank)."""
    from polars_spark.llm import cosine_topk_bruteforce, ivf_topk

    probes = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["qid"], r["rk"]): r["nid"]
        for r in cosine_topk_bruteforce(emb, probes, k=3).collect()
    }
    got = {
        (r["qid"], r["rk"]): r["nid"]
        for r in ivf_topk(emb, probes, k=3, n_clusters=4, n_probe=4, iters=1).collect()
    }
    assert got == exact


def test_sample_frames_shape(spark):
    from polars_spark.multimodal import sample_frames

    df = spark.createDataFrame(
        [(1, bytearray(b"a" * 130)), (2, bytearray(b"b" * 64)), (3, None)],
        "id long, video binary",
    )
    got = {(r.id, r.frame_idx): bytes(r.frame) for r in sample_frames(df, "video", frame_bytes=64, every_n=2).collect()}
    # 130 bytes -> frames 0,1,2 -> keep 0 and 2 (2-byte tail); 64 bytes -> frame 0; None -> dropped
    assert set(got) == {(1, 0), (1, 2), (2, 0)}
    assert got[(1, 2)] == b"aa"
    assert len(got[(1, 0)]) == 64


def test_resize_images_nearest(spark):
    import numpy as np

    from polars_spark.multimodal import resize_images

    payload = bytes(range(81))  # 9x9 image, pixel value == index
    df = spark.createDataFrame([(1, bytearray(payload))], "id long, image binary")
    [r] = resize_images(df, "image", out_side=4).collect()
    assert r.side == 9
    idx = (np.arange(4) * 9) // 4  # [0, 2, 4, 6]
    expect = [int(ri * 9 + ci) for ri in idx for ci in idx]
    assert list(r.pixels) == expect


def test_audio_features_windows(spark):
    import math

    from polars_spark.multimodal import extract_audio_features

    payload = bytes([128] * 100 + [130] * 50)  # window 0 silent, window 1 = +2
    df = spark.createDataFrame([(1, bytearray(payload))], "id long, audio binary")
    got = {r.win: (r.n_samples, r.rms) for r in extract_audio_features(df, "audio", window=100).collect()}
    assert got[0] == (100, 0.0)
    assert got[1] == (50, 2.0)
    assert len(got) == 2


def test_chunk_documents_windows(spark):
    from polars_spark.llm.text import chunk_documents

    text = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame([(1, text), (2, "a b"), (3, "x " * 64)], "doc_id long, text string")
    got = {(r.doc_id, r.chunk_id): (r.chunk_len, r.chunk_text) for r in chunk_documents(df, chunk_tokens=64, overlap=16).collect()}
    # doc1: 100 tokens -> ceil((100-16)/48)=2 chunks: [0..63], [48..99]
    assert got[(1, 0)][0] == 64 and got[(1, 0)][1].startswith("w0 ") 
    assert got[(1, 1)][0] == 52 and got[(1, 1)][1].startswith("w48 ")
    # doc2: 2 tokens -> one partial chunk
    assert got[(2, 0)] == (2, "a b")
    # doc3: exactly 64 tokens -> exactly one full chunk
    assert got[(3, 0)][0] == 64 and (3, 1) not in got


class TestTrainingPipelineOps:
    def test_deterministic_sample_reproducible(self, spark):
        from polars_spark.llm import deterministic_sample

        df = spark.range(1000).withColumnRenamed("id", "k")
        a = deterministic_sample(df, key_col="k", fraction=0.3, seed=1)
        b = deterministic_sample(df, key_col="k", fraction=0.3, seed=1)
        ka = sorted(r.k for r in a.collect())
        assert ka == sorted(r.k for r in b.collect())
        assert 200 < len(ka) < 400  # ~binomial(1000, .3)
        # different seed -> different subset
        kc = sorted(r.k for r in deterministic_sample(df, key_col="k", fraction=0.3, seed=2).collect())
        assert ka != kc

    def test_deterministic_sample_stratified(self, spark):
        from pyspark.sql import functions as F

        from polars_spark.llm import deterministic_sample

        df = spark.range(500).select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 2 == 0, "keep").otherwise("drop").alias("src"),
        )
        out = deterministic_sample(
            df, key_col="k", by="src", fractions={"keep": 1.0}, seed=0
        ).collect()
        assert len(out) == 250 and all(r.src == "keep" for r in out)

    def test_pack_sequences_budget(self, spark):
        from pyspark.sql import functions as F

        from polars_spark.llm import pack_sequences

        df = spark.range(10).select(
            F.col("id").alias("doc_id"), F.lit("s").alias("src"), F.lit(300).alias("toks")
        )
        out = pack_sequences(
            df, target_tokens=1000, token_col="toks", order_col="doc_id", by="src"
        ).orderBy("doc_id").collect()
        # 300-token docs, 1000 budget: bins of 4 docs (cum-own: 0,300,600,900 -> bin0)
        assert [r.bin_id for r in out] == [0, 0, 0, 0, 1, 1, 1, 2, 2, 2]

    def test_pack_sequences_oversized_doc_own_bin(self, spark):
        from pyspark.sql import functions as F

        from polars_spark.llm import pack_sequences

        df = spark.createDataFrame(
            [(1, "s", 5000), (2, "s", 100), (3, "s", 100)], "doc_id long, src string, toks long"
        )
        out = pack_sequences(
            df, target_tokens=1000, token_col="toks", order_col="doc_id", by="src"
        ).orderBy("doc_id").collect()
        assert out[0].bin_id == 0 and out[1].bin_id == 5 and out[2].bin_id == 5

    def test_pack_sequences_requires_partition_key(self, spark):
        import pytest
        from pyspark.sql import functions as F

        from polars_spark.llm import pack_sequences

        df = spark.range(3).select(F.col("id").alias("doc_id"), F.lit(10).alias("toks"))
        with pytest.raises(ValueError, match="partition key"):
            pack_sequences(df, target_tokens=100, token_col="toks", order_col="doc_id")


class TestGopherFilter:
    def _mk(self, spark, texts):
        return spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")

    def test_signals_on_crafted_docs(self, spark):
        from polars_spark.llm.text import gopher_filter

        good = " ".join(f"the word{i} and next{i} of thing{i}" for i in range(10))
        bullets = "\n".join(f"- item {i}" for i in range(10))
        repeats = "spam ham " * 40
        df = gopher_filter(self._mk(spark, [good, bullets, repeats]))
        r = {row["doc_id"]: row for row in df.collect()}
        assert r[0]["passes_gopher"]
        assert r[1]["bullet_line_frac"] == 1.0 and not r[1]["passes_gopher"]
        assert r[2]["dup_word_frac"] > 0.9 and r[2]["dup_2gram_frac"] > 0.9
        assert not r[2]["passes_gopher"]

    def test_ellipsis_and_dup_lines(self, spark):
        from polars_spark.llm.text import gopher_filter

        text = "read more...\nread more...\nread more...\nunique line"
        df = gopher_filter(self._mk(spark, [text]))
        row = df.collect()[0]
        assert row["ellipsis_line_frac"] == 0.75
        assert abs(row["dup_line_frac"] - 0.5) < 1e-12

    def test_top_ngram_stats(self, spark):
        from polars_spark.llm.text import top_ngram_stats

        df = top_ngram_stats(self._mk(spark, ["a b a b a c", "x y z"]), n=2)
        r = {row["doc_id"]: row for row in df.collect()}
        assert r[0]["top_gram"] == "a b" and r[0]["gram_count"] == 2
        # tie between 'x y' and 'y z' breaks lexically
        assert r[1]["top_gram"] == "x y" and r[1]["gram_count"] == 1

    def test_word_ngrams_short_doc_empty(self, spark):
        from polars_spark.llm import word_ngrams

        df = self._mk(spark, ["solo"]).select(word_ngrams(F.col("text"), 2).alias("g"))
        assert df.collect()[0]["g"] == []


class TestC4AndPII:
    def _mk(self, spark, texts):
        return spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")

    def test_c4_terminal_punct_and_banned(self, spark):
        from polars_spark.llm.text import c4_clean

        doc = (
            "This line ends with a period.\n"
            "no terminal punctuation here\n"
            "Enable javascript to continue.\n"
            "Tiny line.\n"
            "A perfectly reasonable sentence with enough words."
        )
        out = c4_clean(self._mk(spark, [doc]), min_words_per_line=4).collect()[0]
        assert out["n_lines_total"] == 5
        assert out["n_lines_kept"] == 2
        assert out["cleaned_text"].splitlines() == [
            "This line ends with a period.",
            "A perfectly reasonable sentence with enough words.",
        ]
        assert out["doc_kept"]

    def test_c4_min_lines_threshold(self, spark):
        from polars_spark.llm.text import c4_clean

        out = c4_clean(self._mk(spark, ["short.\nshort."]), min_lines_kept=1).collect()[0]
        assert out["n_lines_kept"] == 0 and not out["doc_kept"]

    def test_redact_pii_all_classes(self, spark):
        from polars_spark.llm.text import pii_counts, redact_pii

        text = "mail a.b@x.io or b@y.co, call 415-555-0199, host 10.0.0.7 up"
        df = self._mk(spark, [text])
        counts = pii_counts(F.col("text"))
        row = df.select(
            *[c.alias(n) for n, c in counts.items()],
            redact_pii(F.col("text")).alias("red"),
        ).collect()[0]
        assert row["n_email"] == 2 and row["n_phone"] == 1 and row["n_ip"] == 1
        assert row["red"] == "mail [PII] or [PII], call [PII], host [PII] up"


class TestSplitAndShuffle:
    def test_hash_split_fractions_and_stability(self, spark):
        from polars_spark.llm import hash_split

        df = spark.range(2000).withColumnRenamed("id", "doc_id")
        out = hash_split(
            df, key_col="doc_id", fractions={"train": 0.8, "val": 0.1, "test": 0.1}, seed=1
        )
        counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
        assert set(counts) == {"train", "val", "test"}
        assert abs(counts["train"] / 2000 - 0.8) < 0.05
        # growing the corpus must not move existing keys between splits
        small = {r["doc_id"]: r["split"] for r in hash_split(
            spark.range(500).withColumnRenamed("id", "doc_id"),
            key_col="doc_id", fractions={"train": 0.8, "val": 0.1, "test": 0.1}, seed=1,
        ).collect()}
        big = {r["doc_id"]: r["split"] for r in out.collect()}
        assert all(big[k] == v for k, v in small.items())

    def test_hash_split_validation(self, spark):
        from polars_spark.llm import hash_split

        df = spark.range(10).withColumnRenamed("id", "doc_id")
        with pytest.raises(ValueError, match="sum to 1"):
            hash_split(df, key_col="doc_id", fractions={"a": 0.5, "b": 0.4})
        with pytest.raises(ValueError, match="two splits"):
            hash_split(df, key_col="doc_id", fractions={"a": 1.0})

    def test_global_shuffle_deterministic_and_uniform(self, spark):
        from polars_spark.llm import global_shuffle

        df = spark.range(100).withColumnRenamed("id", "doc_id")
        a = [r["doc_id"] for r in global_shuffle(df, key_col="doc_id", seed=3).collect()]
        b = [r["doc_id"] for r in global_shuffle(df, key_col="doc_id", seed=3).collect()]
        c = [r["doc_id"] for r in global_shuffle(df, key_col="doc_id", seed=4).collect()]
        assert a == b != c
        assert sorted(a) == list(range(100)) and a != sorted(a)


class TestDuplicatedSpans:
    def test_cross_doc_planted_span(self, spark):
        from polars_spark.llm import duplicated_spans

        shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens
        d0 = "u0 u1 u2 " + shared + " v0 v1"            # shared at pos 4..9
        d1 = "w0 " + shared + " x0 x1 x2 x3"            # shared at pos 2..7
        df = spark.createDataFrame([(0, d0), (1, d1)], "doc_id long, text string")
        spans = {(r["doc_id"], r["span_start"], r["span_end"], r["span_len"])
                 for r in duplicated_spans(df, n=5).collect()}
        assert spans == {(0, 4, 9, 6), (1, 2, 7, 6)}

    def test_within_doc_repetition_counts(self, spark):
        from polars_spark.llm import duplicated_spans

        # the same 5 tokens twice IN ONE doc -> both occurrences marked
        text = "a b c d e sep1 sep2 sep3 a b c d e"
        df = spark.createDataFrame([(0, text)], "doc_id long, text string")
        spans = {(r["span_start"], r["span_end"]) for r in duplicated_spans(df, n=5).collect()}
        assert spans == {(1, 5), (9, 13)}

    def test_no_duplicates_empty(self, spark):
        from polars_spark.llm import duplicated_spans

        df = spark.createDataFrame(
            [(0, "p q r s t u v"), (1, "h i j k l m n")], "doc_id long, text string"
        )
        assert duplicated_spans(df, n=5).count() == 0


def test_unigram_logprob_orders_rarity(spark):
    """Docs made of rare tokens must score higher mean NLL than docs of
    common tokens; counts and values match the hand model."""
    import math

    from polars_spark.llm.text import unigram_logprob_score

    df = spark.createDataFrame(
        [(0, "common common common common"), (1, "common rare")],
        "doc_id long, text string",
    )
    r = {row["doc_id"]: row for row in unigram_logprob_score(df).collect()}
    # vocab: common=5, rare=1, total=6
    assert r[0]["n_tokens"] == 4 and r[1]["n_tokens"] == 2
    assert abs(r[0]["mean_nll"] - (-math.log(5 / 6))) < 1e-12
    expected = (-math.log(5 / 6) - math.log(1 / 6)) / 2
    assert abs(r[1]["mean_nll"] - expected) < 1e-12
    assert r[1]["mean_nll"] > r[0]["mean_nll"]


class TestSpanRemoval:
    def test_keeps_exactly_one_copy(self, spark):
        from polars_spark.llm import remove_duplicated_spans

        shared = "alpha beta gamma delta epsilon"  # exactly 5 tokens
        d0 = "u0 u1 " + shared + " v0"
        d1 = "w0 " + shared + " x0 x1"
        df = spark.createDataFrame([(0, d0), (1, d1)], "doc_id long, text string")
        r = {row["doc_id"]: row for row in remove_duplicated_spans(df, n=5).collect()}
        # doc 0 holds the (doc,pos)-least occurrence -> untouched
        assert r[0]["kept_text"] == d0 and r[0]["n_removed"] == 0
        # doc 1 loses the whole shared span, keeps its unique tokens
        assert r[1]["kept_text"] == "w0 x0 x1" and r[1]["n_removed"] == 5

    def test_within_doc_second_occurrence_removed(self, spark):
        from polars_spark.llm import remove_duplicated_spans

        text = "a b c d e z1 z2 a b c d e"
        df = spark.createDataFrame([(0, text)], "doc_id long, text string")
        row = remove_duplicated_spans(df, n=5).collect()[0]
        assert row["kept_text"] == "a b c d e z1 z2" and row["n_removed"] == 5

    def test_case_preserved_in_output(self, spark):
        from polars_spark.llm import remove_duplicated_spans

        df = spark.createDataFrame([(0, "Hello World Of Unique Words")], "doc_id long, text string")
        row = remove_duplicated_spans(df, n=5).collect()[0]
        assert row["kept_text"] == "Hello World Of Unique Words" and row["n_removed"] == 0


def test_url_normalize_edge_cases(spark):
    from polars_spark.llm.web import registered_domain, url_host, url_normalize

    cases = [
        # (raw, expected_norm, expected_host, expected_domain)
        ("HTTPS://WWW.Site.COM:443/A/b/?utm_source=x&utm_medium=y#frag",
         "https://www.site.com/A/b", "www.site.com", "site.com"),
        ("http://news.bbc.co.uk:80/story?id=1&gclid=Z",
         "http://news.bbc.co.uk/story?id=1", "news.bbc.co.uk", "bbc.co.uk"),
        ("https://a.com/p?xref=keep&utm_campaign=c&id=2",
         "https://a.com/p?xref=keep&id=2", "a.com", "a.com"),
        ("https://user@Host.Org/x", "https://host.org/x", "host.org", "host.org"),
        ("https://only.com/", "https://only.com", "only.com", "only.com"),
    ]
    df = spark.createDataFrame([(c[0],) for c in cases], "u: string")
    got = df.select(
        url_normalize(F.col("u")).alias("n"),
        url_host(F.col("u")).alias("h"),
        registered_domain(url_host(F.col("u"))).alias("d"),
    ).collect()
    for (raw, en, eh, ed), row in zip(cases, got):
        assert row["n"] == en, (raw, row["n"])
        assert row["h"] == eh, (raw, row["h"])
        assert row["d"] == ed, (raw, row["d"])


def test_cap_per_domain_and_blocklist(spark):
    from polars_spark.llm.web import cap_per_domain, filter_blocked_domains

    rows = [(f"d{i % 3}.com", i, float(i)) for i in range(30)]
    df = spark.createDataFrame(rows, "domain: string, id: long, score: double")
    capped = cap_per_domain(df, domain_col="domain", n=2, order_by=["score", "id"])
    out = capped.groupBy("domain").count().collect()
    assert all(r["count"] == 2 for r in out) and len(out) == 3
    # keeps the HIGHEST scores
    top = {r["id"] for r in capped.collect()}
    assert top == {24, 25, 26, 27, 28, 29}

    kept = filter_blocked_domains(df, domain_col="domain", blocked=["d1.com"])
    assert kept.select("domain").distinct().count() == 2


def test_int8_quantization_roundtrip_and_topk(spark, emb):
    import math

    from polars_spark.llm import _l2_normalize
    from polars_spark.llm.embedding import dequantize_int8, quantize_int8, quantized_topk

    u = _l2_normalize(F.col("embedding").cast("array<double>"))
    qs = quantize_int8(u)
    rt = emb.select(
        F.array_max(
            F.zip_with(u, dequantize_int8(qs), lambda a, b: F.abs(a - b))
        ).alias("err"),
        F.array_max(F.transform(qs["q"], F.abs)).alias("qmax"),
    ).collect()
    # absmax symmetric: worst-case error is scale/2 = max|x|/254 <= 1/254
    # for unit vectors; every quantized value within [-127, 127]
    assert all(r["err"] <= 1.0 / 254 + 1e-12 for r in rt)
    assert all(r["qmax"] <= 127 for r in rt)

    # quantized top-k should nearly match exact brute-force top-k
    from polars_spark.llm import cosine_topk_bruteforce

    probes = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["qid"], r["nid"]) for r in cosine_topk_bruteforce(emb, probes, k=5).collect()
    }
    quant = {(r["qid"], r["nid"]) for r in quantized_topk(emb, probes, k=5).collect()}
    overlap = len(exact & quant) / max(len(exact), 1)
    assert overlap >= 0.9, overlap


def test_filter_funnel_one_pass(spark, docs):
    from polars_spark.llm import filter_funnel

    kept, funnel = filter_funnel(
        docs.to_spark() if hasattr(docs, "to_spark") else docs,
        [
            ("nonempty", F.length("text") > 0),
            ("longish", F.col("n_chars") > 200),
        ],
    )
    rows_ = {r["stage"]: r for r in funnel.collect()}
    assert rows_["nonempty"]["n_in"] >= rows_["nonempty"]["n_out"]
    # funnel is consistent: stage2 input == stage1 output
    assert rows_["longish"]["n_in"] == rows_["nonempty"]["n_out"]
    assert kept.count() == rows_["longish"]["n_out"]
    assert all(r["n_in"] - r["n_out"] == r["n_dropped"] for r in rows_.values())


def test_quality_classifier_trains_and_scores(spark, docs):
    from polars_spark.llm.classifier import (
        quality_features,
        score_quality,
        train_quality_classifier,
    )

    base = quality_features(docs)
    # separable synthetic labels: long docs are "good"
    labeled = base.withColumn(
        "label", (F.col("n_chars") > 250).cast("double")
    )
    model = train_quality_classifier(labeled)

    # column-algebra scorer must match MLlib's own transform probabilities
    scored = score_quality(model, labeled)
    from pyspark.ml.functions import vector_to_array

    via_ml = model.transform(labeled).withColumn(
        "p1", F.element_at(vector_to_array(F.col("probability")), 2)
    )
    a = scored.select("doc_id", "quality_prob").toPandas().set_index("doc_id")
    b = via_ml.select("doc_id", "p1").toPandas().set_index("doc_id")
    joined = a.join(b)
    assert (joined["quality_prob"] - joined["p1"]).abs().max() < 1e-9

    # separable labeling must be learned nearly perfectly
    acc = (
        scored.withColumn("pred", (F.col("quality_prob") > 0.5).cast("double"))
        .filter(F.col("pred") == F.col("label"))
        .count()
        / scored.count()
    )
    assert acc > 0.95, acc


def test_semdedup_drops_planted_duplicates(spark):
    import numpy as np

    from polars_spark.llm import semdedup

    rng = np.random.RandomState(11)
    base = rng.rand(40, 64) - 0.5
    rows = [(i, base[i].tolist(), 0) for i in range(40)]
    # planted near-duplicates of vectors 0..4 (tiny perturbation)
    for j in range(5):
        rows.append((100 + j, (base[j] + rng.rand(64) * 1e-4).tolist(), 0))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = semdedup(emb, threshold=0.99).toPandas().set_index("vec_id")
    # every planted dup has a lower-id twin in its cluster -> dropped
    assert not out.loc[[100 + j for j in range(5)], "kept"].any()
    # the originals survive
    assert out.loc[list(range(5)), "kept"].all()
    assert out["kept"].sum() >= 40  # random vectors are not near-dups


def test_script_profile_detects_scripts(spark):
    from polars_spark.llm.text import script_profile

    rows = [
        (1, "hello world plain ascii"),
        (2, "Привет мир как дела сегодня"),
        (3, "你好世界 これはテスト 안녕하세요"),
        (4, "12345 67890"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in script_profile(df).collect()}
    assert out[1]["dominant_script"] == "latin" and out[1]["frac_latin"] > 0.7
    assert out[2]["dominant_script"] == "cyrillic"
    assert out[3]["dominant_script"] == "cjk"
    assert out[4]["frac_digit"] > 0.8  # digit excluded from dominance voting


def test_winnowing_guarantee_shared_substring(spark):
    """Winnowing screening property: two docs sharing a run of
    >= k + window - 1 = 8 words must share at least one fingerprint."""
    from polars_spark.llm.text import winnow_fingerprints

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 words
    rows = [
        (1, f"one two three {shared} four five six"),
        (2, f"nine ten {shared} eleven twelve thirteen fourteen"),
        (3, "totally different words everywhere here and there again now ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = winnow_fingerprints(df, k=5, window=4).collect()
    fps = {}
    for r in out:
        fps.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert fps[1] & fps[2], "shared 8-word run must share a fingerprint"
    assert not (fps[3] & (fps[1] | fps[2]))


def test_image_ahash_pairs_planted(spark):
    """Two byte-identical payloads must collide at hamming 0; a payload
    with a few flipped bytes stays within the hamming budget."""
    from polars_spark.multimodal import image_ahash_pairs

    base = bytes(range(256)) * 4  # 1024 bytes -> side 32
    near = bytearray(base)
    near[10] = 255  # one pixel nudge
    rows = [(1, bytes(base)), (2, bytes(base)), (3, bytes(near)),
            (4, bytes(reversed(base)))]
    df = spark.createDataFrame(rows, "doc_id long, image binary")
    got = {(r.d1, r.d2): r.hamming for r in image_ahash_pairs(df, "doc_id", max_hamming=3).collect()}
    assert got[(1, 2)] == 0
    assert (1, 3) in got and got[(1, 3)] <= 3


def test_html_to_text(spark):
    from polars_spark.llm.web import extract_links, html_to_text

    html = (
        "<html><head><title>T</title><style>p{}</style>"
        "<script type='x'>if (a<b) {}</script></head>"
        "<body><h1>Head</h1><!-- note --><p>one &amp; two</p>"
        "<p>three&nbsp;&lt;4&gt;</p><br><a href=\"/x?a=1#frag\">go</a></body></html>"
    )
    df = spark.createDataFrame([(html,)], "html string")
    row = df.select(
        html_to_text(F.col("html")).alias("t"),
        extract_links(F.col("html")).alias("l"),
    ).collect()[0]
    assert row["t"] == "T Head\none & two\nthree <4>\ngo"
    assert row["l"] == ["/x?a=1"]


def test_html_to_text_plan_is_projection(spark):
    # the extraction must pipeline into the scan: no exchange, no UDF
    from polars_spark.llm.web import html_to_text

    df = spark.createDataFrame([("<p>x</p>",)], "html string")
    plan = df.select(html_to_text(F.col("html"))). _jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pagerank_star_graph(spark):
    # star: everyone links to node 0 -> node 0 dominates; sources tie
    from polars_spark.llm.graph import degree_stats, pagerank

    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)], "src bigint, dst bigint"
    )
    r = {row["node"]: row["rank"] for row in pagerank(edges, iters=10).collect()}
    assert r[0] == max(r.values())
    assert len({round(r[i], 12) for i in range(1, 6)}) == 1  # leaves tie
    # teleport floor: every node keeps at least (1-d)/N
    assert all(v >= (1 - 0.85) / 6 - 1e-12 for v in r.values())

    d = {row["node"]: row for row in degree_stats(edges).collect()}
    assert d[0]["in_deg"] == 5 and d[0]["out_deg"] == 0
    assert d[1]["out_deg"] == 1 and d[1]["in_deg"] == 0
    assert d[0]["hubness"] > 0 > d[1]["hubness"]


def test_greedy_tokenize_rules(spark):
    from polars_spark.llm.tokenizer import greedy_tokenize

    vocab = {"hel": 1, "lo": 2, "he": 3, "l": 4, "o": 5}
    assert greedy_tokenize("hello", vocab, 3) == [1, 2]   # longest match wins
    assert greedy_tokenize("hex", vocab, 3) == [3, 0]     # UNK advances 1
    assert greedy_tokenize("x" * 200, vocab, 3) == [0]    # overlong -> [UNK]


def test_tokenize_documents_plan_and_roundtrip(spark):
    from polars_spark.llm.tokenizer import tokenize_documents

    df = spark.createDataFrame(
        [(1, "Table TABLE value"), (2, "scan!!scan fast")],
        "doc_id bigint, text string",
    )
    vocab = ["ta", "ble", "val", "ue", "scan", "fast", "a", "b", "c", "e", "l", "n", "s", "t", "u", "v"]
    out = {r["doc_id"]: r for r in tokenize_documents(df, vocab).collect()}
    # 'table' -> ta,ble twice; 'value' -> val,ue
    assert out[1]["token_ids"] == [1, 2, 1, 2, 3, 4]
    # punctuation splits words; 'scan' id=5, 'fast' id=6
    assert out[2]["token_ids"] == [5, 5, 6]
    assert out[2]["n_tokens"] == 3
    # exactly ONE Arrow-batched python stage (distinct words), nothing row-wise
    plan = tokenize_documents(df, vocab)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan


def test_snapshot_diff_statuses(spark):
    from polars_spark.llm import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id bigint, text string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B2"), (4, "d")], "doc_id bigint, text string"
    )
    got = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_pr_curve_single_pass(spark):
    from polars_spark.llm import pr_curve

    df = spark.createDataFrame(
        [(0.9, True), (0.8, False), (0.3, True), (0.1, False)],
        "score double, label boolean",
    )
    out = {r["threshold"]: r for r in pr_curve(df, [0.5]).collect()}
    r = out[0.5]
    assert (r["tp"], r["fp"], r["fn"]) == (1, 1, 1)
    assert r["precision"] == 0.5 and r["recall"] == 0.5 and r["f1"] == 0.5
    # one aggregation job, no window/sort in the plan
    plan = pr_curve(df, [0.1, 0.5, 0.9])._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Sort" not in plan.replace("SortAggregate", "")


def test_tokenizer_roundtrip_property(spark):
    # with every alphabet letter in vocab, concatenating the matched tokens
    # reconstructs the word — greedy matching is a partition of the word
    import random

    from polars_spark.llm.tokenizer import greedy_tokenize

    vocab_list = ["ab", "abc", "bc", "ca", "a", "b", "c"]
    vmap = {t: i + 1 for i, t in enumerate(vocab_list)}
    inv = {i: t for t, i in vmap.items()}
    rng = random.Random(42)
    for _ in range(200):
        w = "".join(rng.choice("abc") for _ in range(rng.randint(1, 12)))
        ids = greedy_tokenize(w, vmap, 3)
        assert 0 not in ids  # complete alphabet -> no UNK
        assert "".join(inv[i] for i in ids) == w
        # greedy: first token is the longest vocab prefix of w
        first = inv[ids[0]]
        for ln in range(len(first) + 1, 4):
            assert w[:ln] not in vmap or ln > len(w)


def test_exact_match_f1(spark):
    from polars_spark.llm.eval import exact_match_f1

    df = spark.createDataFrame(
        [
            ("The Cat sat!", "the cat sat"),      # EM after normalization
            ("cat sat here", "the cat sat"),      # partial overlap
            ("", ""),                             # both empty -> match
            ("dog", "cat"),                       # disjoint
            ("b b b", "b"),                       # multiset: min counts
        ],
        "prediction string, reference string",
    )
    out = exact_match_f1(df).collect()
    by = {r["prediction"]: r for r in out}
    assert by["The Cat sat!"]["em"] == 1 and by["The Cat sat!"]["f1"] == 1.0
    r = by["cat sat here"]
    assert r["em"] == 0 and abs(r["f1"] - 2 * (2 / 3) * (2 / 2) / (2 / 3 + 1)) < 1e-12
    assert by[""]["em"] == 1 and by[""]["f1"] == 1.0
    assert by["dog"]["f1"] == 0.0
    # multiset: common = min(3,1) = 1; p=1/3, r=1 -> f1 = 0.5
    assert abs(by["b b b"]["f1"] - 0.5) < 1e-12


def test_pass_at_k(spark):
    import math

    from polars_spark.llm.eval import pass_at_k

    rows = [("t1", i < 2) for i in range(10)] + [("t2", False) for _ in range(10)]
    df = spark.createDataFrame(rows, "task_id string, passed boolean")
    out = {r["task_id"]: r for r in pass_at_k(df, 3).collect()}
    # t1: n=10 c=2 -> 1 - C(8,3)/C(10,3) = 1 - 56/120
    assert abs(out["t1"]["pass_at_k"] - (1 - 56 / 120)) < 1e-12
    assert out["t2"]["pass_at_k"] == 0.0
    # n - c < k  =>  1.0
    df2 = spark.createDataFrame([("t", True), ("t", False)], "task_id string, passed boolean")
    assert pass_at_k(df2, 3).collect()[0]["pass_at_k"] == 1.0


def test_hll_sketches_incremental(spark, tmp_path):
    from polars_spark.llm.sketches import (
        build_distinct_sketches,
        incremental_distinct,
        union_sketch_estimates,
    )
    from pyspark.sql import functions as F

    full = spark.range(3000).select(
        (F.col("id") % 3).alias("src"), (F.col("id") % 700).alias("v")
    )
    b1 = full.filter(F.col("id") < 1500) if "id" in full.columns else None
    b1 = spark.range(1500).select((F.col("id") % 3).alias("src"), (F.col("id") % 700).alias("v"))
    b2 = spark.range(1500, 3000).select((F.col("id") % 3).alias("src"), (F.col("id") % 700).alias("v"))

    # incremental fold == one-shot sketch (associativity), with a parquet
    # round-trip of the binary sketch column in the middle
    t1 = incremental_distinct(None, b1, "src", "v")
    p = str(tmp_path / "sketches.parquet")
    t1.write.mode("overwrite").parquet(p)
    t1_back = spark.read.parquet(p)
    t2 = incremental_distinct(t1_back, b2, "src", "v")
    inc = {r["src"]: r for r in union_sketch_estimates(t2, "src").collect()}
    one = {r["src"]: r for r in union_sketch_estimates(
        build_distinct_sketches(full, "src", "v"), "src").collect()}
    exact = {r["src"]: r["n"] for r in full.groupBy("src").agg(
        F.countDistinct("v").alias("n")).collect()}
    for s in (0, 1, 2):
        # union-of-sketches need not be bit-identical to sketching the
        # union (sparse->dense mode transitions); both must sit inside the
        # sketch's error envelope (lgk=12 -> ~1.6% stderr, 3 sigma bound)
        assert abs(inc[s]["distinct_est"] - exact[s]) / exact[s] < 0.05
        assert abs(one[s]["distinct_est"] - exact[s]) / exact[s] < 0.05
        assert inc[s]["total_rows"] == 1000


def test_dedup_lines(spark):
    from polars_spark.llm.text import dedup_lines
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("menu\nbody one\nmenu\nbody two\nmenu",), ("a\na\na",)], "t string"
    )
    got = [r[0] for r in df.select(dedup_lines(F.col("t"))).collect()]
    assert got[0] == "menu\nbody one\nbody two"
    assert got[1] == "a"


def test_tfidf_cosine_pairs(spark):
    from polars_spark.llm import tfidf_cosine_pairs

    df = spark.createDataFrame(
        [
            (1, "rare alpha beta"),
            (2, "rare alpha beta"),     # identical -> cosine 1.0
            (3, "gamma delta epsilon"),  # disjoint -> no pair
            (4, "common common common"),
        ],
        "doc_id bigint, text string",
    )
    pairs = {(r["d1"], r["d2"]): r["cosine"] for r in tfidf_cosine_pairs(df, threshold=0.3).collect()}
    assert (1, 2) in pairs and abs(pairs[(1, 2)] - 1.0) < 1e-9
    assert all(d in (1, 2) for p in pairs for d in p)  # no cross-topic pairs
    # plan: posting join is an equi join on token, never a cartesian.
    # BroadcastNestedLoopJoin appears ONLY as the unconditioned Cross
    # attach of the 1-row n_docs stats aggregate (round 12 — the blocking
    # construction-time corpus count folded into a broadcast scalar, like
    # bm25's); any conditioned/non-Cross BNLJ would be a real hazard.
    plan = tfidf_cosine_pairs(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            # ", Cross" (optionally with the pushed df-cap residual) is the
            # scalar attach; an Inner/Left theta BNLJ would not say Cross
            assert ", Cross" in line, line


def test_bm25_topk_hand_computed(spark):
    """BM25 on a 3-doc corpus checked against the hand-evaluated formula."""
    import math

    from polars_spark.llm.retrieval import bm25_topk

    corpus = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry durian"),
        ],
        "doc_id bigint, text string",
    )
    probes = spark.createDataFrame([(10, "apple cherry")], "doc_id bigint, text string")
    rows = {r["doc"]: r for r in bm25_topk(corpus, probes, k=3).collect()}

    def score(tf, df, dl, n=3, avgdl=3.0, k1=1.2, b=0.75):
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    # doc1 matches 'apple' (tf=2, df=1, dl=3); doc2 'cherry' (tf=1, df=2, dl=2);
    # doc3 'cherry' (tf=3, df=2, dl=4)
    exp = {
        1: score(2, 1, 3),
        2: score(1, 2, 2),
        3: score(3, 2, 4),
    }
    assert set(rows) == {1, 2, 3}
    for d, e in exp.items():
        assert abs(rows[d]["score"] - round(e, 6)) < 2e-6, (d, rows[d]["score"], e)
    # ranks follow score desc
    ranked = sorted(rows.values(), key=lambda r: r["rk"])
    assert [r["score"] for r in ranked] == sorted((r["score"] for r in ranked), reverse=True)


def test_bm25_max_df_drops_stop_tokens(spark):
    from polars_spark.llm.retrieval import bm25_topk

    corpus = spark.createDataFrame(
        [(i, "the filler") for i in range(1, 6)] + [(6, "the needle")],
        "doc_id bigint, text string",
    )
    probes = spark.createDataFrame([(10, "the needle")], "doc_id bigint, text string")
    # 'the' appears in all 6 docs; with max_df=3 only 'needle' scores
    out = bm25_topk(corpus, probes, k=10, max_df=3).collect()
    assert [r["doc"] for r in out] == [6]


def test_bm25_self_exclusion(spark):
    from polars_spark.llm.retrieval import bm25_topk

    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma")], "doc_id bigint, text string"
    )
    probes = corpus.filter("doc_id = 1")
    out = bm25_topk(corpus, probes, k=5).collect()
    assert all(r["doc"] != 1 for r in out)
    out2 = bm25_topk(corpus, probes, k=5, exclude_self=False).collect()
    assert 1 in {r["doc"] for r in out2}


def test_tf_idf_vectors(spark):
    import math

    from polars_spark.llm.retrieval import tf_idf_vectors

    corpus = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry")],
        "doc_id bigint, text string",
    )
    w = {(r["doc"], r["token"]): r["weight"] for r in tf_idf_vectors(corpus).collect()}
    assert abs(w[(1, "apple")] - 2 * math.log(2 / 1)) < 1e-12
    assert abs(w[(1, "banana")] - 1 * math.log(2 / 2)) < 1e-12  # df=2 -> weight 0
    assert abs(w[(2, "cherry")] - 1 * math.log(2 / 1)) < 1e-12


def test_rrf_fuse_hand_computed(spark):
    """RRF of two 2-doc rankings checked against the 1/(k+rank) formula."""
    from polars_spark.llm.retrieval import rrf_fuse

    r1 = spark.createDataFrame([(1, 10, 1), (1, 20, 2)], "qid bigint, doc bigint, rk bigint")
    r2 = spark.createDataFrame([(1, 20, 1), (1, 30, 2)], "qid bigint, doc bigint, rk bigint")
    out = {r["doc"]: r for r in rrf_fuse([r1, r2], k=60).collect()}
    # doc 20 appears in both lists (ranks 2 and 1)
    assert abs(out[20]["rrf"] - round(1 / 62 + 1 / 61, 6)) < 2e-6
    assert out[20]["n_lists"] == 2
    assert abs(out[10]["rrf"] - round(1 / 61, 6)) < 2e-6
    assert out[30]["n_lists"] == 1
    # fused order: 20 first (two contributions), then 10 (rank1 beats rank2), then 30
    order = [d for d, r in sorted(out.items(), key=lambda kv: kv[1]["fused_rk"])]
    assert order == [20, 10, 30]
    # topk filter
    top1 = rrf_fuse([r1, r2], k=60, topk=1).collect()
    assert [r["doc"] for r in top1] == [20]


def test_stratified_sample_exact_counts(spark):
    from polars_spark.llm import stratified_sample

    df = spark.createDataFrame(
        [(i, "a" if i < 50 else "b") for i in range(60)], "id bigint, g string"
    )
    out = stratified_sample(df, by="g", n_per_group=5, key_col="id")
    counts = {r["g"]: r["n"] for r in out.groupBy("g").agg(__import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")).collect()}
    assert counts == {"a": 5, "b": 5}
    # deterministic: same seed -> same rows
    a = sorted(r["id"] for r in stratified_sample(df, by="g", n_per_group=5, key_col="id").collect())
    b = sorted(r["id"] for r in stratified_sample(df, by="g", n_per_group=5, key_col="id").collect())
    assert a == b
    # different seed -> (almost surely) different rows
    c = sorted(r["id"] for r in stratified_sample(df, by="g", n_per_group=5, key_col="id", seed=1).collect())
    assert a != c
    # groups smaller than n keep everything
    tiny = spark.createDataFrame([(1, "z")], "id bigint, g string")
    assert stratified_sample(tiny, by="g", n_per_group=5, key_col="id").count() == 1
