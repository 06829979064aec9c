"""Extension operators: text analysis, fuzzy dedup, similarity search,
multimodal plumbing — unit tests on constructed inputs plus property
checks on the synthetic corpus."""

import pytest
from pyspark.sql import functions as F

from e_commerce_etl_pipeline_spark.extensions.dedup_fuzzy import (
    band_keys,
    jaccard,
    minhash_lsh_pairs,
    shingle_set,
    simhash,
    word_set,
)
from e_commerce_etl_pipeline_spark.extensions.multimodal import (
    attach_binary,
    decode_image,
    extract_features,
    sample_frames,
)
from e_commerce_etl_pipeline_spark.extensions.similarity import (
    brute_force_topk,
    cosine,
)
from e_commerce_etl_pipeline_spark.extensions.text import lang_id, quality_score, token_count


def test_token_count_and_quality(spark):
    df = spark.createDataFrame(
        [("the cat sat on the mat.",), ("word",)], "text string"
    )
    out = df.select(
        token_count(F.col("text")).alias("n"),
        quality_score(F.col("text")).alias("q"),
    ).collect()
    assert out[0].n == 6 and out[1].n == 1
    assert 0.0 <= out[0].q <= 1.0
    assert out[0].q > out[1].q  # stopwords + length help


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [("the house and the tree of life",),
         ("el gato y la casa de madera",),
         ("xyzzy qwerty",)],
        "text string",
    )
    out = [r[0] for r in df.select(lang_id(F.col("text"))).collect()]
    assert out[0] == "en" and out[1] == "es" and out[2] == "und"


def test_lang_hits_argmax_matches_sequential_form(spark):
    # r13: lang_id_docs materializes one lang_hits array and takes a
    # linear argmax (lang_from_hits); pin it against the sequential
    # strict-> form on every edge the argmax rewrite touches: ties
    # (earliest code wins — 'de de' hits es and zh equally), single and
    # multi markers, no match, empty text, and NULL text (size(null)
    # words = -1 per language -> 'und' both ways).
    from e_commerce_etl_pipeline_spark.extensions.text import (
        lang_from_hits, lang_hits, lang_id_from_words, words_col,
    )

    df = spark.createDataFrame(
        [("the house and the tree of life",),
         ("el gato y la casa de madera",),
         ("de de",),            # es vs zh tie -> earliest code (es)
         ("le le la",),         # fr vs zh overlap on 'le'
         ("xyzzy qwerty",),     # no marker
         ("",),                 # empty text
         (None,)],              # NULL text
        "text string",
    )
    out = (
        df.select(words_col(F.col("text")).alias("w"))
        .select("w", lang_hits(F.col("w")).alias("h"))
        .select(
            lang_id_from_words(F.col("w")).alias("seq"),
            lang_from_hits(F.col("h")).alias("fast"),
        )
        .collect()
    )
    for r in out:
        assert r.seq == r.fast, (r.seq, r.fast)
    assert [r.fast for r in out] == [
        "en", "es", "es", "fr", "und", "und", "und",
    ]


def test_shingles_and_jaccard(spark):
    df = spark.createDataFrame(
        [("a b c d e", "a b c d e zzz")], "t1 string, t2 string"
    )
    out = df.select(
        shingle_set(F.col("t1")).alias("s1"),
        shingle_set(F.col("t2")).alias("s2"),
    ).select(jaccard(F.col("s1"), F.col("s2")).alias("j")).collect()[0]
    # t1 shingles: 3, t2 shingles: 4, overlap 3 -> j = 3/4
    assert out.j == pytest.approx(0.75)


def test_shingles_short_text(spark):
    df = spark.createDataFrame([("one two",)], "text string")
    out = df.select(F.size(shingle_set(F.col("text"))).alias("n")).collect()[0]
    assert out.n == 0


def test_minhash_identical_docs_same_bands(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "alpha beta gamma delta epsilon"),
         (3, "totally different words entirely here")],
        "doc_id long, text string",
    )
    out = df.select("doc_id", shingle_set(F.col("text")).alias("s")).select(
        "doc_id", *band_keys(F.col("s"))
    ).collect()
    rows = {r.doc_id: (r.band_0, r.band_1) for r in out}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_minhash_lsh_finds_planted_pairs(spark, sf_dir):
    pairs = minhash_lsh_pairs(spark, sf_dir)
    planted = pairs.filter(F.col("doc_b") == F.col("doc_a") + 1_000_000)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    n_planted = planted.count()
    # LSH recall on ~0.9-jaccard planted dups should be near-total
    assert n_planted >= 0.9 * n_docs


def test_simhash_near_dup_close_hamming(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "completely unrelated set of tokens apple orange banana")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.h for r in df.select(
        "doc_id", simhash(word_set(F.col("text"))).alias("h")).collect()}

    def hamming(a, b):
        return sum(x != y for x, y in zip(a, b))

    assert hamming(out[1], out[2]) <= 4
    assert hamming(out[1], out[3]) >= hamming(out[1], out[2])


def test_cosine_known_vectors(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0])],
        "a array<double>, b array<double>",
    )
    for dim in (2, None):  # expanded and fold paths agree
        out = [r[0] for r in df.select(cosine(F.col("a"), F.col("b"), dim=dim)).collect()]
        assert out[0] == pytest.approx(0.0)
        assert out[1] == pytest.approx(1.0)


def test_brute_force_topk_shape(spark, sf_dir):
    out = brute_force_topk(spark, sf_dir).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.qid, []).append(r)
    for qid, rows in by_q.items():
        assert len(rows) == 10
        assert all(r.neighbor_id != qid for r in rows)
        assert sorted(r.rank for r in rows) == list(range(1, 11))


def test_multimodal_features_match_python(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    media = attach_binary(docs)
    feats = {r.doc_id: r for r in extract_features(media).collect()}
    for row in docs.collect():
        payload = row.text.encode("utf-8")
        f = feats[row.doc_id]
        assert f.n_bytes == len(payload)
        assert f.sum_bytes == sum(payload)
        assert f.max_byte == max(payload)


def test_multimodal_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x00")


def test_multimodal_vectorized_matches_per_row_codec(spark):
    # r13: the default-codec path vectorizes with numpy inside the same
    # mapInPandas kernel; pin it row-for-row against the per-row codec
    # path (forced by passing _fake_decode under a different identity),
    # including the empty-payload edge (sum 0, max 0) and a NULL payload
    # (NULL features, as the SQL form gives for a NULL text).
    from e_commerce_etl_pipeline_spark.extensions.multimodal import (
        _fake_decode, attach_binary, extract_features,
    )

    docs = spark.createDataFrame(
        [(1, "hello world", 11), (2, "", 0), (3, "éé", 2), (4, None, 0)],
        "doc_id long, text string, n_chars long",
    )
    media = attach_binary(docs)
    fast = {r.doc_id: r for r in extract_features(media).collect()}

    def per_row(p):  # same kernel, different identity -> per-row path
        return _fake_decode(p)

    slow = {r.doc_id: r for r in extract_features(media, codec=per_row).collect()}
    assert fast == slow
    assert fast[2].n_bytes == 0 and fast[2].sum_bytes == 0 and fast[2].max_byte == 0
    assert fast[4].n_bytes is None and fast[4].sum_bytes is None
    assert fast[4].max_byte is None


def test_sample_frames(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5)
    media = attach_binary(docs)
    frames = sample_frames(media, n_frames=4).collect()
    assert len(frames) == 20
    assert {r.frame_idx for r in frames} == {0, 1, 2, 3}


def test_resize_images(spark, sf_dir):
    from e_commerce_etl_pipeline_spark.extensions.multimodal import (
        _fake_resize,
        resize_images,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5)
    media = attach_binary(docs)
    originals = {r.doc_id: bytes(r.payload) for r in media.collect()}
    out = {r.doc_id: r for r in resize_images(media, 8, 4).collect()}
    assert out.keys() == originals.keys()
    for doc_id, r in out.items():
        assert bytes(r.payload) == _fake_resize(originals[doc_id], 8, 4)
        assert r.meta.width == 8 and r.meta.height == 4
        assert r.meta.n_bytes == len(r.payload) <= max(len(originals[doc_id]), 32)
        assert r.meta.codec == "fake-v1-resized"


def test_benchmark_contamination_semantics(spark, sf_dir):
    from e_commerce_etl_pipeline_spark.extensions.contamination import (
        BENCH_MOD,
        benchmark_contamination,
    )

    rows = benchmark_contamination(spark, sf_dir).collect()
    # benchmark docs never appear in their own quarantine list
    assert all(r.doc_id % BENCH_MOD != 0 for r in rows)
    assert all(0 < r.n_contaminated <= r.n_grams for r in rows)
    assert all(0.0 < r.contamination_ratio <= 1.0 for r in rows)


def test_gopher_flags_shape(spark, sf_dir):
    from e_commerce_etl_pipeline_spark.extensions.contamination import (
        gopher_quality_flags,
    )

    rows = gopher_quality_flags(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        expect = (r.word_count_ok and r.mean_word_len_ok
                  and r.stopwords_ok and r.symbol_ratio_ok)
        assert r.gopher_pass == expect


def test_dedup_canonical_best_picks_highest_quality(spark, sf_dir):
    from e_commerce_etl_pipeline_spark.extensions.components import (
        dedup_canonical_best,
        dedup_clusters,
    )
    from e_commerce_etl_pipeline_spark.extensions.dedup_fuzzy import _mutated_corpus
    from e_commerce_etl_pipeline_spark.extensions.text import quality_score

    best = {r.canonical_doc_id: r for r in
            dedup_canonical_best(spark, sf_dir).collect()}
    members = dedup_clusters(spark, sf_dir).collect()
    docs = {r.doc_id: r.q for r in
            _mutated_corpus(spark, sf_dir)
            .select("doc_id", quality_score(F.col("text")).alias("q")).collect()}
    # keeper is a member of its own cluster with the max quality there
    by_cluster = {}
    for m in members:
        by_cluster.setdefault(m.canonical_doc_id, []).append(m.doc_id)
    for cid, r in best.items():
        assert r.best_doc_id in by_cluster[cid]
        assert r.cluster_size == len(by_cluster[cid])
        assert docs[r.best_doc_id] == max(docs[d] for d in by_cluster[cid])


def test_repetition_flags_match_python_recompute(spark, sf_dir):
    from collections import Counter

    from e_commerce_etl_pipeline_spark.extensions.contamination import (
        repetition_flags,
    )

    rows = {r.doc_id: r for r in repetition_flags(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet").collect()
    assert len(rows) == len(docs)
    for d in docs[:25]:
        w = d.text.strip().lower().split()
        r = rows[d.doc_id]
        assert r.dup_word_frac == (len(w) - len(set(w))) / len(w)
        g2 = [" ".join(w[i:i + 2]) for i in range(len(w) - 1)]
        total = sum(len(x) for x in w)
        cnt = Counter(g2)
        top_c = max(cnt.values())
        top_g = min(g for g, c in cnt.items() if c == top_c)
        assert r.top_bigram_char_frac == top_c * (len(top_g) - 1) / total
        dup = sum(c * (len(g) - 1) for g, c in cnt.items() if c > 1)
        assert r.dup_2gram_char_frac == dup / total
        expect = (r.dup_word_ok and r.top_bigram_ok and r.dup_2gram_ok)
        assert r.repetition_pass == expect


def test_source_mixture_sample_exact_ratio(spark, sf_dir):
    from e_commerce_etl_pipeline_spark.extensions.curation import (
        MIXTURE_PARTS,
        source_mixture_sample,
    )

    rows = source_mixture_sample(spark, sf_dir).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    assert set(by_src) <= set(MIXTURE_PARTS)
    u = {s: len(v) // MIXTURE_PARTS[s] for s, v in by_src.items()}
    # exact mixture: every source contributes parts * the same multiplier
    assert len(set(u.values())) == 1
    for s, v in by_src.items():
        assert len(v) == MIXTURE_PARTS[s] * next(iter(u.values()))
        assert all(r.sample_rank <= r.quota for r in v)


def test_quantization_bounds_and_recall(spark, sf_dir):
    from e_commerce_etl_pipeline_spark.extensions.quantize import (
        _quantized,
        quantized_recall_eval,
    )

    qv = _quantized(spark, sf_dir).collect()
    for r in qv[:50]:
        assert all(-127 <= x <= 127 for x in r.q)
        # symmetric quantization maps the max-|x| element to ±127
        assert max(abs(x) for x in r.q) == 127
        assert r.qn == sum(x * x for x in r.q)
    (r,) = quantized_recall_eval(spark, sf_dir).collect()
    assert r.method == "int8"
    assert r.n_returned == 150
    # int8 keeps ranking nearly intact; large drops indicate a broken scale
    assert r.recall_at_3 >= 0.9
