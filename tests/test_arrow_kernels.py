"""Every Python kernel runs through ``arrow_kernel.arrow_map``. This fuzz
test runs each of its clients on NULL rows, empty partitions, non-ASCII
text, a 1 MB text/payload, zero-length text/binary, and on single-row
Arrow batches (``maxRecordsPerBatch=1``, which drives the cross-batch
carries of the top-k, bucket-pair and chain-edge kernels), and compares
it with its reference: the JVM expression form, the per-row codec, or a
pure-Python form.

NULL policy under test: a row with a NULL input never reaches a kernel.
Row-preserving kernels answer it with their NULL row (an empty ``pos``,
NULL features, a NULL payload); pair, edge and chunk kernels emit
nothing for it, and a chain takes no slot for it.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from e_commerce_etl_pipeline_spark.extensions import similarity as S
from e_commerce_etl_pipeline_spark.extensions.multimodal import (
    _fake_decode,
    _fake_resize,
    attach_binary,
    extract_features,
    resize_images,
)
from e_commerce_etl_pipeline_spark.extensions.text import (
    BOUNDARY_MASK,
    MIN_CHUNK,
    ROLL_BASE,
    ROLL_MOD,
    ROLL_W,
    cdc_boundaries_arrow,
    cdc_chunk_hashes_arrow,
)

BIG = "".join(hashlib.md5(str(i).encode()).hexdigest() for i in range(62_500))
TEXTS = [
    "the quick brown fox jumps over the lazy dog " * 8,
    "",
    "naïve café — déjà vu ünïcödé 漢字 🙂 " * 10,
    None,
    "exactly8",
    BIG,  # 1 MB
]
N_PARTS = 8  # more partitions than documents: some are empty

DIM, K, W, THRESHOLD = 8, 3, 3, 0.999
N_Q = 5  # vec_id < N_Q are the queries
NULL_IDS = (7, 19, 33)


@pytest.fixture(params=[1, 10000], ids=["single_row_batches", "default_batches"])
def batch_size(request, spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(request.param))
    yield request.param
    spark.conf.set(key, old)


def _docs(spark):
    return spark.createDataFrame(
        list(enumerate(TEXTS)), "doc_id long, text string"
    ).repartition(N_PARTS)


def _media(spark):
    return attach_binary(
        _docs(spark).withColumn("n_chars", F.length("text").cast("long"))
    )


def _corpus(spark):
    """(vec_id, bucket, v, norm, __sig, __proj): 5 buckets of near-twin
    vectors, plus rows whose vector and norm are NULL (with non-NULL
    chain keys, so a kernel that kept them would shift the chain)."""
    rows = []
    for i in range(45):
        b = i % 5
        if i in NULL_IDS:
            rows.append((i, b, None, None, "s", float(i)))
            continue
        vec = [1.0 + 0.3 * ((b + d) % 7) + 1e-4 * (i % 4) + 0.05 * (i % 2) * d
               for d in range(DIM)]
        norm = math.sqrt(sum(x * x for x in vec))
        rows.append((i, b, vec, norm, "s", float(i % 9)))
    return spark.createDataFrame(
        rows,
        "vec_id long, bucket long, v array<double>, norm double, "
        "__sig string, __proj double",
    ).repartition(8 * N_PARTS)


def _cos(a, b):
    return S.dot(F.col(a + "v"), F.col(b + "v")) / (F.col(a + "n") * F.col(b + "n"))


def _side(df, p):
    return df.select(F.col("vec_id").alias(p + "id"), F.col("bucket").alias(p + "b"),
                     F.col("v").alias(p + "v"), F.col("norm").alias(p + "n"))


def _py_positions(text):
    """1-based CDC boundary positions by a rolling polynomial hash."""
    if text is None or len(text) < ROLL_W:
        return []
    cp = [ord(c) for c in text]
    top = pow(ROLL_BASE, ROLL_W - 1, ROLL_MOD)
    h = 0
    for c in cp[:ROLL_W]:
        h = (h * ROLL_BASE + c) % ROLL_MOD
    out = [1] if h % (BOUNDARY_MASK + 1) == 0 else []
    for i in range(1, len(cp) - ROLL_W + 1):
        h = ((h - cp[i - 1] * top) * ROLL_BASE + cp[i + ROLL_W - 1]) % ROLL_MOD
        if h % (BOUNDARY_MASK + 1) == 0:
            out.append(i + 1)
    return out


def case_cdc_boundaries(spark):
    got = {r.doc_id: list(r.pos) for r in cdc_boundaries_arrow(_docs(spark)).collect()}
    return got, {i: _py_positions(t) for i, t in enumerate(TEXTS)}


def case_cdc_chunk_hashes(spark):
    got = Counter(tuple(r) for r in cdc_chunk_hashes_arrow(_docs(spark), MIN_CHUNK).collect())
    want = Counter()
    for i, t in enumerate(TEXTS):
        if t is None:
            continue
        b = [0, *_py_positions(t), len(t)]
        for s, e in zip(b[:-1], b[1:]):
            if e - s >= MIN_CHUNK:
                want[(i, hashlib.md5(t[s:e].encode("utf-8")).hexdigest(), e - s)] += 1
    return got, want


def _features(df):
    return {r.doc_id: (r.n_bytes, r.sum_bytes, r.max_byte) for r in df.collect()}


def _want_features():
    return {
        i: (None,) * 3 if t is None
        else tuple(_fake_decode(t.encode("utf-8")).values())
        for i, t in enumerate(TEXTS)
    }


def case_features_vectorized(spark):
    return _features(extract_features(_media(spark))), _want_features()


def case_features_codec(spark):
    def per_row(p):  # another identity than _fake_decode: the per-row path
        return _fake_decode(p)

    return _features(extract_features(_media(spark), codec=per_row)), _want_features()


def case_resize(spark):
    got = {
        r.doc_id: (None if r.payload is None else bytes(r.payload),
                   None if r.meta is None else tuple(r.meta))
        for r in resize_images(_media(spark), 8, 4).collect()
    }
    want = {}
    for i, t in enumerate(TEXTS):
        if t is None:
            want[i] = (None, None)
        else:
            p = _fake_resize(t.encode("utf-8"), 8, 4)
            want[i] = (p, (len(p), 8, 4, "fake-v1-resized"))
    return got, want


def case_topk(spark):
    corpus = _corpus(spark)
    qids, qmat, qnorms = S._collect_queries(corpus.filter(F.col("vec_id") < N_Q))
    scored = S._topk_scored_arrow(
        corpus, ("vec_id", "v", "norm"), qids,
        lambda b: S._query_scores(qmat, qnorms, b), K,
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    got = {tuple(r) for r in scored.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= K).select("qid", "rank", "neighbor_id").collect()}
    pairs = (
        _side(corpus.filter(F.col("vec_id") < N_Q), "a")
        .crossJoin(_side(corpus, "b"))
        .filter(F.col("aid") != F.col("bid"))
        .withColumn("cos", _cos("a", "b"))
        .filter(F.col("cos").isNotNull())
    )
    w = Window.partitionBy("aid").orderBy(F.col("cos").desc(), F.col("bid"))
    want = {tuple(r) for r in pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= K).select("aid", "rank", "bid").collect()}
    return got, want


def case_threshold_pairs(spark):
    corpus = _corpus(spark)
    sids, smat, snorms = S._collect_queries(corpus.filter(F.col("vec_id") < N_Q))
    got = {tuple(r) for r in S._threshold_pairs_arrow(
        corpus, sids, smat, snorms, THRESHOLD).collect()}
    want = {tuple(r) for r in (
        _side(corpus.filter(F.col("vec_id") < N_Q), "a")
        .join(_side(corpus, "b"), F.col("aid") != F.col("bid"))
        .filter(_cos("a", "b") >= THRESHOLD)
        .select(F.least("aid", "bid"), F.greatest("aid", "bid"))
    ).collect()}
    return got, want


def case_bucket_pairs(spark):
    corpus = _corpus(spark)
    got = {tuple(r) for r in S._bucket_pairs_arrow(
        corpus.select("bucket", "vec_id", "v", "norm"), THRESHOLD).collect()}
    want = {tuple(r) for r in (
        _side(corpus, "a").join(_side(corpus, "b"), (F.col("ab") == F.col("bb"))
                                & (F.col("aid") < F.col("bid")))
        .filter(_cos("a", "b") >= THRESHOLD).select("aid", "bid")
    ).collect()}
    return got, want


def case_chain_edges(spark):
    corpus = _corpus(spark)
    got = {tuple(r) for r in S.chain_edges_arrow(
        corpus, ["bucket"], W, THRESHOLD).collect()}
    order = Window.partitionBy("bucket").orderBy("__sig", "__proj", "vec_id")
    ranked = corpus.filter(F.col("v").isNotNull()).withColumn(
        "rn", F.row_number().over(order))
    a = _side(ranked, "a").join(ranked.select(F.col("vec_id").alias("aid"), "rn"), "aid")
    b = _side(ranked, "b").join(ranked.select(F.col("vec_id").alias("bid"),
                                              F.col("rn").alias("brn")), "bid")
    want = {tuple(r) for r in (
        a.join(b, (F.col("ab") == F.col("bb")) & (F.col("brn") > F.col("rn"))
               & (F.col("brn") <= F.col("rn") + W))
        .filter(_cos("a", "b") >= THRESHOLD).select("aid", "bid")
    ).collect()}
    return got, want


def case_assign_nearest(spark):
    corpus = _corpus(spark)
    cents = corpus.filter(F.col("vec_id").isin(0, 1, 2, 3)).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"))
    got = {r.vec_id: (r.cell, list(r.v), r.norm)
           for r in S._assign_nearest(corpus, cents).collect()}
    scored = _side(corpus.filter(F.col("v").isNotNull()), "a").crossJoin(
        cents.select(F.col("cell"), F.col("cv").alias("bv"), F.col("cnorm").alias("bn")))
    want = {r.aid: (r.cell, list(r.av), r.an) for r in scored.groupBy("aid").agg(
        F.max_by("cell", F.struct(_cos("a", "b"), -F.col("cell"))).alias("cell"),
        F.first("av").alias("av"), F.first("an").alias("an")).collect()}
    return got, want


CASES = {name[5:]: fn for name, fn in globals().items() if name.startswith("case_")}


@pytest.mark.parametrize("kernel", sorted(CASES))
def test_kernel_matches_reference(spark, batch_size, kernel):
    got, want = CASES[kernel](spark)
    assert want, "the reference produced nothing to compare"
    assert got == want
