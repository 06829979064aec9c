"""Similarity search over the embeddings table (array<float>, 64-dim).

Two paths, per the large-corpus playbook:
- brute-force cosine top-k (the exactness baseline): query-set × corpus
  join, fold-based dot product, window top-k. O(Q×N) — fine for a bounded
  query set; the corpus side never collects.
- bucketed ANN (the scale paths): sign-LSH tables and IVF cells whose
  granularity is CORPUS-SIZE-DRIVEN, not fixed: LSH bit-width grows with
  log2(n) so mean bucket occupancy stays ≤ TARGET_BUCKET_OCC, and the
  IVF cell count grows linearly so mean cell occupancy stays ≤
  TARGET_CELL_OCC. IVF centroids come from sampled k-means (hash-ranked
  seed sample + one exact Lloyd iteration), not from fixed row ids.

Cross-engine determinism (every query here is DuckDB-oracle-checked):
- granularity formulas are integer-only (threshold chains / integer
  ceil-div), evaluated from n in Python on the Spark side and from a
  COUNT(*) CTE in the generated oracle SQL — no float log whose last
  ulp could differ between engines;
- k-means seeds are ranked by md5 of the vec id (same hex in both
  engines); centroid means are computed from scaled-integer sums
  (floor(x·1e7) summed as BIGINT), so the division result is the same
  double everywhere;
- dot products fold strictly left-to-right (F.aggregate / generated
  left-associated SQL sums) — identical IEEE arithmetic, so ranks and
  tie-breaks match exactly.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import index_store
from ..plans.queries import load_table
from .arrow_kernel import arrow_map, frame, vectors

DIM = 64
N_QUERIES = 50  # vec_id < 50 are the query vectors
TOP_K = 10

# ---- corpus-size-driven granularity --------------------------------------
# LSH: per-table sign bits; each of the N_TABLES tables reads a DISJOINT
# 16-dim group (4 × 16 = 64), so bits can grow to 16 before the axis-
# aligned family runs out of dimensions (past that: random_hyperplane_
# bucket below, which is dimension-unbounded).
N_TABLES = 4
DIMS_PER_TABLE = 16
MIN_BITS, MAX_BITS = 4, 16
TARGET_BUCKET_OCC = 32  # target MEAN vectors per bucket per table

# IVF: cells scale linearly with the corpus.
MIN_CELLS, MAX_CELLS = 8, 1024
TARGET_CELL_OCC = 64
N_PROBE = 2  # query-side multi-probe: search the 2 nearest cells


def lsh_bits(n: int) -> int:
    """Smallest b in [MIN_BITS, MAX_BITS] with n <= TARGET_BUCKET_OCC·2^b
    (i.e. mean occupancy ≤ TARGET while the dim budget lasts).
    Integer-only so the SQL CASE chain in _bits_sql matches exactly."""
    for b in range(MIN_BITS, MAX_BITS):
        if n <= TARGET_BUCKET_OCC * (1 << b):
            return b
    return MAX_BITS


def ivf_cells(n: int) -> int:
    """ceil(n / TARGET_CELL_OCC), clamped to [MIN_CELLS, MAX_CELLS]."""
    return max(MIN_CELLS, min(MAX_CELLS, (n + TARGET_CELL_OCC - 1) // TARGET_CELL_OCC))


def _bits_sql(n_expr: str = "n") -> str:
    """SQL mirror of lsh_bits as an integer threshold chain."""
    arms = "".join(
        f" WHEN {n_expr} <= {TARGET_BUCKET_OCC * (1 << b)} THEN {b}"
        for b in range(MIN_BITS, MAX_BITS)
    )
    return f"(CASE{arms} ELSE {MAX_BITS} END)"


def _cells_sql(n_expr: str = "n") -> str:
    """SQL mirror of ivf_cells (integer ceil-div, then clamp)."""
    return (
        f"GREATEST({MIN_CELLS}, LEAST({MAX_CELLS}, "
        f"CAST(({n_expr} + {TARGET_CELL_OCC - 1}) // {TARGET_CELL_OCC} AS INT)))"
    )


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Order-stable dot product (strictly left-to-right addition, matching
    the SQL oracle's left-associated sum). The ``aggregate`` fold is the
    fast path (measured faster than an expanded element_at chain, whose
    ANSI bounds checks + codegen size dominate); ``dim`` selects the
    expanded form for experimentation — both produce identical doubles."""
    if dim is None:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    out = F.element_at(a, 1) * F.element_at(b, 1)
    for i in range(2, dim + 1):
        out = out + F.element_at(a, i) * F.element_at(b, i)
    return out


def l2_norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim))


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    """Per-pair cosine. Hot paths precompute norms once per vector
    (see the *_topk queries) instead of calling this per pair."""
    return dot(a, b, dim) / (l2_norm(a, dim) * l2_norm(b, dim))


def with_norm(df, vcol: str = "v"):
    """Attach the vector's L2 norm once — the norm is recomputed per PAIR
    otherwise, which dominates similarity-join cost."""
    return df.withColumn("norm", l2_norm(F.col(vcol)))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_norm(load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    ))


def _emb_table(sf_dir: str) -> str:
    return index_store.table_dir(sf_dir, "embeddings")


def corpus_count(spark: SparkSession, sf_dir: str) -> int:
    """Corpus size as a PLANNING statistic (feeds lsh_bits/ivf_cells).
    Memoized per (table path, content fingerprint) — the same role as
    Spark's own catalog statistics cache; ann_recall_eval would
    otherwise count the identical table three times per invocation, and
    the fingerprint key means a mutated table re-counts (r6)."""
    return index_store.cached_value(
        spark, _emb_table(sf_dir), "corpus_count",
        lambda: load_table(spark, sf_dir, "embeddings").count(),
    )


def _collect_queries(df: DataFrame, cols=("vec_id", "v", "norm")):
    """Collect a BOUNDED query/sample vector set — the (id, vector,
    norm) ``cols`` of ``df`` — to the driver as numpy arrays (ids,
    matrix, norms), through Arrow and :func:`vectors`. The same
    bounded-metadata class as the 1,024-row centroid collect. Caller
    guarantees the row bound (≤ N_QUERIES / N_ND_SAMPLE)."""
    t = df.select(*cols).toArrow().combine_chunks()
    if not t.num_rows:
        return None
    ids, mat, norms = (c.chunk(0) for c in t.columns)
    return ids.to_numpy(), vectors(mat), norms.to_numpy()


def _query_vectors(spark: SparkSession, sf_dir: str):
    """The bounded (≤ N_QUERIES) driver-held query vector set, memoized
    per (embeddings table, content fingerprint) exactly like
    corpus_count: it is a pure function of the table contents, and every
    brute-force/quantized/recall invocation used to re-run the identical
    collect job (r13, VERDICT r12 #6 — the repeat collects were also the
    measured noise magnet in ann_recall_eval's min-of-3). A mutated
    table re-collects via the fingerprint key."""
    return index_store.cached_value(
        spark, _emb_table(sf_dir), "query_vectors",
        lambda: _collect_queries(
            _emb(spark, sf_dir).filter(F.col("vec_id") < N_QUERIES)
        ),
    )


def _query_scores(qmat, qnorms, batch):
    """(n_queries × batch) cosine matrix, bit-identical to the JVM fold:
    the dim loop accumulates ``acc += q_i · v_i`` strictly left to right
    (numpy multiply-then-add per element, no reassociation/FMA — the
    same two IEEE roundings as ``aggregate``'s fold step and the SQL
    oracle's left-associated sum), and the division mirrors the JVM's
    ``dot / (qnorm * norm)`` operand order. Norms arrive PRECOMPUTED
    from with_norm — never recomputed here, so their bits match too."""
    import numpy as np

    vmat = vectors(batch.column("v"))
    norms = batch.column("norm").to_numpy()
    acc = np.zeros((qmat.shape[0], batch.num_rows))
    for i in range(qmat.shape[1]):
        acc += qmat[:, i, None] * vmat[None, :, i]
    return acc / (qnorms[:, None] * norms[None, :])


def _topk_scored_arrow(
    corpus: DataFrame, cols, qids, score_batch, k, score_col: str = "cos"
) -> DataFrame:
    """(qid, neighbor_id, <score_col>) candidates for the global
    per-query top-k: ONE Arrow pass over ``corpus``'s ``cols`` (a
    ``vec_id`` plus what ``score_batch`` reads) scores every query×row
    pair vectorized (guide §4.2 — ``score_batch(batch)`` returns the
    n_queries × batch score matrix) and keeps a running top-k per query
    PER TASK, so only ≤ n_queries·k rows leave each task — the former
    BroadcastNestedLoopJoin shipped every scored pair (n_queries ×
    corpus rows) into the ranking window's exchange (guide §2.3:
    aggregate before you shuffle). Partition top-k is exact: the global
    top-k is a subset of the union of per-task top-ks under the
    identical (score desc, neighbor_id asc) order the final window
    uses. Executor state is n_queries·(k + batch) doubles — bounded.
    A row with a NULL input is never a candidate."""
    import numpy as np

    nq = len(qids)

    def gen(batches):
        cur_cos = [None] * nq
        cur_nid = [None] * nq
        for b in batches:
            cos = score_batch(b)
            ids = b.column("vec_id").to_numpy()
            for qi in range(nq):
                valid = ids != qids[qi]  # self-pair exclusion
                c, n = cos[qi][valid], ids[valid]
                if cur_cos[qi] is not None:
                    c = np.concatenate([cur_cos[qi], c])
                    n = np.concatenate([cur_nid[qi], n])
                if len(c) > k:
                    # same total order as the final window: score desc
                    # (exact: negation flips IEEE order), id asc on ties
                    sel = np.lexsort((n, -c))[:k]
                    c, n = c[sel], n[sel]
                cur_cos[qi], cur_nid[qi] = c, n
        done = [qi for qi in range(nq) if cur_nid[qi] is not None]
        if done:
            yield {
                "qid": np.repeat(qids[done], [len(cur_nid[qi]) for qi in done]),
                "neighbor_id": np.concatenate([cur_nid[qi] for qi in done]),
                score_col: np.concatenate([cur_cos[qi] for qi in done]),
            }

    return arrow_map(
        corpus, cols, gen, f"qid long, neighbor_id long, {score_col} double"
    )


def _threshold_pairs_arrow(
    corpus: DataFrame, sids, smat, snorms, threshold: float
) -> DataFrame:
    """Unordered (vec_a < vec_b) pairs of a bounded driver-held sample
    against every corpus row with cos >= threshold — the exact
    ground-truth sweep of the recall gates, as ONE Arrow pass (guide
    §4.2) instead of a BroadcastNestedLoopJoin scoring each pair with
    the interpreted JVM fold. Bit-identical doubles (see _query_scores)
    against the same threshold → identical pair set."""
    import numpy as np

    def gen(batches):
        for b in batches:
            cos = _query_scores(smat, snorms, b)
            ids = b.column("vec_id").to_numpy()
            sel = (cos >= threshold) & (ids[None, :] != sids[:, None])
            qi, j = np.nonzero(sel)
            yield {
                "vec_a": np.minimum(sids[qi], ids[j]),
                "vec_b": np.maximum(sids[qi], ids[j]),
            }

    return arrow_map(
        corpus, ("vec_id", "v", "norm"), gen, "vec_a long, vec_b long"
    )


def brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    q = _query_vectors(spark, sf_dir)
    if q is None:
        return spark.createDataFrame(
            [], "qid long, rank long, neighbor_id long"
        )
    qids, qmat, qnorms = q
    scored = _topk_scored_arrow(
        emb, ("vec_id", "v", "norm"), qids,
        lambda b: _query_scores(qmat, qnorms, b), TOP_K,
    )
    # final exact ranking over ≤ n_queries·k·n_tasks candidate rows —
    # the only exchange left in the plan (r12: was a full-width window
    # over every scored pair behind a BroadcastNestedLoopJoin)
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("qid", "rank", "neighbor_id")
    )


def _dot_sql(a: str, b: str) -> str:
    terms = [
        f"CAST({a}.embedding[{i}] AS DOUBLE) * CAST({b}.embedding[{i}] AS DOUBLE)"
        for i in range(1, DIM + 1)
    ]
    return "(" + " + ".join(terms) + ")"


def _norm_sql(a: str) -> str:
    terms = [
        f"CAST({a}.embedding[{i}] AS DOUBLE) * CAST({a}.embedding[{i}] AS DOUBLE)"
        for i in range(1, DIM + 1)
    ]
    return "sqrt(" + " + ".join(terms) + ")"


BRUTE_FORCE_TOPK_SQL = f"""
WITH scored AS (
  SELECT q.vec_id AS qid, c.vec_id AS neighbor_id,
         {_dot_sql('q', 'c')} / ({_norm_sql('q')} * {_norm_sql('c')}) AS cos
  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
), ranked AS (
  SELECT qid, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT qid, rank, neighbor_id FROM ranked WHERE rank <= {TOP_K}
"""


def sign_bucket(v: Column, table: int = 0, bits: int = MIN_BITS) -> Column:
    """``bits``-bit LSH bucket from the signs of the table's dimension
    group (dims DIMS_PER_TABLE·table+1 .. +bits — random-hyperplane LSH
    with axis-aligned planes: deterministic and oracle-able; each table
    reads a disjoint group). ``bits`` comes from lsh_bits(corpus size)."""
    base = DIMS_PER_TABLE * table
    bit_cols = [
        F.when(F.element_at(v, base + i) >= 0, F.lit(1)).otherwise(F.lit(0))
        * (1 << (i - 1))
        for i in range(1, bits + 1)
    ]
    out = bit_cols[0]
    for b in bit_cols[1:]:
        out = out + b
    return out


def _bucket_sql(table: int, elem: str = "embedding", bits_expr: str = "bits") -> str:
    """SQL mirror of sign_bucket with runtime bit-width: the full 16-bit
    bucket modulo 2^bits keeps exactly the low ``bits`` sign bits —
    identical to summing only the first ``bits`` terms."""
    base = DIMS_PER_TABLE * table
    full = " + ".join(
        f"CASE WHEN {elem}[{base + i}] >= 0 THEN {1 << (i - 1)} ELSE 0 END"
        for i in range(1, DIMS_PER_TABLE + 1)
    )
    return f"(({full}) % (1 << {bits_expr}))"


def random_hyperplane_coefs(table: int, bit: int, dim: int = DIM) -> list[float]:
    """Deterministic pseudo-random hyperplane for sign-LSH beyond the
    axis-aligned dim budget (bits > DIMS_PER_TABLE — the 100 TB growth
    path): coefficients in [-1, 1) derived from md5(table:bit:d), so any
    engine/process regenerates the identical plane. Used by
    random_hyperplane_bucket; the oracle-checked queries stay on the
    axis-aligned family while it suffices (n ≤ TARGET·2^MAX_BITS)."""
    out = []
    for d in range(dim):
        h = int.from_bytes(
            hashlib.md5(f"{table}:{bit}:{d}".encode()).digest()[:8], "big"
        )
        out.append((h % 2_000_001) / 1_000_000.0 - 1.0)
    return out


def random_hyperplane_bucket(v: Column, table: int, bits: int) -> Column:
    """Unbounded-bit sign-LSH bucket: bit b = sign(g_b · v) for a
    deterministic pseudo-random hyperplane g_b. Dimension-independent —
    occupancy keeps halving per added bit at any corpus size."""
    out = F.lit(0)
    for b in range(bits):
        coefs = F.array(*[F.lit(c) for c in random_hyperplane_coefs(table, b)])
        proj = dot(v, coefs)
        out = out + F.when(proj >= 0, F.lit(1 << b)).otherwise(F.lit(0))
    return out


def lsh_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via multi-table sign-LSH: N_TABLES independent tables of
    lsh_bits(n) bits each; a candidate pair needs to collide in ANY table
    (union → distinct), then exact cosine ranks the top-3. One table
    alone misses most true neighbors; the union over L tables drives
    recall up at L× candidate cost — the standard (k, L) LSH tradeoff,
    measured by ann_recall_eval.

    Scale shape: the candidate self-join carries only (table, bucket, id)
    — vectors re-attach by id afterwards — so the shuffle is narrow, and
    pairs only form inside buckets, never O(n²). Bucket granularity is
    data-driven: bits grows with log2(n) (lsh_bits), keeping mean bucket
    occupancy ≤ TARGET_BUCKET_OCC, so per-bucket pair counts stay bounded
    as the corpus doubles (tests/test_similarity_scaling.py)."""
    emb = _emb(spark, sf_dir)
    bits = lsh_bits(corpus_count(spark, sf_dir))
    banded = emb.select(
        "vec_id",
        F.posexplode(
            F.array(*[sign_bucket(F.col("v"), t, bits) for t in range(N_TABLES)])
        ).alias("tbl", "bucket"),
    )
    qb = banded.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), "tbl", "bucket"
    )
    cand = (
        qb.join(banded, ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("neighbor_id"))
        .dropDuplicates(["qid", "neighbor_id"])
    )
    qv = emb.select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
                    F.col("norm").alias("qnorm"))
    nv = emb.select(F.col("vec_id").alias("neighbor_id"), "v", "norm")
    scored = cand.join(qv, "qid").join(nv, "neighbor_id").select(
        "qid", "neighbor_id",
        (dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm"))).alias("cos"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("qid", "rank", "neighbor_id")
    )


_PARAMS_SQL = f"""params AS (
  SELECT {_bits_sql('n')} AS bits, {_cells_sql('n')} AS k
  FROM (SELECT COUNT(*) AS n FROM embeddings)
)"""

_BANDED_SQL = "\n  UNION ALL\n".join(
    f"  SELECT vec_id, {t} AS tbl, {_bucket_sql(t)} AS bucket FROM embeddings, params"
    for t in range(N_TABLES)
)

LSH_BUCKETED_TOPK_SQL = f"""
WITH {_PARAMS_SQL}, b AS (
{_BANDED_SQL}
), cand AS (
  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS neighbor_id
  FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket AND c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
), scored AS (
  SELECT cand.qid, cand.neighbor_id,
         {_dot_sql('qe', 'ce')} / ({_norm_sql('qe')} * {_norm_sql('ce')}) AS cos
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.qid
  JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
), ranked AS (
  SELECT qid, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT qid, rank, neighbor_id FROM ranked WHERE rank <= 3
"""


def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label count + exact per-dimension mean over dims 1-4 (decimal-
    exact: elements scaled to micro-units as longs before summing)."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = []
    for i in range(1, 5):
        x = F.element_at("embedding", i).cast("double")
        # scale to exact integers (1e-7 resolution) to make SUM associative
        dims.append(F.sum(F.floor(x * 10_000_000).cast("long")).alias(f"sum_d{i}_scaled"))
    return emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"), *dims)


EMBEDDING_CENTROIDS_SQL = """
SELECT label, COUNT(*) AS n_vecs,
       CAST(SUM(CAST(floor(CAST(embedding[1] AS DOUBLE) * 10000000) AS BIGINT)) AS BIGINT) AS sum_d1_scaled,
       CAST(SUM(CAST(floor(CAST(embedding[2] AS DOUBLE) * 10000000) AS BIGINT)) AS BIGINT) AS sum_d2_scaled,
       CAST(SUM(CAST(floor(CAST(embedding[3] AS DOUBLE) * 10000000) AS BIGINT)) AS BIGINT) AS sum_d3_scaled,
       CAST(SUM(CAST(floor(CAST(embedding[4] AS DOUBLE) * 10000000) AS BIGINT)) AS BIGINT) AS sum_d4_scaled
FROM embeddings GROUP BY label
"""


# Per-bucket candidate fence for pair ENUMERATION. Sign buckets are
# occupancy-skewed on clone-heavy corpora (the 10× scale corpus measured
# one 13-bit bucket at 6,587 vectors → C(6587,2) ≈ 21.7 M candidate dot
# products from a single bucket; 588 M total, vs a 53-vector MEAN).
# Keeping only whole twin-groups whose last member ranks within
# MAX_LSH_BUCKET_VECS (pair-aware cutoff — the r6 even-cap heuristic
# could land BETWEEN a base and its twin when unpaired singletons
# shifted adjacency parity) bounds candidates at 2^bits · C(K,2) ≈ 63·n
# — LINEAR in corpus size, measured 325× fewer candidates at the 10×
# corpus. The oracle SQL applies the identical fence, so parity holds at
# every scale. Drops are NOT silent: the query's own plan carries an
# Observation (near_dup_fence_observed_drops reads it after any action,
# zero extra jobs), and lsh_fence_dropped() counts them standalone. The
# fence trades RECALL on clone-mass buckets — near_dup_recall_eval
# measures that trade, and near_dup_clusters is the recall-preserving
# linear path (chain-linked components, no drops at all).
MAX_LSH_BUCKET_VECS = 64

# Perturbed-twin id offset for the planted near-dup corpus. Every corpus
# this engine generates keeps vec_id < TWIN_OFFSET (asserted at corpus
# build — a larger corpus would collide base and twin ids, corrupting
# pair enumeration and making the fence ordering non-total).
# Env-tunable (r9): the default covers every driver corpus; the sf100
# near-dup probe (2M base vecs) must widen it BEFORE import — every SQL
# mirror interpolates this constant at import time, so Spark and oracle
# stay consistent at any setting.
TWIN_OFFSET = int(os.environ.get("SPARK_GRAFT_TWIN_OFFSET", "1000000"))

# Chain-link window for near_dup_clusters: each vector pairs with its
# NEAR_DUP_CHAIN_W successors in per-bucket projection order —
# candidates stay ≤ W·n at ANY bucket occupancy, and transitivity
# (connected components) recovers whole clone families from chain edges
# alone. The ordering proxy must separate DISTINCT vectors while keeping
# near-dups adjacent: the corpus is unit-normalized, so norm is useless
# (every vector ≈ 1.0 and a twin's 1e-4 shift jumps ~40 ranks — measured
# at sf0.001); a fixed pseudo-random projection spreads a bucket over
# ~[-1,1] while a near-dup pair moves ≤ |δ| — twins land adjacent, clone
# families contiguous.
# Tunable because the right W is a recall/cost dial on clone-mass
# corpora: the r8 sf10 miss diagnosis (tools/diag_near_dup_miss.py)
# found EVERY missed sample pair shares a bucket but sits 25-382 ranks
# past W=16 — W=64 recovers the ≤64 cohort at 4x the candidate edges
# (still ≤ N_TABLES·W·n, bucket-occupancy-independent). The DuckDB
# oracle templates read this same constant at import, so Spark and
# oracle stay consistent at any setting.
NEAR_DUP_CHAIN_W = int(os.environ.get("SPARK_GRAFT_ND_CHAIN_W", "16"))

# Pass-2 chain width (r9): the rep/boundary corpus is a small fraction
# of the member corpus on exactly the clone-heavy corpora where pass 2
# matters, so its width can be ~24x pass-1's for the same budget. The
# r9 heavy-corpus diagnosis measured residual miss distances up to 382
# member ranks (shrinking at boundary level); 384 covers every observed
# pile-up. chain_edges_arrow skips widths beyond each batch's largest
# key group, so small buckets (clean corpora) never pay the loop.
NEAR_DUP_P2_W = int(os.environ.get("SPARK_GRAFT_ND_P2_W", "384"))

NEAR_DUP_COS = 0.999

# Bounded query-sample size for the near-dup recall gate (hash-ranked —
# uniform over the corpus, NOT an id prefix, which the fence ordering
# would always keep).
N_ND_SAMPLE = 100

# Per-table chain-ordering directions: deterministic pseudo-random
# hyperplanes from ids outside the bucketing tables' range (both
# engines regenerate the identical coefficients; the projection is a
# left-associated dot DIVIDED BY THE NORM — cosine is scale-invariant,
# so the ordering must be too: the 10× corpus has near-dup pairs whose
# norms differ ×1.3, which put a RAW projection 0.4 apart while the
# normalized one moves ≤ |unit delta|·|g| — measured as exactly the 92
# missed same-bucket pairs of the first r7 cut).
def _chain_coefs(t: int) -> list[float]:
    return random_hyperplane_coefs(9 + t, 0)


def _chain_proj(v: Column, norm: Column, t: int) -> Column:
    # one F.expr call for the whole coefficient array (the 64 F.lit
    # py4j round trips this replaced were a measurable driver cost per
    # query build); the D suffix pins DOUBLE literals — repr() is
    # shortest-round-trip, so the parsed doubles are bit-identical
    coefs = F.expr(
        "array(" + ",".join(f"{c!r}D" for c in _chain_coefs(t)) + ")"
    )
    return dot(v, coefs) / norm


def _chain_proj_sql(t: int) -> str:
    proj = " + ".join(
        f"v[{i}] * {_chain_coefs(t)[i - 1]!r}" for i in range(1, DIM + 1)
    )
    return f"({proj}) / norm"


def _rot_dims(t: int) -> list[int]:
    """1-based dim order for table t's rotated sign signature: starts at
    the table's own dim group (whose first lsh_bits are the bucket — so
    within a bucket the signature prefix is constant) and wraps."""
    return [((t * DIMS_PER_TABLE + j) % DIM) + 1 for j in range(DIM)]


def _rot_sig(v: Column, t: int) -> Column:
    """Full 64-dim sign pattern as a string, read in table t's rotated
    dim order — the PRIMARY chain-ordering key. A cos≥0.999 pair agrees
    on (almost) every sign, so identical-pattern vectors sort into one
    tiny run (sf10: max same-pattern group 196, p99 = 18) regardless of
    how many thousand non-near-dup vectors share the 13-bit bucket; the
    per-table ROTATION varies which dims are high-order, so a pair
    differing in one near-zero element's sign still sorts adjacent in
    the tables where that dim is late.

    Built as substring(sig||sig, t·DIMS_PER_TABLE+1, DIM) over ONE
    natural-order sign string: character j of the result is dim
    ((t·DIMS_PER_TABLE + j) % DIM) + 1 — exactly _rot_dims(t), byte
    for byte the same value as the explicit 64-way concat this
    replaced, but ~20 Column constructions instead of ~260 (the
    per-query DRIVER cost of building four tables' signatures was
    measured in seconds of py4j round trips, dominating small-batch
    incremental updates)."""
    sig = F.array_join(
        F.transform(
            v, lambda x: F.when(x >= 0, F.lit("1")).otherwise(F.lit("0"))
        ),
        "",
    )
    if t == 0:
        return sig
    return F.concat(sig, sig).substr(
        F.lit(t * DIMS_PER_TABLE + 1), F.lit(DIM)
    )


def _rot_sig_sql(t: int) -> str:
    return " || ".join(
        f"CASE WHEN v[{d}] >= 0 THEN '1' ELSE '0' END" for d in _rot_dims(t)
    )

# (sf_dir) -> Observation counting vectors the fence dropped, collected
# for free during the first action on the fenced pair plan (the
# no-silent-caps rule applied IN the query path, not just in bench.py).
_LSH_FENCE_OBS: dict[str, "object"] = {}


def _fence_marked(corpus: DataFrame) -> DataFrame:
    """Bucket members with their fence rank: ``__rn`` (per-bucket rank,
    twin-group members adjacent) and ``__grn`` (the LAST rank of the
    row's twin group — the pair-aware cutoff key: a group is kept or
    dropped WHOLE, so the fence can never split a base from its twin
    regardless of singleton parity)."""
    marked = corpus.withColumn(
        "__pg", F.pmod(F.col("vec_id"), F.lit(TWIN_OFFSET))
    )
    wrn = Window.partitionBy("bucket").orderBy("__pg", "vec_id")
    wg = Window.partitionBy("bucket", "__pg")
    return marked.withColumn("__rn", F.row_number().over(wrn)).withColumn(
        "__grn", F.max("__rn").over(wg)
    )


def _fence_buckets(
    corpus: DataFrame,
    cap: int = MAX_LSH_BUCKET_VECS,
    obs_key: str | None = None,
) -> DataFrame:
    """Keep only whole twin-groups fitting within the first ``cap``
    ranks per bucket. With ``obs_key``, attach an Observation counting
    dropped vectors — populated during the caller's own action."""
    out = _fence_marked(corpus)
    if obs_key is not None:
        from pyspark.sql import Observation

        obs = Observation(f"lsh_fence:{obs_key}")
        out = out.observe(
            obs,
            F.count(F.when(F.col("__grn") > cap, 1)).alias("dropped_vecs"),
        )
        _LSH_FENCE_OBS[obs_key] = obs
    return out.filter(F.col("__grn") <= cap).drop("__pg", "__rn", "__grn")


def corpus_max_vec_id(spark: SparkSession, sf_dir: str) -> int:
    """Max vec_id, memoized per corpus snapshot (planning statistic —
    guards the TWIN_OFFSET id-space contract)."""
    return index_store.cached_value(
        spark, _emb_table(sf_dir), "max_vec_id",
        lambda: load_table(spark, sf_dir, "embeddings")
        .agg(F.max("vec_id")).collect()[0][0],
    )


def _near_dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    max_id = corpus_max_vec_id(spark, sf_dir)
    if max_id is not None and max_id >= TWIN_OFFSET:
        raise ValueError(
            f"near-dup corpus id space exhausted: max vec_id {max_id} >= "
            f"TWIN_OFFSET {TWIN_OFFSET}; widen TWIN_OFFSET (and its SQL "
            "mirrors) before building twins, or base+twin ids collide"
        )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    bits = lsh_bits(corpus_count(spark, sf_dir))  # granularity from base corpus size
    perturbed = emb.select(
        (F.col("vec_id") + TWIN_OFFSET).alias("vec_id"),
        F.transform(F.col("v"), lambda x: x + F.lit(1e-4)).alias("v"),
    )
    return with_norm(
        emb.unionByName(perturbed)
    ).withColumn("bucket", sign_bucket(F.col("v"), 0, bits))


def lsh_fence_dropped(spark: SparkSession, sf_dir: str) -> int:
    """Vectors the near-dup bucket fence drops at this corpus, counted
    standalone (bench.py records this next to the basket fence's drop
    count). The SAME count rides the query plan itself as an Observation
    — see near_dup_fence_observed_drops."""
    over = (
        _fence_marked(_near_dup_corpus(spark, sf_dir))
        .filter(F.col("__grn") > MAX_LSH_BUCKET_VECS)
        .count()
    )
    return int(over)


def near_dup_fence_observed_drops(sf_dir: str) -> int | None:
    """Fence drops observed during the last executed
    embedding_near_dup_pairs action for ``sf_dir`` (None if the query
    has not run in this session — including when a plan was BUILT but
    never acted on; the non-blocking probe below matters because
    Observation.get would wait forever in that case). Zero extra jobs —
    the count is collected by the query's own plan;
    pipelines.etl.near_dup_pipeline logs it into the run audit's
    ``fence_dropped_rows`` column (RunAudit) so production runs carry
    the no-silent-caps evidence."""
    obs = _LSH_FENCE_OBS.get(sf_dir)
    if obs is None:
        return None
    try:
        # obs.get BLOCKS forever when the observed plan was built but
        # never acted on (ADVICE r7 — verified: getRow waits, no
        # exception), so probe the JVM's non-blocking accessor first.
        # getRowOrEmpty returns an empty Option until the first action
        # completes; getOrEmpty is unusable here (NPEs on the null row
        # in Spark 4.1.2).
        if obs._jo.getRowOrEmpty().isEmpty():
            return None
        return int(obs.get["dropped_vecs"])
    except Exception:  # noqa: BLE001 — JVM accessor shape changed
        return None


def _bucket_pairs_arrow(corpus: DataFrame, threshold: float) -> DataFrame:
    """Verified within-bucket pairs (vec_a < vec_b, cos >= threshold) as
    ONE Arrow pass over a bucket-fenced corpus (bucket, vec_id, v,
    norm). One repartition co-locates each bucket; rows are sorted by
    (bucket, vec_id) so in-run pair enumeration (i < j) IS the
    ``a.vec_id < b.vec_id`` condition; pair cosines accumulate with the
    left-associated dim loop (bit-identical to the JVM fold / SQL
    oracle — see _query_scores). Memory is bounded per batch: the only
    rows carried across Arrow batches are the current (last) bucket
    run, ≤ the caller's fence cap; per-dim gathers avoid materializing
    pair-sized vector copies. A row with a NULL input pairs with none."""
    import numpy as np

    cols = ("bucket", "vec_id", "v", "norm")
    part = corpus.repartition(F.col("bucket")).sortWithinPartitions(
        "bucket", "vec_id"
    )

    def _emit(f):
        buckets, ids, vmat, norms = (f[c] for c in cols)
        m = len(ids)
        if m < 2:
            return
        chg = np.ones(m, dtype=bool)
        chg[1:] = buckets[1:] != buckets[:-1]
        starts = np.flatnonzero(chg)
        ends = np.append(starts[1:], m)
        ii_all, jj_all = [], []
        for s, e in zip(starts, ends):
            sz = e - s
            if sz < 2:
                continue
            ii, jj = np.triu_indices(sz, 1)
            ii_all.append(ii + s)
            jj_all.append(jj + s)
        if not ii_all:
            return
        ii = np.concatenate(ii_all)
        jj = np.concatenate(jj_all)
        acc = np.zeros(len(ii))
        for i in range(vmat.shape[1]):  # left-assoc dim loop
            acc += vmat[ii, i] * vmat[jj, i]
        cos = acc / (norms[ii] * norms[jj])
        sel = cos >= threshold
        yield {"vec_a": ids[ii[sel]], "vec_b": ids[jj[sel]]}

    def gen(batches):
        carry = None
        for b in batches:
            f = frame(b, cols)
            if carry is not None:
                f = {c: np.concatenate([carry[c], f[c]]) for c in cols}
            buckets = f["bucket"]
            m = len(buckets)
            neq = np.flatnonzero(buckets != buckets[m - 1])
            last_start = int(neq[-1]) + 1 if len(neq) else 0
            # .copy(): a slice is a VIEW pinning the whole frame
            carry = {c: f[c][last_start:].copy() for c in cols}
            if last_start:
                yield from _emit({c: f[c][:last_start] for c in cols})
        if carry is not None:
            yield from _emit(carry)

    return arrow_map(part, cols, gen, "vec_a long, vec_b long")


def embedding_near_dup_pairs(
    spark: SparkSession, sf_dir: str,
    max_bucket_vecs: int = MAX_LSH_BUCKET_VECS,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIR enumeration: the corpus is
    embeddings ∪ slightly-perturbed copies (every element +1e-4, vec_id +
    TWIN_OFFSET — deterministic), candidate pairs restricted to the
    table-0 sign-LSH bucket at lsh_bits(n) granularity (a perturbed twin
    usually shares the bucket; when an element sits within 1e-4 of zero
    it may not — the oracle computes the identical bucket, so parity
    holds either way), each bucket fenced to ``max_bucket_vecs``
    candidates by whole twin-groups (see _fence_buckets — linear-in-n
    candidate bound on clone-heavy corpora), verified by cosine >=
    NEAR_DUP_COS. The fence bounds COST by trading recall on clone-mass
    buckets; the drop count is observable in-plan
    (near_dup_fence_observed_drops) and the recall trade is measured by
    near_dup_recall_eval — use near_dup_clusters when cluster membership
    (full recall, linear cost) is the goal."""
    corpus = _fence_buckets(
        _near_dup_corpus(spark, sf_dir), cap=max_bucket_vecs, obs_key=sf_dir
    )
    # r12: the former bucket-equality SELF-JOIN scored each candidate
    # pair with the interpreted per-pair JVM fold and shuffled the
    # corpus twice (both join sides). One Arrow pass replaces it: one
    # shuffle co-locates each bucket, in-partition all-pairs cosines run
    # vectorized (guide §4.2), and only the verified pairs leave the
    # task. The emitted pair SET is identical — same (a.bucket ==
    # b.bucket AND a.vec_id < b.vec_id) enumeration, bit-identical
    # left-associated dot (see _query_scores) against the same
    # threshold; the fence Observation rides the same plan.
    return _bucket_pairs_arrow(
        corpus.select("bucket", "vec_id", "v", "norm"), NEAR_DUP_COS
    )


def tabled_buckets(df: DataFrame, bits: int) -> DataFrame:
    """(vec_id, v, norm) -> one row per LSH TABLE with that table's
    bucket, via a single exploded projection — the wide embedding
    column is scanned ONCE for all N_TABLES (the per-table build loop
    this replaced scanned it N_TABLES times)."""
    per_t = F.array(*[
        F.struct(
            F.lit(t).alias("t"),
            sign_bucket(F.col("v"), t, bits).alias("bucket"),
        )
        for t in range(N_TABLES)
    ])
    return (
        df.select("vec_id", "v", "norm", F.explode(per_t).alias("__tb"))
        .select("vec_id", "v", "norm", "__tb.*")
    )


def with_chain_keys(df: DataFrame) -> DataFrame:
    """Attach table t's chain-ordering keys (__sig, __proj) to an
    exploded (t, bucket) frame — a when-chain on t, so each row
    evaluates only its own table's expressions. Split from
    tabled_buckets so callers that filter buckets first (the
    incremental path) pay for signatures on surviving rows only."""
    sig = proj = None
    for t in range(N_TABLES):
        s = _rot_sig(F.col("v"), t)
        p = _chain_proj(F.col("v"), F.col("norm"), t)
        cond = F.col("t") == t
        sig = F.when(cond, s) if sig is None else sig.when(cond, s)
        proj = F.when(cond, p) if proj is None else proj.when(cond, p)
    return df.withColumn("__sig", sig).withColumn("__proj", proj)


def chain_edges_arrow(
    keyed: DataFrame,
    key_cols: list[str],
    w: int,
    threshold: float,
    frame_probe: str | None = None,
    pre_partitioned: bool = False,
) -> DataFrame:
    """W-successor verified chain edges as ONE Arrow pass — no ranking
    window, no W-way self-join, no per-pair JVM expression evaluation.

    The former shape (rank window + explode(1..W) + equi-join on
    (keys, rank) + fold-dot filter) paid the engine's measured
    ~80-100 µs·thread per PAIR for the interpreted higher-order-function
    cosine — ~N_TABLES·W·n pairs, the dominant cost of the sf10 cluster
    build. Chain adjacency is ORDER adjacency, so the pairs don't need
    a join at all: repartition by the chain keys (each group lands
    whole in one partition), sort within partitions by (keys, __sig,
    __proj, vec_id) — the exact former window order — and compare each
    row with its k-th successor via SHIFTED numpy arrays, masking pairs
    that cross a key-group boundary. Work per partition is W·DIM
    vectorized ops over the partition's rows; Arrow ships each corpus
    row once (not once per candidate pair).

    Exactness by construction: the dot accumulates with the
    left-associated dim loop ``acc += V[:-k,i] * V[k:,i]`` (the same
    IEEE chain as the JVM fold and the SQL oracle — products commute
    bit-exactly), and cos = acc / (norm_a * norm_b) mirrors both
    engines' operand order. The emitted edge SET is identical to the
    join formulation — pinned by the DuckDB recursive-CTE oracle.

    Memory is bounded PER ARROW BATCH, not per partition (r9, VERDICT
    r8 #1): a key group straddling batch boundaries only needs the
    previous batch's last W rows carried forward — each batch is
    processed as (carry ∥ batch), pairs wholly inside the carry prefix
    are suppressed (the batch that owned them already emitted them —
    inductively every pair is emitted exactly once, by the batch where
    its DST row first appears), and the next carry is the combined
    frame's last W rows. Peak resident frame = maxRecordsPerBatch + W
    rows regardless of partition size — the executor-OOM cliff of the
    former whole-partition pd.concat (×2 with np.stack) is gone.

    ``keyed`` must carry (vec_id, v, norm, *key_cols, __sig, __proj).
    ``frame_probe``: test hook — a directory where each task appends
    its peak combined-frame row count (asserts the bound holds).
    ``pre_partitioned``: the caller guarantees rows sharing key_cols
    values already live in one partition (e.g. an upstream
    ``repartition(*key_cols)`` whose exchange a boundary window then
    rode for free — guide §2.4) — skip this function's own repartition
    and only sort within partitions; the kernel's correctness needs
    exactly group-locality + the sort, nothing about which partition a
    group landed in. A row with a NULL input is dropped before the
    chain order, so it takes no chain slot."""
    import numpy as np

    cols = ("vec_id", "v", "norm", *key_cols, "__sig", "__proj")
    part = keyed.select(*cols)
    if not pre_partitioned:
        part = part.repartition(*[F.col(c) for c in key_cols])
    part = part.sortWithinPartitions(*key_cols, "__sig", "__proj", "vec_id")
    used = ("vec_id", "v", "norm", *key_cols)

    def gen(batches):
        carry = None  # previous combined frame's last ≤W rows
        peak = 0
        for b in batches:
            f = frame(b, used)
            p = 0
            if carry is not None:
                p = len(carry["vec_id"])
                f = {c: np.concatenate([carry[c], f[c]]) for c in used}
            m = len(f["vec_id"])
            peak = max(peak, m)
            # .copy(): a tail slice is a VIEW holding the whole combined
            # frame alive — copying is what makes the bound real
            carry = {c: f[c][max(0, m - w):].copy() for c in used}
            if m < 2:
                continue
            v_mat, norms, ids = f["v"], f["norm"], f["vec_id"]
            keys = [f[c] for c in key_cols]
            # occupancy cap: no pair can span a key-group boundary, so
            # widths beyond the largest group in THIS frame do nothing —
            # skip them (what makes a wide pass-2 width free on corpora
            # whose buckets are small)
            if keys:
                chg = np.zeros(m, dtype=bool)
                chg[0] = True
                for arr in keys:
                    chg[1:] |= arr[1:] != arr[:-1]
                starts = np.flatnonzero(chg)
                kcap = int(np.diff(np.append(starts, m)).max()) - 1
            else:
                kcap = m - 1
            src_all, dst_all = [], []
            for k in range(1, min(w, kcap) + 1):
                if k >= m:
                    break
                mask = np.ones(m - k, dtype=bool)
                # suppress pairs wholly inside the carry prefix: pair i
                # has dst index i+k, owned by this batch iff i+k >= p
                if p > k:
                    mask[: p - k] = False
                for arr in keys:
                    mask &= arr[:-k] == arr[k:]
                if not mask.any():
                    continue
                acc = np.zeros(m - k)
                for i in range(v_mat.shape[1]):  # left-assoc dim loop
                    acc += v_mat[:-k, i] * v_mat[k:, i]
                cos = acc / (norms[:-k] * norms[k:])
                sel = mask & (cos >= threshold)
                if sel.any():
                    src_all.append(ids[:-k][sel])
                    dst_all.append(ids[k:][sel])
            if src_all:
                yield {
                    "src": np.concatenate(src_all),
                    "dst": np.concatenate(dst_all),
                }
        if frame_probe is not None and peak:
            import os
            import uuid

            with open(
                os.path.join(frame_probe, f"peak-{uuid.uuid4().hex}"), "w"
            ) as fh:
                fh.write(str(peak))

    return arrow_map(part, cols, gen, "src long, dst long")


def nd_keyed_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tabled + chain-keyed near-dup corpus (vec_id, v, norm, t,
    bucket, __sig, __proj), PERSISTED per corpus snapshot
    (index_store.cached_df). Every near-dup stage — both full-build
    passes and both incremental stages — filters or chains over exactly
    this frame; without the cache each stage re-pays the wide embedding
    scan + twin synthesis + 4-table explode + signature build
    (measured: the dominant fixed cost of an incremental batch). At
    deployment scale this is the documented narrow-index trade: persist
    the derived frame (or lay the table out bucket-partitioned) and
    every maintenance operation becomes a pruned read."""
    bits = lsh_bits(corpus_count(spark, sf_dir))

    def build() -> DataFrame:
        base = _near_dup_corpus(spark, sf_dir).select("vec_id", "v", "norm")
        return with_chain_keys(tabled_buckets(base, bits))

    return index_store.cached_df(
        spark, _emb_table(sf_dir), "nd_keyed_corpus", build
    )


def near_dup_chain_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified chain-link candidate edges — the build stage of
    near_dup_clusters, exposed so plan evidence (docs/PLANS.md) can
    show the BUILD plan rather than the stored artifact's two-node
    scan: ONE exploded projection derives every table's bucket from a
    single wide scan (cached — nd_keyed_corpus), then chain_edges_arrow
    forms and verifies the W-successor pairs in a single Arrow pass
    (one shuffle on (t, bucket), in-partition sort on the chain order,
    shifted-array cosines). Candidates ≤ N_TABLES·W·n at any bucket
    occupancy — see near_dup_clusters for the full design; the emitted
    edge set is pinned by the DuckDB recursive-CTE oracle."""
    return chain_edges_arrow(
        nd_keyed_corpus(spark, sf_dir), ["t", "bucket"],
        NEAR_DUP_CHAIN_W, NEAR_DUP_COS,
    )


def _w_suffix() -> str:
    # The artifact answer depends on the chain width AND the twin-id
    # offset, so a non-default value of either gets its own artifact
    # key — otherwise a tuned run would silently reuse (or poison) the
    # default store for the same corpus fingerprint (ADVICE r9 #3: a
    # store built under one SPARK_GRAFT_TWIN_OFFSET would serve twin
    # ids from the wrong offset to a session running another).
    w = "" if NEAR_DUP_CHAIN_W == 16 else f"_w{NEAR_DUP_CHAIN_W}"
    o = "" if TWIN_OFFSET == 1_000_000 else f"_o{TWIN_OFFSET}"
    return w + o


def _w2_suffix() -> str:
    # final-assignment artifacts additionally depend on the pass-2 width
    return _w_suffix() + (
        "" if NEAR_DUP_P2_W == 384 else f"_p{NEAR_DUP_P2_W}"
    )


def near_dup_p1_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PASS-1 assignment: connected components over the full-corpus
    chain edges — stored as its own artifact because two consumers need
    it beyond the final answer: pass 2 derives its rep set from it, and
    the incremental updater (extensions.incremental_clusters) diffs rep
    CHURN against it per ingest batch. Returns (vec_id, canonical_id =
    min reachable id); singletons (no verified edge) don't appear.

    max_iter: min-labels travel one chain hop per iteration; the worst
    family diameter is family_size / W (sf10 families ≈ 200 members →
    ~13 hops). 64 leaves 4-5× headroom; convergence is detected, so
    typical corpora stop after 2-3 rounds."""
    from .components import connected_components

    def build() -> DataFrame:
        return connected_components(
            near_dup_chain_edges(spark, sf_dir), max_iter=64
        ).select(
            F.col("node").alias("vec_id"),
            F.col("component").alias("canonical_id"),
        )

    return index_store.stored_df(
        spark, _emb_table(sf_dir), f"near_dup_p1{_w_suffix()}", build
    )


def near_dup_rep_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One representative VECTOR per pass-1 family (the canonical
    member) plus every pass-1 singleton — the contraction view used by
    tools/diag_near_dup_miss.py to attribute residual misses."""
    corpus = _near_dup_corpus(spark, sf_dir).select("vec_id", "v", "norm")
    nonreps = (
        near_dup_p1_clusters(spark, sf_dir)
        .filter(F.col("vec_id") != F.col("canonical_id"))
        .select("vec_id")
    )
    return corpus.join(nonreps, "vec_id", "left_anti")


def p2_boundary_rows(keyed_fam: DataFrame, keep_fam: bool = False) -> DataFrame:
    """Per (t, bucket, family): the FIRST and LAST member in the chain
    order plus the family CANONICAL — the pass-2 corpus rows. Input
    must carry (t, bucket, __sig, __proj, vec_id, v, norm, __fam);
    output drops the helper columns.

    Why boundaries and not one rep per family: the r9 heavy-corpus
    diagnosis (DIAG_near_dup_miss_sf10heavy_r9.json) split the residual
    two-pass misses into reps-still-too-far AND rep-cosine-fails — two
    drift-chain families can hold a true cos>=0.999 MEMBER pair while
    their canonical members sit farther than the threshold, so any
    single-rep contraction verifies the wrong vectors. The first/last
    members per bucket-group are the geometrically extremal real
    members (verification happens member-to-member); the canonical is
    kept too so the pass-2 edge set stays a superset of the r9
    canonical-rep design.

    ``keep_fam`` retains the family column — the maintenance store
    (extensions.nd_store) persists boundary rows grouped by family and
    needs the key. CLOSURE property the store leans on (r11): the
    boundary set of a MERGED/GROWN group is computable from its parts'
    boundary sets alone — a subset containing the true per-group
    extremes has the same window-first/window-last, and the canonical
    member's rows are always in its old part's set via the
    ``vec_id == __fam`` clause — so re-running this function over old
    boundary rows ∪ new member rows yields exactly the full-member
    result, no member scan required."""
    w_asc = Window.partitionBy("t", "bucket", "__fam").orderBy(
        "__sig", "__proj", "vec_id"
    )
    wf = Window.partitionBy("t", "bucket", "__fam")
    marked = keyed_fam.withColumn(
        "__rf", F.row_number().over(w_asc)
    ).withColumn("__cf", F.count(F.lit(1)).over(wf))
    out = marked.filter(
        (F.col("__rf") == 1)
        | (F.col("__rf") == F.col("__cf"))
        | (F.col("vec_id") == F.col("__fam"))
    ).drop("__rf", "__cf")
    return out if keep_fam else out.drop("__fam")


def near_dup_p2_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pass-2 corpus: boundary rows (see p2_boundary_rows) of every
    (t, bucket, pass-1 family). On clone-heavy corpora this is a small
    fraction of the member rows — exactly where the wide pass-2 chain
    width pays for itself; on clean corpora families are singletons and
    the occupancy cap in chain_edges_arrow keeps the wide width free."""
    keyed = nd_keyed_corpus(spark, sf_dir)
    p1 = near_dup_p1_clusters(spark, sf_dir)
    fam = keyed.join(
        p1.withColumnRenamed("canonical_id", "__fam"), "vec_id", "left"
    ).withColumn("__fam", F.coalesce(F.col("__fam"), F.col("vec_id")))
    return p2_boundary_rows(fam)


def near_dup_rep_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PASS-2 chain edges: the identical bucket/signature/projection
    machinery as pass 1 (same seeds, same bits — the contraction is
    what changes adjacency), run over the boundary corpus with the wide
    NEAR_DUP_P2_W window. Emitted edges connect real MEMBERS (cosine
    verified member-to-member); the caller contracts endpoints to their
    pass-1 canonicals for the components pass."""
    return chain_edges_arrow(
        near_dup_p2_corpus(spark, sf_dir), ["t", "bucket"],
        NEAR_DUP_P2_W, NEAR_DUP_COS,
    )


def _finalize_two_pass(p1: DataFrame, e2: DataFrame) -> DataFrame:
    """Contract pass-2 member edges to pass-1 canonicals, run the
    second components pass, and relabel — the shared tail of both
    two-pass builders (corpus-artifact and from-keyed)."""
    from .components import connected_components

    e2c = (
        e2.join(
            p1.select(F.col("vec_id").alias("src"),
                      F.col("canonical_id").alias("__cs")),
            "src", "left",
        )
        .join(
            p1.select(F.col("vec_id").alias("dst"),
                      F.col("canonical_id").alias("__cd")),
            "dst", "left",
        )
        .select(
            F.coalesce(F.col("__cs"), F.col("src")).alias("src"),
            F.coalesce(F.col("__cd"), F.col("dst")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    cc2 = connected_components(e2c, max_iter=64)
    remap = cc2.select(
        F.col("node").alias("__c"), F.col("component").alias("__sc")
    )
    relabeled = p1.join(
        remap, p1.canonical_id == F.col("__c"), "left"
    ).select(
        "vec_id",
        F.coalesce(F.col("__sc"), F.col("canonical_id")).alias(
            "canonical_id"
        ),
    )
    newly = (
        cc2.select(
            F.col("node").alias("vec_id"),
            F.col("component").alias("canonical_id"),
        )
        .join(p1.select("vec_id"), "vec_id", "left_anti")
    )
    return relabeled.unionByName(newly)


def two_pass_clusters_from_keyed(
    keyed: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Both assignments (pass-1, final) computed from an EXPLICIT keyed
    frame with the exact near_dup_clusters machinery. The tombstone
    compaction path (extensions.nd_store) re-clusters the store's
    remaining keyed rows after deletions without rebuilding them from
    the corpus table: keyed rows are pure per-vector functions at a
    fixed hash tier, so keyed(corpus - D) == keyed(corpus) - rows(D),
    and running the same two passes over the filtered rows IS the full
    rebuild on the filtered corpus (equality-tested in
    tests/test_nd_store_tombstones.py). Returns lazily; the caller
    checkpoints/writes."""
    from .components import connected_components

    e1 = chain_edges_arrow(
        keyed, ["t", "bucket"], NEAR_DUP_CHAIN_W, NEAR_DUP_COS
    )
    p1 = connected_components(e1, max_iter=64).select(
        F.col("node").alias("vec_id"),
        F.col("component").alias("canonical_id"),
    )
    fam = keyed.join(
        p1.withColumnRenamed("canonical_id", "__fam"), "vec_id", "left"
    ).withColumn("__fam", F.coalesce(F.col("__fam"), F.col("vec_id")))
    e2 = chain_edges_arrow(
        p2_boundary_rows(fam), ["t", "bucket"], NEAR_DUP_P2_W, NEAR_DUP_COS
    )
    return p1, _finalize_two_pass(p1, e2)


def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTER membership with no fence and no drops —
    the recall-preserving scale path for clone-heavy corpora, since r9
    a TWO-PASS build (VERDICT r8 #1: no fixed W beats an adversarial
    clone pile-up; the second pass over pass-1 canonicals does).

    Pass 1 — for EACH of the N_TABLES sign-LSH tables (disjoint dim
    groups), bucket members are ranked by (rotated sign signature,
    norm-scaled projection, vec_id) — see _chain_coefs — and each
    vector pairs only with its NEAR_DUP_CHAIN_W successors: candidates
    stay ≤ N_TABLES·W·n at ANY bucket occupancy (a 6,587-vector
    clone-mass bucket contributes 6587·16 ≈ 105k candidates per table
    instead of C(6587,2) ≈ 21.7 M). Verified chain edges (cosine >=
    NEAR_DUP_COS) from all tables feed one connected-components pass.

    Pass 2 — each (t, bucket, pass-1 family) contracts to its BOUNDARY
    rows (first + last member in the chain order, plus the canonical —
    see p2_boundary_rows) and the same chain machinery reruns over
    those rows with the wide NEAR_DUP_P2_W window (near_dup_rep_edges):
    a true pair whose chain segments were split by interleaved clone
    mass (the diagnosed misses: shared bucket, rank distance 25-382)
    re-meets once the interleaving families collapse to boundary rows,
    and verification happens on real MEMBER vectors — closing both
    residual r9 miss modes (reps-too-far and rep-cosine-fails,
    DIAG_near_dup_miss_sf10heavy_r9.json). Pass-2 edges contract to
    pass-1 canonicals and components over them relabel the pass-1
    assignment (exact for min-label: a canonical IS the min id of its
    family); pass-1 singletons that gain a pass-2 edge join the
    assignment. Equals the closure over (pass-1 ∪ pass-2) edges — the
    DuckDB oracle computes exactly that closure, structurally
    differently. Recall is measured by near_dup_recall_eval, not
    claimed. Returns (vec_id, canonical_id = min reachable id);
    vectors with no verified edge in either pass don't appear, as in
    dedup_clusters. The assignment is a fingerprint-keyed stored index
    artifact (built once per corpus snapshot, shared across sessions;
    an upsert invalidates).

    Scale shape: two chain passes (one shuffle on (t, bucket) each —
    the second over boundary rows only, its width occupancy-capped in
    the kernel), two bounded min-label propagations, narrow relabel
    joins."""
    def build() -> DataFrame:
        # pass-2 edges connect MEMBERS; contract each endpoint to its
        # pass-1 canonical (absent -> itself: pass-1 singletons) so the
        # components pass runs over canonicals — exact for min-label
        # (canonical = min id of its family); self-loops drop out.
        # Shared tail with the from-keyed builder: _finalize_two_pass.
        return _finalize_two_pass(
            near_dup_p1_clusters(spark, sf_dir),
            near_dup_rep_edges(spark, sf_dir),
        )

    # _v3: the boundary-row pass-2 answer differs from both the r7/r8
    # single-pass and the first-cut r9 canonical-rep two-pass, so it
    # must not reuse a stale same-fingerprint store.
    return index_store.stored_df(
        spark, _emb_table(sf_dir), f"near_dup_clusters_v3{_w2_suffix()}",
        build,
    )


def near_dup_recall_eval(
    spark: SparkSession, sf_dir: str,
    methods: tuple[str, ...] = ("fenced_pairs", "hybrid_clusters"),
) -> DataFrame:
    """Recall gate for near-duplicate detection — the twin of
    ann_recall_eval on the dedup side (r7, VERDICT r6 #1): exact
    ground-truth near-dup pairs are computed brute-force for a BOUNDED
    sample (the N_QUERIES base vectors and their twins — O(sample ×
    corpus), the same cost shape as brute_force_topk), then each
    production path is scored against them:

    - ``fenced_pairs``: pair recovered iff embedding_near_dup_pairs
      (bucket + pair-aware fence) emits it — measures what the
      MAX_LSH_BUCKET_VECS cost fence trades away on clone-mass corpora.
    - ``hybrid_clusters``: pair recovered iff near_dup_clusters puts
      both ends in one component — the no-drop chain-link path.

    The sample is HASH-RANKED (md5 of the id — the k-means seed
    technique), not lowest-id: the fence ordering keeps low-id twin
    groups first, so an id-prefix sample would sit entirely inside the
    kept set and read recall 1.0 no matter how much the fence drops.
    Hash ranking places sample vectors uniformly across the fence
    order, so dropped mass shows up in the number.

    Retuning the fence cap, chain width, or lsh_bits must keep this
    green; bench.py records the recall values next to the fence drop
    counts.

    ``methods`` restricts which paths are scored (the registry default
    scores both): the production cluster pipeline gates itself on
    ("hybrid_clusters",) without paying for the fenced pair query."""
    corpus = _near_dup_corpus(spark, sf_dir)
    # r12: the hash-ranked sample (bounded at N_ND_SAMPLE) is collected
    # once and the ground-truth sweep runs as one Arrow pass over the
    # corpus (see _threshold_pairs_arrow) — the former formulation
    # scored sample × corpus through a BroadcastNestedLoopJoin with the
    # interpreted per-pair fold. Identical pair set (bit-identical
    # doubles vs the same threshold, same least/greatest + distinct).
    # memoized like _query_vectors (r13): the hash-ranked sample is a
    # pure function of the embeddings table (corpus = base + derived
    # twins), so the fingerprint key is exact; repeat invocations
    # re-paid the identical TakeOrdered + collect job otherwise
    s = index_store.cached_value(
        spark, _emb_table(sf_dir), "nd_sample_vectors",
        lambda: _collect_queries(
            corpus.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
            .limit(N_ND_SAMPLE)
        ),
    )
    if s is None:
        exact = spark.createDataFrame([], "vec_a long, vec_b long")
    else:
        exact = _threshold_pairs_arrow(
            corpus, s[0], s[1], s[2], NEAR_DUP_COS
        ).distinct()
    # ONE pass over the exact ground truth (r12 optimization): the
    # former per-method formulation re-derived `exact` — the sample ×
    # corpus brute-force cosine sweep, the dominant cost here — once per
    # method branch PLUS once for the n_exact denominator (Catalyst does
    # not share diamond subplans), i.e. 3× at the registry default.
    # Instead, left-mark each exact pair per method and fold every
    # count into ONE aggregate over one sweep, then explode the 1-row
    # aggregate into per-method rows. Outputs are identical:
    # - fenced: the pair query emits each (vec_a < vec_b) pair at most
    #   once (single table-0 bucket), so a left join + marker sum equals
    #   the former left_semi count and cannot inflate n_exact;
    # - hybrid: cluster assignment is unique per vec_id (multiplicity-1
    #   left joins); a pair with either end unassigned gives a NULL
    #   comparison -> counted 0, exactly like the former inner joins.
    known = [m for m in ("fenced_pairs", "hybrid_clusters") if m in methods]
    if not known:
        raise ValueError(f"no known method in {methods!r}")
    marked = exact
    aggs = [F.count(F.lit(1)).alias("n_exact")]
    if "fenced_pairs" in methods:
        fenced = embedding_near_dup_pairs(spark, sf_dir).withColumn(
            "__f", F.lit(1)
        )
        marked = marked.join(fenced, ["vec_a", "vec_b"], "left")
        # outer coalesce: SUM over zero rows is NULL where the former
        # count() was 0 — pin the empty-ground-truth case to 0
        aggs.append(
            F.coalesce(F.sum(F.coalesce(F.col("__f"), F.lit(0))), F.lit(0))
            .cast("long").alias("__rec_fenced")
        )
    if "hybrid_clusters" in methods:
        clusters = near_dup_clusters(spark, sf_dir)
        marked = (
            marked.join(
                clusters.select(
                    F.col("vec_id").alias("vec_a"),
                    F.col("canonical_id").alias("comp_a"),
                ),
                "vec_a", "left",
            )
            .join(
                clusters.select(
                    F.col("vec_id").alias("vec_b"),
                    F.col("canonical_id").alias("comp_b"),
                ),
                "vec_b", "left",
            )
        )
        aggs.append(
            F.coalesce(
                F.sum(
                    F.when(F.col("comp_a") == F.col("comp_b"), 1).otherwise(0)
                ),
                F.lit(0),
            ).cast("long").alias("__rec_hybrid")
        )
    rec_col = {
        "fenced_pairs": "__rec_fenced", "hybrid_clusters": "__rec_hybrid",
    }
    return (
        marked.agg(*aggs)
        .select(
            F.explode(F.array(*[
                F.struct(
                    F.lit(m).alias("method"),
                    F.col(rec_col[m]).alias("n_recovered"),
                )
                for m in known
            ])).alias("__m"),
            "n_exact",
        )
        .select(
            F.col("__m.method").alias("method"), "n_exact",
            F.col("__m.n_recovered").alias("n_recovered"),
            F.when(
                F.col("n_exact") > 0,
                F.col("__m.n_recovered").cast("double") / F.col("n_exact"),
            ).alias("recall"),
        )
    )


def _vdot_sql(a: str, b: str) -> str:
    return " + ".join(f"{a}[{i}] * {b}[{i}]" for i in range(1, DIM + 1))


def _vnorm_sql(a: str) -> str:
    return f"sqrt({_vdot_sql(a, a)})"


# Shared near-dup substrate: base ∪ twin corpus, table-0 buckets, norms
# (the SQL mirror of _near_dup_corpus).
_ND_CORPUS_SQL = f"""corpus AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + {TWIN_OFFSET}, list_transform(embedding, x -> CAST(x AS DOUBLE) + 0.0001) FROM embeddings
), nb AS (
  SELECT vec_id, v, {_bucket_sql(0, elem="v", bits_expr="params.bits")} AS bucket,
         {_vnorm_sql('v')} AS norm
  FROM corpus, params
)"""

# Pair-aware fence mirror of _fence_buckets: a twin group (vec_id mod
# TWIN_OFFSET) is kept only when its LAST member ranks within the cap.
_ND_FENCED_SQL = f"""fencedb AS (
  SELECT vec_id, v, bucket, norm FROM (
    SELECT vec_id, v, bucket, norm,
           MAX(rn) OVER (PARTITION BY bucket, pg) AS grn
    FROM (
      SELECT vec_id, v, bucket, norm, vec_id % {TWIN_OFFSET} AS pg,
             ROW_NUMBER() OVER (PARTITION BY bucket
                                ORDER BY vec_id % {TWIN_OFFSET}, vec_id) AS rn
      FROM nb
    )
  ) WHERE grn <= {MAX_LSH_BUCKET_VECS}
)"""

_ND_FENCED_PAIRS_SQL = f"""fenced AS (
  SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b
  FROM fencedb a JOIN fencedb b2
    ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
  WHERE ({_vdot_sql('a.v', 'b2.v')}) / (a.norm * b2.norm) >= {NEAR_DUP_COS}
)"""

# Chain-link cluster mirror of near_dup_clusters: per table, per-bucket
# normalized-projection rank, W-successor candidate edges, cosine
# verify; edges from all tables union into min-reachable-id via
# recursive CTE (label propagation converges to exactly this fixpoint).
def _chain_table_sql(t: int, src: str = "nb", name: str = "rt") -> str:
    return f"""{name}{t} AS (
  SELECT vec_id, v, norm, bucket,
         ROW_NUMBER() OVER (PARTITION BY bucket
                            ORDER BY sig, proj, vec_id) AS rn
  FROM (
    SELECT vec_id, v, norm,
           {_bucket_sql(t, elem="v", bits_expr="params.bits")} AS bucket,
           {_rot_sig_sql(t)} AS sig,
           {_chain_proj_sql(t)} AS proj
    FROM {src}, params
  )
)"""


def _chain_edges_sql(t: int, name: str = "rt", w: int | None = None) -> str:
    w = NEAR_DUP_CHAIN_W if w is None else w
    return f"""  SELECT a.vec_id AS va, b2.vec_id AS vb
  FROM {name}{t} a JOIN {name}{t} b2
    ON a.bucket = b2.bucket AND b2.rn - a.rn BETWEEN 1 AND {w}
  WHERE ({_vdot_sql('a.v', 'b2.v')}) / (a.norm * b2.norm) >= {NEAR_DUP_COS}"""


def _p2_table_sql(t: int) -> str:
    """Pass-2 ranked BOUNDARY rows for table t: per (bucket, pass-1
    family) the first + last chain-order member plus the canonical,
    re-ranked within the bucket (mirrors p2_boundary_rows)."""
    return f"""rp{t} AS (
  SELECT vec_id, v, norm, bucket,
         ROW_NUMBER() OVER (PARTITION BY bucket
                            ORDER BY sig, proj, vec_id) AS rn
  FROM (
    SELECT vec_id, v, norm, bucket, sig, proj, fam,
           ROW_NUMBER() OVER (PARTITION BY bucket, fam
                              ORDER BY sig, proj, vec_id) AS rf,
           COUNT(*) OVER (PARTITION BY bucket, fam) AS cf
    FROM (
      SELECT nb.vec_id, nb.v, nb.norm,
             {_bucket_sql(t, elem="nb.v", bits_expr="params.bits")} AS bucket,
             {_rot_sig_sql(t)} AS sig,
             {_chain_proj_sql(t)} AS proj,
             COALESCE(p1c.canonical_id, nb.vec_id) AS fam
      FROM nb LEFT JOIN p1c ON nb.vec_id = p1c.vec_id
      CROSS JOIN params
    )
  ) WHERE rf = 1 OR rf = cf OR vec_id = fam
)"""


# NOTE: _PARAMS_SQL / _ND_CORPUS_SQL / _ND_CLUSTERS_SQL are consumed by
# curation._near_dup_splits_sql to compose the near-dup-safe split
# oracle — renaming a CTE here (params / corpus / nb / nd_clusters)
# must keep that composition compiling (check_oracle near_dup_safe_splits).
#
# Two-pass mirror of near_dup_clusters, kept structurally DIFFERENT
# from the Spark build: instead of relabeling pass-1 components through
# pass-2 components (the Spark contraction), the oracle closes over the
# UNION of pass-1 and pass-2 edge sets with one recursive CTE — the
# contraction argument (a canonical is the min id of its family) says
# both compute the same fixpoint, and the hash gate checks it.
_ND_CLUSTERS_SQL = (
    ",\n".join(_chain_table_sql(t) for t in range(N_TABLES))
    + ", e0 AS (\n"
    + "\n  UNION ALL\n".join(_chain_edges_sql(t) for t in range(N_TABLES))
    + """
), p1e AS MATERIALIZED (
  SELECT va AS src, vb AS dst FROM e0
  UNION
  SELECT vb, va FROM e0
), reach1(node, target) AS (
  SELECT src, src FROM p1e
  UNION
  SELECT e.src, rr.target FROM p1e e JOIN reach1 rr ON e.dst = rr.node
), p1c AS MATERIALIZED (
  -- MATERIALIZED is load-bearing on every multiply-referenced CTE
  -- above a recursive closure: DuckDB 1.0 inlines CTEs per reference,
  -- and the 8 rp{t} self-join scans would each re-run the whole
  -- pass-1 recursion (measured: 10+ CPU-minutes at sf0.001 instead of
  -- seconds)
  SELECT node AS vec_id, MIN(target) AS canonical_id
  FROM reach1 GROUP BY node
),
"""
    + ",\n".join(_p2_table_sql(t) for t in range(N_TABLES))
    + ", e2 AS MATERIALIZED (\n"
    + "\n  UNION ALL\n".join(
        _chain_edges_sql(t, name="rp", w=NEAR_DUP_P2_W)
        for t in range(N_TABLES)
    )
    + """
), nd_edges AS MATERIALIZED (
  SELECT src, dst FROM p1e
  UNION
  SELECT va, vb FROM e2
  UNION
  SELECT vb, va FROM e2
), reach(node, target) AS (
  SELECT src, src FROM nd_edges
  UNION
  SELECT e.src, rr.target FROM nd_edges e JOIN reach rr ON e.dst = rr.node
), nd_clusters AS (
  SELECT node AS vec_id, MIN(target) AS canonical_id
  FROM reach GROUP BY node
)"""
)

EMBEDDING_NEAR_DUP_SQL = f"""
WITH {_PARAMS_SQL}, {_ND_CORPUS_SQL}, {_ND_FENCED_SQL}, {_ND_FENCED_PAIRS_SQL}
SELECT vec_a, vec_b FROM fenced
"""

NEAR_DUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_PARAMS_SQL}, {_ND_CORPUS_SQL}, {_ND_CLUSTERS_SQL}
SELECT vec_id, canonical_id FROM nd_clusters
"""

NEAR_DUP_RECALL_SQL = f"""
WITH RECURSIVE {_PARAMS_SQL}, {_ND_CORPUS_SQL}, {_ND_FENCED_SQL},
{_ND_FENCED_PAIRS_SQL}, {_ND_CLUSTERS_SQL}, nd_sample AS (
  SELECT vec_id, v, norm FROM nb
  QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
          <= {N_ND_SAMPLE}
), nd_exact AS (
  SELECT DISTINCT LEAST(s.vec_id, c.vec_id) AS vec_a,
                  GREATEST(s.vec_id, c.vec_id) AS vec_b
  FROM nd_sample s JOIN nb c ON c.vec_id <> s.vec_id
  WHERE ({_vdot_sql('s.v', 'c.v')}) / (s.norm * c.norm) >= {NEAR_DUP_COS}
), counts AS (
  SELECT 'fenced_pairs' AS method,
         (SELECT COUNT(*) FROM nd_exact) AS n_exact,
         (SELECT COUNT(*) FROM nd_exact e
          JOIN fenced f ON e.vec_a = f.vec_a AND e.vec_b = f.vec_b)
           AS n_recovered
  UNION ALL
  SELECT 'hybrid_clusters',
         (SELECT COUNT(*) FROM nd_exact),
         (SELECT COUNT(*) FROM nd_exact e
          JOIN nd_clusters ca ON e.vec_a = ca.vec_id
          JOIN nd_clusters cb ON e.vec_b = cb.vec_id
          WHERE ca.canonical_id = cb.canonical_id) AS n_recovered
)
SELECT method, n_exact, n_recovered,
       CASE WHEN n_exact > 0
            THEN CAST(n_recovered AS DOUBLE) / n_exact END AS recall
FROM counts
"""


# ---- IVF with sampled k-means centroids ----------------------------------

_SCALE = 10_000_000  # centroid means via exact scaled-integer sums


def _assign_nearest(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment as an Arrow-batched matrix kernel,
    not an n×K row join: every JVM-side shape of this join (fold-dot
    max_by aggregate, slim aggregate + join-back, expanded element_at
    chain, with and without exchange barriers) was measured at
    ~80-100 µs·thread per PAIR on 200k×1024 at sf10 — ~600 s per pass —
    because per-pair higher-order-function evaluation is interpreted
    and the expanded chain's per-element array reads don't pipeline.
    The n×K similarity matrix is the one kernel in this engine that is
    pure dense arithmetic, so it runs as an Arrow kernel over numpy
    (the brief's sanctioned escape hatch): ~2 s for the same pass.

    Exactness is preserved by construction, not hoped for: the dot is
    accumulated with a DIM-step loop ``acc += V[:,i] * C[:,i]`` —
    LEFT-ASSOCIATED per (row, cell), the same (((v1·c1 + v2·c2) + …)
    chain the JVM fold and the DuckDB oracle evaluate, so every IEEE
    double is bit-identical (numpy elementwise ops are correctly
    rounded hardware doubles; np.dot/matmul would pairwise-reorder and
    is NOT used). csim = acc / (norm * cnorm) mirrors the operand
    order of both engines. Tie-break: centroids are iterated in cell-
    ascending order and updated on strict improvement, which is
    exactly max_by(cell, struct(csim, -cell)) / the oracle's
    MAX(struct_pack(cos, negcell)).

    The centroid table is collected to the driver — BOUNDED by
    MAX_CELLS (≤1024 rows), an index-build-sized collect, and shipped
    to executors inside the UDF closure. Scale shape: one Arrow pass
    over the corpus, no joined intermediate, no shuffle at all until
    the caller aggregates. Returns (vec_id, v, norm, cell); a row with
    a NULL input has no nearest cell and is dropped."""
    import numpy as np

    rows = cents.select("cell", "cv", "cnorm").collect()
    order = sorted(range(len(rows)), key=lambda i: rows[i]["cell"])
    cells_np = np.array([rows[i]["cell"] for i in order], dtype=np.int64)
    c_mat = np.array([rows[i]["cv"] for i in order], dtype=np.float64)
    cn_np = np.array([rows[i]["cnorm"] for i in order], dtype=np.float64)

    cols = ("vec_id", "v", "norm")

    def assign(batches):
        for b in batches:
            v_mat = vectors(b.column("v"))                  # b × DIM
            norms = b.column("norm").to_numpy()             # b
            acc = np.zeros((b.num_rows, c_mat.shape[0]))    # b × K
            for i in range(c_mat.shape[1]):                 # left-assoc dim loop
                acc += v_mat[:, i:i + 1] * c_mat[None, :, i]
            csim = acc / (norms[:, None] * cn_np[None, :])
            # first max along cell-ascending axis == (csim DESC, cell ASC)
            best = np.argmax(csim, axis=1)
            yield {**{c: b.column(c) for c in cols}, "cell": cells_np[best]}

    return arrow_map(
        emb, cols, assign,
        "vec_id long, v array<double>, norm double, cell long",
    )


def _kmeans_centroids(emb: DataFrame, k: int) -> DataFrame:
    """Sampled k-means (seeds = top-k by md5 hash rank — a deterministic
    distributed sample via TakeOrdered, no global window — followed by
    one exact Lloyd iteration). Returns (cell, cv, cnorm).

    Exactness contract: new centroid components are
    CAST(Σ floor(v_i·1e7) AS DOUBLE) / CAST(count·1e7 AS DOUBLE) — the
    sums are exact BIGINTs, so the oracle reproduces the identical
    doubles. Cell ids are the seed vec_ids.

    The component sums go through ONE posexplode pass, not DIM
    element_at() aggregate columns: ``v`` is a COMPUTED array (a cast
    transform over the parquet column, projection-collapsed rather than
    materialized), so each element_at re-evaluated the whole 64-lambda
    array build — 64 accesses × 64 lambdas per row, measured 527 s for
    the old wide aggregate at sf10 vs ~4 s exploded (same exact BIGINT
    sums either way; map-side partial aggregation still collapses the
    exploded rows to k·DIM before the shuffle)."""
    seeds = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cell"), F.col("v").alias("cv"),
                F.col("norm").alias("cnorm"))
    )
    assigned0 = _assign_nearest(emb, seeds)
    dims = (
        assigned0.select("cell", F.posexplode("v").alias("__i", "__x"))
        .groupBy("cell", "__i")
        .agg(
            F.count(F.lit(1)).alias("nc"),
            F.sum(F.floor(F.col("__x") * F.lit(_SCALE)).cast("long")).alias("s"),
        )
    )
    cents = dims.groupBy("cell").agg(
        F.max("nc").alias("nc"),  # every dim counts the same members
        F.array_sort(F.collect_list(F.struct("__i", "s"))).alias("__ss"),
    )
    means = F.transform(
        F.col("__ss"),
        lambda t: t["s"].cast("double")
        / (F.col("nc") * F.lit(_SCALE)).cast("double"),
    )
    out = cents.select("cell", means.alias("cv"))
    return out.withColumn("cnorm", l2_norm(F.col("cv")))


def trained_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained IVF centroids (cell, cv, cnorm): k rows (≤ MAX_CELLS) —
    a write-through index artifact at ``<table>/_index/ivf_centroids``
    (r6; index_store). Centroids are trained once per corpus SNAPSHOT
    (content fingerprint) and served to every query and every process;
    a mutated table retrains. k is a pure function of the table's row
    count, so the fingerprint key subsumes it. Still a deterministic
    function of the input table, so oracle parity is unaffected."""
    return index_store.stored_df(
        spark, _emb_table(sf_dir), "ivf_centroids",
        lambda: _kmeans_centroids(
            _emb(spark, sf_dir), ivf_cells(corpus_count(spark, sf_dir))
        ),
    )


def ivf_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index's inverted lists: (vec_id, v, norm, cell) — the
    materialized corpus assignment. Production IVF stores these once at
    index-build time and every query probes the stored lists;
    recomputing the n×k nearest-centroid assignment per query (the
    pre-r5 shape) re-pays the single most expensive map stage of the
    family (sf1 measured: embedding_cluster_summary 11.2 s warm → 0.36 s
    reading the artifact). Since r6 the artifact lives NEXT TO the table
    (``<table>/_index/ivf_assignment/fp=<fingerprint>``) through the
    Hadoop FS API — cross-session reuse, mutation-keyed freshness,
    automatic GC of superseded generations (index_store.stored_df);
    consumers still get a two-node parquet-scan plan."""
    return index_store.stored_df(
        spark, _emb_table(sf_dir), "ivf_assignment",
        lambda: _assign_nearest(
            _emb(spark, sf_dir), trained_centroids(spark, sf_dir)
        ),
    )


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantization to the nearest of
    ivf_cells(n) k-means centroids (sampled seeds + one exact Lloyd
    iteration — data-driven granularity AND data-driven centroid
    placement), then top-3 cosine within the query's N_PROBE nearest
    cells.

    Multi-probe is THE recall lever of IVF (a vector near a cell border
    loses its true neighbors to the adjacent cell; probing 2 cells
    recovers them — measured by ann_recall_eval). Corpus vectors stay
    single-cell; only the tiny query set fans out ×N_PROBE.

    Scale shape: seed selection is a distributed TakeOrdered (no global
    window); assignment is a broadcast join over ≤ MAX_CELLS centroids (a
    map stage); the search join shuffles on cell id only — per-cell
    candidate sets whose mean size stays ≤ TARGET_CELL_OCC as the corpus
    grows, never O(n²)."""
    emb = _emb(spark, sf_dir)
    cents = trained_centroids(spark, sf_dir)
    # full-corpus assignment: read from the materialized inverted lists
    # (ivf_assignment) — the index artifact, not a per-query recompute
    assigned = ivf_assignment(spark, sf_dir)
    # query-side multi-probe fan-out: the ranking window only ever sees
    # N_QUERIES×K rows (the bounded query set), never the corpus
    wa = Window.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("cell"))
    q = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(cents))
        .select(
            "vec_id", "v", "cell", "norm",
            (dot(F.col("v"), F.col("cv"))
             / (F.col("norm") * F.col("cnorm"))).alias("csim"),
        )
        .withColumn("__rn", F.row_number().over(wa))
        .filter(F.col("__rn") <= N_PROBE)
        .select(
            F.col("vec_id").alias("qid"), F.col("v").alias("qv"), "cell",
            F.col("norm").alias("qnorm"),
        )
    )
    cand = q.join(assigned, "cell").filter(F.col("vec_id") != F.col("qid"))
    scored = cand.select(
        "qid", "cell", F.col("vec_id").alias("neighbor_id"),
        (dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm"))).alias("cos"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("qid", "cell", "rank", "neighbor_id")
    )


def _list_dot_sql(a: str, b: str) -> str:
    return "(" + " + ".join(f"{a}[{i}] * {b}[{i}]" for i in range(1, DIM + 1)) + ")"


def _list_norm_sql(a: str) -> str:
    return "sqrt(" + " + ".join(f"{a}[{i}] * {a}[{i}]" for i in range(1, DIM + 1)) + ")"


def _mdot_sql(vec: str, c: str) -> str:
    """dot(list vector, centroid m1..m64 columns), left-associated."""
    return "(" + " + ".join(f"{vec}[{i}] * {c}.m{i}" for i in range(1, DIM + 1)) + ")"


def _mnorm_sql(c: str) -> str:
    return "sqrt(" + " + ".join(f"{c}.m{i} * {c}.m{i}" for i in range(1, DIM + 1)) + ")"


_SCALED_SUMS_SQL = ",\n         ".join(
    f"SUM(CAST(FLOOR(v[{i}] * {_SCALE}) AS BIGINT)) AS s{i}" for i in range(1, DIM + 1)
)
_MEANS_SQL = ",\n         ".join(
    f"CAST(s{i} AS DOUBLE) / CAST(nc * {_SCALE} AS DOUBLE) AS m{i}"
    for i in range(1, DIM + 1)
)

# The trained-centroid CTE chain (base corpus -> hash-ranked seeds ->
# one exact Lloyd iteration -> `cm` centroid columns m1..mDIM), shared
# verbatim by every oracle that consumes trained_centroids (ivf_topk,
# ann_recall_eval, semantic_dedup_cells) so the mirrors can never
# diverge from each other.
_CM_SQL = f"""v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), seeds AS (
  SELECT vec_id AS cell, v FROM v, params
  QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= params.k
), a0 AS (
  SELECT v.vec_id,
         MAX(struct_pack(cos := {_list_dot_sql('v.v', 's.v')} / ({_list_norm_sql('v.v')} * {_list_norm_sql('s.v')}),
                         negcell := -cell)) AS best
  FROM v CROSS JOIN seeds s
  GROUP BY v.vec_id
), csums AS (
  SELECT -struct_extract(best, 'negcell') AS cell, COUNT(*) AS nc,
         {_SCALED_SUMS_SQL}
  FROM a0 JOIN v USING (vec_id) GROUP BY 1
), cm AS (
  SELECT cell,
         {_MEANS_SQL}
  FROM csums
)"""

IVF_TOPK_SQL = f"""
WITH {_PARAMS_SQL}, {_CM_SQL}, a1 AS (
  SELECT v.vec_id,
         MAX(struct_pack(cos := {_mdot_sql('v.v', 'cm')} / ({_list_norm_sql('v.v')} * {_mnorm_sql('cm')}),
                         negcell := -cm.cell)) AS best
  FROM v CROSS JOIN cm
  GROUP BY v.vec_id
), assigned AS (
  SELECT v.vec_id, v.v, -struct_extract(best, 'negcell') AS cell
  FROM a1 JOIN v USING (vec_id)
), q AS (
  SELECT v.vec_id AS qid, v.v AS qv, cm.cell
  FROM v CROSS JOIN cm
  WHERE v.vec_id < {N_QUERIES}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
    {_mdot_sql('v.v', 'cm')} / ({_list_norm_sql('v.v')} * {_mnorm_sql('cm')}) DESC, cm.cell) <= {N_PROBE}
), scored AS (
  SELECT q.qid, q.cell, a.vec_id AS neighbor_id,
         {_list_dot_sql('q.qv', 'a.v')} / ({_list_norm_sql('q.qv')} * {_list_norm_sql('a.v')}) AS cos
  FROM q JOIN assigned a ON q.cell = a.cell AND a.vec_id <> q.qid
), ranked AS (
  SELECT qid, cell, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT qid, cell, rank, neighbor_id FROM ranked WHERE rank <= 3
"""


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of each approximate ANN path (sign-LSH buckets, IVF
    cells) against the brute-force exact top-3 — the quality side of the
    quality/cost tradeoff, measured inside the engine. This is the
    recall-regression gate for the data-driven granularity: retuning
    lsh_bits / ivf_cells constants must keep this green."""
    exact3 = (
        brute_force_topk(spark, sf_dir)
        .filter(F.col("rank") <= 3)
        .select("qid", "neighbor_id")
        .withColumn("__hit", F.lit(1))
    )
    lsh = lsh_bucketed_topk(spark, sf_dir).select(
        F.lit("lsh").alias("method"), "qid", "neighbor_id"
    )
    ivf = ivf_topk(spark, sf_dir).select(
        F.lit("ivf").alias("method"), "qid", "neighbor_id"
    )
    approx = lsh.unionByName(ivf)
    denom = float(N_QUERIES * 3)
    return (
        approx.join(exact3, ["qid", "neighbor_id"], "left")
        .groupBy("method")
        .agg(
            F.count(F.lit(1)).alias("n_returned"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("hits"),
        )
        .withColumn("recall_at_3", F.col("hits").cast("double") / F.lit(denom))
    )


ANN_RECALL_SQL = f"""
WITH bf AS ({BRUTE_FORCE_TOPK_SQL}),
exact3 AS (SELECT qid, neighbor_id FROM bf WHERE rank <= 3),
lshq AS ({LSH_BUCKETED_TOPK_SQL}),
ivfq AS ({IVF_TOPK_SQL}),
approx AS (
  SELECT 'lsh' AS method, qid, neighbor_id FROM lshq
  UNION ALL
  SELECT 'ivf' AS method, qid, neighbor_id FROM ivfq
)
SELECT method, COUNT(*) AS n_returned,
       CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM exact3 e
                             WHERE e.qid = a.qid AND e.neighbor_id = a.neighbor_id)
           THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM exact3 e
                             WHERE e.qid = a.qid AND e.neighbor_id = a.neighbor_id)
           THEN 1 ELSE 0 END) AS DOUBLE) / {float(N_QUERIES * 3)} AS recall_at_3
FROM approx a
GROUP BY method
"""


def embedding_cluster_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means clustering of the embedding corpus as a first-class
    operator: per trained cell, the member count, member-id range, and
    the centroid's L2 norm — the partition report a curation pipeline
    reads before per-cluster sampling or balancing. Reuses the trained
    IVF index (sampled seeds + exact Lloyd step, corpus-size-driven k);
    the full-corpus assignment is the max_by hash aggregate (map-side
    partials, n-row shuffle). All outputs are exact integers or
    deterministic doubles (centroid means from exact scaled-integer
    sums), so the oracle hash-matches."""
    cents = trained_centroids(spark, sf_dir)
    assigned = ivf_assignment(spark, sf_dir)
    return (
        assigned.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("vec_id").alias("min_vec_id"),
            F.max("vec_id").alias("max_vec_id"),
        )
        .join(cents.select("cell", F.col("cnorm").alias("centroid_norm")), "cell")
    )


EMBEDDING_CLUSTER_SUMMARY_SQL = f"""
WITH {_PARAMS_SQL}, v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), seeds AS (
  SELECT vec_id AS cell, v FROM v, params
  QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= params.k
), a0 AS (
  SELECT v.vec_id,
         MAX(struct_pack(cos := {_list_dot_sql('v.v', 's.v')} / ({_list_norm_sql('v.v')} * {_list_norm_sql('s.v')}),
                         negcell := -cell)) AS best
  FROM v CROSS JOIN seeds s
  GROUP BY v.vec_id
), csums AS (
  SELECT -struct_extract(best, 'negcell') AS cell, COUNT(*) AS nc,
         {_SCALED_SUMS_SQL}
  FROM a0 JOIN v USING (vec_id) GROUP BY 1
), cm AS (
  SELECT cell,
         {_MEANS_SQL}
  FROM csums
), a1 AS (
  SELECT v.vec_id,
         MAX(struct_pack(cos := {_mdot_sql('v.v', 'cm')} / ({_list_norm_sql('v.v')} * {_mnorm_sql('cm')}),
                         negcell := -cm.cell)) AS best
  FROM v CROSS JOIN cm
  GROUP BY v.vec_id
), assigned AS (
  SELECT vec_id, -struct_extract(best, 'negcell') AS cell FROM a1
)
SELECT assigned.cell, COUNT(*) AS n_members,
       MIN(vec_id) AS min_vec_id, MAX(vec_id) AS max_vec_id,
       MIN({_mnorm_sql('cm')}) AS centroid_norm
FROM assigned JOIN cm ON assigned.cell = cm.cell
GROUP BY assigned.cell
"""


def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene profile — the vector-side twin of
    table_profile_orders: per label, how many vectors are zero (norm 0,
    un-normalizable → cosine NaN downstream) or carry non-finite
    elements, plus the norm range/mean over the FINITE vectors. Run
    before any similarity pipeline: one bad batch of NaN embeddings
    silently poisons every cosine it touches.

    The synthetic corpus is clean, so three pathological vectors are
    planted deterministically (label -1: all-zero, NaN element, +inf
    element — same technique as the URL-planted corpus view). NaN/inf
    vectors are EXCLUDED from min/max/mean: engines disagree on NaN
    ordering, and a report that says "norm_max: NaN" is useless anyway —
    the count columns carry the pathology. Mean = exact DECIMAL sum of
    per-vector norms (each norm itself a deterministic left-associated
    fold + one sqrt) divided by the finite count, cast once to double."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("v")
    )
    zeros = F.array_repeat(F.lit(0.0), DIM)
    bad = spark.range(1).select(
        F.lit(1_000_000).alias("vec_id"), F.lit(-1).cast("int").alias("label"),
        zeros.alias("v"),
    ).union(spark.range(1).select(
        F.lit(1_000_001).alias("vec_id"), F.lit(-1).cast("int").alias("label"),
        F.concat(F.array(F.lit(float("nan"))), F.slice(zeros, 2, DIM - 1)).alias("v"),
    )).union(spark.range(1).select(
        F.lit(1_000_002).alias("vec_id"), F.lit(-1).cast("int").alias("label"),
        F.concat(F.array(F.lit(float("inf"))), F.slice(zeros, 2, DIM - 1)).alias("v"),
    ))
    full = emb.union(bad)
    nonfinite = F.exists(
        "v", lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf")))
    )
    norm = l2_norm(F.col("v"))
    finite_norm = F.when(~nonfinite, norm)
    return full.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(F.when(nonfinite, 1).otherwise(0)).alias("n_nonfinite"),
        F.sum(F.when(~nonfinite & (norm == 0.0), 1).otherwise(0)).alias("n_zero"),
        F.min(finite_norm).alias("norm_min"),
        F.max(finite_norm).alias("norm_max"),
        # Rounded to 9 decimals as the DOCUMENTED precision of the
        # profile: the per-norm double→decimal(28,12) cast can round
        # differently between engines on a tie-landing double (observed
        # once in 20 k norms at sf1 — a 1e-12 sum divergence, last-2-ULP
        # mean divergence). 9 digits is far beyond the report's use and
        # far above the divergence, so both engines agree at every scale.
        F.round(
            F.sum(finite_norm.cast("decimal(28,12)")).cast("double")
            / F.sum(F.when(~nonfinite, 1).otherwise(0)),
            9,
        ).alias("norm_mean"),
    )


def _zeros_list_sql(prefix: str) -> str:
    return "[" + ", ".join([prefix] + ["0.0"] * (DIM - 1)) + "]"


EMBEDDING_NORM_STATS_SQL = f"""
WITH full_set AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  UNION ALL
  SELECT 1000000, -1, {_zeros_list_sql('0.0')}
  UNION ALL
  SELECT 1000001, -1, {_zeros_list_sql("CAST('nan' AS DOUBLE)")}
  UNION ALL
  SELECT 1000002, -1, {_zeros_list_sql("CAST('infinity' AS DOUBLE)")}
), scored AS (
  SELECT label,
         len(list_filter(v, x -> isnan(x) OR isinf(x))) > 0 AS nonfinite,
         {_list_norm_sql('v')} AS norm
  FROM full_set
)
SELECT label,
       COUNT(*) AS n_vectors,
       CAST(SUM(CASE WHEN nonfinite THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
       CAST(SUM(CASE WHEN NOT nonfinite AND norm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero,
       MIN(CASE WHEN NOT nonfinite THEN norm END) AS norm_min,
       MAX(CASE WHEN NOT nonfinite THEN norm END) AS norm_max,
       ROUND(CAST(SUM(CASE WHEN NOT nonfinite
                     THEN CAST(norm AS DECIMAL(28,12)) END) AS DOUBLE)
         / SUM(CASE WHEN NOT nonfinite THEN 1 ELSE 0 END), 9) AS norm_mean
FROM scored
GROUP BY label
"""


EXT_QUERIES = {
    "brute_force_topk": (brute_force_topk, BRUTE_FORCE_TOPK_SQL),
    "embedding_norm_stats": (embedding_norm_stats, EMBEDDING_NORM_STATS_SQL),
    "embedding_cluster_summary": (embedding_cluster_summary,
                                  EMBEDDING_CLUSTER_SUMMARY_SQL),
    "ivf_topk": (ivf_topk, IVF_TOPK_SQL),
    "lsh_bucketed_topk": (lsh_bucketed_topk, LSH_BUCKETED_TOPK_SQL),
    "embedding_label_centroids": (embedding_label_centroids, EMBEDDING_CENTROIDS_SQL),
    "embedding_near_dup_pairs": (embedding_near_dup_pairs, EMBEDDING_NEAR_DUP_SQL),
    "near_dup_clusters": (near_dup_clusters, NEAR_DUP_CLUSTERS_SQL),
    "near_dup_recall_eval": (near_dup_recall_eval, NEAR_DUP_RECALL_SQL),
    "ann_recall_eval": (ann_recall_eval, ANN_RECALL_SQL),
}
