"""Text analysis over the documents table: token counting, quality
scoring, fingerprinting, language-ID heuristic.

All hot-path expressions are JVM-side built-ins (split/regexp/md5/
higher-order array functions) — no Python UDFs — so they stay inside
whole-stage codegen and scale linearly with input: a pure map stage, no
shuffle, at any data size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.queries import load_table

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]

# deterministic marker-word sets for the language-ID heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "de"],
    "de": ["der", "die", "und"],
    "fr": ["le", "la", "et"],
    "zh": ["de", "le", "shi"],
}


def words_col(text: Column) -> Column:
    """Whitespace tokenization of lowercased text."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(words_col(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish proxy: count regex word/punct chunks (a public approximation:
    alpha runs, digit runs, single punctuation)."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0)))


def stopword_ratio(text: Column) -> Column:
    words = words_col(text)
    stops = F.filter(words, lambda w: w.isin(*STOPWORDS))
    return F.size(stops).cast("double") / F.size(words).cast("double")


def punct_count(text: Column) -> Column:
    return F.length(text) - F.length(F.regexp_replace(text, r"[.!?,;:]", ""))


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 over whitespace-normalized lowercase text
    (content-defined identity for exact dedup)."""
    return F.md5(F.regexp_replace(F.trim(F.lower(text)), r"\s+", " "))


def quality_score(text: Column) -> Column:
    """Deterministic quality heuristic in [0,1]: length band + stopword
    presence + punctuation moderation (integer/double arithmetic only)."""
    n_tok = token_count(text).cast("double")
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    stop_score = F.least(stopword_ratio(text) * 5.0, F.lit(1.0))
    punct_ratio = punct_count(text).cast("double") / F.length(text).cast("double")
    punct_score = F.when(punct_ratio <= 0.1, F.lit(1.0)).otherwise(F.lit(0.5))
    return (len_score + stop_score + punct_score) / F.lit(3.0)


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        token_count(t).cast("long").alias("n_tokens"),
        bpe_ish_token_count(t).cast("long").alias("n_bpe_tokens"),
        F.length(t).cast("long").alias("n_chars_computed"),
        (F.col("n_chars") == F.length(t)).alias("n_chars_ok"),
        stopword_ratio(t).alias("stop_ratio"),
        fingerprint(t).alias("fingerprint"),
        quality_score(t).alias("quality"),
    )


_STOP_IN = ",".join(f"'{w}'" for w in STOPWORDS)

TEXT_STATS_SQL = f"""
WITH base AS (
  SELECT doc_id, text, n_chars,
         string_split_regex(trim(lower(text)), '\\s+') AS words
  FROM documents
)
SELECT doc_id,
       CAST(len(words) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_computed,
       n_chars = length(text) AS n_chars_ok,
       CAST(len(list_filter(words, w -> w IN ({_STOP_IN}))) AS DOUBLE) / CAST(len(words) AS DOUBLE) AS stop_ratio,
       md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint,
       (least(CAST(len(words) AS DOUBLE) / 50.0, 1.0)
        + least(CAST(len(list_filter(words, w -> w IN ({_STOP_IN}))) AS DOUBLE) / CAST(len(words) AS DOUBLE) * 5.0, 1.0)
        + CASE WHEN CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) <= 0.1
               THEN 1.0 ELSE 0.5 END) / 3.0 AS quality
FROM base
"""


def lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus language profile: docs + chars + mean quality per lang."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
    )


LANG_DISTRIBUTION_SQL = """
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars, MIN(doc_id) AS first_doc
FROM documents GROUP BY lang
"""


def lang_id_from_words(words: Column) -> Column:
    """N-gram/marker-word language-ID heuristic over a *materialized*
    words column: argmax of marker hits, 'und' (undetermined) when
    nothing matches. Deterministic tie-break by language code order.

    Same CSE caveat as shingles_from_words: higher-order-function
    lambdas get no common-subexpression reuse, so an inline ``words``
    expression is re-split once per language (r12, measured 2.5× the
    query under the noop sink) — callers must select the split into a
    column first."""
    def marker_hits(markers: list[str]) -> Column:
        # NB: plain closure, no default-arg lambda params — PySpark's
        # higher-order functions treat every lambda parameter as a Column
        return F.size(F.filter(words, lambda w: w.isin(*markers)))

    best = F.lit("und")
    best_hits = F.lit(0)
    for code in sorted(LANG_MARKERS):
        hits = marker_hits(LANG_MARKERS[code])
        take = hits > best_hits
        best = F.when(take, F.lit(code)).otherwise(best)
        best_hits = F.when(take, hits).otherwise(best_hits)
    return best


def lang_id(text: Column) -> Column:
    """Single-expression form for tests/small inputs (re-splits per
    language); hot paths materialize words_col first."""
    return lang_id_from_words(words_col(text))


def lang_hits(words: Column) -> Column:
    """Marker-hit counts per language (sorted code order) as ONE array —
    exactly one filter pass per language over a *materialized* words
    column. Hot-path companion of lang_from_hits (r13): the sequential
    argmax above nests each running-max branch twice per level, so its
    expression tree holds ~2^L copies of the per-language filter pass
    (L=5 → ~30 passes/row instead of 5; no CSE inside HOF consumers) —
    measured 2.4× the whole query under the noop sink at sf0.1."""
    return F.array(*[
        F.size(F.filter(words, lambda w: w.isin(*LANG_MARKERS[c])))
        for c in sorted(LANG_MARKERS)
    ])


def lang_from_hits(hits_col: str) -> Column:
    """Argmax over the lang_hits column named ``hits_col``: the first code
    (in sorted order) achieving the maximum, 'und' when nothing matched.
    Equivalent to lang_id_from_words' sequential form: its strict `>`
    take keeps the earliest code on ties and leaves 'und' iff the max
    hit count is not > 0 (NULL words give NULL hits under ANSI size();
    both forms' comparisons then fail to 'und'). It takes a column NAME
    because the argmax references the hits once per language and HOF
    consumers get no CSE: an inline lang_hits expression would re-run
    every filter pass per reference, so callers select it first."""
    hits = F.col(hits_col)
    codes = sorted(LANG_MARKERS)
    mx = F.array_max(hits)
    pick = F.lit("und")
    for i in range(len(codes) - 1, -1, -1):
        pick = F.when(
            F.element_at(hits, i + 1) == mx, F.lit(codes[i])
        ).otherwise(pick)
    return F.when(mx > 0, pick).otherwise(F.lit("und"))


def lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", words_col(F.col("text")).alias("__w"))
        .select("doc_id", lang_hits(F.col("__w")).alias("__h"))
        .select("doc_id", lang_from_hits("__h").alias("lang_pred"))
    )


def _lang_id_sql() -> str:
    # same argmax, same tie-break order, built as nested CASE
    cases = []
    for code in sorted(LANG_MARKERS):
        marker_in = ",".join(f"'{w}'" for w in LANG_MARKERS[code])
        cases.append(
            f"len(list_filter(words, w -> w IN ({marker_in}))) AS hits_{code}"
        )
    hit_cols = ", ".join(cases)
    # sequential argmax replication
    expr = "'und'"
    best = "0"
    for code in sorted(LANG_MARKERS):
        expr = f"CASE WHEN hits_{code} > {best} THEN '{code}' ELSE {expr} END"
        best = f"greatest(hits_{code}, {best})"
    return f"""
WITH base AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS words FROM documents
), hits AS (
  SELECT doc_id, {hit_cols} FROM base
)
SELECT doc_id, {expr} AS lang_pred FROM hits
"""


ROLL_BASE = 257
ROLL_MOD = 1_000_000_007
ROLL_W = 8          # rolling window (chars)
BOUNDARY_MASK = 31  # boundary when h % 32 == 0 -> avg chunk ~32 chars


def rolling_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined document fingerprinting by polynomial rolling hash:
    hash every ROLL_W-char window (base-257 poly mod 1e9+7 — exact in
    64-bit on both engines), mark boundaries where h % 32 == 0, emit the
    boundary count and an md5 over the boundary-position sequence. Robust
    to edits outside a chunk — the content-defined-chunking primitive of
    large-corpus near-dup/incremental-dedup pipelines."""
    docs = load_table(spark, sf_dir, "documents")
    # h(i) = (sum_j code[i+j] * B^(W-1-j)) % M for every window start —
    # computed by the Arrow CDC kernel (cdc_boundaries_arrow), which
    # carries the same 64-bit no-overflow argument the expression form
    # documented: each term <= max_codepoint (0x10FFFF) * (M-1) <
    # 1.2e15, so the 8-term sum < 9.4e15 fits int64 with headroom.
    based = cdc_boundaries_arrow(docs)
    return based.select(
        "doc_id",
        F.size(F.col("pos")).cast("long").alias("n_boundaries"),
        F.md5(F.concat_ws(",", F.transform(F.col("pos"), lambda p: p.cast("string"))))
        .alias("chunk_fingerprint"),
    )


def _rolling_sql() -> str:
    powers = [pow(ROLL_BASE, ROLL_W - 1 - j, ROLL_MOD) for j in range(ROLL_W)]
    terms = " + ".join(f"codes[i + {j}] * {p}" for j, p in enumerate(powers))
    return f"""
WITH base AS (
  SELECT doc_id,
         list_transform(string_split_regex(text, ''), c -> CAST(ascii(c) AS BIGINT)) AS codes
  FROM documents
), hashed AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(codes) - {ROLL_W - 1}, 0)),
                        i -> ({terms}) % {ROLL_MOD}) AS hashes
  FROM base
), bpos AS (
  SELECT doc_id,
         list_filter(list_transform(generate_series(1, len(hashes)),
                                    i -> CASE WHEN hashes[i] % {BOUNDARY_MASK + 1} = 0 THEN i END),
                     x -> x IS NOT NULL) AS positions
  FROM hashed
)
SELECT doc_id,
       CAST(len(positions) AS BIGINT) AS n_boundaries,
       md5(COALESCE(list_aggregate(list_transform(positions, p -> CAST(p AS VARCHAR)), 'string_agg', ','), '')) AS chunk_fingerprint
FROM bpos
"""


PCTS = (50, 90, 99)  # exact order-statistic percentiles reported


def doc_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length percentiles by ORDER STATISTICS (value
    at rank ceil(q·n), ties broken by doc_id) — not an interpolating
    quantile, whose midpoint arithmetic differs between engines, and not
    approx_percentile, whose sketch merge order is nondeterministic.
    Integer selection ranks make the result engine-exact.

    Scale: one ranking window partitioned by language — the standard
    grouped-quantile shape; a skewed language funnels through one
    partition, at which point the coarse-bucket two-level trick
    (customer_spend_deciles) applies; corpus-wide percentiles would use
    it directly."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("__n"))
    ranked = docs.withColumn("__rn", F.row_number().over(w)).join(
        F.broadcast(counts), "lang"
    )
    # selection rank: ceil(n·p/100); comparing rn·100 against
    # (n·p+99) - ((n·p+99) % 100) = 100·ceil(n·p/100) keeps the test
    # integer-only (no DIV/floor-division dialect differences)
    aggs = [
        F.max(
            F.when(
                F.col("__rn") * 100
                == (F.col("__n") * p + 99) - ((F.col("__n") * p + 99) % 100),
                F.col("n_chars"),
            )
        ).alias(f"__raw_p{p}")
        for p in PCTS
    ]
    return (
        ranked.groupBy("lang")
        .agg(F.max("__n").alias("n_docs"), *aggs)
        .select(
            "lang", F.col("n_docs").cast("long"),
            *[F.col(f"__raw_p{p}").cast("long").alias(f"p{p}_chars") for p in PCTS],
        )
    )


DOC_LENGTH_PCT_SQL = f"""
WITH ranked AS (
  SELECT lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang, CAST(MAX(n) AS BIGINT) AS n_docs,
       {", ".join(
           f"CAST(MAX(CASE WHEN rn * 100 = (n * {p} + 99) - ((n * {p} + 99) % 100)"
           f" THEN n_chars END) AS BIGINT) AS p{p}_chars"
           for p in PCTS)}
FROM ranked GROUP BY lang
"""


Z_THRESHOLD = 1.5


def length_outlier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length z-scores with an outlier flag — the drift/
    anomaly gate of a corpus QC dashboard. Mean and variance come from
    EXACT integer sums (Σx, Σx², n as DECIMAL(38,0) — overflow-safe at
    any corpus size), turned into doubles by one division each with the
    identical expression tree in both engines, so even the z-scores
    hash-match. One tiny per-language aggregate broadcast back over one
    corpus scan."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    x = F.col("n_chars").cast("decimal(38,0)")
    stats = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
        F.sum(x).cast("decimal(38,0)").alias("__s1"),
        F.sum(x * x).cast("decimal(38,0)").alias("__s2"),
    )
    mean = F.col("__s1").cast("double") / F.col("__n").cast("double")
    var = (
        (F.col("__n") * F.col("__s2") - F.col("__s1") * F.col("__s1")).cast("double")
        / (F.col("__n") * F.col("__n")).cast("double")
    )
    z = (F.col("n_chars").cast("double") - mean) / F.sqrt(var)
    return (
        docs.join(F.broadcast(stats), "lang")
        .select(
            "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"),
            z.alias("length_z"),
            (F.abs(z) >= Z_THRESHOLD).alias("is_outlier"),
        )
    )


LENGTH_OUTLIER_SQL = f"""
WITH s AS (
  SELECT lang,
         CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
         CAST(SUM(CAST(n_chars AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1,
         CAST(SUM(CAST(n_chars AS DECIMAL(38,0)) * CAST(n_chars AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2
  FROM documents GROUP BY lang
)
SELECT doc_id, d.lang, CAST(n_chars AS BIGINT) AS n_chars,
       (CAST(n_chars AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
         / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) / CAST(n * n AS DOUBLE)) AS length_z,
       abs((CAST(n_chars AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
         / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) / CAST(n * n AS DOUBLE))) >= {Z_THRESHOLD}
         AS is_outlier
FROM documents d JOIN s ON d.lang = s.lang
"""


def _cdc_positions(t, v, mask):
    """1-based boundary window-start positions for one document (int64
    np.convolve windowed dot products — max term ≤ 0x10FFFF·(ROLL_MOD-1)
    < 1.2e15, 8-term sum < 9.4e15, fits int64 with headroom; characters
    are CODE POINTS via utf-32 decode ↔ the oracle's DuckDB ascii()
    semantics)."""
    import numpy as np

    cp = np.frombuffer(t.encode("utf-32-le"), dtype="<u4").astype(np.int64)
    if cp.size >= ROLL_W:
        h = np.convolve(cp, v)[ROLL_W - 1:cp.size] % ROLL_MOD
        return np.nonzero(h % mask == 0)[0] + 1
    return np.empty(0, dtype=np.int64)


def _roll_weights():
    # v[j] = B^j mod M, so convolve(cp, v)[W-1+i] = sum_j cp[i+j]*B^(W-1-j)
    import numpy as np

    return np.array(
        [pow(ROLL_BASE, j, ROLL_MOD) for j in range(ROLL_W)], dtype=np.int64
    )


def cdc_boundaries_arrow(df: DataFrame) -> DataFrame:
    """Content-defined-chunking boundary positions as ONE Arrow pass —
    the rolling-hash hot loop moved out of interpreted higher-order
    functions (the chain_edges_arrow lesson applied to CDC: the 8-term
    window hash over every char position was ~70% of
    duplicate_chunk_spans' warm time at sf0.1).

    Input (doc_id, text) -> output (doc_id, pos array<int>): the
    1-based window-start positions where the ROLL_W-char polynomial
    hash (base ROLL_BASE mod ROLL_MOD) satisfies h % (BOUNDARY_MASK+1)
    == 0 — bit-identical to the expression form it replaces (verified
    by tests/test_cdc_kernel.py::test_cdc_kernel_matches_expression).
    Per doc cost is C-speed; the pass is embarrassingly parallel and
    Arrow-batched. Since r13 the kernel no longer echoes ``text`` back
    across the Arrow boundary (guide §4.2 — its one remaining consumer,
    rolling_fingerprint_docs, needs only the positions; the text column
    used to be serialized JVM→Python→JVM and then dropped)."""
    import numpy as np
    import pandas as pd

    v = _roll_weights()
    mask = BOUNDARY_MASK + 1

    def inner(batches):
        for pdf in batches:
            out = []
            for t in pdf["text"]:
                # NULL text carries zero boundaries (matches the HOF
                # expression form this kernel replaced, which returned an
                # empty array for NULL input) — without this guard a single
                # null doc crashes the whole Arrow batch.
                if t is None or (isinstance(t, float) and pd.isna(t)):
                    out.append(np.empty(0, dtype=np.int32))
                    continue
                out.append(_cdc_positions(t, v, mask).astype(np.int32))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "pos": out})

    return df.select("doc_id", "text").mapInPandas(
        inner, schema="doc_id long, pos array<int>"
    )


def cdc_chunk_hashes_arrow(df: DataFrame, min_chunk: int) -> DataFrame:
    """Content-defined chunk hashes as ONE Arrow pass: boundary
    detection (same rolling hash as cdc_boundaries_arrow), chunk
    cutting, the min-length gate and the md5 all happen beside the text
    in the Python worker, and only narrow (doc_id, chunk_hash,
    chunk_len) rows cross back over the Arrow boundary (r13, guide
    §4.2). The r12 form returned (doc_id, text, pos) — full text
    serialized JVM→Python→JVM — then cut chunks with a
    transform/element_at expression tree, exploded full chunk STRINGS
    into rows, and md5'd them in the JVM; every byte of every ≥16-char
    chunk crossed the explode. Equivalence to that form:

    - cut points: Python slicing is by code point, exactly like Spark's
      substring, and the positions come from the same utf-32 decode;
    - the length gate and chunk_len count code points — Spark
      ``length()`` counts code points too (UTF8String.numChars);
    - md5 over the chunk's UTF-8 bytes — the JVM ``md5(string)`` casts
      string→binary as UTF-8 and prints lowercase hex, as hexdigest()
      does;
    - NULL text yields no chunks (the expression form produced one NULL
      chunk that the length gate dropped).

    Pinned by tests/test_cdc_kernel.py::test_chunk_hash_kernel_matches_
    expression (row-for-row against the r12 expression form)."""
    import hashlib

    import numpy as np
    import pandas as pd

    v = _roll_weights()
    mask = BOUNDARY_MASK + 1

    def inner(batches):
        for pdf in batches:
            ids, hashes, lens = [], [], []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                if t is None or (isinstance(t, float) and pd.isna(t)):
                    continue
                pos = _cdc_positions(t, v, mask)
                b = np.concatenate((
                    np.zeros(1, dtype=np.int64), pos,
                    np.array([len(t)], dtype=np.int64),
                ))
                for s, e in zip(b[:-1], b[1:]):
                    if e - s >= min_chunk:
                        ids.append(doc_id)
                        hashes.append(
                            hashlib.md5(t[s:e].encode("utf-8")).hexdigest()
                        )
                        lens.append(e - s)
            yield pd.DataFrame({
                "doc_id": pd.Series(ids, dtype="int64"),
                "chunk_hash": pd.Series(hashes, dtype="object"),
                "chunk_len": pd.Series(lens, dtype="int64"),
            })

    return df.select("doc_id", "text").mapInPandas(
        inner, schema="doc_id long, chunk_hash string, chunk_len long"
    )


MIN_CHUNK = 16  # chars — shorter content-defined chunks are noise


def duplicate_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate SUBSTRING detection (the published
    exact-substring-dedup recipe, approximated at chunk granularity):
    cut every document at its content-defined boundaries (the rolling-
    hash chunking of rolling_fingerprint_docs — same cut points even
    when the duplicated text sits at different offsets in each doc),
    hash each chunk ≥ MIN_CHUNK chars, and report chunks occurring in
    more than one document. Output per duplicated chunk: how many docs
    and occurrences carry it, its length, and the id range.

    Scale shape: chunking is a pure map stage (array math per doc); the
    only shuffle groups by chunk md5 — shuffle rows = chunks (≈ chars /
    32), payload a hash + 3 ints. Never pairwise: a chunk shared by k
    docs costs k rows, not k² comparisons."""
    docs = load_table(spark, sf_dir, "documents")
    # one Arrow pass emits narrow (doc_id, chunk_hash, chunk_len) rows
    # (r13 — the boundary kernel + substring/explode/md5 expression
    # stage it replaces round-tripped the full text across the Arrow
    # boundary and exploded whole chunk strings; see
    # cdc_chunk_hashes_arrow's equivalence notes)
    exploded = cdc_chunk_hashes_arrow(docs, MIN_CHUNK)
    return (
        exploded.groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.max("chunk_len").alias("chunk_len"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def _duplicate_chunk_sql() -> str:
    powers = [pow(ROLL_BASE, ROLL_W - 1 - j, ROLL_MOD) for j in range(ROLL_W)]
    terms = " + ".join(f"codes[i + {j}] * {p}" for j, p in enumerate(powers))
    return f"""
WITH base AS (
  SELECT doc_id, text,
         list_transform(string_split_regex(text, ''), c -> CAST(ascii(c) AS BIGINT)) AS codes
  FROM documents
), hashed AS (
  SELECT doc_id, text,
         list_transform(generate_series(1, greatest(len(codes) - {ROLL_W - 1}, 0)),
                        i -> ({terms}) % {ROLL_MOD}) AS hashes
  FROM base
), bpos AS (
  SELECT doc_id, text,
         list_concat(list_concat(
           [CAST(0 AS BIGINT)],
           list_filter(list_transform(generate_series(1, len(hashes)),
                                      i -> CASE WHEN hashes[i] % {BOUNDARY_MASK + 1} = 0 THEN i END),
                       x -> x IS NOT NULL)),
           [CAST(length(text) AS BIGINT)]) AS b
  FROM hashed
), chunks AS (
  SELECT doc_id,
         UNNEST(list_transform(generate_series(1, len(b) - 1),
                               i -> substr(text, CAST(b[i] + 1 AS INT),
                                           CAST(b[i + 1] - b[i] AS INT)))) AS chunk
  FROM bpos
), hashed_chunks AS (
  SELECT doc_id, md5(chunk) AS chunk_hash,
         CAST(length(chunk) AS BIGINT) AS chunk_len
  FROM chunks WHERE length(chunk) >= {MIN_CHUNK}
)
SELECT chunk_hash, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occurrences,
       MAX(chunk_len) AS chunk_len, MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM hashed_chunks
GROUP BY chunk_hash HAVING COUNT(DISTINCT doc_id) >= 2
"""


EXT_QUERIES = {
    "text_stats": (text_stats, TEXT_STATS_SQL),
    "duplicate_chunk_spans": (duplicate_chunk_spans, _duplicate_chunk_sql()),
    "doc_length_percentiles": (doc_length_percentiles, DOC_LENGTH_PCT_SQL),
    "length_outlier_docs": (length_outlier_docs, LENGTH_OUTLIER_SQL),
    "lang_distribution": (lang_distribution, LANG_DISTRIBUTION_SQL),
    "lang_id_docs": (lang_id_docs, _lang_id_sql()),
    "rolling_fingerprint_docs": (rolling_fingerprint_docs, _rolling_sql()),
}
