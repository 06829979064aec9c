"""BPE driver trainer at PRODUCTION merge count (VERDICT r9 #5).

The r9 evidence topped out at 1,000 merges / 9.3 s on a synthetic wide
vocabulary; deployed tokenizers train 30-50k merges over a Heaps-law
vocabulary. This tool builds a deterministic realistic-vocab corpus
(log-uniform word ranks -> Zipf-ish frequencies; words composed of
syllables so merges have real structure to recover), runs the exact
sequential driver trainer (tokenizer._train_driver — incremental pair
statistics) for 32,768 merges, and checks a prefix VERBATIM against the
pure-Python reference implementation the test suite uses.

Corpus generation is pure JVM-side column expressions (xxhash64-derived
uniforms; no RNG, no timestamps — deterministic across runs):

    u(doc, i)  = pmod(xxhash64(doc * WORDS + i), 1e9) / 1e9
    rank       = floor(VMAX ** u)          (log-uniform -> Zipf-ish)
    word(rank) = concat of base-20 digit syllables (2-10 chars)

Prints ONE JSON line; optional argv[1] writes it to a file.

Usage: python tools/bench_bpe_32k.py [OUT_JSON] [N_MERGES]
"""

from __future__ import annotations

import json
import os

os.environ.setdefault("SPARK_GRAFT_AQE_INIT_PARTS", "64")
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import host_stamps, jvm_warmup  # noqa: E402
from e_commerce_etl_pipeline_spark.extensions.text import words_col  # noqa: E402
from e_commerce_etl_pipeline_spark.extensions.tokenizer import (  # noqa: E402
    _train_driver,
)
from e_commerce_etl_pipeline_spark.session import get_spark  # noqa: E402

# ~150k distinct words (Heaps-law low-mid range; the pure-Python exact
# trainer's per-merge cost scales with the words containing the merged
# pair, and a 300k-word vocabulary put 32k merges past a bench budget)
N_DOCS = 10_000
WORDS_PER_DOC = 200
VMAX = 1 << 18
SYLLABLES = [
    "ba", "ri", "ko", "ta", "mu", "se", "lo", "vi", "ne", "du",
    "pa", "ki", "fo", "ga", "he", "ju", "wa", "xe", "yo", "zu",
]
# the reference deliberately re-counts ALL pairs and rewrites ALL words
# per merge (that independence is its point) — ~55 s/merge at 191k
# words, so the verbatim check covers a short prefix here (the suite's
# tokenizer tests replay DEEP prefixes at smaller vocabularies)
REPLAY_PREFIX = 8


def _py_bpe_train(word_counts: dict[str, int], n_merges: int):
    """The test suite's independent reference (tests/test_tokenizer.py
    _py_bpe_train): full pair-recount per merge, same greedy
    application and (count DESC, pair ASC) tie-break."""
    vocab = {w: list(w) for w in word_counts}
    merges = []
    for rank in range(n_merges):
        stats: dict[tuple[str, str], int] = {}
        for w, n in word_counts.items():
            syms = vocab[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                stats[p] = stats.get(p, 0) + n
        if not stats:
            break
        (a, b), cnt = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, a + b, cnt))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges


def main() -> None:
    out_file = sys.argv[1] if len(sys.argv) > 1 else None
    n_merges = int(sys.argv[2]) if len(sys.argv) > 2 else 32_768
    spark = get_spark("bench-bpe-32k")
    jvm_warmup(spark)
    # stamped before training: nothing may sit between training and the
    # first emit below
    stamps = host_stamps(spark)

    syl = F.array(*[F.lit(s) for s in SYLLABLES])
    pos = F.explode(F.sequence(F.lit(0), F.lit(WORDS_PER_DOC - 1)))
    u = (
        F.pmod(
            F.xxhash64(F.col("doc_id") * WORDS_PER_DOC + F.col("i")),
            F.lit(1_000_000_000),
        ).cast("double")
        / 1.0e9
    )
    rank = F.floor(F.pow(F.lit(float(VMAX)), u)).cast("long")
    word = F.concat(*[
        F.when(
            F.col("rank") >= 20 ** k,
            F.element_at(
                syl,
                (F.pmod((F.col("rank") / F.lit(20 ** k)).cast("long"),
                        F.lit(20)) + 1).cast("int"),
            ),
        ).otherwise(F.lit(""))
        for k in range(5)
    ])
    docs = (
        spark.range(N_DOCS)
        .select(F.col("id").alias("doc_id"), pos.alias("i"))
        .withColumn("rank", rank)
        .withColumn("w", word)
        .groupBy("doc_id")
        .agg(F.array_join(F.collect_list("w"), " ").alias("text"))
    ).localCheckpoint()

    # the single corpus-sized pass: the distinct-word frequency table
    t0 = time.time()
    wc_rows = [
        (r["w"], r["n"])
        for r in docs.select(F.explode(words_col(F.col("text"))).alias("w"))
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    wc_sec = round(time.time() - t0, 3)
    n_vocab = len(wc_rows)
    total_words = sum(n for _, n in wc_rows)
    total_chars = sum(n * len(w) for w, n in wc_rows)

    # 32k exact sequential merges, incremental pair statistics
    print(f"# vocab {n_vocab}, starting {n_merges} merges", file=sys.stderr,
          flush=True)
    t0 = time.time()
    merges, tok_of = _train_driver(wc_rows, n_merges)
    train_sec = round(time.time() - t0, 3)
    print(f"# merges done in {train_sec}s", file=sys.stderr, flush=True)

    def _emit(out_dict):
        line = json.dumps(out_dict)
        if out_file:
            with open(out_file, "w") as fh:
                fh.write(line + "\n")
        print(line, flush=True)

    out = {
        "metric": "bpe_32k_driver_train",
        "unit": "sec",
        **stamps,
        "n_docs": N_DOCS,
        "words_per_doc": WORDS_PER_DOC,
        "vmax": VMAX,
        "n_vocab": n_vocab,
        "total_words": total_words,
        "wc_sec": wc_sec,
        "n_merges_requested": n_merges,
        "n_merges_done": len(merges),
        "train_sec": train_sec,
        "merges_per_sec": round(len(merges) / train_sec, 1),
        "total_chars": total_chars,
        "tokens_bpe": None,  # updated below
        "compression_chars_per_token": None,
        "baseline_chars_per_word": round(total_chars / total_words, 4),
        "replay_prefix": REPLAY_PREFIX,
        "replay_prefix_verbatim": None,  # updated below — see _emit
        "provenance": {
            "generator": "tools/bench_bpe_32k.py synthetic Heaps corpus",
            "deterministic": "xxhash64-derived uniforms, no RNG",
        },
    }
    # train results land FIRST — NOTHING sits between training and this
    # write (the first committed-artifact attempt died in the replay;
    # the second died in a compression-stats generator that rebuilt a
    # 191k-entry dict per word — quadratic — before the first emit)
    _emit(out)

    wc = dict(wc_rows)  # hoisted: see note above
    tokens_bpe = sum(wc[w] * t for w, t in tok_of.items())
    out["tokens_bpe"] = tokens_bpe
    out["compression_chars_per_token"] = round(total_chars / tokens_bpe, 4)
    _emit(out)

    t0 = time.time()
    ref = _py_bpe_train(wc, REPLAY_PREFIX)
    out["replay_sec"] = round(time.time() - t0, 3)
    out["replay_prefix_verbatim"] = (merges[:REPLAY_PREFIX] == ref)
    _emit(out)
    assert out["replay_prefix_verbatim"], "prefix replay diverged"


if __name__ == "__main__":
    main()
