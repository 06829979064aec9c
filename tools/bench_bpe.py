"""BPE training + encoding at scale: is the merge loop really
corpus-size-independent?

The design claim (extensions/tokenizer.py): training touches the corpus
exactly once (the word-count aggregate); every merge iteration then
runs over the DISTINCT-word vocabulary, which on the synthetic corpus
(tiny vocab by construction) and on real text (Heaps' law) grows far
slower than the corpus. This tool splits the measured cost along that
exact boundary at any SF:

- wc_sec: the corpus-sized pass alone (build + count of the word-count
  aggregate, cold);
- loop_sec: the 20 merge iterations alone (argmax + checkpoint per
  iteration over the already-built vocab) — the number that must stay
  ~flat across decades;
- train_cold_sec: end-to-end cold build of both stored artifacts
  (_index invalidated first);
- train_warm_sec / encode_warm_sec: fingerprint-keyed artifact reads;
- encode_cold_sec: the vocab join + per-doc aggregate, full pass forced.

Prints ONE JSON line; optional argv[2] writes it to a file.

Usage: python tools/bench_bpe.py [SF_DIR] [OUT_JSON]
       (default SF_DIR /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os

os.environ.setdefault("SPARK_GRAFT_AQE_INIT_PARTS", "256")
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import host_stamps, jvm_warmup  # noqa: E402
from e_commerce_etl_pipeline_spark.extensions import tokenizer  # noqa: E402
from e_commerce_etl_pipeline_spark.operators import index_store  # noqa: E402
from e_commerce_etl_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("bench-bpe")
    jvm_warmup(spark)

    docs_path = index_store.table_dir(sf_dir, "documents")
    out: dict = {
        "metric": "bpe_scale",
        "unit": "sec",
        "sf_dir": sf_dir,
        "n_merges": tokenizer.N_MERGES,
        **host_stamps(spark),
        "n_docs": spark.read.parquet(docs_path).count(),
    }

    # corpus-sized pass alone, cold
    index_store.invalidate(docs_path, spark)
    t0 = time.time()
    out["n_vocab"] = tokenizer._word_counts(spark, sf_dir).count()
    out["wc_sec"] = round(time.time() - t0, 3)

    # merge loop alone (word counts stay memoized from above)
    t0 = time.time()
    merges, vocab = tokenizer._train_loop(spark, sf_dir)
    n_merges_done = merges.count()
    out["loop_sec"] = round(time.time() - t0, 3)

    # end-to-end cold (stored artifacts rebuilt from scratch)
    index_store.invalidate(docs_path, spark)
    t0 = time.time()
    out["merges_rows"] = tokenizer.bpe_train_merges(spark, sf_dir).count()
    out["train_cold_sec"] = round(time.time() - t0, 3)
    assert out["merges_rows"] == n_merges_done

    t0 = time.time()
    tokenizer.bpe_train_merges(spark, sf_dir).count()
    out["train_warm_sec"] = round(time.time() - t0, 3)

    # encode: force the full pass (sum every stat column so pruning
    # can't drop the join)
    t0 = time.time()
    enc = (
        tokenizer.bpe_encode_stats(spark, sf_dir)
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tokens_bpe").alias("tokens"),
            F.sum("n_chars").alias("chars"),
        )
        .collect()[0]
    )
    out["encode_cold_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    tokenizer.bpe_encode_stats(spark, sf_dir).agg(
        F.sum("n_tokens_bpe")
    ).collect()
    out["encode_warm_sec"] = round(time.time() - t0, 3)
    out["encoded_docs"] = enc["docs"]
    out["tokens_bpe"] = int(enc["tokens"])
    out["compression"] = round(enc["chars"] / enc["tokens"], 4)

    # deep training (r9, VERDICT r8 #4): a production-scale merge count
    # must NOT cost one driver round-trip per merge. Request 1000
    # merges through BOTH trainer paths and record passes (≈ driver
    # jobs) vs merges actually learned — jobs << merges is the claim.
    # (The tiny synthetic vocab converges when every word is one token;
    # deep_converged records that.)
    for label, kwargs in (
        ("deep_driver", {}),                      # collected-vocab path
        ("deep_dist", {"driver_max": 0}),         # distributed batched loop
    ):
        st: dict = {}
        t0 = time.time()
        m_df, _ = tokenizer._train_loop(
            spark, sf_dir, n_merges=1000, stats_out=st, **kwargs
        )
        n_done = m_df.count()
        out[f"{label}_loop_sec"] = round(time.time() - t0, 3)
        out[f"{label}_merges"] = n_done
        out[f"{label}_passes"] = st["passes"]
        out[f"{label}_merges_per_pass"] = round(n_done / st["passes"], 2)
    out["deep_requested"] = 1000
    out["deep_converged"] = out["deep_driver_merges"] < 1000

    # wide-vocab deep run: 60k distinct words (the test_train_multi_
    # partition fixture shape) trains a full 1000 merges without
    # converging — the regime a real tokenizer runs in. Driver path
    # only (the claim under bench: merge count costs O(1) Spark jobs).
    wide_dir = "/tmp/bench_bpe_wide_corpus"
    if not os.path.exists(wide_dir + "/documents.parquet"):
        words = spark.range(60_000).select(
            F.concat(
                F.lit("w"),
                F.substring(F.md5(F.col("id").cast("string")), 1, 6),
            ).alias("w")
        )
        words.groupBy().agg(
            F.concat_ws(" ", F.collect_list("w")).alias("text")
        ).selectExpr(
            "CAST(0 AS LONG) AS doc_id", "text", "'en' AS lang"
        ).write.mode("overwrite").parquet(wide_dir + "/documents.parquet")
    st_wide: dict = {}
    t0 = time.time()
    wide_merges, _ = tokenizer._train_loop(
        spark, wide_dir, n_merges=1000, stats_out=st_wide
    )
    out["wide_vocab_merges"] = wide_merges.count()
    out["wide_vocab_loop_sec"] = round(time.time() - t0, 3)
    out["wide_vocab_passes"] = st_wide["passes"]
    out["wide_vocab_driver_side"] = bool(st_wide.get("driver_side"))

    from tools.provenance import sf_provenance
    out["provenance"] = sf_provenance(sf_dir)
    line = json.dumps(out)
    print(line)
    if len(sys.argv) > 2:
        with open(sys.argv[2], "w") as f:
            f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
