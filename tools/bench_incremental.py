"""Incremental near-dup index maintenance bench (VERDICT r8 #4, r9 #1-3).

Measures per-batch wall time of near-dup index maintenance on a real
corpus in three modes:

- ``store`` (default, r10 — the production stream shape): the
  appendable nd_store path. The corpus is COPIED to a work dir, the
  store seeds once (off the per-batch clock — the stream does this at
  start, VERDICT r9 #3), then every batch computes a bounded delta via
  incremental_clusters.apply_batch_to_store AND appends to the corpus
  table — so the corpus fingerprint changes per batch exactly like the
  stream, and flat per-batch cost demonstrates the O(batch) claim.
- ``frame``: the r9 chained frame path (batch N's priors are batch
  N-1's in-memory outputs; fixed corpus snapshot) — the A/B baseline.
- ``frame-append``: the r9 append mode (frame path + corpus appends),
  kept to reproduce the keyed-corpus rebuild cost the store removes.

Batches are synthetic: BATCH_VECS stored vectors scaled x1.5 (same
direction -> same buckets/signatures) re-identified CONTIGUOUSLY above
the stored max id (max_id + 1 + running index), so any batch count
stays far below TWIN_OFFSET.

Prints ONE JSON line; optional argv[3] writes it to a file.

Usage: python tools/bench_incremental.py [SF_DIR] [N_BATCHES] [OUT_JSON]
                                         [store|frame|frame-append]
"""

from __future__ import annotations

import json
import os

os.environ.setdefault("SPARK_GRAFT_AQE_INIT_PARTS", "256")
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import host_stamps  # noqa: E402
from e_commerce_etl_pipeline_spark.extensions import (  # noqa: E402
    incremental_clusters as IC,
    similarity as S,
)
from e_commerce_etl_pipeline_spark.extensions.nd_store import (  # noqa: E402
    NearDupStore,
)
from e_commerce_etl_pipeline_spark.plans.queries import load_table  # noqa: E402
from e_commerce_etl_pipeline_spark.session import get_spark  # noqa: E402

BATCH_VECS = int(os.environ.get("SPARK_GRAFT_INC_BATCH", "400"))
# store mode compacts on the stream's cadence (DEFAULT_COMPACT_EVERY);
# override to force a compaction inside a short sf100 confirmation run
COMPACT_EVERY = int(os.environ.get("SPARK_GRAFT_COMPACT_EVERY", "0"))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    out_file = sys.argv[3] if len(sys.argv) > 3 else None
    mode = sys.argv[4] if len(sys.argv) > 4 else "store"
    assert mode in ("store", "frame", "frame-append"), mode
    from e_commerce_etl_pipeline_spark.streaming.incremental import (
        DEFAULT_COMPACT_EVERY,
    )

    compact_every = COMPACT_EVERY or DEFAULT_COMPACT_EVERY
    spark = get_spark("bench_incremental")

    src_dir = sf_dir
    if mode in ("store", "frame-append"):
        import shutil
        import tempfile

        # metadata-preserving copy (copy2 keeps mtimes): the corpus
        # fingerprint of the copy then matches the source, so the
        # stored full-build artifacts under <table>/_index ride along
        # and the seed reuses them instead of re-running the 810 s
        # (sf100) cluster build. Local-FS only — this is a bench rig.
        work = tempfile.mkdtemp(prefix="inc_bench_")
        shutil.copytree(
            f"{sf_dir.rstrip('/')}/embeddings.parquet",
            f"{work}/embeddings.parquet",
        )
        sf_dir = work

    max_id = S.corpus_max_vec_id(spark, sf_dir)
    seeds = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(BATCH_VECS * n_batches)
        .collect()
    )
    bits = S.lsh_bits(S.corpus_count(spark, sf_dir))

    seed_sec = None
    store = prior = prior_p1 = None
    if mode == "store":
        store = NearDupStore(spark, sf_dir, bits)
        t0 = time.time()
        store.seed()
        seed_sec = round(time.time() - t0, 3)
        n_prior = store.final_fold().count()
        # narrow caches + Arrow worker pool off the per-batch clock —
        # the same warm-start the stream performs before its first
        # trigger (VERDICT r9 #3)
        store.warm()
    else:
        prior = S.near_dup_clusters(spark, sf_dir)
        prior_p1 = S.near_dup_p1_clusters(spark, sf_dir)
        n_prior = prior.count()

    from tools.batch_metrics import BatchMetrics, Sampler, percentiles

    metrics = BatchMetrics(spark)
    per_batch = []
    for b in range(n_batches):
        rows = [
            (
                max_id + 1 + b * BATCH_VECS + i,
                [float(x) * 1.5 for x in r["embedding"]],
            )
            for i, r in enumerate(seeds[b * BATCH_VECS:(b + 1) * BATCH_VECS])
        ]
        batch = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).localCheckpoint()  # batch construction off the clock
        entry: dict = {}
        env_before = metrics.snapshot()
        sampler = Sampler(metrics)
        sampler.__enter__()
        if mode == "store":
            t0 = time.time()
            res = IC.apply_batch_to_store(spark, store, batch)
            entry["sec"] = round(time.time() - t0, 3)
            entry["stats"] = res.get("stats")
            entry["stages"] = {
                k: round(v, 3) for k, v in IC.LAST_TIMINGS.items()
            }
            # long-horizon state growth, reported per batch (VERDICT
            # r10 #1): delta-tail fan-in (seq dirs a fold unions) and
            # composed-remap sizes (driver dict entries a fold relabels
            # through) — the two curves compaction exists to bound
            latest = store.latest_seq()
            entry["seq_fanin"] = latest - store.upto_seq
            entry["remap_p1"] = len(store.composed_remap("p1", latest))
            entry["remap_final"] = len(
                store.composed_remap("final", latest)
            )
            # the stream's compaction cadence (near_dup_index_stream):
            # fold the delta tail into a fresh base generation every
            # compact_every applied batches — timed separately so the
            # series shows the spike AND the flat cost around it
            if entry["seq_fanin"] >= compact_every:
                t_c = time.time()
                store.compact()
                entry["compact_sec"] = round(time.time() - t_c, 3)
        else:
            t0 = time.time()
            grown, grown_p1 = IC.incremental_near_dup_update(
                spark, sf_dir, batch, prior=prior, prior_p1=prior_p1,
                bits=bits, check_ids=False, return_p1=True,
            )
            grown = grown.localCheckpoint()
            entry["n_assigned"] = grown.count()
            entry["sec"] = round(time.time() - t0, 3)
            entry["stages"] = {
                k: round(v, 3) for k, v in IC.LAST_TIMINGS.items()
            }
            prior, prior_p1 = grown, grown_p1
        if mode in ("store", "frame-append"):
            t_a = time.time()
            emb_type = (
                spark.read.parquet(f"{sf_dir}/embeddings.parquet")
                .schema["embedding"].dataType
            )
            batch.select(
                F.col("vec_id"),
                F.col("embedding").cast(emb_type).alias("embedding"),
            ).write.mode("append").parquet(f"{sf_dir}/embeddings.parquet")
            entry["append_sec"] = round(time.time() - t_a, 3)
        sampler.__exit__()
        # per-batch environment attribution (VERDICT r11 #1: the 8x
        # sf100 spike had identical work stats — GC/IO/writeback/load
        # deltas over the WHOLE iteration, incl. append and compact,
        # are what distinguishes a GC pause from a writeback stall
        # from outside CPU contention)
        entry["env"] = {
            **metrics.delta(env_before, metrics.snapshot()),
            **sampler.maxima,
        }
        per_batch.append(entry)
        print(f"# batch {b}: {entry['sec']:.2f}s", file=sys.stderr, flush=True)

    if mode == "store":
        # the maintained index must cover prior + every batch corpus row
        n_assigned = store.final_fold().count()
        expect = n_prior + 2 * BATCH_VECS * n_batches
        assert n_assigned == expect, (n_assigned, expect)

    out = {
        "metric": {
            "store": "near_dup_incremental_store",
            "frame": "near_dup_incremental_chained",
            "frame-append": "near_dup_incremental_append",
        }[mode],
        "sf_dir": sf_dir,
        **host_stamps(spark),
        "corpus_vecs": S.corpus_count(spark, sf_dir),
        "prior_assignment_rows": n_prior,
        "batch_vecs": BATCH_VECS,
        "n_batches": n_batches,
        "compact_every": compact_every if mode == "store" else None,
        "seed_sec": seed_sec,
        "per_batch": per_batch,
        "median_sec": sorted(p["sec"] for p in per_batch)[len(per_batch) // 2],
        # percentile truth alongside the median (VERDICT r11 #1/#2)
        **percentiles([p["sec"] for p in per_batch]),
    }
    from tools.provenance import sf_provenance
    out["provenance"] = sf_provenance(src_dir)
    line = json.dumps(out)
    if out_file:
        with open(out_file, "w") as fh:
            fh.write(line + "\n")
    print(line)
    if sf_dir != src_dir:
        # the work copy is corpus-sized (24 GB at sf100) — leaving it
        # behind filled the disk across rounds; artifact is written,
        # so drop it
        import shutil

        shutil.rmtree(sf_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
