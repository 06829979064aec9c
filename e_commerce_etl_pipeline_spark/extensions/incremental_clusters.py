"""Incremental near-duplicate cluster maintenance.

At production scale the near-dup cluster index (similarity.
near_dup_clusters — the chain-link LSH path) cannot be rebuilt per
ingest batch: a full rebuild re-derives buckets, chain projections and
cosine-verified edges for EVERY stored vector (wide reads of the
embedding column across the whole corpus), where a batch only needs
vector-level work proportional to the buckets it touches. This module
grows the stored assignment instead:

  1. The batch (plus its planted perturbed twins, mirroring the corpus
     construction) is bucketed per LSH table with the BASE corpus's
     bit-width — incremental updates hold the hash granularity fixed;
     re-tier (full rebuild) when the corpus grows past the next
     ``lsh_bits`` step.
  2. Per table, only AFFECTED buckets (those receiving a new member)
     are re-ranked: existing members of those buckets union the batch,
     the same (rotated sign signature, normalized projection, vec_id)
     chain window orders them, and W-successor candidates are kept only
     where at least one side is NEW.
  3. Candidates are cosine-verified (>= similarity.NEAR_DUP_COS), old
     endpoints are CONTRACTED to their prior canonical id, and min-label
     connected components runs over the contracted graph ONLY (nodes =
     batch corpus + touched prior canonicals) — exact, because a prior
     canonical already IS the min vec_id of its cluster, so min-label
     over the contracted graph equals min-label over the full graph.
     The grown assignment is then a broadcast relabel of the narrow
     prior (vec_id, canonical_id) scan plus the batch's new rows — no
     corpus-sized iteration anywhere.
  4. (r9, matching the two-pass full build) The batch's effect on the
     PASS-2 boundary corpus is derived from the contracted components
     result: every family the batch edges reached (old cc1 nodes'
     families) plus the batch's own new families may have changed
     boundary rows, so the (table, bucket)s holding any member of a
     touched family are re-enumerated — current boundary rows, wide
     pass-2 window, all verified edges join the final growth. A
     family's boundary rows change only with ITS membership, so
     unaffected buckets kept their exact pass-2 row set and order —
     already implied by the prior assignment.

Correctness shape (asserted by tests/test_incremental_clusters.py
against a from-scratch rebuild):

- PASS-1 direction is provable: for two EXISTING vectors, inserting
  members into a bucket can only push their chain ranks further apart —
  so any old-old pass-1 edge a full rebuild of the grown corpus would
  emit already existed in the base build, and edges involving a new
  vector are re-derived here in the identical full-bucket order.
- PASS-2 direction is provable except for one corner: the rebuild's
  rep set comes from its own pass-1 components, while the incremental
  rep set reflects STALE verified edges the grown enumeration would no
  longer emit (merge-monotonicity keeps them). A rep that exists for
  the rebuild but not incrementally arises only when such a stale edge
  bridged two rebuild families — i.e. only where the incremental
  RETAINED a true cosine-verified pair that the rebuild's bounded-W
  enumeration lost; in that corner the two sides each hold a true pair
  the other might miss. Outside it, every rebuild pass-2 edge lands in
  an unchanged bucket (implied by the prior) or a churn-affected one
  (re-enumerated here).
- The converse direction is not exact: the base assignment may carry an
  edge the grown bucket order would no longer enumerate, so incremental
  clustering is merge-monotone (old clusters merge, never split).
  Every edge that ever entered the graph was cosine-verified, so the
  over-merge is bounded to genuine near-duplicate chains — the same
  transitivity semantics the full build has, evaluated on a growing
  edge set.

TWO implementations share that algorithm (r10):

- ``incremental_near_dup_update`` — the FRAME path: priors are
  DataFrames, the keyed corpus is the per-snapshot cache, the grown
  assignments come back as full frames. Per-batch cost carries O(n)
  narrow scans (canonical lookup + broadcast relabel) and, in append
  mode, the keyed-corpus cache rebuild. Right for one-shot grows and
  as the distributed fallback for backfill-scale batches.
- ``near_dup_batch_delta`` / ``apply_batch_to_store`` — the STORE
  path (extensions.nd_store): every read is a pruned store lookup
  (bucket IN-lists against the sorted keyed base, id lookups against
  generation-cached narrow bases), clone-mass pass-2 edges contract
  to canonicals IN THE PLAN before the driver sees them, and the
  outputs are bounded deltas (remap dicts + new rows) — per-batch
  work is proportional to the batch's touched buckets and families,
  never the corpus. This is what near_dup_index_stream runs;
  tests/test_nd_store.py asserts exact assignment equality between
  the two paths (single batch, chained, post-compaction, and through
  the fallback).

Reference behavior parity: the reference maintains its warehouse
incrementally (15-minute change windows) rather than re-extracting the
world per cycle (src/pipelines/incremental loaders); this operator is
that discipline applied to the cluster index.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.queries import load_table
from . import similarity as S
from .components import connected_components


def batch_near_dup_corpus(new_vecs: DataFrame) -> DataFrame:
    """The corpus transform applied to an ingest batch: each new base
    vector plus its perturbed twin (same construction as
    similarity._near_dup_corpus), normalized. ``new_vecs``:
    (vec_id, embedding array). Caller contract: vec_id < TWIN_OFFSET
    and disjoint from the stored corpus (checked in
    incremental_near_dup_update)."""
    emb = new_vecs.select(
        "vec_id", S._as_double(F.col("embedding")).alias("v")
    )
    twins = emb.select(
        (F.col("vec_id") + S.TWIN_OFFSET).alias("vec_id"),
        F.transform(F.col("v"), lambda x: x + F.lit(1e-4)).alias("v"),
    )
    return S.with_norm(emb.unionByName(twins))


def _tabled_all(df: DataFrame, is_new: bool, bits: int) -> DataFrame:
    """similarity.tabled_buckets (one exploded scan, all tables'
    buckets, same helper the full build uses — identical bucketing by
    construction) plus the old/new flag. Chain-ordering keys are NOT
    computed here: add them with similarity.with_chain_keys AFTER the
    affected-bucket filter, so the signature expressions run only on
    surviving rows."""
    return S.tabled_buckets(df, bits).withColumn(
        "__new", F.lit(is_new)
    )


def _new_member_edges(
    spark: SparkSession, sf_dir: str, batch_corpus: DataFrame,
    batch_keyed: DataFrame, batch_id_set: set[int],
) -> DataFrame:
    """Pass-1 increment: cosine-verified chain edges involving >=1
    batch vector, over ONLY the (table, bucket) pairs the batch
    touches, in the same full-bucket chain order a rebuild would use —
    formed by the SAME Arrow kernel the full build uses (r9: the former
    window + explode + rank-join localCheckpointed the affected rows
    WIDE (v + signatures), the dominant per-batch cost at sf10). The
    new-member restriction is applied AFTER the kernel (two broadcast
    batch-id marks on the narrow edge list) and is load-bearing twice:
    old-old adjacencies are redundant under pure insertion (they were
    enumerated by the prior build — the provable pass-1 direction), and
    keeping them would flood the contracted components result with
    untouched families, turning the stage-2 touched-family scope into
    nearly the whole corpus (measured 40-74 s/batch instead of
    seconds)."""
    # ``batch_keyed``: the caller's materialized keyed batch frame
    # (twin build + 4-table explode + signature when-chains), one
    # localCheckpoint shared with stage 2's two consumers (r13).
    # affected buckets: a batch is small relative to the corpus, so the
    # base-side filter over the PERSISTED keyed corpus never re-scans
    # wide data per batch. Caller contract: the keyed batch's tier equals
    # the cached frame's tier — the stream refuses on a tier change
    # before calling. Micro-batch route (r13): the touched (t, bucket)
    # list is bounded by N_TABLES·|batch corpus| and batch_keyed is
    # already materialized, so one tiny collect turns the filter into
    # per-table IN lists — the same ≤1024-value pushdown convention as
    # the nd_store readers — instead of a distinct-aggregate +
    # broadcast-exchange stage pair per invocation. Backfill batches
    # keep the broadcast semi-join.
    bt = None
    if len(batch_id_set) <= 512:
        tb = batch_keyed.select("t", "bucket").collect()
        by_t: dict[int, set] = {}
        for r in tb:
            by_t.setdefault(r[0], set()).add(r[1])
        if len(tb) <= 1024:
            cond = F.lit(False)
            for t in sorted(by_t):
                cond = cond | (
                    (F.col("t") == t)
                    & F.col("bucket").isin(*sorted(by_t[t]))
                )
            bt = S.nd_keyed_corpus(spark, sf_dir).filter(cond)
    if bt is None:
        touched = batch_keyed.select("t", "bucket").distinct()
        bt = S.nd_keyed_corpus(spark, sf_dir).join(
            F.broadcast(touched), ["t", "bucket"], "left_semi"
        )
    members = bt.unionByName(batch_keyed)
    edges = S.chain_edges_arrow(
        members, ["t", "bucket"], S.NEAR_DUP_CHAIN_W, S.NEAR_DUP_COS
    )
    if len(batch_id_set) <= 1024:
        # the batch id set is already on the caller's driver (the same
        # bounded set _grow_assignment gets): an IN filter on the narrow
        # edge list replaces two broadcast-mark joins whose build sides
        # each re-derived the batch subtree (r13, guide §2.4) — same
        # predicate, src ∈ S or dst ∈ S
        ids = sorted(batch_id_set)
        return edges.filter(
            F.col("src").isin(*ids) | F.col("dst").isin(*ids)
        ).select("src", "dst")
    return _mark_filter_edges(edges, batch_corpus)


def _mark_filter_edges(edges: DataFrame, batch_corpus: DataFrame) -> DataFrame:
    """Backfill-scale batch-id restriction: broadcast-mark both
    endpoints against the batch id list and keep edges touching >=1
    batch vector (the pre-r13 shape, retained for batches whose id set
    exceeds the IN-pushdown threshold)."""
    batch_ids = batch_corpus.select("vec_id")
    ns = batch_ids.withColumnRenamed("vec_id", "src").withColumn(
        "__ns", F.lit(True)
    )
    nd = batch_ids.withColumnRenamed("vec_id", "dst").withColumn(
        "__nd", F.lit(True)
    )
    return (
        edges.join(F.broadcast(ns), "src", "left")
        .join(F.broadcast(nd), "dst", "left")
        .filter(F.col("__ns").isNotNull() | F.col("__nd").isNotNull())
        .select("src", "dst")
    )


# driver union-find cutoff for the contracted graph; above it the
# iterative distributed pass runs (huge backfill batches)
DRIVER_CC_MAX_EDGES = 200_000

# Stage wall-times of the most recent incremental_near_dup_update call
# (seconds, keyed by stage) — tools/bench_incremental.py reports them so
# the fixed-overhead profile (VERDICT r8 #4) is measured, not guessed.
LAST_TIMINGS: dict[str, float] = {}


def _grow_assignment(
    spark: SparkSession,
    prior: DataFrame,
    edges: DataFrame,
    batch_corpus: DataFrame,
    driver_cc_max_edges: int,
    batch_id_set: set[int] | None = None,
) -> tuple[DataFrame, DataFrame, dict | None]:
    """Grow ``prior`` (vec_id, canonical_id) with cosine-verified
    ``edges`` (src, dst — endpoints may be batch members, prior
    members, or prior-absent singletons) plus self-edges registering
    every batch-corpus member. Old endpoints CONTRACT to their prior
    canonical id (prior canonical = min vec_id of its cluster, so
    min-label over the contracted graph equals min-label over the full
    graph — exact, not an approximation); the components pass therefore
    runs on a graph sized by the BATCH, never the corpus; the only
    corpus-sized work is one broadcast relabel scan of the narrow
    prior. Returns (grown assignment, old touched node ids, fast-path
    info) — the second is what the caller's stage-2 churn scope needs;
    the third is ``{"old_ids", "cid_of"}`` when the driver fast path
    ran (None otherwise), letting the caller derive touched-family
    canonicals without re-joining the prior (guide §5: that mapping is
    already on the driver). The grown
    assignment covers prior nodes, the whole batch corpus, AND any
    prior-absent old vector that gained an edge (an old pass-1
    singleton absorbed by the batch — dropping it would leave an
    accepted vector unassigned).

    Caller contract: ``edges`` must already be materialized
    (localCheckpoint) — it is counted and consumed repeatedly here.

    Fast path (edges <= driver_cc_max_edges AND ``batch_id_set``
    given): the ENTIRE contracted-components stage runs driver-side
    from two bounded collects — the edge list and the touched prior
    canonicals — with contraction, union-find, remap and the non-prior
    assignments all computed locally (r9, VERDICT r8 #4: the former
    DataFrame formulation spent its time in per-batch checkpoint jobs
    and contraction-join plan layers, not in tasks). The same
    bounded-metadata class as the repo's top-k collects. Above the
    threshold (huge backfill batches) everything stays distributed."""
    # One BOUNDED collect decides the route AND feeds the fast path
    # (replacing the former count()-then-collect() pair of jobs, guide
    # §5): the limit caps driver transfer at driver_cc_max_edges + 1
    # rows, and an over-limit probe is discarded in favor of the
    # distributed path — a micro-batch (the overwhelmingly common case)
    # pays exactly one job on the pre-checkpointed edge list.
    edge_rows = None
    if batch_id_set is not None:
        probe_rows = edges.limit(driver_cc_max_edges + 1).collect()
        if len(probe_rows) <= driver_cc_max_edges:
            edge_rows = [(r[0], r[1]) for r in probe_rows]
    batch_ids = batch_corpus.select("vec_id")
    if edge_rows is not None:
        old_ids = sorted(
            {e for pair in edge_rows for e in pair} - batch_id_set
        )
        if old_ids:
            old_df = spark.createDataFrame(
                [(i,) for i in old_ids], "vec_id bigint"
            )
            cid_of = {
                r[0]: r[1]
                for r in prior.join(
                    F.broadcast(old_df), "vec_id"
                ).collect()
            }
        else:
            cid_of = {}

        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        def union(a: int, b: int) -> None:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo  # min id stays the root -> min-label

        for s, d in edge_rows:
            union(cid_of.get(s, s), cid_of.get(d, d))
        for b in batch_id_set:
            parent.setdefault(b, b)

        remap_rows = []
        for c in set(cid_of.values()):
            parent.setdefault(c, c)
            r = find(c)
            if r != c:
                remap_rows.append((c, r))
        non_prior_rows = [
            (b, find(b)) for b in sorted(batch_id_set)
        ] + [
            (o, find(cid_of.get(o, o)))
            for o in old_ids if o not in cid_of  # absorbed old singletons
        ]
        remap = spark.createDataFrame(
            remap_rows or [], "__old bigint, __new bigint"
        )
        non_prior = spark.createDataFrame(
            non_prior_rows, "vec_id bigint, canonical_id bigint"
        )
        old_nodes = spark.createDataFrame(
            [(i,) for i in old_ids] or [], "vec_id bigint"
        )
        fast_info = {"old_ids": old_ids, "cid_of": cid_of}
    else:
        fast_info = None
        old_nodes = (
            edges.select(F.col("src").alias("vec_id"))
            .unionByName(edges.select(F.col("dst").alias("vec_id")))
            .join(batch_ids, "vec_id", "left_anti")
            .distinct()
        )
        # tiny -> broadcast; the narrow prior streams map-side (no
        # shuffle); checkpointed: it feeds both contractions + the remap
        old_cid = prior.join(F.broadcast(old_nodes), "vec_id").select(
            "vec_id", F.col("canonical_id").alias("__cid")
        ).localCheckpoint()

        def _contract(e: DataFrame, end: str) -> DataFrame:
            m = old_cid.select(
                F.col("vec_id").alias(end),
                F.col("__cid").alias(f"__c_{end}"),
            )
            return e.join(F.broadcast(m), end, "left").withColumn(
                end, F.coalesce(F.col(f"__c_{end}"), F.col(end))
            ).drop(f"__c_{end}")

        contracted = _contract(_contract(edges, "src"), "dst")
        # isolated new vectors (no edge at all) must still appear in
        # the assignment: self-edges register them as singleton
        # components. Deliberate asymmetry vs the full build (which,
        # like dedup_clusters, omits edge-less singletons): an ingest
        # pipeline needs every ACCEPTED vector assigned — callers
        # diffing against a rebuild should expect the incremental
        # assignment ⊇ rebuild on exactly these singleton rows.
        selves = batch_corpus.select(
            F.col("vec_id").alias("src"), F.col("vec_id").alias("dst")
        )
        cc = connected_components(
            contracted.unionByName(selves), max_iter=64
        ).localCheckpoint()
        remap = cc.join(
            old_cid.select(F.col("__cid").alias("node")).distinct(), "node"
        ).select(
            F.col("node").alias("__old"), F.col("component").alias("__new")
        ).filter(F.col("__old") != F.col("__new"))
        non_prior = (
            cc.select(
                F.col("node").alias("vec_id"),
                F.col("component").alias("canonical_id"),
            )
            .join(prior.select("vec_id"), "vec_id", "left_anti")
        )

    relabeled = prior.join(
        F.broadcast(remap), prior.canonical_id == F.col("__old"), "left"
    ).select(
        "vec_id",
        F.coalesce(F.col("__new"), F.col("canonical_id")).alias(
            "canonical_id"
        ),
    )
    return relabeled.unionByName(non_prior), old_nodes, fast_info


def _touched_family_members(
    prior_p1: DataFrame, touched_old: DataFrame
) -> DataFrame:
    """Every member (vec_id) of every pass-1 family reached by a
    touched old node — the stage-2 re-enumeration scope.

    ``touched_old`` holds raw edge-endpoint MEMBER ids, not canonicals
    (ADVICE r9 #1: semi-joining prior_p1.canonical_id against raw
    member ids would see a family reached via a NON-canonical member as
    only that member, so buckets holding the family's other members
    would not be re-enumerated after a pass-1 merge changed their
    boundary rows — violating the incremental-supersets-rebuild
    guarantee). So: map each touched node to its family canonical
    first (prior-absent singletons are their own canonical), then
    enumerate members of those canonicals.

    Join shape: touched_old is batch-bounded, prior_p1 corpus-sized —
    every join here broadcasts the small side and streams the narrow
    prior map-side. The canonical set deliberately includes ALL touched
    ids too (not just prior-absent ones): a non-canonical member id
    never appears as prior_p1.canonical_id (a canonical is the min id
    of its family), so the extra filter values match nothing — which
    avoids a left-anti join against the corpus-sized prior just to
    identify the singletons."""
    touched_canon = (
        prior_p1.join(F.broadcast(touched_old), "vec_id")
        .select("canonical_id")
        .unionByName(
            touched_old.select(F.col("vec_id").alias("canonical_id"))
        )
        .distinct()
    )
    return (
        prior_p1.join(F.broadcast(touched_canon), "canonical_id", "left_semi")
        .select("vec_id")
        .unionByName(
            touched_canon.select(F.col("canonical_id").alias("vec_id"))
        )
        .distinct()
    )


def incremental_near_dup_update(
    spark: SparkSession, sf_dir: str, new_vecs: DataFrame,
    check_ids: bool = True,
    driver_cc_max_edges: int = DRIVER_CC_MAX_EDGES,
    prior: DataFrame | None = None,
    prior_p1: DataFrame | None = None,
    bits: int | None = None,
    return_p1: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Grow the stored near-dup cluster assignment with an ingest batch
    WITHOUT rebuilding it. Returns the updated (vec_id, canonical_id)
    covering old and new vectors (see module docstring for semantics and
    the superset guarantee vs a full rebuild); with ``return_p1`` also
    returns the grown PASS-1 assignment (chained updates must thread it
    forward — it is what the next batch diffs rep churn against).

    Two stages, mirroring the r9 two-pass full build (similarity.
    near_dup_clusters):

    1. PASS-1 increment: new-member chain edges over batch-touched
       buckets grow the stored pass-1 assignment (exact contracted
       components — see _grow_assignment).
    2. PASS-2 increment: the batch changes the REP SET (one canonical
       per pass-1 family + singletons) — new reps appear (batch
       canonicals/singletons), old reps disappear (canonicals absorbed
       by a merge). Removal COMPRESSES chain ranks, so unlike pass 1
       the increment cannot assume old-old adjacencies are stale: every
       (table, bucket) holding a churned rep is re-enumerated over the
       CURRENT rep set in full, and all verified edges feed the final
       growth (already-co-clustered pairs contract to self-loops).
       Buckets with NO rep churn kept their exact rep membership and
       order, so their pass-2 enumeration is unchanged from the prior
       build — already implied by the prior assignment.

    ``new_vecs``: (vec_id, embedding) of vectors NOT in the stored
    corpus; their perturbed twins are synthesized here exactly as the
    corpus build does. ``check_ids`` runs the id-space guards (max id
    under TWIN_OFFSET, disjointness from the stored corpus — an
    aggregate and an anti-join count; disable only when the caller's id
    allocator already guarantees both).

    ``prior`` / ``prior_p1`` override where the existing final / pass-1
    assignments come from (default: the stored artifacts for
    ``sf_dir``) and ``bits`` pins the hash tier explicitly — all for
    CHAINED updates (streaming.near_dup_index_stream), where batch N's
    priors are batch N-1's outputs and the tier stays the stream-start
    tier.

    Production wiring: append the batch to the embeddings table, then
    write both results through ``operators.index_store.stored_df`` for
    the grown table — its content fingerprint differs from the base
    corpus's, so the store's keying stays correct with no extra
    invalidation step."""
    # The batch's BASE ids are collected once and shared by every
    # driver-side consumer: the TWIN_OFFSET guard (a driver max over the
    # collected ids — was its own aggregate job), the disjointness guard
    # (now a pruned BASE-side probe below — was a batch⋈corpus semi-join
    # job), and both growth stages' fast-path batch_id_set (was a third
    # collect of base∪twin ids; twins are ids + TWIN_OFFSET by
    # construction, so they are derived here instead of collected).
    # Guide §5: three batch-bounded driver jobs folded into one.
    base_vec_ids = {r[0] for r in new_vecs.select("vec_id").collect()}
    if check_ids:
        mx = max(base_vec_ids, default=None)
        if mx is not None and mx >= S.TWIN_OFFSET:
            raise ValueError(
                f"batch vec_id {mx} >= TWIN_OFFSET {S.TWIN_OFFSET}: "
                "base and twin ids would collide"
            )
        base_ids = load_table(spark, sf_dir, "embeddings").select("vec_id")
        # Disjointness probed from the CORPUS side so the corpus-sized
        # relation is never the build/shuffle side: a micro-batch id set
        # pushes down as an IN filter on the vec_id scan (PushedFilters
        # prune at the parquet reader — the same ≤1024-value threshold as
        # the nd_store readers); backfill-sized batches fall back to a
        # broadcast semi-join of the batch ids (guide §3.1).
        if len(base_vec_ids) <= 1024:
            probe = base_ids.filter(
                F.col("vec_id").isin(*base_vec_ids)
            ) if base_vec_ids else None
        else:
            probe = base_ids.join(
                F.broadcast(new_vecs.select("vec_id")), "vec_id", "left_semi"
            )
        if probe is not None and probe.limit(1).count():
            raise ValueError(
                "batch vec_ids overlap the stored corpus; incremental "
                "update requires disjoint ids"
            )

    # hash granularity pinned to the BASE corpus: incremental batches
    # must not re-tier bits mid-stream (rebuild when crossing a step)
    if bits is None:
        bits = S.lsh_bits(S.corpus_count(spark, sf_dir))
    batch_corpus = batch_near_dup_corpus(new_vecs)
    batch_ids = batch_corpus.select("vec_id")

    # base ids were collected above; the corpus twins are synthesized at
    # vec_id + TWIN_OFFSET (batch_near_dup_corpus), so the full batch
    # id set is derived driver-side with no extra job
    batch_id_set = base_vec_ids | {
        i + S.TWIN_OFFSET for i in base_vec_ids
    }

    LAST_TIMINGS.clear()
    _t = time.time()
    # The keyed batch frame (twin synthesis + 4-table explode +
    # signature when-chains over the batch subtree) feeds THREE
    # consumers — the pass-1 edge kernel here plus stage 2's affected
    # list and bucket-member union — and Catalyst shares no diamond
    # subplans, so each consumer re-derived the whole subtree
    # (including the batch source plan, a sort-limit scan for the
    # registry entry). One localCheckpoint of the ≤ N_TABLES·|batch
    # corpus| rows serves all three (r13; distinct from the r12
    # negative result, which round-tripped the batch through
    # collect+createDataFrame — this stays distributed, one tiny job).
    batch_keyed = S.with_chain_keys(
        _tabled_all(batch_corpus, True, bits)
    ).drop("__new").localCheckpoint()
    new_edges = _new_member_edges(
        spark, sf_dir, batch_corpus, batch_keyed, batch_id_set
    ).localCheckpoint()
    LAST_TIMINGS["p1_edges"] = time.time() - _t
    _t = time.time()
    if prior_p1 is None:
        prior_p1 = S.near_dup_p1_clusters(spark, sf_dir)
    if prior is None:
        prior = S.near_dup_clusters(spark, sf_dir)  # (vec_id, canonical_id)

    # ---- stage 1: grow the pass-1 assignment -------------------------
    p1_grown, touched_old, fast1 = _grow_assignment(
        spark, prior_p1, new_edges, batch_corpus, driver_cc_max_edges,
        batch_id_set=batch_id_set,
    )
    # Checkpoint only when the caller threads the grown pass-1 forward
    # (chained/streaming updates re-read it every subsequent batch). In
    # the one-shot path it is consumed exactly once — by the stage-2
    # keyed_fam join inside the all_edges materialization below — so
    # checkpointing it was a pure extra job: the relabel is a broadcast
    # join over the persisted prior artifact, cheap to evaluate inline.
    if return_p1:
        p1_grown = p1_grown.localCheckpoint()
    LAST_TIMINGS["grow_p1"] = time.time() - _t
    _t = time.time()

    # ---- stage 2: touched families -> affected-bucket pass-2 edges ---
    # Pass 2 runs over BOUNDARY rows per (t, bucket, pass-1 family)
    # (similarity.p2_boundary_rows). A family's boundary rows change
    # only when ITS membership changes, so the affected buckets are
    # those holding any member of a TOUCHED family: a touched old node
    # (returned by the stage-1 growth) is a raw edge-endpoint MEMBER of
    # a family the batch edges reached (gaining members or merging
    # either way), and the batch brings its own new families. Touched
    # family mass is batch-scale (bounded by batch size x family
    # sizes).
    if fast1 is not None:
        # Stage 1 took the driver route, so the touched→canonical
        # mapping is ALREADY on the driver (old_ids + cid_of): build
        # the touched-canonical set locally instead of re-joining the
        # corpus-sized prior (one broadcast join + distinct removed —
        # guide §2.4/§5). Same set as _touched_family_members'
        # touched_canon by construction: canonicals of touched members
        # (prior-absent singletons are their own canonical) plus every
        # touched id (non-canonical ids match nothing in the semi-join
        # below, exactly like the distributed form).
        oid = fast1["old_ids"]
        cid = fast1["cid_of"]
        tc = sorted(set(oid) | {cid.get(o, o) for o in oid})
        tc_df = spark.createDataFrame(
            [(i,) for i in tc] or [], "vec_id bigint"
        )
        if tc and len(tc) <= 1024:
            fam_members = prior_p1.filter(
                F.col("canonical_id").isin(*tc)
            ).select("vec_id")
        else:
            fam_members = prior_p1.join(
                F.broadcast(
                    tc_df.withColumnRenamed("vec_id", "canonical_id")
                ),
                "canonical_id", "left_semi",
            ).select("vec_id")
        # no .distinct(): the only consumer is the broadcast semi-join
        # below, which is duplicate-insensitive — the dedup exchange
        # bought nothing (r12)
        touched_members = fam_members.unionByName(tc_df)
    else:
        touched_members = _touched_family_members(prior_p1, touched_old)
    keyed = S.nd_keyed_corpus(spark, sf_dir)
    affected = (
        keyed.join(F.broadcast(touched_members), "vec_id", "left_semi")
        .select("t", "bucket")
        .unionByName(batch_keyed.select("t", "bucket"))
    )
    if fast1 is None:
        # backfill-scale batches can touch most buckets: dedup before
        # broadcasting. The micro-batch route skips it — the broadcast
        # semi-join is duplicate-insensitive and the list is bounded by
        # touched-member rows (batch-scale), so the distinct exchange
        # only added a stage (r12).
        affected = affected.distinct()
    # current members of affected buckets with their grown pass-1 family
    # (small-side-first lookups so the corpus-sized assignment is never
    # shuffled), contracted to boundary rows, chained with the WIDE
    # pass-2 window — the same kernel + occupancy cap as the full build
    aff_keyed = (
        keyed.unionByName(batch_keyed)
        .join(F.broadcast(affected), ["t", "bucket"], "left_semi")
    )
    keyed_fam = aff_keyed.join(
        p1_grown.withColumnRenamed("canonical_id", "__fam"), "vec_id", "left"
    ).withColumn("__fam", F.coalesce(F.col("__fam"), F.col("vec_id")))
    # ONE exchange for the whole boundary+kernel subtree (r13, guide
    # §2.4): hash-partitioning on (t, bucket) satisfies the boundary
    # windows' (t, bucket, __fam) clustering — a strict subset of the
    # window keys — so repartitioning FIRST lets both windows and the
    # chain kernel ride the same exchange; the kernel then only re-sorts
    # within partitions (pre_partitioned=True) instead of shuffling the
    # boundary rows a second time.
    keyed_fam = keyed_fam.repartition(F.col("t"), F.col("bucket"))
    p2_edges = S.chain_edges_arrow(
        S.p2_boundary_rows(keyed_fam), ["t", "bucket"],
        S.NEAR_DUP_P2_W, S.NEAR_DUP_COS, pre_partitioned=True,
    )
    # materialized HERE so the stage timings tell the truth: this is
    # where the boundary windows + wide kernel actually run
    all_edges = new_edges.unionByName(p2_edges).localCheckpoint()
    LAST_TIMINGS["p2_edges"] = time.time() - _t
    _t = time.time()

    # ---- final: grow the prior final assignment with both edge sets --
    grown, _, _ = _grow_assignment(
        spark, prior, all_edges, batch_corpus, driver_cc_max_edges,
        batch_id_set=batch_id_set,
    )
    LAST_TIMINGS["grow_final"] = time.time() - _t
    return (grown, p1_grown) if return_p1 else grown


AUDIT_BATCH_K = 8


def near_dup_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: run the incremental cluster update end-to-end on
    a deterministic synthetic ingest batch and return a one-row
    self-audit of its contract. Rows-only check (oracle omitted): the
    operator is an iterative min-label-propagation algorithm over a
    stateful index — the same non-SQL-expressible category as
    approx_sketch_stats — and its exact-equivalence semantics are
    asserted against a from-scratch rebuild in
    tests/test_incremental_clusters.py; this entry makes the driver
    exercise the production path (store-backed prior assignment, id
    guards, touched-bucket window, components pass) every round.

    Batch construction: the AUDIT_BATCH_K smallest stored vectors,
    scaled x1.5 (cosine 1.0 with their source — identical normalized
    direction, so identical buckets / sign signatures / chain
    projections in every table), re-identified above the stored max
    vec_id. Deterministic, so every audit column has one correct value:

    - coverage_missing = 0: every prior node and batch-corpus member
      (incl. synthesized twins) appears in the grown assignment.
    - prior_splits = 0: merge-monotonicity — no prior cluster maps to
      more than one grown canonical id.
    - src_joined = AUDIT_BATCH_K: each batch vector co-clusters with
      its source (rank-adjacent in the source's chain order, cosine 1).
    """
    prior = S.near_dup_clusters(spark, sf_dir).select(
        "vec_id", F.col("canonical_id").alias("prior_cid")
    )
    max_id = S.corpus_max_vec_id(spark, sf_dir)
    seeds = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(AUDIT_BATCH_K)
    )
    batch = seeds.select(
        (F.col("vec_id") + F.lit(max_id + 1)).alias("vec_id"),
        F.transform(
            S._as_double(F.col("embedding")), lambda x: x * F.lit(1.5)
        ).alias("embedding"),
        F.col("vec_id").alias("__src_id"),
    )
    # NOT pinned as a local table: an A/B bisect (r12) measured the
    # createDataFrame round trip of these 8 rows SLOWER than letting
    # each consumer re-derive the pushed-limit parquet subtree
    # (min-of-5 same-session: 11.6 s vs 8.2 s) — the Python→JVM local
    # relation costs more than the repeated tiny scans it removes.
    # narrow (two longs/row); checkpointed because five audit branches
    # below would each re-derive the relabel plan otherwise
    updated = incremental_near_dup_update(
        spark, sf_dir, batch.select("vec_id", "embedding")
    ).localCheckpoint()

    # coverage: prior nodes + full batch corpus (base + twins). The
    # batch-corpus ids are deterministic driver-side values (seed ids
    # shifted past max_id, twins at +TWIN_OFFSET), so batch coverage is
    # one bounded IN-filtered count over `updated`; prior coverage folds
    # into the SAME left join the split check reads — the former
    # formulation paid a union + twin-synthesis subtree + an anti-join
    # for the identical numbers (r12, guide §2.4).
    seed_ids = [r[0] for r in seeds.select("vec_id").collect()]
    base_bids = [i + max_id + 1 for i in seed_ids]
    bids = base_bids + [i + S.TWIN_OFFSET for i in base_bids]
    j = prior.join(updated, "vec_id", "left")
    # total count + batch coverage in ONE pass over the checkpointed
    # assignment (r13): the former pair of aggregates scanned
    # `updated` twice; an IN-indicator sum equals the filtered
    # count(*) exactly
    upd_stats = updated.agg(
        F.count("*").alias("n_assigned"),
        (
            F.lit(len(bids)).cast("long")
            - F.coalesce(
                F.sum(F.col("vec_id").isin(*bids).cast("long")),
                F.lit(0),
            )
        ).alias("__bm"),
    )
    # coverage + merge-monotonicity in ONE pass over j (r13):
    # Catalyst shares no diamond subplans, so the former plain agg
    # (coverage) and groupBy agg (splits) each re-ran the
    # prior ⋈ updated join. Per-prior_cid partials carry all three
    # numbers: group row count (Σ = n_prior — updated is one row
    # per vec_id, exactly as the former count(*) saw), NULL-match
    # count (Σ = coverage misses), and the distinct grown-canonical
    # count (count_distinct ignores the NULLs unmatched rows carry,
    # so groups match the former inner-join groups exactly; >1 =
    # a split cluster).
    per_cid = j.groupBy("prior_cid").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("canonical_id").isNull().cast("long")).alias("__nn"),
        F.count_distinct("canonical_id").alias("__ndist"),
    )
    prior_stats = per_cid.agg(
        F.coalesce(F.sum("__n"), F.lit(0)).cast("long").alias("n_prior"),
        F.coalesce(F.sum("__nn"), F.lit(0)).cast("long").alias("__pm"),
        F.coalesce(
            F.sum((F.col("__ndist") > 1).cast("long")), F.lit(0)
        ).cast("long").alias("prior_splits"),
    )
    # each batch vector co-clusters with its scaled source: the
    # batch→source id mapping is ARITHMETIC (bid = src + max_id + 1,
    # both driver-held), so it is read off the checkpointed
    # assignment directly instead of re-deriving the batch subtree
    # and paying a third join (r13, guide §2.4). Inner-join
    # semantics match: a batch id missing from `updated` was
    # dropped by the former join too (and is already counted in
    # __bm).
    pairs = (
        updated.filter(F.col("vec_id").isin(*base_bids))
        .select(
            "canonical_id",
            (F.col("vec_id") - F.lit(max_id + 1)).alias("__src_id"),
        )
        .join(
            updated.select(
                F.col("vec_id").alias("__src_id"),
                F.col("canonical_id").alias("src_cid"),
            ),
            "__src_id",
        )
    )
    return (
        upd_stats
        .crossJoin(prior_stats)
        .crossJoin(
            pairs.agg(
                F.sum(
                    (F.col("canonical_id") == F.col("src_cid")).cast("long")
                ).alias("src_joined")
            )
        )
        .select(
            "n_assigned", "n_prior",
            (F.col("__pm") + F.col("__bm")).alias("coverage_missing"),
            "prior_splits", "src_joined",
        )
        .withColumn("batch_k", F.lit(AUDIT_BATCH_K).cast("long"))
    )


# deterministic takedown set for the tombstone lifecycle entry: every
# corpus vec_id ≡ TOMB_RES (mod TOMB_MOD) — ~6% of the table
TOMB_MOD, TOMB_RES = 17, 3


def near_dup_tombstone_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (r12): the end-to-end DELETION lifecycle of the
    maintained near-dup index (VERDICT r11 Next #6 — takedowns). Seeds
    the appendable store on a corpus COPY, tombstones every vec_id ≡
    TOMB_RES (mod TOMB_MOD) via NearDupStore.apply_tombstones (ids +
    synthesized twins hidden from every read immediately; dead
    canonicals relabeled), then compacts — which RE-CLUSTERS the
    remaining keyed rows — and returns the folded final assignment.

    Oracle: the same recursive-CTE closure as near_dup_clusters over
    the corpus WITHOUT the deleted ids (their twins are synthesized
    from base rows in SQL, so they vanish with them), with params
    (hash tier) still derived from the FULL table — matching the
    store's pinned bits. An oracle-checked row/hash match here is the
    driver independently confirming delete-then-compact ==
    rebuild-without-deleted."""
    import os
    import shutil
    import tempfile

    from .nd_store import NearDupStore

    work = tempfile.mkdtemp(prefix="nd_tomb_state_")
    src = f"{sf_dir.rstrip('/')}/embeddings.parquet"
    dst = f"{work}/embeddings.parquet"
    # driver testdata ships single-file tables; generated corpora are dirs
    if os.path.isdir(src):
        shutil.copytree(src, dst)
    else:
        shutil.copy2(src, dst)
    try:
        bits = S.lsh_bits(S.corpus_count(spark, work))
        store = NearDupStore(spark, work, bits)
        store.seed()
        ids = [
            r["vec_id"]
            for r in load_table(spark, work, "embeddings")
            .filter(F.pmod(F.col("vec_id"), F.lit(TOMB_MOD)) == TOMB_RES)
            .select("vec_id")
            .collect()
        ]
        res = store.apply_tombstones(ids)
        if res.get("skipped"):
            raise RuntimeError(f"tombstone apply skipped: {res}")
        store.compact()
        out = store.final_fold().orderBy("vec_id")
        # materialize before the temp dir can be cleaned up
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


_ND_CORPUS_TOMB_SQL = S._ND_CORPUS_SQL.replace(
    "FROM embeddings",
    f"FROM embeddings WHERE vec_id % {TOMB_MOD} <> {TOMB_RES}",
)
NEAR_DUP_TOMBSTONE_SQL = f"""
WITH RECURSIVE {S._PARAMS_SQL}, {_ND_CORPUS_TOMB_SQL}, {S._ND_CLUSTERS_SQL}
SELECT vec_id, canonical_id FROM nd_clusters
"""


EXT_QUERIES = {
    # rows-only: iterative stateful-index maintenance (see docstring)
    "near_dup_incremental_update": (near_dup_incremental_update, None),
    # oracle-checked deletion lifecycle (r12): delete -> window ->
    # compact(re-cluster) == rebuild-without-deleted
    "near_dup_tombstone_state": (
        near_dup_tombstone_state, NEAR_DUP_TOMBSTONE_SQL,
    ),
}


# ---------------------------------------------------------------------------
# O(batch) store-backed maintenance (r10 — VERDICT r9 #1/#2/#3)
# ---------------------------------------------------------------------------
# The frame-based path above is exact but carries O(corpus) terms per
# batch: the keyed-corpus snapshot cache misses on every append, the
# grown assignments are materialized corpus-sized, and the stage-2
# scope is found by scanning corpus-sized frames against broadcast
# filters. The store-backed path below keeps the SAME algorithm (same
# kernel, same contraction, same min-label union-find, same touched-
# family scope) but reads every input through extensions.nd_store's
# pruned point-lookups and returns bounded DELTAS (remap dicts + new
# rows) instead of corpus-sized frames — per-batch work is then
# proportional to touched buckets and families, never the corpus.

# driver-side bound on the touched-family member id set (collected for
# bucket lookups); above it the batch is not a micro-batch
# (backfill-scale) and the distributed frame path + base rewrite runs
STORE_MEMBER_CAP = 2_000_000
# the affected-bucket ROW set stays distributed (checkpointed wide rows
# + kernel input, never collected) so its cap only fences runaways
STORE_AFF_ROWS_CAP = 16_000_000


class ScaleFallback(Exception):
    """Batch exceeds the bounded-driver caps — route to the
    distributed frame path (and fold the result into a fresh base
    generation)."""


class _UnionFind:
    """Min-label union-find — the same contraction the frame path's
    driver fast path uses (min id stays the root)."""

    def __init__(self) -> None:
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        p = self.parent
        r = x
        while p[r] != r:
            r = p[r]
        while p[x] != r:
            p[x], x = r, p[x]
        return r

    def add(self, x: int) -> None:
        self.parent.setdefault(x, x)

    def union(self, a: int, b: int) -> None:
        self.add(a)
        self.add(b)
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            self.parent[hi] = lo


def _uf_deltas(
    edges: list[tuple[int, int]],
    cid_of: dict[int, int],
    batch_ids: set[int],
    old_ids: list[int],
) -> tuple[dict[int, int], list[tuple[int, int]]]:
    """Contracted min-label components as (remap, new_rows): exactly
    the frame path's driver fast path, minus the frame assembly. Old
    endpoints contract to their prior canonical (prior canonical = min
    vec_id of its cluster, so min-label over the contracted graph
    equals min-label over the full graph); every batch id registers
    (singletons included); prior-absent old endpoints (absorbed
    singletons) join as new rows."""
    uf = _UnionFind()
    for s, d in edges:
        uf.union(cid_of.get(s, s), cid_of.get(d, d))
    for b in batch_ids:
        uf.add(b)
    remap: dict[int, int] = {}
    for c in set(cid_of.values()):
        uf.add(c)
        r = uf.find(c)
        if r != c:
            remap[c] = r
    new_rows = [(b, uf.find(b)) for b in sorted(batch_ids)] + [
        (o, uf.find(o)) for o in old_ids if o not in cid_of
    ]
    return remap, new_rows


def near_dup_batch_delta(
    spark: SparkSession,
    store,
    batch_df: DataFrame,
    max_seq: int,
    driver_cc_max_edges: int = DRIVER_CC_MAX_EDGES,
    member_cap: int = STORE_MEMBER_CAP,
) -> dict:
    """One micro-batch's effect on the stored two-pass assignment, as
    bounded deltas against the store state at ``max_seq``. Mirrors
    incremental_near_dup_update stage for stage; every read is a
    pruned store lookup, every intermediate is batch/family-bounded.

    Returns {batch_keyed, p1_remap, p1_new, final_remap, final_new,
    stats}; raises ScaleFallback past the driver caps (backfill-scale
    batches take the distributed frame path instead)."""
    timings: dict[str, float] = {}
    _t = time.time()
    batch_corpus = batch_near_dup_corpus(batch_df)
    batch_keyed = (
        S.with_chain_keys(_tabled_all(batch_corpus, True, store.bits))
        .drop("__new")
        .localCheckpoint()
    )
    batch_ids = {
        r["vec_id"] for r in batch_keyed.select("vec_id").distinct().collect()
    }
    tb = [
        (r["t"], r["bucket"])
        for r in batch_keyed.select("t", "bucket").distinct().collect()
    ]
    # ---- pass-1 increment: full-bucket chain edges, new-member only --
    # the ONE member-row read of the whole batch (r11): pass 1 needs
    # the batch buckets' full chain order; pass 2 below reads only
    # stored BOUNDARY rows. Checkpointed: the kernel consumes it twice
    # (edge build + count)
    members = store.keyed_for_buckets(tb, max_seq).localCheckpoint()
    edges_df = S.chain_edges_arrow(
        members.unionByName(batch_keyed), ["t", "bucket"],
        S.NEAR_DUP_CHAIN_W, S.NEAR_DUP_COS,
    )
    # old-old adjacencies are redundant under pure insertion (the
    # provable pass-1 direction) — drop them BEFORE the collect so the
    # driver never holds a clone-mass bucket's full edge set
    bdf = spark.createDataFrame(
        [(i,) for i in sorted(batch_ids)], "vec_id bigint"
    )
    new_edges = (
        edges_df.join(
            F.broadcast(bdf.withColumnRenamed("vec_id", "src")).withColumn(
                "__ns", F.lit(True)
            ),
            "src", "left",
        )
        .join(
            F.broadcast(bdf.withColumnRenamed("vec_id", "dst")).withColumn(
                "__nd", F.lit(True)
            ),
            "dst", "left",
        )
        .filter(F.col("__ns").isNotNull() | F.col("__nd").isNotNull())
        .select("src", "dst")
    )
    p1_edge_rows = [(r["src"], r["dst"]) for r in new_edges.collect()]
    if len(p1_edge_rows) > driver_cc_max_edges:
        raise ScaleFallback(f"{len(p1_edge_rows)} pass-1 edges")
    timings["p1_edges"] = time.time() - _t
    _t = time.time()

    old_ids = sorted(
        {e for pair in p1_edge_rows for e in pair} - batch_ids
    )
    p1_cid = store.p1_lookup(old_ids, max_seq)
    p1_remap, p1_new = _uf_deltas(p1_edge_rows, p1_cid, batch_ids, old_ids)
    timings["grow_p1"] = time.time() - _t
    _t = time.time()

    # ---- pass-2 increment: touched families -> boundary corpus -------
    # touched PRIOR canonicals: the family of every old endpoint
    # (ADVICE r9 #1 — map members to canonicals, then enumerate)
    touched_canon = {p1_cid.get(o, o) for o in old_ids}
    # POST-batch family labels for stored rows: this batch's pass-1
    # remap PLUS the absorbed old singletons it assigned (an absorbed
    # singleton's stored boundary group __fam = its own id changes
    # label without appearing in the remap — it was never a prior
    # canonical)
    old_id_set = set(old_ids)
    post_fam = dict(p1_remap)
    for v, c in p1_new:
        if v in old_id_set and v != c:
            post_fam[v] = c
    # r11 (VERDICT r10 #6): pass 2 runs over the STORED boundary
    # corpus, never the member rows. A family has a boundary row in
    # every bucket it has a member in (the group's first member), so
    # boundary-bucket coverage equals member-bucket coverage — the
    # touched families' boundary rows locate the affected buckets AND
    # are exactly the old-part candidates the boundary recompute needs
    # (p2_boundary_rows' closure property). Per-batch pass-2 cost is
    # proportional to touched-family boundary mass, not membership.
    tf_bnd = store.p2b_for_fams(
        touched_canon, max_seq, post_remap=post_fam
    ).localCheckpoint()
    n_tf = tf_bnd.count()
    if n_tf > member_cap:
        raise ScaleFallback(f"{n_tf} touched-family boundary rows")
    tb_tf = {
        (r["t"], r["bucket"])
        for r in tf_bnd.select("t", "bucket").distinct().collect()
    }
    aff_tb = tb_tf | set(tb)
    ctx = store.p2b_for_buckets(
        sorted(aff_tb), max_seq, post_remap=post_fam
    ).localCheckpoint()
    # changed groups: touched families (post-batch labels) + the
    # batch's own families; everything else in the affected buckets
    # kept its exact boundary row set (membership unchanged)
    changed = sorted(
        {post_fam.get(c, c) for c in touched_canon}
        | {c for _, c in p1_new}
    )
    changed_df = spark.createDataFrame(
        [(c,) for c in changed] or [], "__fam bigint"
    )
    batch_fam = spark.createDataFrame(
        p1_new or [], "vec_id bigint, __fam bigint"
    )
    batch_keyed_fam = batch_keyed.join(
        F.broadcast(batch_fam), "vec_id", "left"
    ).withColumn("__fam", F.coalesce(F.col("__fam"), F.col("vec_id")))
    from .nd_store import P2B_COLS

    cands = ctx.join(
        F.broadcast(changed_df), "__fam", "left_semi"
    ).select(*P2B_COLS).unionByName(batch_keyed_fam.select(*P2B_COLS))
    # exact by closure: candidates hold every changed group's old
    # extremes + canonical rows + all its new (batch) rows
    new_changed = S.p2_boundary_rows(cands, keep_fam=True).localCheckpoint()
    p2_corpus = (
        ctx.join(F.broadcast(changed_df), "__fam", "left_anti")
        .select(*P2B_COLS)
        .unionByName(new_changed.select(*P2B_COLS))
        .localCheckpoint()
    )
    n_aff = p2_corpus.count()
    if n_aff > STORE_AFF_ROWS_CAP:
        raise ScaleFallback(f"{n_aff} boundary-corpus rows")
    # the kernel output is NARROW (two longs/edge) — checkpoint it so
    # the contraction, endpoint and count actions below read the
    # materialized edges instead of re-running the wide kernel
    p2_edges_df = S.chain_edges_arrow(
        p2_corpus.drop("__fam"), ["t", "bucket"],
        S.NEAR_DUP_P2_W, S.NEAR_DUP_COS,
    ).localCheckpoint()
    n_p2 = p2_edges_df.count()
    # every id the contraction below may need a final-canonical for:
    # boundary-corpus rows, the batch, and the pass-1 old endpoints
    aff_ids_df = (
        p2_corpus.select("vec_id")
        .unionByName(batch_keyed.select("vec_id"))
        .unionByName(
            spark.createDataFrame(
                [(o,) for o in old_ids] or [], "vec_id bigint"
            )
        )
        .distinct()
    )
    # Contract BEFORE collecting (clone-heavy corpora emit hundreds of
    # thousands of verified pass-2 edges per batch, but almost all of
    # them connect already-co-clustered members and contract to
    # self-loops): relabel each endpoint to its CURRENT final
    # canonical DataFrame-side, drop self-loops, dedupe — the driver
    # only ever sees the contracted graph, whose size is bounded by
    # touched families + batch, never by clone mass. Exact: min-label
    # over the contracted graph equals min-label over the full graph
    # (a prior canonical is the min id of its cluster), which is the
    # same contraction _uf_deltas applies — just moved into the plan.
    # Every edge endpoint (pass 1 and pass 2) is a member of an
    # affected bucket or of the batch, so one cid map over the
    # affected universe covers both edge sets.
    p1e_df = spark.createDataFrame(
        spark.sparkContext.parallelize(p1_edge_rows or [], 1),
        "src bigint, dst bigint",
    )
    all_e = p1e_df.unionByName(p2_edges_df)
    final_map = store.assign_all_df("final", max_seq).join(
        F.broadcast(aff_ids_df), "vec_id", "left_semi"
    )
    frm = store.composed_remap("final", max_seq)
    if frm:
        frm_df = spark.createDataFrame(
            list(frm.items()), "__old bigint, __new bigint"
        )
        final_map = final_map.join(
            F.broadcast(frm_df),
            final_map.canonical_id == F.col("__old"), "left",
        ).select(
            "vec_id",
            F.coalesce(F.col("__new"), F.col("canonical_id")).alias(
                "canonical_id"
            ),
        )
    final_map = final_map.localCheckpoint()
    contracted = (
        all_e.join(
            final_map.select(
                F.col("vec_id").alias("src"),
                F.col("canonical_id").alias("__cs"),
            ),
            "src", "left",
        )
        .join(
            final_map.select(
                F.col("vec_id").alias("dst"),
                F.col("canonical_id").alias("__cd"),
            ),
            "dst", "left",
        )
        .select(
            F.coalesce(F.col("__cs"), F.col("src")).alias("src"),
            F.coalesce(F.col("__cd"), F.col("dst")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    c_rows = [(r["src"], r["dst"]) for r in contracted.collect()]
    if len(c_rows) > driver_cc_max_edges:
        raise ScaleFallback(f"{len(c_rows)} contracted edges")
    # classify the contracted nodes with ONE bounded point-lookup: a
    # non-batch contracted node is by construction either a current
    # prior canonical (present in the assignment, mapping to itself) or
    # a prior-absent old endpoint (an absorbed singleton that must gain
    # an assignment row)
    c_nodes = sorted(
        {e for pair in c_rows for e in pair} - batch_ids
    )
    ncid = store.final_lookup(c_nodes, max_seq)
    prior_canon = {n for n in c_nodes if n in ncid}
    absorbed = [n for n in c_nodes if n not in ncid]
    timings["p2_edges"] = time.time() - _t
    _t = time.time()

    # ---- final: grow through the contracted graph --------------------
    uf = _UnionFind()
    for s, d in c_rows:
        uf.union(s, d)
    for b in batch_ids:
        uf.add(b)
    final_remap: dict[int, int] = {}
    for c in prior_canon:
        uf.add(c)
        r = uf.find(c)
        if r != c:
            final_remap[c] = r
    for o in absorbed:
        uf.add(o)
    final_new = [(b, uf.find(b)) for b in sorted(batch_ids)] + [
        (o, uf.find(o)) for o in absorbed
    ]
    timings["grow_final"] = time.time() - _t
    LAST_TIMINGS.clear()
    LAST_TIMINGS.update(timings)
    return {
        "batch_keyed": batch_keyed,
        "p1_remap": p1_remap,
        "p1_new": p1_new,
        "final_remap": final_remap,
        "final_new": final_new,
        "p2b_new": new_changed,
        "stats": {
            "p1_edges": len(p1_edge_rows),
            "p2_edges": n_p2,
            "contracted_edges": len(c_rows),
            "touched_families": len(touched_canon),
            "touched_boundary_rows": n_tf,
            "affected_buckets": len(aff_tb),
            # r11: the pass-2 kernel input is the affected buckets'
            # BOUNDARY corpus, not their member rows (the r10 series'
            # "affected_rows" counted members: 145k at sf10 / 424k at
            # sf100 for the same 400-vec batch)
            "boundary_corpus_rows": n_aff,
        },
    }


def apply_batch_to_store(
    spark: SparkSession,
    store,
    batch_df: DataFrame,
    driver_cc_max_edges: int = DRIVER_CC_MAX_EDGES,
    member_cap: int = STORE_MEMBER_CAP,
) -> dict:
    """Apply one ingest batch to the appendable store: compute the
    bounded delta and write it as the next seq dir (idempotent across
    crash/replay — see nd_store's contract). Backfill-scale batches
    that trip the driver caps take the distributed frame path against
    the FOLDED priors and commit a fresh base generation instead (one
    O(corpus) rewrite, amortized over the backfill's size).

    Caller contract (the stream enforces it): the batch's ids are
    disjoint from the stored corpus and below TWIN_OFFSET, and the
    hash tier still matches ``store.bits``. Returns per-batch stats
    (seq/skip/fallback + stage timings)."""
    from . import nd_store as NS

    fp = NS.batch_fingerprint(batch_df)
    meta = store._root_meta() or {}
    latest = store.latest_seq()
    if meta.get("last_fp") == fp and latest == store.upto_seq:
        return {"skipped": True, "seq": latest, "reason": "folded replay"}
    if latest > store.upto_seq:
        lmeta = store._seq_meta(latest)
        if lmeta and lmeta.get("batch_fp") == fp:
            # torn replay: the seq landed, the corpus append did not —
            # the store state is already exactly this batch's result
            return {"skipped": True, "seq": latest, "reason": "seq replay"}
    seq = latest + 1
    try:
        delta = near_dup_batch_delta(
            spark, store, batch_df, max_seq=latest,
            driver_cc_max_edges=driver_cc_max_edges, member_cap=member_cap,
        )
    except ScaleFallback as why:
        _t = time.time()
        grown, grown_p1 = incremental_near_dup_update(
            spark, store.work_dir, batch_df,
            prior=store.final_fold(latest),
            prior_p1=store.p1_fold(latest),
            bits=store.bits, return_p1=True, check_ids=False,
            driver_cc_max_edges=-1,  # stay distributed — the caps tripped
        )
        batch_keyed = S.with_chain_keys(
            _tabled_all(batch_near_dup_corpus(batch_df), True, store.bits)
        ).drop("__new")
        store._commit_generation(
            store._keyed_all(latest).unionByName(
                batch_keyed.select(*NS.KEYED_COLS)
            ),
            grown_p1, grown, upto=seq, last_fp=fp,
        )
        return {
            "seq": seq, "fallback": str(why),
            "sec": round(time.time() - _t, 3),
        }
    _t = time.time()
    store.write_seq(
        seq, fp, delta["batch_keyed"],
        delta["p1_new"], delta["final_new"],
        delta["p1_remap"], delta["final_remap"],
        p2b_new=delta["p2b_new"],
    )
    LAST_TIMINGS["write_seq"] = time.time() - _t
    return {"seq": seq, "stats": delta["stats"],
            "timings": dict(LAST_TIMINGS)}
