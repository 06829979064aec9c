"""Property-based checks (hypothesis) for the guarded-upsert resolve —
the engine's MERGE core. Instead of a handful of fixed cases, generate
arbitrary target/source batches and assert the reference's invariants
(SURVEY §2.2 K4-K6, §2.8 ST3) hold on every one:

1. replay idempotence: applying the same batch twice == applying once;
2. no regression: a key's order_col never decreases;
3. key conservation: result keys == target keys ∪ source keys;
4. newest wins: for every key in both, the surviving order_col is the
   max of the two sides (source pre-deduped keep-newest).

All examples run through resolve_upsert (pure, no I/O) on small frames —
one Spark job per assertion keeps the suite inside the property-test
budget used by test_coercions_property.py.

``test_fold_versions_is_left_fold`` checks the multi-batch fold itself:
``fold_versions`` over a base and 1-5 deltas, with NULL keys, NULL
orders and guard ties, must equal a left fold, written here in plain
Python, of the guard and the ETL-metadata carve-outs.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from e_commerce_etl_pipeline_spark.operators.upsert import fold_versions, resolve_upsert

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

SCHEMA = "k int, status string, ord int"

row = st.tuples(
    st.integers(min_value=0, max_value=5),                     # key (collisions likely)
    st.sampled_from(["a", "b", "c"]),                          # guard col
    st.integers(min_value=0, max_value=9),                     # order col
)
batch = st.lists(row, min_size=0, max_size=8)


def _collect(df):
    return sorted((r["k"], r["status"], r["ord"]) for r in df.collect())


def _by_key(rows):
    out = {}
    for k, s, o in rows:
        out.setdefault(k, []).append((o, s))
    return out


@given(target=batch, source=batch)
@SETTINGS
def test_upsert_invariants(spark, target, source):
    # target must be key-unique (it models table contents)
    seen, t_rows = set(), []
    for k, s, o in target:
        if k not in seen:
            seen.add(k)
            t_rows.append((k, s, o))
    t = spark.createDataFrame(t_rows, SCHEMA) if t_rows else \
        spark.createDataFrame([], SCHEMA)
    s_df = spark.createDataFrame(source, SCHEMA) if source else \
        spark.createDataFrame([], SCHEMA)

    # tiebreak=["status"] completes the total order: generated batches
    # may hold two rows with equal (k, ord) but different status, where
    # an arbitrary pick would legitimately break replay idempotence.
    once = _collect(resolve_upsert(t, s_df, ["k"], "ord",
                                   guard_cols=["status"], tiebreak=["status"]))

    # 1) replay idempotence: re-applying the same batch is a no-op
    once_df = spark.createDataFrame(once, SCHEMA) if once else \
        spark.createDataFrame([], SCHEMA)
    twice = _collect(resolve_upsert(once_df, s_df, ["k"], "ord",
                                    guard_cols=["status"], tiebreak=["status"]))
    assert twice == once

    # 2-4) per-key invariants vs the inputs
    t_map = {k: (s, o) for k, s, o in t_rows}
    s_best = {k: max(v) for k, v in _by_key(source).items()}  # keep-newest
    out_map = {k: (s, o) for k, s, o in once}

    assert set(out_map) == set(t_map) | set(s_best)
    for k, (s, o) in out_map.items():
        if k in t_map:
            assert o >= t_map[k][1], "order_col regressed"
        if k in t_map and k in s_best:
            assert o == max(t_map[k][1], s_best[k][0]), "newest did not win"
        elif k in s_best:
            assert (o, s) == (s_best[k][0], s_best[k][1]), "insert not from newest source row"
        else:
            assert (s, o) == t_map[k], "untouched target row changed"


FOLD_SCHEMA = ("k int, k2 string, status string, ord int, v int, "
               "etl_created_at int, etl_updated_at int")
version = st.tuples(
    st.tuples(st.one_of(st.none(), st.integers(0, 3)),            # NULL-able keys
              st.one_of(st.none(), st.sampled_from(["x", "y"]))),
    st.one_of(st.none(), st.sampled_from(["a", "b"])),            # guard col
    st.one_of(st.none(), st.integers(0, 3)),                      # order: NULLs, ties
    st.integers(0, 9),                                            # payload
)
batches = st.lists(st.lists(version, max_size=6), min_size=1, max_size=5)


def _by_key_once(versions):
    """One version per key (the fold's input contract), first wins."""
    out = {}
    for key, status, order, v in versions:
        out.setdefault(key, (status, order, v))
    return out


def _guard(cur_order, cur_status, order, status):
    """merge_matched_condition in Python: a NULL current order, a stale
    current order, or equal orders with a changed guard. A comparison
    with a NULL order is UNKNOWN, which does not apply the update."""
    if cur_order is None:
        return True
    if order is None:
        return False
    return cur_order < order or (cur_order == order and cur_status != status)


def _sort_key(row):
    return tuple((x is None, x) for x in row)


@given(base=st.lists(version, max_size=6), deltas=batches)
@SETTINGS
def test_fold_versions_is_left_fold(spark, base, deltas):
    table = {key: (k0, k1, status, order, v, 0, 0)
             for key, (status, order, v) in _by_key_once(base).items()
             for k0, k1 in [key]}
    delta_rows = []
    for seq, batch in enumerate(deltas, start=1):
        stamp = 100 + seq
        for key, (status, order, v) in _by_key_once(batch).items():
            delta_rows.append((*key, status, order, v, seq, seq, seq, stamp))
            cur = table.get(key)
            if cur is None:  # insert: the version's own ETL stamps
                table[key] = (*key, status, order, v, seq, seq)
            elif _guard(cur[3], cur[2], order, status):
                table[key] = (*key, status, order, v, cur[5], stamp)

    base_df = spark.createDataFrame(
        [(k0, k1, s, o, v, 0, 0) for (k0, k1), (s, o, v) in _by_key_once(base).items()],
        FOLD_SCHEMA)
    delta_df = spark.createDataFrame(
        delta_rows, FOLD_SCHEMA + ", __seq int, __batch_time int")
    got = fold_versions(base_df, delta_df, ["k", "k2"], "ord", ["status"]).collect()
    assert sorted(map(tuple, got), key=_sort_key) == sorted(table.values(), key=_sort_key)
