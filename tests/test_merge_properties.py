"""Property-based MERGE semantics: any sequence of keyed batches merged
into a table must equal the dict-fold of those batches (the reference's
ON CONFLICT upsert contract, K2-K4) — for update-all, insert-only, and
update-subset modes. Keys include NULL, which matches NULL (null-safe
equality, like the reference's COALESCEd conflict keys).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_lake_skyfit_spark.operators.merge import MergeMode, ParquetTable
from data_lake_skyfit_spark.operators.versioned import VersionedParquetTable

KEYS = st.one_of(st.none(), st.integers(min_value=0, max_value=6))
VALS = st.integers(min_value=0, max_value=99)
ROW = st.tuples(KEYS, VALS, VALS)
BATCH = st.lists(ROW, min_size=1, max_size=6)
BATCHES = st.lists(BATCH, min_size=1, max_size=4)

_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _make_table(kind, tmp):
    """Three write paths share one contract: the plain swap table, the
    same table with file-level pruning forced on (prune_min_bytes=0),
    and the versioned table whose merges run the manifest range+bloom
    COW path."""
    if kind == "plain":
        return ParquetTable(str(tmp), ["id"])
    if kind == "pruned":
        return ParquetTable(str(tmp), ["id"], prune_min_bytes=0)
    return VersionedParquetTable(str(tmp), ["id"])


def _batch_df(spark, batch):
    return spark.createDataFrame(
        [(k, v, n, pos) for pos, (k, v, n) in enumerate(batch)],
        "id long, val long, note long, pos long",
    )


def _run(spark, tmp, batches, mode, kind="plain"):
    """Merge `batches` in turn; return the table as {id: (val, note)}
    with the dict-fold model of the same batches. update_subset updates
    only `val`, so a matched key keeps its first `note`."""
    t = _make_table(kind, tmp)
    state: dict[int | None, tuple[int, int]] = {}
    for batch in batches:
        # within one batch, the last occurrence of a key wins (source_order)
        t.merge(
            _batch_df(spark, batch),
            mode=mode,
            update_subset=("val",),
            source_order=["pos"],
        )
        batch_final = {k: (v, n) for k, v, n in batch}  # dict literal: last wins
        for k, (v, n) in batch_final.items():
            if mode == MergeMode.UPDATE_ALL or k not in state:
                state[k] = (v, n)
            elif mode == MergeMode.UPDATE_SUBSET:
                state[k] = (v, state[k][1])
    rows = t.read(spark).collect()
    got = {r["id"]: (r["val"], r["note"]) for r in rows}
    assert len(rows) == len(got)  # one row per key, NULL key included
    return got, state


@pytest.mark.parametrize("kind", ["plain", "pruned", "versioned"])
@given(batches=BATCHES)
@_SETTINGS
def test_update_all_equals_dict_fold(spark, tmp_path_factory, kind, batches):
    tmp = tmp_path_factory.mktemp("m")
    got, want = _run(spark, tmp, batches, MergeMode.UPDATE_ALL, kind)
    assert got == want


@pytest.mark.parametrize("kind", ["plain", "pruned", "versioned"])
@given(batches=BATCHES)
@_SETTINGS
def test_insert_only_keeps_first(spark, tmp_path_factory, kind, batches):
    tmp = tmp_path_factory.mktemp("m")
    got, want = _run(spark, tmp, batches, MergeMode.DO_NOTHING, kind)
    assert got == want


@pytest.mark.parametrize("kind", ["plain", "pruned", "versioned"])
@given(batches=BATCHES)
@_SETTINGS
def test_update_subset_keeps_other_columns(spark, tmp_path_factory, kind, batches):
    tmp = tmp_path_factory.mktemp("m")
    got, want = _run(spark, tmp, batches, MergeMode.UPDATE_SUBSET, kind)
    assert got == want


@given(batches=BATCHES)
@_SETTINGS
def test_merge_idempotent(spark, tmp_path_factory, batches):
    """Re-merging the final batch must not change the table (I3)."""
    tmp = tmp_path_factory.mktemp("m")
    got, _ = _run(spark, tmp, batches, MergeMode.UPDATE_ALL)
    t = ParquetTable(str(tmp), ["id"])
    t.merge(_batch_df(spark, batches[-1]), source_order=["pos"])
    again = {r["id"]: (r["val"], r["note"]) for r in t.read(spark).collect()}
    assert again == got


#: A target already holding a duplicated key (1) and two NULL-key rows,
#: merged with a batch that has two versions of key 1, one NULL key and
#: one new key. update_all collapses each matched key to its newest
#: source row; do_nothing keeps every target row; update_subset keeps
#: every target row and takes `val` from the newest source row.
_DUP_TARGET = [(1, 10, 1), (1, 11, 2), (2, 20, 3), (None, 30, 4), (None, 31, 5)]
_DUP_SOURCE = [(1, 100, 6), (1, 101, 7), (None, 300, 8), (3, 400, 9)]
_DUP_WANT = {
    MergeMode.UPDATE_ALL: [(1, 101, 7), (2, 20, 3), (None, 300, 8), (3, 400, 9)],
    MergeMode.DO_NOTHING: _DUP_TARGET + [(3, 400, 9)],
    MergeMode.UPDATE_SUBSET: [
        (1, 101, 1), (1, 101, 2), (2, 20, 3), (None, 300, 4), (None, 300, 5),
        (3, 400, 9),
    ],
}


@pytest.mark.parametrize("kind", ["plain", "pruned", "versioned"])
@pytest.mark.parametrize("mode", list(_DUP_WANT))
def test_target_with_duplicate_keys(spark, tmp_path, kind, mode):
    t = _make_table(kind, tmp_path / "dup")
    t.overwrite(_batch_df(spark, _DUP_TARGET))
    t.merge(
        _batch_df(spark, _DUP_SOURCE),
        mode=mode,
        update_subset=("val",),
        source_order=["pos"],
    )
    got = sorted(
        (tuple(r) for r in t.read(spark).select("id", "val", "note").collect()),
        key=repr,
    )
    assert got == sorted(_DUP_WANT[mode], key=repr)
