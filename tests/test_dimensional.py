"""Unit tests: dimensional loading (SURVEY.md §2.4, §2.6; PRO/Глава 10)."""

from __future__ import annotations

from bi_etl_and_integration_spark.operators import dimensional as dim


def as_map(df, k="k", v="v"):
    return {r[k]: r[v] for r in df.collect()}


def test_merge_apply_update_and_insert(rows):
    target = rows([(1, "old", "keepme"), (2, "two", "t2")],
                  "k int, v string, other string")
    source = rows([(1, "new"), (3, "ins")], "k int, v string")
    out = dim.merge_apply(target, source, ["k"])
    assert as_map(out) == {1: "new", 2: "two", 3: "ins"}
    # non-update columns survive for matched rows, null for inserts
    got = {r["k"]: r["other"] for r in out.collect()}
    assert got == {1: "keepme", 2: "t2", 3: None}


def test_merge_apply_no_insert(rows):
    target = rows([(1, "old")], "k int, v string")
    source = rows([(1, "new"), (3, "ins")], "k int, v string")
    out = dim.merge_apply(target, source, ["k"], insert_new=False)
    assert as_map(out) == {1: "new"}


def test_merge_apply_delete_missing(rows):
    target = rows([(1, "a"), (2, "b")], "k int, v string")
    source = rows([(1, "a2")], "k int, v string")
    out = dim.merge_apply(target, source, ["k"], delete_missing=True)
    assert as_map(out) == {1: "a2"}


def test_merge_apply_is_idempotent(rows):
    target = rows([(1, "old")], "k int, v string")
    source = rows([(1, "new"), (2, "ins")], "k int, v string")
    once = dim.merge_apply(target, source, ["k"])
    twice = dim.merge_apply(once, source, ["k"])
    assert sorted(map(tuple, once.collect())) == \
        sorted(map(tuple, twice.collect()))


def test_scd1_overwrites_in_place(rows):
    target = rows([(1, "a")], "k int, v string")
    source = rows([(1, "b"), (2, "c")], "k int, v string")
    assert as_map(dim.scd1(target, source, ["k"])) == {1: "b", 2: "c"}


SCD2_T = "k int, v string, start_ts int, end_ts int, is_current boolean"


def test_scd2_apply_closes_and_opens_versions(rows):
    target = rows([(1, "v1", 100, None, True),
                   (2, "same", 100, None, True),
                   (1, "v0", 50, 100, False)], SCD2_T)  # history row
    source = rows([(1, "v2", 200), (2, "same", 200), (3, "brand", 200)],
                  "k int, v string, eff int")
    out = dim.scd2_apply(target, source, ["k"], ["v"], "eff").collect()
    by = {(r["k"], r["v"]): r for r in out}
    # changed key 1: old current closed at 200, new version open
    assert by[(1, "v1")]["end_ts"] == 200 and not by[(1, "v1")]["is_current"]
    assert by[(1, "v2")]["start_ts"] == 200 and by[(1, "v2")]["is_current"]
    # unchanged key 2: single untouched current version
    assert by[(2, "same")]["is_current"] and by[(2, "same")]["end_ts"] is None
    # brand-new key 3: open version
    assert by[(3, "brand")]["start_ts"] == 200 and by[(3, "brand")]["is_current"]
    # history row passes through untouched
    assert by[(1, "v0")]["end_ts"] == 100
    # exactly one current version per key
    currents = [r for r in out if r["is_current"]]
    assert sorted(r["k"] for r in currents) == [1, 2, 3]


def test_scd2_apply_key_absent_from_source_untouched(rows):
    target = rows([(1, "keep", 10, None, True)], SCD2_T)
    source = rows([], "k int, v string, eff int")
    out = dim.scd2_apply(target, source, ["k"], ["v"], "eff").collect()
    assert len(out) == 1
    assert out[0]["is_current"] and out[0]["end_ts"] is None


def test_merge_apply_null_overwrites(rows):
    """MERGE UPDATE semantics: a source row that sets an attribute to
    NULL must overwrite the target value (coalesce-style merging kept
    stale data silently)."""
    from bi_etl_and_integration_spark.operators.dimensional import (
        merge_apply)
    tgt = rows([(1, "555-1234"), (2, "555-9999")], "k int, phone string")
    src = rows([(1, None)], "k int, phone string")
    out = {r["k"]: r["phone"] for r in
           merge_apply(tgt, src, ["k"]).collect()}
    assert out[1] is None       # cleared, not kept
    assert out[2] == "555-9999"


def test_scd2_apply_net_collapses_multirow_batches(rows):
    """A batch carrying several versions of one key must apply
    end-state-wise: exactly one is_current row, one closed row."""
    import datetime as dt
    from bi_etl_and_integration_spark.operators.dimensional import (
        scd2_apply)
    t = dt.datetime(2025, 1, 1)
    tgt = rows([(1, "old", t, None, True)],
               "k int, v string, start_ts timestamp, end_ts timestamp, "
               "is_current boolean")
    src = rows([(1, "mid", dt.datetime(2025, 2, 1)),
                (1, "new", dt.datetime(2025, 3, 1)),
                (2, None, None)],       # NULL eff_ts: ignored entirely
               "k int, v string, eff timestamp")
    out = scd2_apply(tgt, src, ["k"], ["v"], "eff")
    rows_ = out.collect()
    current = [r for r in rows_ if r["is_current"]]
    assert len(current) == 1 and current[0]["v"] == "new"
    closed = [r for r in rows_ if not r["is_current"]]
    assert len(closed) == 1 and closed[0]["end_ts"] == dt.datetime(2025, 3, 1)
    assert all(r["k"] != 2 for r in rows_)


def test_flatten_hierarchy_deep_chain_pointer_doubling(rows):
    """A 20-deep chain resolves (doubling needs ~5 rounds, well under
    the log2(max_depth) budget) with correct root/depth/path."""
    from bi_etl_and_integration_spark.operators.dimensional import (
        flatten_hierarchy)
    edges = rows([(i, i - 1 if i > 0 else None) for i in range(20)],
                 "id long, parent_id long")
    out = {r["id"]: r for r in flatten_hierarchy(edges).collect()}
    assert len(out) == 20
    assert out[0]["depth"] == 0 and out[0]["root_id"] == 0
    assert out[19]["depth"] == 19 and out[19]["root_id"] == 0
    assert out[19]["path"] == list(range(20))
    assert out[7]["path"] == list(range(8))


def test_flatten_hierarchy_forest_and_orphans(rows):
    """Multiple roots; a node whose parent id is absent becomes the
    root of its own subtree (late-arriving parent)."""
    from bi_etl_and_integration_spark.operators.dimensional import (
        flatten_hierarchy)
    edges = rows([(1, None), (2, 1), (10, None), (11, 10),
                  (50, 99), (51, 50)],     # 99 does not exist
                 "id long, parent_id long")
    out = {r["id"]: r for r in flatten_hierarchy(edges).collect()}
    assert out[2]["root_id"] == 1 and out[2]["depth"] == 1
    assert out[11]["root_id"] == 10
    assert out[50]["root_id"] == 50 and out[50]["depth"] == 0
    assert out[51]["root_id"] == 50 and out[51]["path"] == [50, 51]


def test_flatten_hierarchy_keeps_only_last_round_persisted(spark, rows):
    """Each doubling round's checkpoint is released once the next round
    is materialized; only the round backing the result stays."""
    from bi_etl_and_integration_spark.operators.dimensional import (
        flatten_hierarchy)
    edges = rows([(i, i - 1 if i > 0 else None) for i in range(20)],
                 "id long, parent_id long")
    jsc = spark.sparkContext._jsc
    for _ in range(2):
        before = jsc.getPersistentRDDs().size()
        out = flatten_hierarchy(edges)
        assert out.count() == 20
        assert jsc.getPersistentRDDs().size() - before <= 1


def test_flatten_hierarchy_cycle_raises(rows):
    from bi_etl_and_integration_spark.operators.dimensional import (
        flatten_hierarchy)
    import pytest
    edges = rows([(1, 2), (2, 1)], "id long, parent_id long")
    with pytest.raises(ValueError, match="cycle"):
        flatten_hierarchy(edges, max_depth=8)


def test_infer_late_members_defaults_and_flag(rows):
    from bi_etl_and_integration_spark.operators.dimensional import (
        infer_late_members)
    dim = rows([(1, "Alice", 100.0)], "k long, name string, bal double")
    fact = rows([(1,), (2,), (2,), (None,)], "k long")
    out = {r["k"]: r for r in
           infer_late_members(fact, dim, "k",
                              defaults={"name": "UNKNOWN"}).collect()}
    assert len(out) == 2                     # NULL fact keys never infer
    assert out[1]["is_inferred"] is False and out[1]["name"] == "Alice"
    assert out[2]["is_inferred"] is True
    assert out[2]["name"] == "UNKNOWN" and out[2]["bal"] is None


def test_date_dimension_attributes(spark):
    from bi_etl_and_integration_spark.operators.dimensional import (
        date_dimension)
    out = {r["date_key"]: r for r in
           date_dimension(spark, "2024-01-01", "2024-03-31").collect()}
    assert len(out) == 91                    # leap year Q1
    jan1 = out[20240101]
    assert (jan1["year"], jan1["quarter"], jan1["day_of_week"]) == \
        (2024, 1, 1)                         # 2024-01-01 is a Monday
    assert jan1["is_month_start"] and not jan1["is_month_end"]
    feb29 = out[20240229]
    assert feb29["is_month_end"] and feb29["month_name"] == "February"
    sat = out[20240106]
    assert sat["is_weekend"] and sat["day_of_week"] == 6
