"""Tests: incremental aggregate MV and literal-dictionary lookup."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from bi_etl_and_integration_spark.operators.mv import IncrementalAggMV
from bi_etl_and_integration_spark.operators.relational import dict_lookup


def _mv(tmp_path):
    return IncrementalAggMV(
        str(tmp_path / "mv"), ["k"],
        {"total": F.col("v"), "avg_v": F.col("v")},
        {"total": "sum", "avg_v": "avg"})


def test_mv_incremental_refresh_equals_direct(spark, rows, tmp_path):
    mv = _mv(tmp_path)
    b1 = rows([("a", 1.0), ("a", 3.0), ("b", 10.0)], "k string, v double")
    b2 = rows([("a", 5.0), ("c", 7.0)], "k string, v double")
    mv.refresh(b1)
    mv.refresh(b2)
    got = {r["k"]: (r["total"], r["avg_v"])
           for r in mv.read(spark).collect()}
    assert got == {"a": (9.0, 3.0), "b": (10.0, 10.0), "c": (7.0, 7.0)}


@pytest.mark.parametrize("vtype", ["double", "decimal(12,2)"])
def test_mv_compaction_preserves_results_and_composes(spark, rows,
                                                      tmp_path, vtype):
    mv = _mv(tmp_path)
    schema = f"k string, v {vtype}"
    cast = float if vtype == "double" else Decimal
    for vals in ([("a", 1)], [("a", 2)], [("b", 4)]):
        mv.refresh(rows([(k, cast(v)) for k, v in vals], schema))
    before = sorted(map(tuple, mv.read(spark).collect()))
    n_before = mv.n_delta_files()

    def state_types():
        return {f.name: f.dataType
                for f in spark.read.parquet(mv.path).schema.fields}

    delta_types = state_types()
    mv.compact(spark)
    assert sorted(map(tuple, mv.read(spark).collect())) == before
    assert mv.n_delta_files() < n_before
    # compaction keeps the deltas' state types: a wider compacted
    # column next to later narrow deltas made the directory unreadable
    assert state_types() == delta_types
    # appends after compaction still merge correctly
    mv.refresh(rows([("a", cast(3))], schema))
    got = {r["k"]: r["total"] for r in mv.read(spark).collect()}
    assert got == {"a": 6, "b": 4}


def test_dict_lookup_is_projection_only(spark, rows):
    from bi_etl_and_integration_spark import plans
    df = rows([(1, "O"), (2, "F"), (3, "X")], "id int, code string")
    out = dict_lookup(df, {"O": "open", "F": "final"}, "code", "status",
                      default="unknown")
    got = {r["id"]: r["status"] for r in out.collect()}
    assert got == {1: "open", 2: "final", 3: "unknown"}
    assert plans.shuffle_count(out) == 0  # dictGet: pure projection
    assert plans.broadcast_join_count(out) == 0
