"""Unit tests: cleansing / data-quality operators (SURVEY.md §2.3, §2.8)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bi_etl_and_integration_spark.operators import cleanse as cl


def test_cast_with_quarantine(rows):
    df = rows([(1, "42"), (2, "oops"), (3, None)], "id int, raw string")
    good, bad = cl.cast_with_quarantine(df, "raw", "int", "n")
    # nulls pass through (not a cast failure); bad strings divert
    assert sorted(r["id"] for r in good.collect()) == [1, 3]
    assert [r["id"] for r in bad.collect()] == [2]
    assert good.where(F.col("id") == 1).collect()[0]["n"] == 42


# (input, upper, lower) as Spark's ICU case mappings return them;
# the session runs with them off, and the JVM mapper must agree
_CASE_ROWS = [
    ("straße", "STRASSE", "straße"),
    # final sigma: Σ lower-cases to ς at a word end, σ elsewhere
    ("ΟΔΥΣΣΕΥΣ σίσυφος", "ΟΔΥΣΣΕΥΣ ΣΊΣΥΦΟΣ", "οδυσσευς σίσυφος"),
    ("İstanbul ıi", "İSTANBUL II", "i\u0307stanbul ıi"),
    ("ÀÉÎõü", "ÀÉÎÕÜ", "àéîõü"),
]


def test_character_map(spark, rows):
    df = rows([("MiXeD", "abc")], "a string, b string")
    out = cl.character_map(df, {"a": "upper", "b": "translate:abc:xyz"})
    r = out.collect()[0]
    assert r["a"] == "MIXED" and r["b"] == "xyz"
    with pytest.raises(ValueError):
        cl.character_map(df, {"a": "nope"})
    words = rows([(w, w) for w, _, _ in _CASE_ROWS], "u string, l string")
    want = [(u, lo) for _, u, lo in _CASE_ROWS]
    key = "spark.sql.icu.caseMappings.enabled"
    saved = spark.conf.get(key)
    try:
        for icu in ("true", "false"):
            spark.conf.set(key, icu)
            got = cl.character_map(words, {"u": "upper", "l": "lower"})
            assert [tuple(r) for r in got.collect()] == want, icu
    finally:
        spark.conf.set(key, saved)


def test_case_locale_guard():
    from bi_etl_and_integration_spark.session import _check_case_locale
    _check_case_locale("en")
    with pytest.raises(RuntimeError, match="-Duser.language=en"):
        _check_case_locale("tr")


def test_audit_columns(rows):
    df = rows([(1,)], "id int")
    out = cl.audit(df, "my_pipe", user="alice")
    r = out.collect()[0]
    assert r["audit_pipeline"] == "my_pipe"
    assert r["audit_user"] == "alice"
    assert r["audit_load_ts"] is not None


def test_row_count_observation_single_pass(rows):
    df = rows([(i,) for i in range(7)], "id int")
    observed, obs = cl.row_count(df, "n")
    observed.collect()  # the consuming action
    assert obs.get["n"] == 7


def test_profile(rows):
    df = rows([(1, "a"), (2, None), (3, "a")], "id int, s string")
    prof = {r["column"]: r for r in cl.profile(df).collect()}
    assert prof["s"]["n_nulls"] == 1
    assert prof["id"]["n_nulls"] == 0
    assert prof["id"]["n_rows"] == 3
    assert prof["id"]["min"] == "1" and prof["id"]["max"] == "3"


def test_regex_validate(rows):
    df = rows([(1, "a@b.com"), (2, "nope"), (3, None)], "id int, email string")
    streams = cl.regex_validate(df, "email", r"^[^@]+@[^@]+\.[^@]+$")
    assert [r["id"] for r in streams["valid"].collect()] == [1]
    assert sorted(r["id"] for r in streams["invalid"].collect()) == [2, 3]


def test_domain_cleanse_three_way_split(rows):
    df = rows([(1, "RED"), (2, "REDD"), (3, "PURPLE")], "id int, c string")
    domain = rows([("RED",), ("BLUE",)], "v string")
    streams = cl.domain_cleanse(df, "c", domain, "v",
                                corrections={"REDD": "RED"})
    assert [r["id"] for r in streams["valid"].collect()] == [1]
    corr = streams["corrected"].collect()
    assert [r["id"] for r in corr] == [2]
    assert corr[0]["c"] == "RED"  # corrected value applied
    assert [r["id"] for r in streams["invalid"].collect()] == [3]


def test_domain_cleanse_without_corrections(rows):
    df = rows([(1, "RED"), (2, "X")], "id int, c string")
    domain = rows([("RED",)], "v string")
    streams = cl.domain_cleanse(df, "c", domain, "v")
    assert streams["corrected"].count() == 0
    assert [r["id"] for r in streams["invalid"].collect()] == [2]


def test_functional_dependencies(rows):
    df = rows([(1, "a", "x"), (2, "a", "x"), (3, "b", "y"), (4, "b", "z")],
              "id int, det string, dep string")
    out = {(r["determinant"], r["dependent"]):
           (r["holds"], r["n_violations"]) for r in
           cl.functional_dependencies(
               df, [("id", "det"), ("det", "dep")]).collect()}
    assert out[("id", "det")] == (True, 0)    # id is a key
    assert out[("det", "dep")] == (False, 1)  # 'b' maps to two values


def test_functional_dependencies_fused_equals_loop(rows):
    df = rows([(1, "a", "x", 7), (2, "a", "x", 7), (3, "b", "y", 8),
               (4, "b", "z", 8), (5, None, "y", 9)],
              "id int, det string, dep string, n int")
    pairs = [("id", "det"), ("det", "dep"), ("det", "n"), ("n", "dep")]
    key = ["determinant", "dependent"]
    loop = sorted(
        cl.functional_dependencies(df, pairs, fused=False).collect(),
        key=lambda r: [r[k] for k in key])
    fused = sorted(
        cl.functional_dependencies(df, pairs, fused=True).collect(),
        key=lambda r: [r[k] for k in key])
    assert [r.asDict() for r in loop] == [r.asDict() for r in fused]


def test_domain_cleanse_corrections_dataframe(rows):
    df = rows([(1, "RED"), (2, "REDD"), (3, "PURPLE")], "id int, c string")
    domain = rows([("RED",), ("BLUE",)], "v string")
    corr = rows([("REDD", "RED")], "f string, t string")
    streams = cl.domain_cleanse(df, "c", domain, "v", corrections=corr)
    assert [r["id"] for r in streams["valid"].collect()] == [1]
    got = streams["corrected"].collect()
    assert [(r["id"], r["c"]) for r in got] == [(2, "RED")]
    assert [r["id"] for r in streams["invalid"].collect()] == [3]


def test_value_histogram_exact_buckets(rows):
    df = rows([(float(v),) for v in (0, 5, 10, 15, 95, 100, 200)],
              "x double")
    out = {r["bucket"]: (r["bucket_lo"], r["n"]) for r in
           cl.value_histogram(df, "x", 0.0, 100.0, 10).collect()}
    assert out[0] == (0.0, 2)      # 0, 5
    assert out[1] == (10.0, 2)     # 10, 15
    # 95, and the clamped top-edge values 100 and 200
    assert out[9] == (90.0, 3)


def test_reconcile_classifies_each_row(rows):
    from bi_etl_and_integration_spark.operators.cleanse import reconcile
    src = rows([(1, "a", 10.0), (2, "b", 20.0), (3, "c", None),
                (4, "d", 40.0)], "k int, name string, bal double")
    tgt = rows([(1, "a", 10.0),          # same
                (2, "b2", 21.0),         # changed: both cols
                (3, "c", None),          # same (null-safe compare)
                (5, "e", 50.0)], "k int, name string, bal double")
    out = {r["k"]: (r["status"], r["changed_cols"])
           for r in reconcile(src, tgt, ["k"]).collect()}
    assert out[1] == ("same", None)
    assert out[2] == ("changed", "name,bal")
    assert out[3] == ("same", None)      # NULL == NULL under <=>
    assert out[4] == ("only_source", None)
    assert out[5] == ("only_target", None)


def test_flag_outliers_zscore_groups(rows):
    from bi_etl_and_integration_spark.operators.cleanse import (
        flag_outliers)
    data = ([("a", float(x)) for x in [10, 11, 9, 10, 11, 9, 1000]]
            + [("b", 5.0), ("b", 5.0)]          # zero spread: no flags
            + [("c", None), ("c", 7.0)])        # NULL never an outlier
    df = rows(data, "g string, v double")
    out = flag_outliers(df, "v", ["g"], method="zscore", k=2.0)
    flagged = [(r["g"], r["v"]) for r in out.collect() if r["is_outlier"]]
    assert flagged == [("a", 1000.0)]
    assert set(out.columns) == {"g", "v", "is_outlier"}


def test_flag_outliers_iqr_global(rows):
    from bi_etl_and_integration_spark.operators.cleanse import (
        flag_outliers)
    df = rows([(float(x),) for x in
               [1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 100]], "v double")
    out = flag_outliers(df, "v", None, method="iqr", k=1.5)
    flagged = [r["v"] for r in out.collect() if r["is_outlier"]]
    assert flagged == [100.0]


def test_flag_outliers_iqr_approx_matches_exact(rows):
    """The 100 TB sketch path (approx_percentile fence) must agree
    with the exact fence on cleanly separated data — at accuracy 10k
    on a small group the sketch quartiles are rank-exact."""
    from bi_etl_and_integration_spark.operators.cleanse import (
        flag_outliers)
    data = ([("a", float(x)) for x in range(1, 50)] + [("a", 5000.0)]
            + [("b", float(x)) for x in range(100, 200)]
            + [("b", -9000.0)])
    df = rows(data, "g string, v double")
    exact = {(r["g"], r["v"]) for r in flag_outliers(
        df, "v", ["g"], method="iqr", k=1.5).collect()
        if r["is_outlier"]}
    approx = {(r["g"], r["v"]) for r in flag_outliers(
        df, "v", ["g"], method="iqr", k=1.5, approx=True).collect()
        if r["is_outlier"]}
    assert exact == approx == {("a", 5000.0), ("b", -9000.0)}


def test_mask_columns_specs(rows):
    from bi_etl_and_integration_spark.operators.cleanse import (
        mask_columns)
    df = rows([(1, "4111111111111111", "ACME", 12.5),
               (2, "abc", None, 0.0),
               (3, None, "ACME", 3.0)],
              "k int, card string, org string, bal double")
    out = {r["k"]: r for r in mask_columns(
        df, {"card": ("partial", 4), "org": "hash",
             "bal": "redact"}).collect()}
    assert out[1]["card"] == "************1111"
    assert out[2]["card"] == "***"         # shorter than n: fully starred
    assert out[3]["card"] is None
    assert out[1]["org"] == out[3]["org"]  # deterministic: joinable token
    assert out[2]["org"] is None
    assert len(out[1]["org"]) == 64
    assert all(r["bal"] is None for r in out.values())


def test_mask_columns_fixed_and_unknown_spec(rows):
    import pytest
    from bi_etl_and_integration_spark.operators.cleanse import (
        mask_columns)
    df = rows([(1, "x")], "k int, v string")
    assert mask_columns(df, {"v": ("fixed", "REDACTED")}) \
        .first()["v"] == "REDACTED"
    with pytest.raises(ValueError, match="unknown spec"):
        mask_columns(df, {"v": "rot13"})


def test_skew_report_orders_and_ratios(rows):
    from bi_etl_and_integration_spark.operators.cleanse import (
        skew_report)
    data = [("hot",)] * 60 + [("a",)] * 30 + [("b",)] * 9 + [("c",)]
    df = rows(data, "k string")
    out = skew_report(df, ["k"], top=2).collect()
    assert [r["k"] for r in out] == ["hot", "a"]
    hot = out[0]
    assert hot["n_rows"] == 60
    assert abs(hot["share_of_rows"] - 0.6) < 1e-12
    assert abs(hot["x_mean"] - 60 / 25) < 1e-12   # mean key load = 25


def test_standardize_groupwise_and_degenerate(rows):
    from bi_etl_and_integration_spark.operators.cleanse import (
        standardize)
    df = rows([("a", 1.0), ("a", 3.0), ("b", 7.0), ("c", None)],
              "g string, v double")
    out = {(r["g"], r["v"]): r["v_z"] for r in standardize(
        df, "v", ["g"]).collect()}
    # group a: mean 2, sd_samp sqrt(2) -> z = ±0.7071...
    assert abs(out[("a", 1.0)] + 0.7071067811865475) < 1e-12
    assert abs(out[("a", 3.0)] - 0.7071067811865475) < 1e-12
    assert out[("b", 7.0)] is None      # single row: sd NULL
    assert out[("c", None)] is None
