"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship TPC-H-Q1-shaped pricing summary
(SURVEY.md §7.1 step 1) at sf0.001.  ``queries()`` / ``oracle_sql()``
expose the full declared corpus (SURVEY.md §2.12 Q01–Q42 plus the
LLM-pipeline extras) implemented in
``bi_etl_and_integration_spark.queries``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from bi_etl_and_integration_spark.queries import ORACLE, QUERIES

# The driver verifies the FIRST 50 ``queries()`` entries per round
# (CORRECTNESS_r01/r02 each stopped at entry 50 — `_ordered()` below
# self-rotates the window onto whatever still lacks a verdict).
# After round 9 every declared query holds a cumulative verdict
# (178 hash-green, 2 rows-only by SURVEY §2.12 declaration), so the
# window goes to queries whose physical plan or operator lifetime
# changed since their last verdict (same output expected):
#   - the one input-spread rule (``relational.spread_for_compute``
#     replaced a round-robin small-input repartition helper and the
#     per-query size-floor overrides): q07 q36 x08 x09 x13 x14 x18
#     x19 x20 x23 x24 x27;
#   - plans changed in round 12 that no window has verified yet:
#     x26 (single-pass BM25), x33 (persisted candidates), q17b
#     (as-of join without the pre-aggregate);
#   - fuzzy grouping / star connected components now release each
#     superseded round's checkpoint: q24b q24c.
# The rest keeps the dedup/similarity and staging families warm.
# ``_VERIFY_FIRST`` is only the TIE-BREAK order within the groups;
# EXACTLY 50 names (pinned by tests/test_entry_window.py).
_VERIFY_FIRST = [
    # the one input-spread rule
    "q07_cast_quarantine", "q36_error_tolerant_load",
    "x08_text_quality", "x09_text_langid", "x13_heavy_hitters",
    "x14_chunking", "x18_quality_filter", "x19_repetition_features",
    "x20_contamination_check", "x23_segment_dedup",
    "x24_boilerplate_removal", "x27_url_dedup",
    # round-12 plan changes still without a verdict
    "x26_bm25_search", "x33_hybrid_rrf", "q17b_asof_join",
    # checkpoint release in the iterative component rounds
    "q24b_fuzzy_grouping", "q24c_fuzzy_grouping_cc",
    # dedup/similarity family (spread exchange, join crossover)
    "x43_incremental_dedup", "x43b_incremental_dedup_append",
    "x02_dedup_minhash", "x02b_dedup_minhash_multiprobe",
    "x03_dedup_simhash", "x04_dedup_ngram",
    "x42_substring_dedup",
    "x34_semantic_dedup", "x34b_semantic_dedup_arrow",
    "x34c_semantic_dedup_coarse",
    "x36_dedup_canonical", "x36b_dedup_keep_longest",
    # session-staged bucketed facts and the IVF sidecar cache
    "q14_mart_cte_cascade", "q47_lateral_topk",
    "q43_shipping_topk", "q45_returned_items", "q13b_bucketed_join",
    "x44c_ann_ivfadc_persisted", "x44b_ann_ivf_append",
    "x44_ann_ivf_persisted",
    # high-value carry-overs worth keeping warm
    "q39_term_extraction", "q39b_term_lookup",
    "q51_hierarchy_flatten",
    "q41d_stateful_sessionize", "x41_jpeg_features", "q64_with_totals",
    # corpus-curation block (operators/curation.py)
    "x17_pii_redaction", "x21_domain_mix", "x22_split_assignment",
    "x38_url_parts", "x39_curation_pipeline",
    # oracle-bearing LLM extensions
    "x29_stratified_exact_sample", "x30_semantic_clusters",
]


def _verified_so_far() -> tuple[set[str], set[str], set[str]]:
    """Scan the driver-committed CORRECTNESS_r*.json files for queries
    that already hold a green verdict (hash_match, or a completed
    rows-only check), the subset with a HASH verdict specifically, and
    ones that were checked and FAILED."""
    import glob
    import json
    import os
    green: set[str] = set()
    hashed: set[str] = set()
    failed: set[str] = set()
    here = os.path.dirname(os.path.abspath(__file__))
    for path in sorted(glob.glob(os.path.join(here,
                                              "CORRECTNESS_r*.json"))):
        try:
            with open(path) as fh:
                rounds = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in rounds.items():
            if not isinstance(row, dict):
                continue
            if row.get("hash_match") or (row.get("err") == "no_oracle"
                                         and row.get("spark_rows")
                                         is not None):
                green.add(name)
                failed.discard(name)
                if row.get("hash_match"):
                    hashed.add(name)
            else:
                failed.add(name)
    return green, hashed, failed


def _ordered() -> list[str]:
    """Registration order = the driver's verification order (it checks
    a fixed-size prefix each round).  Self-rotating with zero manual
    curation: previously-FAILED queries come first (their fixes need
    re-verification, and they are few), then queries whose strongest
    possible verdict is still outstanding — no verdict at all in any
    committed CORRECTNESS_r*.json, OR oracle-bearing but never
    hash-verified (a rows-only entry that later GAINS a value oracle
    rotates back in automatically, e.g. the q10b/q21c band upgrades) —
    then the proven tail.  `_VERIFY_FIRST` breaks ties inside each
    group (it front-loads the families judged highest-value), followed
    by declaration order."""
    green, hashed, failed = _verified_so_far()
    missing = [n for n in _VERIFY_FIRST if n not in QUERIES]
    assert not missing, f"unknown names in _VERIFY_FIRST: {missing}"
    prio = {n: i for i, n in enumerate(_VERIFY_FIRST)}
    decl = {n: i for i, n in enumerate(QUERIES)}

    def group(n: str) -> int:
        if n in failed:
            return 0
        pending = (n not in green) or (n in ORACLE and n not in hashed)
        return 1 if pending else 2

    return sorted(QUERIES,
                  key=lambda n: (group(n),
                                 prio.get(n, len(prio)), decl[n]))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["q18_hash_aggregate"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {n: QUERIES[n] for n in _ordered()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted => rows-only check)."""
    return {n: ORACLE[n] for n in _ordered() if n in ORACLE}
