"""The two workloads: which ops they run and how each op is checked.

``marts`` is the BI datamart side: batch datamart queries, then the
incremental load that feeds a mart — a seeded CDC batch applied through
``pipeline.Pipeline`` into a snapshot table with an incremental MV, and
a streaming replay of the same batch.
``curation`` runs the LLM-data curation queries.  The seed permutes the
order of the queries and generates the CDC batch.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

#: Batch datamart queries (SURVEY §2.12 surface).  All but q23 run Spark
#: jobs while their DataFrame is built (staging writes, snapshot commits,
#: checkpoints): 22 of the 124 batch ``q*`` queries do at sf0.01, and
#: these four are the cheapest that together reach the relational,
#: aggregate, windows, cdc, mv and dimensional operators.  q08 and q23
#: run none at build time; they are the cheapest queries that reach
#: ``operators.cleanse`` and ``operators.arrays``.
MARTS = ("q08_character_map", "q12_cascaded_lookup", "q21b_incremental_mv",
         "q23_array_hof", "q38d_cdc_transactional", "q51_hierarchy_flatten")

#: LLM-data curation queries: simhash and embedding dedup, text quality,
#: URL dedup and multimodal features (the cheapest query that reaches
#: ``operators.multimodal``).
CURATION = ("x03_dedup_simhash", "x05_dedup_embedding", "x08_text_quality",
            "x11_multimodal_features", "x27_url_dedup")

KEYS = ["o_orderkey"]
PAYLOAD = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
           "o_orderpriority"]


def query_order(workload: str, seed: int) -> list[str]:
    ops = list({"marts": MARTS, "curation": CURATION}[workload])
    random.Random(seed).shuffle(ops)
    return ops


def mv_measures():
    # DECIMAL(38,2): IncrementalAggMV.compact() widens a narrower decimal
    # state to precision 38, and deltas appended after it keep the narrow
    # type, so the view can no longer be read (parquet type mismatch)
    return {"n": F.lit(1),
            "amount": F.col("o_totalprice").cast("decimal(38,2)")}


def consume(df):
    """Evaluate every output column; one (rows, digest) row reaches
    Python.  bit_xor keeps the digest order-insensitive and overflow-free."""
    return df.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns]))
        .alias("digest"))


def oracle_final_state(orders_path: str, batch_path: str) -> str:
    """DuckDB SQL for the table after the batch: the last change per
    key wins; changes sharing an offset resolve delete, then update,
    then insert (the only order consistent with one transaction)."""
    cols = ", ".join(KEYS + PAYLOAD)
    return f"""
        WITH c AS (SELECT * FROM read_parquet('{batch_path}')),
        last AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (
              PARTITION BY o_orderkey ORDER BY "offset" DESC,
                CASE op WHEN 1 THEN 0 WHEN 4 THEN 1 ELSE 2 END) AS rn
            FROM c) WHERE rn = 1)
        SELECT {cols} FROM read_parquet('{orders_path}')
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM c)
        UNION ALL
        SELECT {cols} FROM last WHERE op <> 1"""


def oracle_mv(batch_path: str) -> str:
    return f"""
        SELECT o_orderpriority, count(*) AS n,
               sum(CAST(o_totalprice AS DECIMAL(38,2))) AS amount
        FROM read_parquet('{batch_path}') GROUP BY 1"""


def table_mismatch(con, files, oracle_sql: str) -> int:
    """Rows in the symmetric multiset difference between a parquet
    file set and an oracle query."""
    cols = ", ".join(KEYS + PAYLOAD)
    paths = ", ".join(repr(f) for f in files)
    got = f"SELECT {cols} FROM read_parquet([{paths}])"
    q = (f"SELECT count(*) FROM (({got}) EXCEPT ALL ({oracle_sql})) "
         f"UNION ALL SELECT count(*) FROM (({oracle_sql}) EXCEPT ALL ({got}))")
    return sum(r[0] for r in con.sql(q).fetchall())
