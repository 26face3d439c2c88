"""Incrementally-maintained aggregate materialized view (SURVEY.md §1.1:
ClickHouse MV carrying AggregateFunction partial states, DM/Правильное
построение витрины с множественными агрегациями.md:78-99).

The ClickHouse pattern: the MV stores per-key partial STATES
(``groupArrayState``), readers finalize with ``-Merge`` combinators.
Spark-native equivalent: each batch appends one partial-state parquet
delta (sum/count pairs per measure); reads merge all deltas; periodic
compaction rewrites them as one.  Appends never rewrite history — the
write cost of a refresh is O(batch), not O(view), which is the property
that makes nightly 100 TB fact loads maintainable.

Crash safety: a refresh is one atomic parquet append of a new delta
directory; compaction publishes via temp-dir swap (single-writer,
documented in ``pipeline.checkpointed_write``).

Exactness: pass DECIMAL measure columns for money-like data.  Double
partial sums re-associate across deltas (and across compactions), which
can flip a downstream rounding boundary; decimal states make
refresh-then-merge bit-identical to a direct aggregation.
"""

from __future__ import annotations

import os
from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bi_etl_and_integration_spark.operators.aggregate import (
    merge_state_tables, merge_states, partial_states)


class IncrementalAggMV:
    """``IncrementalAggMV(path, keys, measures, finals)``:

    - ``refresh(batch_df)``  aggregate the batch to partial states and
      append them as a new delta (one shuffle over the batch only)
    - ``read(spark)``        merged + finalized view
    - ``compact(spark)``     fold all deltas into one (read cost resets)

    measures: {name: Column}; finals: {name: sum|count|avg}.
    """

    def __init__(self, path: str, keys: Sequence[str],
                 measures: Mapping[str, Column],
                 finals: Mapping[str, str] | None = None):
        self.path = path
        self.keys = list(keys)
        self.measures = dict(measures)
        # unlisted measures default to SUM (the class contract) even
        # when a PARTIAL finals dict is passed — merge_states' own
        # fallback is avg, which would silently change semantics
        self.finals = {m: "sum" for m in measures} | dict(finals or {})

    def refresh(self, batch: DataFrame) -> None:
        states = partial_states(batch, self.keys, self.measures)
        states.write.mode("append").parquet(self.path)

    def _states(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)

    def read(self, spark: SparkSession) -> DataFrame:
        return merge_states(self._states(spark), self.keys,
                            list(self.measures), self.finals)

    def compact(self, spark: SparkSession) -> None:
        """Fold every delta into a single state set.  The merged result
        is itself a valid state table (sums of sums), so compaction and
        incremental appends compose indefinitely.

        Each state column is written back with the deltas' own type:
        SUM widens a DECIMAL(p,s) to DECIMAL(p+10,s), and a compacted
        file of the wider type next to later narrow deltas makes the
        directory unreadable (PARQUET_COLUMN_DATA_TYPE_MISMATCH).  Under
        ANSI mode (Spark 4's default) a total that no longer fits the
        delta type fails the cast instead of being written."""
        from bi_etl_and_integration_spark.pipeline import (
            checkpointed_write)
        states = self._states(spark)
        merged = merge_state_tables(states, self.keys, list(self.measures))
        checkpointed_write(
            merged.select(*[F.col(f.name).cast(f.dataType)
                            for f in states.schema.fields]),
            self.path)

    def n_delta_files(self) -> int:
        return len([f for f in os.listdir(self.path)
                    if f.endswith(".parquet")])
