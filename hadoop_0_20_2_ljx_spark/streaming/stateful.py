"""Custom stateful streaming operators via applyInPandasWithState.

The reference has no streaming layer at all (SURVEY.md §2.10); its closest
analog is the reduce-side streaming group iterator
(mapred/ReduceTask.java:227 ReduceValuesIterator — values streamed per key,
never materialized). applyInPandasWithState is the Structured Streaming
generalization of that: per-key Arrow batches plus persistent state that
survives across micro-batches.

Scale notes: state lives in the state store partitioned by the grouping
key, so per-key state is bounded and the operator shuffles once on the
key — the same distribution a 1000-executor cluster uses. Timeouts bound
state growth for idle keys.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def running_user_stats_stream(events_stream: DataFrame) -> DataFrame:
    """Per-user running totals maintained as streaming state.

    Emits, on every micro-batch that touches a user, the cumulative
    (n_events, sum_value) for that user so far. The batch-mode equivalent
    over a finite input is groupBy(user_id).agg(count, sum) — which is the
    oracle the tests compare a single availableNow pass against.
    """

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        # half-away-from-zero at 6 decimals, matching the batch oracle's
        # F.round (Python round() is half-to-even — repo determinism rule)
        import math

        r6 = math.copysign(math.floor(abs(total) * 1e6 + 0.5) / 1e6, total)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [r6]}
        )

    return events_stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
