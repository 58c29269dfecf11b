"""The one per-key state fold behind every custom stateful streaming
operator (``streaming.ingest`` and ``streaming.docs``).

Structured Streaming has one operator for arbitrary per-key state,
``applyInPandasWithState``; this wraps it once. An operator supplies
its output/state schemas and one per-batch step
``(key, pdf, prior_state) -> (new_state, out)``; the fold owns the
call, the lazy pandas/``GroupState`` imports, and the batch contract:

* Arrow hands a key's micro-batch as several chunks (split at
  ``maxRecordsPerBatch``). Empty chunks are dropped and the rest are
  concatenated, so the step sees the key's WHOLE micro-batch. Index
  level 0 of that frame is the chunk number, for steps that accumulate
  chunk by chunk (their floating-point summation order).
* ``ordered=True`` sorts the whole batch by ``(ts, event_id)`` and
  resets the index, for order-dependent recurrences. There is no
  cross-chunk ordering guarantee, so sorting chunks one by one would
  run the recurrence out of time order for keys spanning chunks.
  Rows must still arrive in event-time order ACROSS batches per key: a
  source that can deliver late data needs a watermark-buffered variant
  in front (the trade the reference's in-order memtable insert path
  assumes, table.go:78-119).

A step returns ``None`` to keep its state and emit nothing; otherwise
``out`` is a DataFrame or a dict of columns. Timeouts are off: state
lives until the query does, so each operator bounds its own state.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def fold_by_key(
    stream: DataFrame,
    key: str,
    step: Callable,
    out_schema: StructType,
    state_schema: StructType,
    output_mode: str,
    ordered: bool = False,
) -> DataFrame:
    """``stream`` grouped by ``key``, ``step`` folded over each key's
    micro-batches (the contract above)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(k, pdfs, state):
        import pandas as pd

        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, keys=range(len(chunks)))
        if ordered:
            pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        res = step(k[0], pdf, state.getOption)
        if res is not None:
            new_state, out = res
            state.update(new_state)
            yield pd.DataFrame(out)

    return stream.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
