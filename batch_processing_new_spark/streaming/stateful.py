"""Custom stateful streaming operator via applyInPandasWithState.

The engine's extension point for operators Structured Streaming lacks
natively (SURVEY.md §2B streaming row): arbitrary per-key state carried
across micro-batches, Arrow-batched. Demonstrated with a per-user
running aggregate (count + sum + max event_id) whose final values must
equal the batch groupBy — asserted in tests/test_streaming.py.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_value double, max_event_id bigint"
# the running sum is held in integer CENTS: event values are 2-decimal
# currency, so cents are exact — the state is then order-independent
# (float accumulation across micro-batches would drift by arrival
# order and defeat an exact cross-engine oracle for q78)
STATE_SCHEMA = "n bigint, total_cents bigint, max_id bigint"


def _update_user_state(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, cents, max_id = state.get
    else:
        n, cents, max_id = 0, 0, -1
    for pdf in batches:
        n += len(pdf)
        # floor(x*100 + 0.5): DuckDB round() is half-AWAY-from-zero
        # while pandas .round() is half-to-even — a value like 0.125
        # (exactly representable, *100 = 12.5) would diverge by a cent.
        # Values here are nonnegative, so +0.5-floor IS half-away.
        # dropna first: a NULL value arrives as NaN, and NaN.astype
        # (int64) is INT64_MIN — one bad row silently poisoned the
        # user's running total to -9.2e16 (tools/poison_sweep.py);
        # SQL sum() skips NULLs, so skipping here keeps the oracle.
        vals = pdf["value"].dropna().to_numpy()
        cents += int(np.floor(vals * 100 + 0.5).astype("int64").sum())
        max_id = max(max_id, int(pdf["event_id"].max()))
    state.update((n, cents, max_id))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [cents / 100.0],
            "max_event_id": [max_id],
        }
    )


def running_user_stats(events_stream: DataFrame) -> DataFrame:
    """Per-user running stats with explicit state across micro-batches.

    Emission-volume bound (VERDICT r09 #3): update mode emits one row
    per ACTIVE KEY per MICRO-BATCH, so total output rows = sum over
    batches of distinct-users-in-batch — bounded by users x batches,
    linear in each factor. The operator's state work is linear in
    input rows; the emission volume is a consumer-contract choice, and
    a weak-scaling stress that grows users and batches TOGETHER sees
    their product (the q78 x10 0.54 -> x100 0.82 exponent climb is
    exactly this, not state-maintenance superlinearity). The 100 TB
    recipe when the consumer needs FINAL state rather than a per-batch
    changelog: size micro-batches to the emission budget (fewer, larger
    triggers — measured value-neutral and 5x-fewer-emissions, TUNING.md
    "Retired one-shot tools"), or consume the update stream through a
    foreachBatch keyed upsert (streaming/incremental.py) so the sink
    holds one row per user instead of every emission.
    """
    from batch_processing_new_spark.shipping import ensure_package_on_executors

    ensure_package_on_executors(events_stream.sparkSession)
    return (
        events_stream.select("user_id", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_state,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------- Spark 4 transformWithStateInPandas (typed state)

#: output: one row per user per micro-batch (update semantics)
TWS_OUTPUT_SCHEMA = (
    "user_id bigint, n_events bigint, total_value double, "
    "n_types bigint, top_type string"
)


class UserTypeProfileProcessor:
    """Per-user event-type profile via the Spark 4 StatefulProcessor
    API (transformWithStateInPandas) — the successor to
    applyInPandasWithState with TYPED state primitives instead of one
    opaque tuple: a ValueState for the running (count, sum) and a
    MapState keyed by event_type for per-type counts. The MapState is
    the capability applyInPandasWithState can't express incrementally:
    updating one type's count doesn't rewrite (or even read) the other
    types' entries — at 100 TB of events that's the difference between
    O(types-in-batch) and O(types-ever-seen) state I/O per user per
    micro-batch.

    Emits (user_id, n_events, total_value, n_types, top_type) per
    micro-batch; top_type is the max-count type with alphabetical
    tiebreak, so every emission is deterministic.

    GATED CAPABILITY (same policy as the multimodal real codec,
    operators/multimodal.py): Spark's transformWithState Python worker
    speaks protobuf to the JVM state server, and ``google.protobuf`` is
    broken in this image (ImportError at
    pyspark/sql/streaming/proto/StateMessage_pb2.py:23; installs are
    off-limits). The operator is therefore NOT a registry query — it
    would fail even the rows-only driver check here — but the full
    implementation + batch-equivalence test ship now and activate
    unchanged on any standard Spark 4 cluster (protobuf is a stock
    pyspark dependency). tests/test_streaming.py skips the test when
    the protobuf import fails, q78 remains the driver-checked stateful
    operator.
    """

    # subclassing StatefulProcessor happens lazily in build() so that
    # importing this module never hard-requires the Spark 4 API.

    @staticmethod
    def build():
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        class _Proc(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self.totals = handle.getValueState(
                    "totals", "n bigint, total double"
                )
                self.type_counts = handle.getMapState(
                    "type_counts", "event_type string", "n bigint"
                )

            def handleInputRows(self, key, rows, timerValues):
                (user_id,) = key
                n, total = (
                    tuple(self.totals.get())
                    if self.totals.exists()
                    else (0, 0.0)
                )
                for pdf in rows:
                    n += len(pdf)
                    total += float(pdf["value"].sum())
                    # touch ONLY the types present in this batch
                    for etype, cnt in (
                        pdf.groupby("event_type").size().items()
                    ):
                        prev = (
                            self.type_counts.getValue((etype,))[0]
                            if self.type_counts.containsKey((etype,))
                            else 0
                        )
                        self.type_counts.updateValue(
                            (etype,), (prev + int(cnt),)
                        )
                self.totals.update((n, total))
                counts = {
                    k[0]: v[0]
                    for k, v in self.type_counts.iterator()
                }
                top = min(
                    counts, key=lambda t: (-counts[t], t)
                )
                import pandas as pd  # executor-local import

                yield pd.DataFrame(
                    {
                        "user_id": [user_id],
                        "n_events": [n],
                        "total_value": [total],
                        "n_types": [len(counts)],
                        "top_type": [top],
                    }
                )

            def close(self) -> None:
                pass

        return _Proc()


def user_type_profile(events_stream: DataFrame) -> DataFrame:
    """Per-user type profile with typed state (Spark 4
    transformWithStateInPandas)."""
    from batch_processing_new_spark.shipping import ensure_package_on_executors

    ensure_package_on_executors(events_stream.sparkSession)
    return (
        events_stream.select("user_id", "event_id", "event_type", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            UserTypeProfileProcessor.build(),
            outputStructType=TWS_OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )
