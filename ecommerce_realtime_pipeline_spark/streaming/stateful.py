"""Custom stateful streaming operator: ordered-funnel (CEP) matching
via ``applyInPandasWithState`` (SURVEY §2.7 "stateful ops" +
BASELINE.json north star: custom stateful operators where built-ins
can't express the semantics).

``session_window`` / windowed aggs can count events per gap-session,
but they CANNOT express *ordered pattern* semantics — "emit a
conversion the moment a customer completes page_view → add_to_cart →
purchase, and an abandonment when a partially-completed funnel goes
quiet for `gap` of event time". That is a per-key state machine:

- state per customer = (stage reached, funnel start, last progress),
  updated by events *in event-time order*;
- an event advances the machine iff it is the NEXT funnel stage
  (non-stage events are ignored — they neither reset nor extend);
- reaching the last stage emits a ``converted`` row immediately and
  resets the machine (a customer can convert repeatedly);
- an EVENT-TIME timeout (watermark passing ``last progress + gap``)
  emits an ``abandoned`` row with the stage reached and clears state.

The reference declares exactly this workload — funnel analysis over
the event taxonomy page_view→…→purchase with composite
``(customer_id, timestamp)`` indexes (``sql/init/
03_create_indexes.sql:69-73``, ``src/data_generator/schemas.py:
98-100``) — as a dashboard intent; the batch form is
``plans/kpi.py``'s funnel/sessionization family. This is the
streaming-native form with bounded state.

Scale stance: state is O(live funnels), i.e. one 3-field tuple per
customer with an open funnel, evicted by event-time timeout — bounded
by churn, not by history. The operator is hash-partitioned by
customer_id (Spark inserts the shuffle); a hot customer is one state
tuple, not one partition of history. Data crosses the Python boundary
via Arrow once per trigger per partition (pandas batches), and the
per-group work is O(batch rows log batch rows) for the in-batch
event-time sort.

Out-of-order handling: within a micro-batch, rows are sorted by event
time before feeding the machine; across batches, rows later than the
watermark are dropped by the watermark gate (the documented bounded-
lateness divergence from the reference's unbounded Postgres upserts).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.streaming import ingest as I

#: Ordered funnel stages (strict subset of EVENT_TYPES — product_view /
#: remove_from_cart are deliberately neutral: browsing more or bouncing
#: an item out of the cart neither advances nor kills the funnel).
FUNNEL_STAGES = ("page_view", "add_to_cart", "purchase")

#: Operator output: one row per funnel RESOLUTION (conversion or
#: abandonment). Timestamps ride as epoch-µs longs through the Arrow
#: boundary (tz-proof); the public wrapper converts to TIMESTAMP.
OUTPUT_SCHEMA = (
    "customer_id string, outcome string, last_stage string, "
    "started_us long, last_us long, n_events int"
)

#: Per-customer machine state: stage ∈ {1..len(FUNNEL_STAGES)-1} is the
#: count of consumed funnel stages (a completed funnel resets to 0 and
#: never persists), started_us / last_us bound the open funnel.
STATE_SCHEMA = "stage int, started_us long, last_us long"


def _advance(
    stage: int, started: int | None, last: int | None, etype: str, t_us: int
) -> tuple[int, int | None, int | None, bool]:
    """Pure state transition: feed one event, return the next state and
    whether the funnel just completed. Kept free of Spark/state-store
    types so it is unit-testable and reusable by the batch twin."""
    if stage == 0:
        if etype == FUNNEL_STAGES[0]:
            return 1, t_us, t_us, False
        return 0, None, None, False
    if etype == FUNNEL_STAGES[stage]:
        stage += 1
        if stage == len(FUNNEL_STAGES):
            return 0, started, t_us, True  # completed — caller emits
        return stage, started, t_us, False
    return stage, started, last, False


def make_funnel_fn(gap_s: int):
    """Build the applyInPandasWithState function for a given
    abandonment gap (seconds of event-time inactivity)."""
    gap_us = gap_s * 1_000_000

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
    ) -> Iterator[pd.DataFrame]:
        (customer_id,) = key
        cols = [
            "customer_id",
            "outcome",
            "last_stage",
            "started_us",
            "last_us",
            "n_events",
        ]
        if state.hasTimedOut:
            # Event-time watermark passed last progress + gap: the open
            # funnel is abandoned. Emit its obituary and clear state.
            stage, started, last = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    (
                        customer_id,
                        "abandoned",
                        FUNNEL_STAGES[stage - 1],
                        started,
                        last,
                        stage,
                    )
                ],
                columns=cols,
            )
            return

        rows = pd.concat(list(pdfs), ignore_index=True)
        # Explicit lateness bound: drop rows older than the event-time
        # watermark. Spark filters these for aggregations; for
        # arbitrary stateful ops the contract is the operator's to
        # enforce — making it explicit here means a replayed/late event
        # can never resurrect or re-order an already-resolved funnel,
        # whatever the engine's filtering behavior.
        wm_us = state.getCurrentWatermarkMs() * 1000
        if wm_us > 0:
            rows = rows[rows["t_us"] >= wm_us]
        # Event-time order within the batch — the state machine is
        # order-sensitive; micro-batch arrival order is not a contract.
        rows = rows.sort_values("t_us", kind="mergesort")
        if state.exists:
            stage, started, last = state.get
        else:
            stage, started, last = 0, None, None
        out: list[tuple] = []
        for t_us, etype in zip(rows["t_us"], rows["event_type"]):
            stage, started, last, done = _advance(
                stage, started, last, etype, int(t_us)
            )
            if done:
                out.append(
                    (
                        customer_id,
                        "converted",
                        FUNNEL_STAGES[-1],
                        started,
                        last,
                        len(FUNNEL_STAGES),
                    )
                )
                stage, started, last = 0, None, None
        if stage > 0:
            state.update((stage, started, last))
            # Abandon when the event-time watermark passes last+gap.
            # The timestamp must sit strictly beyond the current
            # watermark or the state store rejects it (a row admitted
            # at the watermark boundary can have last+gap already
            # passed); the max() only ever fires the timeout EARLIER,
            # and only for a funnel that is already gap-stale.
            wm_ms = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max((last + gap_us) // 1000, wm_ms + 1))
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(out, columns=cols)

    return fn


def funnel_matches(
    events: DataFrame,
    gap_s: int = 300,
    watermark: str = "1 minute",
) -> DataFrame:
    """Wire the funnel matcher over a parsed event stream with columns
    (customer_id, event_type, event_time TIMESTAMP). Returns the
    resolution stream: (customer_id, outcome, last_stage, started_at,
    last_event_at, n_events), append-mode."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    wm = events.withWatermark("event_time", watermark)
    keyed = wm.select(
        "customer_id",
        "event_type",
        "event_time",
        F.unix_micros("event_time").alias("t_us"),
    )
    out = keyed.groupBy("customer_id").applyInPandasWithState(
        make_funnel_fn(gap_s),
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
    return out.select(
        "customer_id",
        "outcome",
        "last_stage",
        F.timestamp_micros("started_us").alias("started_at"),
        F.timestamp_micros("last_us").alias("last_event_at"),
        "n_events",
    )


def run_funnel_matcher(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    gap_s: int = 300,
    watermark: str = "1 minute",
):
    """Run the CEP funnel matcher over a file-envelope stream (the same
    S4 source as every other streaming query), appending funnel
    resolutions to parquet exactly-once via checkpoint."""
    matched = funnel_matches(
        I.parse_events(I.stream_envelopes(spark, source_dir)),
        gap_s=gap_s,
        watermark=watermark,
    )
    return I.start_available_now(matched, checkpoint_dir, sink_dir)
