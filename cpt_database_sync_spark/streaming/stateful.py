"""Custom stateful streaming: per-key state machines the built-in window
aggregations can't express, via ``applyInPandasWithState``.

This is the extension hook the reference's hand-rolled pipeline could never
have (its only state was a row counter, `sync/FetchRunner.java:38`): an
arbitrary per-key accumulator carried across micro-batches by Spark's
state store, with watermark/timeout-driven eviction on unbounded sources.

``stream_stateful`` keeps a per-user running rollup (event count, exact
decimal value sum, first/last event time). On the fixture it runs as one
availableNow batch and its final state is deterministic — giving it an
exact SQL oracle, unlike most custom stateful ops. On an unbounded source
the same function works with a ProcessingTime/EventTime timeout emitting
per-user summaries on session expiry.

Scale: state is shuffled by key (spark.sql.shuffle.partitions state
stores); per-key memory is O(1) — 100 TB of events with 100 M users is
100 M small state rows spread over the cluster, the exact shape
Structured Streaming's state store is built for.

API note: Spark 4's successor surface (``transformWithStateInPandas`` +
``StatefulProcessor`` — named typed state slots, TTL, timers) was probed
and is unusable in this container: its driver-side Python worker imports
``google.protobuf`` (StateMessage_pb2), which is not installed and
installs are off-limits; the pre-init runner fails before user code runs.
``applyInPandasWithState`` is therefore the exercised stateful API; the
rollup logic here ports to a StatefulProcessor unchanged (same
decimal-string state tuple).
"""

from __future__ import annotations

from collections.abc import Iterator
from decimal import Decimal

import pandas as pd
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from cpt_database_sync_spark.functions.numeric import sql_dsum
from cpt_database_sync_spark.plans.registry import register
from cpt_database_sync_spark.streaming.windows import events_stream, run_to_table

_OUT_SCHEMA = (
    "user_id bigint, n_events bigint, sum_value double, "
    "first_ts timestamp, last_ts timestamp"
)
# state: (n, decimal-sum-as-string, first_micros, last_micros) — strings
# for the sum because the state store has no decimal lane and doubles
# would reintroduce order-dependent rounding.
_STATE_SCHEMA = "n bigint, s string, f bigint, l bigint"


def _user_rollup(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        n, s, first_us, last_us = state.get
        total = Decimal(s) if s is not None else None
    else:
        n, total, first_us, last_us = 0, None, None, None
    for pdf in pdfs:
        n += len(pdf)
        for v in pdf["value_dec"]:
            if v is None:
                continue  # SQL SUM skips NULLs; COUNT(*) above does not
            total = Decimal(v) if total is None else total + Decimal(v)
        ts_min = int(pdf["ts"].min().value // 1000)  # ns → µs, exact
        ts_max = int(pdf["ts"].max().value // 1000)
        first_us = ts_min if first_us is None or ts_min < first_us else first_us
        last_us = ts_max if last_us is None or ts_max > last_us else last_us
    state.update((n, None if total is None else str(total), first_us, last_us))
    # one-shot availableNow: emit the rollup now; an unbounded deployment
    # would instead emit on state.hasTimedOut and set a timeout here.
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            # all-NULL values → NULL sum, exactly SQL's SUM
            "sum_value": [None if total is None else float(total)],
            "first_ts": [pd.to_datetime(first_us, unit="us")],
            "last_ts": [pd.to_datetime(last_us, unit="us")],
        }
    )


@register(
    "stream_stateful",
    oracle=f"""
    SELECT
      user_id,
      COUNT(*) AS n_events,
      {sql_dsum("value", 14, 6)} AS sum_value,
      CAST(MIN(ts) AS TIMESTAMP) AS first_ts,
      CAST(MAX(ts) AS TIMESTAMP) AS last_ts
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user stateful rollup via applyInPandasWithState.

    The decimal cast happens Spark-side (same value→DECIMAL(14,6) edge the
    other streaming aggregates use) so the Python accumulator sums exact
    decimal strings — order-independent and bit-equal to the SQL oracle.
    Like ``stream_time_weighted``, each emitted row is the user's
    CUMULATIVE accumulator, so it serves through the keyed MERGE sink in
    update mode — one current row per user under ANY chronological
    micro-batch split (append mode re-emitted cumulative rows per batch,
    the same hazard as on the TWA stream).
    """
    ev = events_stream(spark, sf_dir).withColumn(
        "value_dec", F.col("value").cast("decimal(14,6)").cast("string")
    )
    rolled = (
        ev.groupBy("user_id")
        .applyInPandasWithState(
            _user_rollup,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    from cpt_database_sync_spark.streaming.windows import (  # noqa: PLC0415
        serve_keyed_stream,
    )

    served, _ = serve_keyed_stream(rolled, ["user_id"], "stream_stateful_")
    return served


_TWA_OUT_SCHEMA = (
    "user_id bigint, twa_num string, dur_us_total bigint, twa double"
)
# state: finalized accumulator (last_us, last_value_decimal_string,
# num_decimal_string, dur_us) + the PENDING buffer of events newer than
# the watermark, encoded "us,event_id,val|..." (val empty = NULL)
_TWA_STATE_SCHEMA = "l bigint, lv string, num string, dur bigint, pend string"

#: Max cross-batch event-time disorder the TWA stream absorbs exactly
#: (the withWatermark delay). Sized to cover the fixture's full 30-day
#: span so ANY micro-batch split of the fixture re-folds exactly; a
#: production metering pipeline sets minutes-to-hours here, which is
#: what bounds the pending buffer (delay × per-user event rate).
TWA_MAX_DISORDER = "45 days"


def _twa_fold(
    acc: tuple, events: list[tuple[int, int, str | None]]
) -> tuple:
    """Fold already-sorted (us, event_id, value_str) events into the
    accumulator (last_us, last_v, num, dur). NULL-valued holding
    intervals add duration but no numerator (SQL SUM semantics)."""
    last_us, last_v, num, dur = acc
    for us, _eid, v in events:
        if last_us is not None:
            dt = us - last_us
            if last_v is not None:
                prod = last_v * dt
                num = prod if num is None else num + prod
            dur += dt
        last_us = us
        last_v = Decimal(v) if v is not None else None
    return last_us, last_v, num, dur


def _twa_decode(pend_s: str | None) -> list[tuple[int, int, str | None]]:
    if not pend_s:
        return []
    out = []
    for item in pend_s.split("|"):
        us, eid, v = item.split(",", 2)
        out.append((int(us), int(eid), v if v else None))
    return out


def _twa_encode(pend: list[tuple[int, int, str | None]]) -> str | None:
    if not pend:
        return None
    return "|".join(f"{us},{eid},{v if v is not None else ''}" for us, eid, v in pend)


def _watermark_us(state: GroupState) -> int:
    """The stream's current watermark in microseconds, or 0 when the
    stream has none (0 keeps every event pending: nothing finalizes).

    Only that specific condition degrades to 0; any other error must
    propagate — a blanket except would silently drop the fast path and
    re-fold the whole per-key history every batch. ``_watermark_present``
    is the exact flag ``getCurrentWatermarkMs`` gates on; the
    ``PySparkRuntimeError`` catch covers a future rename."""
    if not getattr(state, "_watermark_present", True):
        return 0
    try:
        return state.getCurrentWatermarkMs() * 1000
    except PySparkRuntimeError:  # no watermark on the stream
        return 0


def _user_twa(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Watermark-delayed LOCF fold, idempotent under cross-batch
    event-time disorder: events newer than the
    watermark stay in a PENDING buffer and are RE-folded (sorted by
    (ts, event_id)) on top of the finalized accumulator at every
    emission; only events the watermark has passed fold into the
    finalized accumulator — exactly once, in event-time order. An
    event arriving in a later micro-batch with an earlier timestamp
    therefore lands in its correct LOCF position as long as it is
    within TWA_MAX_DISORDER (gated by the out-of-order split test in
    tests/test_units.py); beyond that it is dropped (the watermark
    contract — folding it would need rewriting already-finalized
    intervals). State = O(1) accumulator + O(events within the
    watermark delay) buffer per user."""
    if state.exists:
        l0, lv, num_s, dur0, pend_s = state.get
        acc = (
            l0,
            Decimal(lv) if lv is not None else None,
            Decimal(num_s) if num_s is not None else None,
            dur0,
        )
        pend = _twa_decode(pend_s)
    else:
        acc = (None, None, None, 0)
        pend = []
    for pdf in pdfs:
        for ts, eid, v in zip(pdf["ts"], pdf["event_id"], pdf["value_dec"]):
            pend.append(
                (int(ts.value // 1000), int(eid), None if v is None else str(v))
            )
    wm_us = _watermark_us(state)
    pend.sort(key=lambda e: (e[0], e[1]))
    ripe = [e for e in pend if e[0] <= wm_us]
    pend = [e for e in pend if e[0] > wm_us]
    if acc[0] is not None:
        # an event older than the already-finalized frontier arrived
        # beyond the watermark delay: dropped (late-data contract)
        ripe = [e for e in ripe if e[0] >= acc[0]]
    acc = _twa_fold(acc, ripe)
    state.update((
        acc[0],
        None if acc[1] is None else str(acc[1]),
        None if acc[2] is None else str(acc[2]),
        acc[3],
        _twa_encode(pend),
    ))
    # emission: the finalized accumulator plus a re-fold of the pending
    # buffer — the user's exact cumulative LOCF as of everything seen
    last_us, last_v, num, dur = _twa_fold(acc, pend)
    if dur > 0:
        # floor(floor(num)·1e6/dur): the exact integer-division display
        # formula time_weighted_avg uses; NULL numerator → NULL average
        q = None if num is None else (int(num) * 10**6) // dur
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                # canonical fixed-scale string — same lane as the batch
                # op (quantize to 6 dp pins exponent -6, so str() is
                # always plain sign+digits+'.'+6 digits, no E-notation)
                "twa_num": [
                    None if num is None
                    else str(num.quantize(Decimal("0.000001")))
                ],
                "dur_us_total": [dur],
                "twa": [None if q is None else q / 1_000_000],
            }
        )
    # dur == 0 (single event / all-same-ts user): the average is
    # undefined -- emit nothing, matching the batch HAVING filter.


from cpt_database_sync_spark.operators.analytics import _TWA_SQL  # noqa: E402


@register("stream_time_weighted", oracle=_TWA_SQL, tags=("reverify:r10",))
def stream_time_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING time-weighted average — the LOCF accumulator
    (`time_weighted_avg`) maintained by per-user state instead of a
    batch window: state carries (last event, Σ value·duration,
    Σ duration); each arriving event closes the previous holding
    interval and folds it in. This is the op a metering/billing
    pipeline runs continuously — the batch twin re-sorts history every
    run; the stream touches only the increment.

    Exactness: the value is quantized Spark-side (the shared
    value→DECIMAL(14,6) edge), the Python fold accumulates
    decimal-string state (order-fixed by the (ts, event_id) sort inside
    each batch), and the displayed average uses the same explicit-floor
    integer division as the batch op — so the ORACLE IS THE BATCH
    ORACLE, verbatim. The emitted row is the user's CUMULATIVE
    accumulator, so it is served through the keyed MERGE pattern
    (``serve_keyed_stream`` on user_id, update mode): each micro-batch
    upserts the refreshed rows and the serving table always holds
    exactly one current row per user — under any chronological
    micro-batch split, not just the one-shot availableNow run (append
    mode re-emitted cumulative rows per batch). Cross-batch
    event-time DISORDER is handled by the watermark-delayed re-fold in
    ``_user_twa`` (pending buffer + finalize-behind-the-watermark), so
    per-user ordering across batches is not an external precondition
    of LOCF; the out-of-order split test in tests/test_units.py gates it.
    State is O(1) per user plus the watermark-bounded pending buffer.
    """
    ev = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", TWA_MAX_DISORDER)
        .withColumn(
            "value_dec", F.col("value").cast("decimal(14,6)").cast("string")
        )
    )
    folded = ev.groupBy("user_id").applyInPandasWithState(
        _user_twa,
        outputStructType=_TWA_OUT_SCHEMA,
        stateStructType=_TWA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    from cpt_database_sync_spark.streaming.windows import (  # noqa: PLC0415
        serve_keyed_stream,
    )

    served, _ = serve_keyed_stream(
        folded, ["user_id"], "stream_twa_", varchar_lengths={"twa_num": 48}
    )
    return served


_SESS_OUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events bigint"
)
# state: the user's one OPEN session (start_us, last_us, n)
_SESS_STATE_SCHEMA = "s bigint, l bigint, n bigint"


def _session_closer(gap_us: int):
    def close_sessions(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            s0, l0, n0 = state.get
        else:
            s0, l0, n0 = None, None, 0
        out_s, out_e, out_n = [], [], []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for ts in pdf["ts"]:
                us = int(ts.value // 1000)  # ns → µs, exact
                if s0 is None:
                    s0, l0, n0 = us, us, 1
                elif us - l0 > gap_us:
                    out_s.append(s0)
                    out_e.append(l0)
                    out_n.append(n0)
                    s0, l0, n0 = us, us, 1
                else:
                    l0, n0 = us, n0 + 1
        state.update((s0, l0, n0))
        yield pd.DataFrame(
            {
                "user_id": pd.Series([key[0]] * len(out_s), dtype="int64"),
                "session_start": pd.to_datetime(pd.Series(out_s), unit="us"),
                "session_end": pd.to_datetime(pd.Series(out_e), unit="us"),
                "n_events": pd.Series(out_n, dtype="int64"),
            }
        )

    return close_sessions


from cpt_database_sync_spark.operators.analytics import SESSION_GAP_MIN


@register(
    "stream_sessionize_stateful",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL {SESSION_GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_num
      FROM marked
    ),
    rolled AS (
      SELECT user_id, sess_num,
             MIN(ts) AS session_start, MAX(ts) AS session_end,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             MAX(sess_num) OVER (PARTITION BY user_id) AS mx
      FROM sessions
      GROUP BY user_id, sess_num
    )
    SELECT user_id, session_start, session_end, n_events
    FROM rolled WHERE sess_num < mx
    """,
)
def stream_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-DRIVEN session closing through custom state — the
    applyInPandasWithState pattern production sessionizers actually
    deploy: each user's state holds exactly ONE open session; an
    arriving event either extends it or (idle gap exceeded) EMITS the
    closed session and opens the next. Emission is driven purely by the
    data, which gives the operator a property the window/timeout forms
    lack: the output is identical under ANY chronological micro-batch
    split (a session spanning a batch boundary just stays in state), so
    the one-shot fixture run and a live deployment produce the same
    rows — no complete-mode re-emission, no end-of-stream flush
    dependency. The user's LAST session never gains a successor and is
    deliberately never emitted (it is still open); the oracle is batch
    sessionization (the `sessionize` CTE chain) minus each user's final
    session.

    Scale: state is one (start, last, n) triple per user — O(users),
    watermark-evictable on an unbounded source by adding an
    EventTimeTimeout that force-closes idle sessions; per-batch work is
    linear in that batch's rows after the per-user sort. Same µs-exact
    integer time arithmetic as the batch sessionize (> gap strictly),
    so the session cuts are bit-identical.
    """
    ev = events_stream(spark, sf_dir).select("user_id", "event_id", "ts")
    closed = ev.groupBy("user_id").applyInPandasWithState(
        _session_closer(SESSION_GAP_MIN * 60 * 1_000_000),
        outputStructType=_SESS_OUT_SCHEMA,
        stateStructType=_SESS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_table(closed, "append")


_ASOF_OUT_SCHEMA = (
    "event_id bigint, user_id bigint, purchase_value double, "
    "last_click_value double"
)
# state: the user's most recent click in (ts, event_id) order
_ASOF_STATE_SCHEMA = "l_us bigint, l_eid bigint, lv double"


def _asof_joiner(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        l_us, l_eid, lv = state.get
    else:
        l_us, l_eid, lv = None, None, None
    out_id, out_pv, out_cv = [], [], []
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        for eid, ts, role, val in zip(
            pdf["event_id"], pdf["ts"], pdf["role"], pdf["value"]
        ):
            if role == "c":
                l_us = int(ts.value // 1000)
                l_eid = int(eid)
                lv = float(val)
            else:
                out_id.append(int(eid))
                out_pv.append(float(val))
                out_cv.append(lv)
    state.update((l_us, l_eid, lv))
    yield pd.DataFrame(
        {
            "event_id": pd.Series(out_id, dtype="int64"),
            "user_id": pd.Series([key[0]] * len(out_id), dtype="int64"),
            "purchase_value": pd.Series(out_pv, dtype="float64"),
            "last_click_value": pd.Series(out_cv, dtype="float64"),
        }
    )


@register(
    "stream_join_asof",
    oracle="""
    SELECT
      p.event_id,
      p.user_id,
      CAST(p.value AS DOUBLE) AS purchase_value,
      (SELECT c.value FROM events c
       WHERE c.user_id = p.user_id
         AND c.event_type = 'click'
         AND (c.ts < p.ts
              OR (c.ts = p.ts AND c.event_id < p.event_id))
       ORDER BY c.ts DESC, c.event_id DESC
       LIMIT 1) AS last_click_value
    FROM events p
    WHERE p.event_type = 'purchase'
    """,
)
def stream_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING as-of join through custom state — the third member of
    the as-of trio (JVM union-trick batch form in operators/asof.py,
    pandas cogroup form in udf_cogrouped): each user's state carries
    only their MOST RECENT click; an arriving purchase is enriched from
    state and emitted immediately. This is how an online feature store
    serves "last touchpoint" features: O(1) state per key, no window
    retention, no rescan of click history — the stream-stream interval
    join (stream_join) keeps a watermark-buffered RANGE of both sides,
    the as-of state keeps exactly one row.

    The event order is defined as (ts, event_id) — total, so equal-
    timestamp click/purchase pairs resolve identically in the fold and
    in the oracle (written with the explicit tuple comparison, not
    ts-only ≤) — and under that order the output is identical for ANY
    chronological micro-batch split: a click crossing a batch boundary
    is exactly what the state carries (the stream_sessionize_stateful
    batch-invariance argument).
    """
    ev = events_stream(spark, sf_dir)
    both = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("event_type") == "click", F.lit("c"))
        .otherwise(F.lit("p"))
        .alias("role"),
        "value",
    )
    joined = both.groupBy("user_id").applyInPandasWithState(
        _asof_joiner,
        outputStructType=_ASOF_OUT_SCHEMA,
        stateStructType=_ASOF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_table(joined, "append")


# ---------------------------------------------------------------------------
# Streaming Holt double-exponential smoothing
# ---------------------------------------------------------------------------

_HOLT_OUT_SCHEMA = (
    "event_type string, n_days bigint, level double, trend double, "
    "forecast_h double"
)
# state: finalized Holt accumulator (level, trend as float-repr strings —
# the state store has no "exact double" contract across encoders, repr()
# round-trips IEEE doubles exactly), folded-day count, the finalized
# frontier day (late-data guard), plus the PENDING per-day partial
# counts for days the watermark has not closed, encoded "dn:c|dn:c".
_HOLT_STATE_SCHEMA = "l string, b string, nd bigint, ld bigint, pend string"

#: Watermark delay for the Holt stream — same contract as
#: TWA_MAX_DISORDER: a day's count may only finalize into the
#: non-associative fold once the watermark guarantees no more events for
#: it can arrive. Sized past the fixture span so ANY micro-batch split
#: of the fixture re-folds exactly; production sets the real disorder
#: bound, which is what bounds the pending map (delay days per key).
HOLT_MAX_DISORDER = "45 days"


def _holt_step(l: float, b: float, n: int, x: float) -> tuple[float, float, int]:
    """One Holt recurrence step — the IDENTICAL IEEE expression tree as
    the batch HOF fold and the oracle's recursive CTE (α = β = 0.5 are
    exact binary constants; Python floats are the same IEEE doubles)."""
    from cpt_database_sync_spark.operators.timeseries import (  # noqa: PLC0415
        HOLT_ALPHA,
        HOLT_BETA,
    )

    if n == 0:
        return x, 0.0, 1
    nl = HOLT_ALPHA * x + (1 - HOLT_ALPHA) * (l + b)
    nb = HOLT_BETA * (nl - l) + (1 - HOLT_BETA) * b
    return nl, nb, n + 1


def _holt_decode(pend_s: str | None) -> dict[int, int]:
    if not pend_s:
        return {}
    out: dict[int, int] = {}
    for item in pend_s.split("|"):
        dn, c = item.split(":")
        out[int(dn)] = int(c)
    return out


def _holt_encode(pend: dict[int, int]) -> str | None:
    if not pend:
        return None
    return "|".join(f"{dn}:{pend[dn]}" for dn in sorted(pend))


def _type_holt(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-type Holt state machine, watermark-delayed like ``_user_twa``:
    the recurrence is a non-associative ordered fold over DAILY counts,
    and a day's count can still grow while events for it may arrive —
    so per-day partials accumulate in a pending map, only days the
    watermark has CLOSED (wm ≥ end of day) finalize into the (l, b, n)
    accumulator (in dn order, exactly once), and every emission re-folds
    the still-open days on top of the finalized state. The emitted row
    is therefore the type's exact batch-Holt value over everything seen,
    under ANY chronological micro-batch split and any within-watermark
    disorder. A day older than the finalized frontier arriving past the
    watermark is dropped (the late-data contract). State = O(1)
    accumulator + O(delay days) pending entries per key."""
    if state.exists:
        l_s, b_s, nd, ld, pend_s = state.get
        lv = float(l_s) if l_s is not None else 0.0
        bv = float(b_s) if b_s is not None else 0.0
        pend = _holt_decode(pend_s)
    else:
        lv, bv, nd, ld = 0.0, 0.0, 0, None
        pend = {}
    for pdf in pdfs:
        for dn, c in pdf.groupby("dn").size().items():
            pend[int(dn)] = pend.get(int(dn), 0) + int(c)
    wm_us = _watermark_us(state)
    day_us = 86_400_000_000
    ripe = sorted(dn for dn in pend if (dn + 1) * day_us <= wm_us)
    for dn in ripe:
        c = pend.pop(dn)
        if ld is not None and dn <= ld:
            # a partial for an already-finalized day arrived beyond the
            # watermark delay: dropped (the late-data contract — folding
            # it would need rewriting already-finalized steps)
            continue
        lv, bv, nd = _holt_step(lv, bv, nd, float(c))
        ld = dn
    state.update((repr(lv), repr(bv), nd, ld, _holt_encode(pend)))
    # emission: finalized accumulator + re-fold of the open days
    el, eb, en = lv, bv, nd
    for dn in sorted(pend):
        el, eb, en = _holt_step(el, eb, en, float(pend[dn]))
    if en > 0:
        from cpt_database_sync_spark.operators.timeseries import (  # noqa: PLC0415
            HOLT_H,
        )

        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_days": [en],
                "level": [el],
                "trend": [eb],
                "forecast_h": [el + HOLT_H * eb],
            }
        )


from cpt_database_sync_spark.operators.timeseries import _HOLT_SQL  # noqa: E402


@register("stream_holt", oracle=_HOLT_SQL)
def stream_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Holt double-exponential forecast — the batch
    ``holt_linear_forecast`` recurrence maintained as per-type state
    (the docstring's own "unbounded keys run it as stateful streaming"
    lane, timeseries.py): one (level, trend, n_days) row per key plus
    the watermark-pending per-day counts, updated each micro-batch.
    The batch twin replays the whole daily series every run; the stream
    folds only the days the watermark just closed — the
    continuously-updated-forecast shape a capacity-planning pipeline
    serves.

    Exactness: the ORACLE IS THE BATCH ORACLE, verbatim (the
    batch≡stream discipline of stream_cusum / stream_drift_psi). Daily
    counts assemble exactly from per-batch integer partials; the fold
    steps are the identical IEEE double expression tree as the batch
    HOF ``aggregate`` and the oracle's recursive CTE, in the identical
    dn order (see ``_type_holt`` for the watermark-delayed finalize +
    re-fold that makes this hold under ANY chronological micro-batch
    split and within-watermark disorder — gated by the split-invariance
    test in tests/test_units.py). NULL ts / NULL event_type rows are
    out of contract on both sides, as in the batch op.

    Serving: cumulative per-type rows through the keyed MERGE sink
    (``serve_keyed_stream`` on event_type, update mode) — exactly one
    current forecast row per type at all times.

    Scale: the per-type state is O(1) + O(watermark-delay days); keys
    (types/metrics/SKUs) shard across state-store partitions. The raw
    event shuffle to per-key tasks is the one corpus-sized exchange —
    a deployment with few huge keys pre-aggregates (key, day) partials
    map-side first (the daily rollup is algebraic; only the FOLD is
    order-bound), then folds the tiny day relation: same state machine,
    same oracle.
    """
    ev = (
        events_stream(spark, sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .withWatermark("ts", HOLT_MAX_DISORDER)
        .withColumn(
            "dn",
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")),
        )
        .select("event_type", "ts", "dn")
    )
    folded = ev.groupBy("event_type").applyInPandasWithState(
        _type_holt,
        outputStructType=_HOLT_OUT_SCHEMA,
        stateStructType=_HOLT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    from cpt_database_sync_spark.streaming.windows import (  # noqa: PLC0415
        serve_keyed_stream,
    )

    served, _ = serve_keyed_stream(
        folded, ["event_type"], "stream_holt_", varchar_lengths={"event_type": 64}
    )
    return served


# ---------------------------------------------------------------------------
# Streaming interval-coverage (gaps-and-islands union as per-user state)
# ---------------------------------------------------------------------------

_IC_OUT_SCHEMA = (
    "user_id bigint, n_events bigint, n_islands bigint, "
    "covered_us bigint, span_us bigint"
)
# state: closed-island totals (ne, ni, cov), the OPEN island (os, oe),
# global span endpoints (fs, me), the finalized frontier fr (late-data
# guard), and the pending buffer "s,e,eid|..." of events newer than the
# watermark.
_IC_STATE_SCHEMA = (
    "ne bigint, ni bigint, cov bigint, os bigint, oe bigint, "
    "fs bigint, me bigint, fr bigint, pend string"
)

IC_MAX_DISORDER = "45 days"  # the TWA_MAX_DISORDER sizing argument


def _ic_fold(acc: tuple, events: list[tuple[int, int, int]]) -> tuple:
    """Fold (s, e, event_id)-sorted intervals into the island
    accumulator. Sorted-by-s input makes the open island's max end THE
    running max end (a new island only ever starts past every previous
    end), so `s <= oe` is exactly the batch window's
    `s <= max(e) over preceding` merge test."""
    ne, ni, cov, os_, oe, fs, me = acc
    for s, e, _eid in events:
        ne += 1
        fs = s if fs is None else min(fs, s)
        me = e if me is None else max(me, e)
        if os_ is None:
            os_, oe = s, e
        elif s <= oe:
            oe = max(oe, e)
        else:
            ni += 1
            cov += oe - os_
            os_, oe = s, e
    return ne, ni, cov, os_, oe, fs, me


def _ic_decode(pend_s: str | None) -> list[tuple[int, int, int]]:
    if not pend_s:
        return []
    out = []
    for item in pend_s.split("|"):
        s, e, eid = item.split(",")
        out.append((int(s), int(e), int(eid)))
    return out


def _ic_encode(pend: list[tuple[int, int, int]]) -> str | None:
    if not pend:
        return None
    return "|".join(f"{s},{e},{eid}" for s, e, eid in pend)


def _user_islands(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Watermark-delayed island fold (the `_user_twa` machinery applied
    to interval union): events the watermark passed finalize into the
    closed/open-island accumulator exactly once in (s, e, event_id)
    order; newer events pend and re-fold at every emission, so the
    emitted row is the user's exact batch interval_coverage over
    everything seen, under any chronological micro-batch split and any
    within-watermark disorder. An event starting before the finalized
    frontier arriving past the delay is dropped (the late-data
    contract). State = O(1) accumulator + watermark-bounded buffer."""
    if state.exists:
        ne, ni, cov, os_, oe, fs, me, fr, pend_s = state.get
        pend = _ic_decode(pend_s)
    else:
        ne, ni, cov, os_, oe, fs, me, fr = 0, 0, 0, None, None, None, None, None
        pend = []
    for pdf in pdfs:
        for s, e, eid in zip(pdf["s"], pdf["e"], pdf["event_id"]):
            pend.append((int(s), int(e), int(eid)))
    wm_us = _watermark_us(state)
    pend.sort()
    ripe = [ev for ev in pend if ev[0] <= wm_us]
    pend = [ev for ev in pend if ev[0] > wm_us]
    if fr is not None:
        ripe = [ev for ev in ripe if ev[0] >= fr]
    acc = _ic_fold((ne, ni, cov, os_, oe, fs, me), ripe)
    ne, ni, cov, os_, oe, fs, me = acc
    fr = ripe[-1][0] if ripe else fr
    state.update((ne, ni, cov, os_, oe, fs, me, fr, _ic_encode(pend)))
    tne, tni, tcov, tos, toe, tfs, tme = _ic_fold(acc, pend)
    if tne > 0:
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [tne],
                "n_islands": [tni + (1 if tos is not None else 0)],
                "covered_us": [tcov + ((toe - tos) if tos is not None else 0)],
                "span_us": [tme - tfs],
            }
        )


from cpt_database_sync_spark.operators.analytics import (  # noqa: E402
    _INTERVAL_COVERAGE_SQL,
    IC_MOD_MIN,
)


@register("stream_interval_coverage", oracle=_INTERVAL_COVERAGE_SQL)
def stream_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING merged-interval coverage — `interval_coverage`'s
    gaps-and-islands union maintained as per-user state instead of a
    batch window pass: the state carries the closed-island totals plus
    the one OPEN island, each arriving hold either extends the open
    island or closes it and opens the next. The utilization/SLA counter
    a metering pipeline serves continuously — the batch twin re-sorts
    every user's full history each run; the stream folds only the
    events the watermark just closed.

    Exactness: the ORACLE IS THE BATCH ORACLE, verbatim (the
    stream_holt / stream_time_weighted batch≡stream discipline). All
    arithmetic is BIGINT µs; the fold consumes events in the exact
    (s, e, event_id) total order the batch window uses, and the
    sorted-by-s invariant makes the open island's end the running max
    end — the same merge test, row for row (see ``_ic_fold``).
    Cross-batch disorder is absorbed by the watermark-delayed
    finalize + pend re-fold (``_user_islands``); the split-invariance
    gate runs in tests/test_units.py.

    Serving: cumulative per-user rows through the keyed MERGE sink —
    one current coverage row per user at all times (update mode).

    Scale: O(1) state + O(delay-window events) pend per user; users
    shard across state-store partitions; the one corpus-sized exchange
    is the per-key shuffle every stateful op pays.
    """
    ev = (
        events_stream(spark, sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("event_id").isNotNull())
        .withWatermark("ts", IC_MAX_DISORDER)
        .select(
            "user_id",
            "event_id",
            "ts",
            F.unix_micros("ts").alias("s"),
            (
                F.unix_micros("ts")
                + ((F.col("event_id") % IC_MOD_MIN) + 1) * 60_000_000
            ).alias("e"),
        )
    )
    folded = ev.groupBy("user_id").applyInPandasWithState(
        _user_islands,
        outputStructType=_IC_OUT_SCHEMA,
        stateStructType=_IC_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    from cpt_database_sync_spark.streaming.windows import (  # noqa: PLC0415
        serve_keyed_stream,
    )

    served, _ = serve_keyed_stream(folded, ["user_id"], "stream_ic_")
    return served


# ---------------------------------------------------------------------------
# Streaming peak concurrency (the ±1 endpoint sweep as per-type state)
# ---------------------------------------------------------------------------

_CONC_OUT_SCHEMA = (
    "event_type string, peak bigint, first_peak_us bigint, "
    "n_intervals bigint"
)
# state: current depth after the finalized endpoint prefix, the peak so
# far with its first attainment time, finalized endpoint count, the
# finalized frontier (late-endpoint guard) and the pending buffer
# "t,d,eid|..." of endpoints newer than the watermark.
_CONC_STATE_SCHEMA = (
    "running bigint, peak bigint, fp bigint, np bigint, fr bigint, "
    "pend string"
)


def _conc_fold(acc: tuple, pts: list[tuple[int, int, int]]) -> tuple:
    """Fold (t, delta, event_id)-sorted endpoints into the sweep
    accumulator. The first time the running depth EXCEEDS the peak is
    the batch window's MIN(t | running = max) — in a monotone scan the
    max is first attained by a strict increase, and order is by t."""
    running, peak, fp, np_ = acc
    for t, d, _eid in pts:
        running += d
        np_ += 1
        if running > peak:
            peak, fp = running, t
    return running, peak, fp, np_


def _conc_decode(pend_s: str | None) -> list[tuple[int, int, int]]:
    if not pend_s:
        return []
    out = []
    for item in pend_s.split("|"):
        t, d, eid = item.split(",")
        out.append((int(t), int(d), int(eid)))
    return out


def _conc_encode(pend: list[tuple[int, int, int]]) -> str | None:
    if not pend:
        return None
    return "|".join(f"{t},{d},{eid}" for t, d, eid in pend)


def _type_sweep(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Watermark-delayed endpoint sweep (the `_user_islands` machinery
    applied to depth counting): endpoints the watermark passed finalize
    into the (running, peak, first-time) accumulator exactly once in
    (t, delta, event_id) order — a close sorts before an open at the
    same t (−1 < +1, the half-open [s, e) contract) — and newer
    endpoints pend and re-fold at every emission, so the emitted row is
    the type's exact batch concurrency_peak over everything seen, under
    any chronological micro-batch split. An endpoint older than the
    finalized frontier is dropped (late-data contract). State = O(1)
    accumulator + watermark-bounded buffer (both endpoints of an event
    trail its ts by at most the max holding duration, so the buffer is
    bounded by disorder-window + 90 min of endpoints)."""
    if state.exists:
        running, peak, fp, np_, fr, pend_s = state.get
        pend = _conc_decode(pend_s)
    else:
        running, peak, fp, np_, fr = 0, 0, None, 0, None
        pend = []
    for pdf in pdfs:
        for s, e, eid in zip(pdf["s"], pdf["e"], pdf["event_id"]):
            pend.append((int(s), 1, int(eid)))
            pend.append((int(e), -1, int(eid)))
    wm_us = _watermark_us(state)
    pend.sort()
    ripe = [p for p in pend if p[0] <= wm_us]
    pend = [p for p in pend if p[0] > wm_us]
    if fr is not None:
        ripe = [p for p in ripe if p[0] >= fr]
    running, peak, fp, np_ = _conc_fold((running, peak, fp, np_), ripe)
    fr = ripe[-1][0] if ripe else fr
    state.update((running, peak, fp, np_, fr, _conc_encode(pend)))
    trun, tpeak, tfp, tnp = _conc_fold((running, peak, fp, np_), pend)
    if tnp > 0:
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "peak": [tpeak],
                "first_peak_us": [tfp],
                "n_intervals": [tnp // 2],
            }
        )


from cpt_database_sync_spark.operators.analytics import (  # noqa: E402
    _CONCURRENCY_SQL,
    IC_MOD_MIN as _CONC_MOD_MIN,
)


@register("stream_concurrency", oracle=_CONCURRENCY_SQL)
def stream_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING peak concurrency — `concurrency_peak`'s ±1 endpoint
    sweep maintained as per-type state instead of a batch window pass:
    each event contributes its open (+1) and close (−1) endpoints to
    the pending buffer; endpoints the watermark closes fold into a
    constant-size (depth, peak, first-time) accumulator in the exact
    batch total order. The live capacity gauge a licensing/pool/GPU
    scheduler serves continuously — the batch twin re-sorts every
    type's full endpoint history each run; the stream folds only what
    the watermark just closed.

    Exactness: the ORACLE IS THE BATCH ORACLE, verbatim (the
    `stream_interval_coverage` batch≡stream discipline). All BIGINT µs
    and integer deltas; the fold consumes endpoints in the identical
    (t, delta, event_id) order (−1 before +1 at equal t — half-open
    semantics), and "first strict increase to the max" in a monotone
    scan is provably the batch MIN(t | running = max). Cross-batch
    disorder is absorbed by the watermark-delayed finalize + pend
    re-fold; split invariance is gated in tests/test_units.py and the
    pend bound is soaked under 45-day disorder alongside the IC state
    machine's.

    Serving: cumulative per-type rows through the keyed MERGE sink —
    one current (peak, first time, interval count) row per type at all
    times (update mode).

    Scale: O(1) state + O(delay-window + max-duration endpoints) pend
    per type; types shard across state-store partitions; the one
    corpus-sized exchange is the per-key shuffle every stateful op
    pays. A single dominant type funnels only its ENDPOINT STREAM
    through one state partition — the same key-cardinality bound as
    the batch window form; the batch two-level chunk device is the
    rebalance lane when a key outgrows a partition.
    """
    ev = (
        events_stream(spark, sf_dir)
        .filter(
            F.col("ts").isNotNull()
            & F.col("event_id").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .withWatermark("ts", IC_MAX_DISORDER)
        .select(
            "event_type",
            "event_id",
            "ts",
            F.unix_micros("ts").alias("s"),
            (
                F.unix_micros("ts")
                + ((F.col("event_id") % _CONC_MOD_MIN) + 1) * 60_000_000
            ).alias("e"),
        )
    )
    folded = ev.groupBy("event_type").applyInPandasWithState(
        _type_sweep,
        outputStructType=_CONC_OUT_SCHEMA,
        stateStructType=_CONC_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    from cpt_database_sync_spark.streaming.windows import (  # noqa: PLC0415
        serve_keyed_stream,
    )

    served, _ = serve_keyed_stream(
        folded,
        ["event_type"],
        "stream_conc_",
        varchar_lengths={"event_type": 64},
    )
    return served


# ---------------------------------------------------------------------------
# Streaming Page-Hinkley drift detector (per-type state)
# ---------------------------------------------------------------------------

_PH_OUT_SCHEMA = (
    "event_type string, n_days bigint, mx bigint, wb bigint, alarm_dn bigint"
)
# phase 1 (burn-in incomplete): hist carries the finalized days "dn:c|…"
# (≤ PH_BURN_DAYS entries); phase 2: the integer scalars (t, cs, sb, wb,
# mn, mx, al) ARE the whole state. ld = finalized frontier (late guard),
# pend = watermark-open per-day partials (the _type_holt device).
_PH_STATE_SCHEMA = (
    "t bigint, cs bigint, sb bigint, wb bigint, hist string, "
    "mn bigint, mx bigint, al bigint, ld bigint, pend string"
)


def _ph_fold(days, sb, wb, t, cs, mn, mx, al):
    """Fold (dn, count) steps through the scaled PH recurrence: m2 =
    2W·cumsum − t·(2S_W + 2δW) exact ints; returns the advanced
    (t, cs, mn, mx, al). lam2w = λ·2W is integral (λ = 50, W int)."""
    from cpt_database_sync_spark.operators.timeseries import (  # noqa: PLC0415
        PH_DELTA_X2,
        PH_LAMBDA,
    )

    lam2w = int(2 * wb * PH_LAMBDA)
    for dn, c in days:
        t += 1
        cs += c
        m2 = 2 * wb * cs - t * (2 * sb + PH_DELTA_X2 * wb)
        if mn is None or m2 < mn:
            mn = m2
        dep = m2 - mn
        if mx is None or dep > mx:
            mx = dep
        if al is None and dep > lam2w:
            al = dn
    return t, cs, mn, mx, al


def _type_ph(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-type Page-Hinkley state machine, watermark-delayed like
    ``_type_holt``: per-day partials pend until the watermark closes the
    day, then finalize IN dn ORDER exactly once. While fewer than
    PH_BURN_DAYS days are finalized, the finalized days are kept
    verbatim (the burn-in mean is not yet fixed, so no prefix of the
    statistic is final); at the W-th finalized day the burn stats
    freeze, the history folds into O(1) integer scalars, and every
    later day advances them incrementally. Every emission re-folds the
    still-open pending days on top (burn stats recomputed over
    everything seen while still in burn-in), so the emitted row equals
    the batch `page_hinkley` over all data seen — under any
    chronological micro-batch split and within-watermark disorder."""
    from cpt_database_sync_spark.operators.timeseries import (  # noqa: PLC0415
        PH_BURN_DAYS,
    )

    if state.exists:
        t, cs, sb, wb, hist_s, mn, mx, al, ld, pend_s = state.get
        hist = _holt_decode(hist_s)
        pend = _holt_decode(pend_s)
    else:
        t = cs = 0
        sb = wb = None
        hist = {}
        mn = mx = al = ld = None
        pend = {}
    for pdf in pdfs:
        for dn, c in pdf.groupby("dn").size().items():
            pend[int(dn)] = pend.get(int(dn), 0) + int(c)
    wm_us = _watermark_us(state)
    day_us = 86_400_000_000
    ripe = sorted(dn for dn in pend if (dn + 1) * day_us <= wm_us)
    for dn in ripe:
        c = pend.pop(dn)
        if ld is not None and dn <= ld:
            continue  # late beyond the watermark: dropped (contract)
        if wb is None:
            hist[dn] = c
            if len(hist) == PH_BURN_DAYS:
                # burn-in complete: freeze stats, fold the history
                wb = PH_BURN_DAYS
                sb = sum(hist.values())
                days = [(d, hist[d]) for d in sorted(hist)]
                t, cs, mn, mx, al = _ph_fold(days, sb, wb, 0, 0, None, None, None)
                hist = {}
        else:
            t, cs, mn, mx, al = _ph_fold([(dn, c)], sb, wb, t, cs, mn, mx, al)
        ld = dn
    state.update((
        t, cs, sb, wb, _holt_encode(hist), mn, mx, al, ld, _holt_encode(pend)
    ))
    # emission: finalized state + re-fold of the open days
    open_days = [(d, pend[d]) for d in sorted(pend)]
    if wb is not None:
        et, ecs, emn, emx, eal = _ph_fold(open_days, sb, wb, t, cs, mn, mx, al)
        ewb = wb
        en = et
    else:
        all_days = sorted(hist.items() | pend.items())
        en = len(all_days)
        if en == 0:
            return
        ewb = min(PH_BURN_DAYS, en)
        esb = sum(c for _, c in all_days[:ewb])
        _, _, _, emx, eal = _ph_fold(all_days, esb, ewb, 0, 0, None, None, None)
    if en > 0:
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_days": [en],
                "mx": [emx],
                "wb": [ewb],
                "alarm_dn": [eal],
            }
        )


from cpt_database_sync_spark.operators.timeseries import _PH_SQL  # noqa: E402


@register("stream_page_hinkley", oracle=_PH_SQL)
def stream_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Page-Hinkley upward-drift detector — the batch
    `page_hinkley` maintained as per-type state, emitting the current
    (n_days, max drift depth, first alarm day) after every micro-batch:
    the deployable form of the sequential test (the batch twin's
    docstring names this exact state shape). State is O(1) integer
    scalars per key once the burn-in window closes, plus the
    watermark-pending day partials and (only during burn-in) at most
    PH_BURN_DAYS finalized day counts.

    Exactness: the ORACLE IS THE BATCH ORACLE, verbatim (batch≡stream).
    The whole recurrence is exact integer arithmetic (the batch op's
    scaled-by-2W device), so the stream needs NO float-step pinning;
    the one display division round(mx/(2W), 9) runs as Spark SQL round
    on the serving table — the identical expression the oracle runs.
    Finalize-in-dn-order + emission re-fold make the result invariant
    under any chronological batch split (gated in test_units).

    Serving: per-type rows through the keyed MERGE sink, update mode.

    Scale: state is O(1) + O(delay days) per key; the one corpus-sized
    exchange is the key shuffle, and a dominant-key deployment
    pre-aggregates (key, day) map-side first (the day rollup is
    algebraic; only the threshold walk is order-bound) — `stream_holt`'s
    documented shape.
    """
    from cpt_database_sync_spark.streaming.windows import (  # noqa: PLC0415
        serve_keyed_stream,
    )

    ev = (
        events_stream(spark, sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .withWatermark("ts", HOLT_MAX_DISORDER)
        .withColumn(
            "dn",
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")),
        )
        .select("event_type", "ts", "dn")
    )
    folded = ev.groupBy("event_type").applyInPandasWithState(
        _type_ph,
        outputStructType=_PH_OUT_SCHEMA,
        stateStructType=_PH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    served, _ = serve_keyed_stream(
        folded, ["event_type"], "stream_ph_", varchar_lengths={"event_type": 64}
    )
    return served.select(
        "event_type",
        "n_days",
        F.round(
            F.col("mx").cast("double") / (2 * F.col("wb")), 9
        ).alias("max_depth"),
        F.col("alarm_dn").cast("long").alias("alarm_dn"),
    )
