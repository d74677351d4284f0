"""Custom stateful streaming operator: event sessionization.

Demonstrates the §2.B streaming surface the engine exposes beyond the
reference (which has no streaming at all): watermarks + windowed aggs
come free from Structured Streaming; THIS module is the custom-operator
path — ``applyInPandasWithState`` with a per-key session state that
survives across micro-batches.

Semantics: events for a user belong to one session while gaps between
consecutive events stay under ``gap_seconds``; a session closes when the
watermark passes its last event + gap (or at stream end for the
available-now runs used in tests).
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Iterable, Iterator, Tuple

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

# Default schemas (key "user_id" of long type); sessionize() derives the
# actual schemas from the input frame so any key column name/type works.
SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events int, total_value double"
)
STATE_SCHEMA = "start long, last long, n int, total double"


def _advance(
    start: int,
    last: int,
    n: int,
    total: float,
    ts_ms: list,
    vals: list,
    gap_ms: int,
) -> tuple:
    """Pure session state machine for one sorted micro-batch of one key.

    Input state (start, last, n, total) is the OPEN session (n == 0 means
    no state existed: start/last seeded from the first event).  Returns
    (new_state, closed) where closed is a list of (start, last, n, total)
    sessions emitted by this batch.

    Late events (t < start) are a sorted prefix of the batch.  They are
    gap-clustered against EACH OTHER into runs — two late events within
    gap of one another form ONE session, not two isolated ones; runs
    other than the newest close immediately (nothing later can join
    them), and the newest run bridges into the open session when within
    gap of its start (session extends backwards and absorbs the run)."""
    closed = []
    i = 0
    lrun = None  # open late run: [lstart, llast, ln, ltotal]
    while i < len(ts_ms) and ts_ms[i] < start:
        t, v = ts_ms[i], vals[i]
        if lrun is None:
            lrun = [t, t, 1, float(v)]
        elif t - lrun[1] <= gap_ms:
            lrun[1], lrun[2], lrun[3] = t, lrun[2] + 1, lrun[3] + float(v)
        else:
            closed.append(tuple(lrun))
            lrun = [t, t, 1, float(v)]
        i += 1
    if lrun is not None:
        if start - lrun[1] <= gap_ms:
            start = lrun[0]
            n += lrun[2]
            total += lrun[3]
        else:
            closed.append(tuple(lrun))
    for t, v in zip(ts_ms[i:], vals[i:]):
        if t - last > gap_ms and n > 0:
            closed.append((start, last, n, total))
            start, n, total = t, 0, 0.0
        last = max(last, t)
        n += 1
        total += float(v)
    return (start, last, n, total), closed


def _advance_batch(start, last, n, total, ts, vals, gap_ms):
    """Vectorized twin of :func:`_advance` over one SORTED batch (r15).

    ``ts`` (int64 millis, ascending) and ``vals`` (float64) are numpy
    arrays.  The late prefix (ts < start) is delegated to the scalar
    ``_advance`` — late events only exist across micro-batches and are a
    handful of rows — and the main part is segmented in one vectorized
    pass: a session break before element i iff
    ``ts[i] - max(last, ts[i-1]) > gap_ms`` (exactly the loop's
    condition, since the running ``last`` of a sorted batch is
    ``max(carried last, previous element)``).

    Integer fields (start / end / count) are bit-exactly ``_advance``'s.
    Float totals are exact sequential ``np.cumsum`` sums in two places:
    the closed continuation segment (the carried ``total`` plus the
    events before the first break), and the carried ``total`` when the
    batch has no break.  After a break, the closed middle segments and
    the new open session's carried ``total`` come from
    ``np.add.reduceat`` (pairwise summation), so they can differ from
    the scalar sequential accumulation by ulps — the operator contract
    rounds totals (round(total_value, 2) in the workload + oracle), and
    tests/test_sessionize_property.py asserts the tight tolerance.

    Returns ``((start, last, n, total), (st, en, cnt, tot))`` where the
    second element holds the closed sessions as int64/int64/int64/float64
    arrays (empty arrays when nothing closed).
    """
    import numpy as np

    empty = (
        np.empty(0, np.int64),
        np.empty(0, np.int64),
        np.empty(0, np.int64),
        np.empty(0, np.float64),
    )
    late_closed: list = []
    k = int(np.searchsorted(ts, start, side="left"))
    if k:
        (start, last, n, total), late_closed = _advance(
            start, last, n, total, ts[:k].tolist(), vals[:k].tolist(), gap_ms
        )
        ts, vals = ts[k:], vals[k:]

    def _with_late(st, en, cnt, tot):
        if not late_closed:
            return st, en, cnt, tot
        lst = np.fromiter((c[0] for c in late_closed), np.int64, len(late_closed))
        len_ = np.fromiter((c[1] for c in late_closed), np.int64, len(late_closed))
        lcn = np.fromiter((c[2] for c in late_closed), np.int64, len(late_closed))
        lto = np.fromiter((c[3] for c in late_closed), np.float64, len(late_closed))
        return (
            np.concatenate((lst, st)),
            np.concatenate((len_, en)),
            np.concatenate((lcn, cnt)),
            np.concatenate((lto, tot)),
        )

    m = ts.size
    if m == 0:
        return (start, last, n, total), _with_late(*empty)
    prev = np.empty(m, dtype=np.int64)
    prev[0] = last
    if m > 1:
        np.maximum(ts[:-1], last, out=prev[1:])
    brk = (ts - prev) > gap_ms
    if n == 0:
        # a fresh state is seeded from the batch's first event, which
        # can never close an (empty) open session — the loop's `n > 0`
        brk[0] = False
    bidx = np.flatnonzero(brk)
    if bidx.size == 0:
        # the whole batch extends the open session; exact sequential sum
        cs = np.cumsum(np.concatenate(((total,), vals)))
        state = (start, int(max(last, ts[-1])), n + m, float(cs[-1]))
        return state, _with_late(*empty)
    b0 = int(bidx[0])
    nclosed = bidx.size  # continuation segment + middle segments
    st_out = np.empty(nclosed, dtype=np.int64)
    en_out = np.empty(nclosed, dtype=np.int64)
    cnt_out = np.empty(nclosed, dtype=np.int64)
    tot_out = np.empty(nclosed, dtype=np.float64)
    st_out[0] = start
    if b0 > 0:
        cs0 = np.cumsum(np.concatenate(((total,), vals[:b0])))
        en_out[0] = max(last, int(ts[b0 - 1]))
        cnt_out[0] = n + b0
        tot_out[0] = cs0[-1]
    else:
        en_out[0], cnt_out[0], tot_out[0] = last, n, total
    bounds = np.concatenate((bidx, (m,)))
    counts = np.diff(bounds)
    sums = np.add.reduceat(vals, bidx)
    st_out[1:] = ts[bidx[:-1]]
    en_out[1:] = ts[bounds[1:-1] - 1]
    cnt_out[1:] = counts[:-1]
    tot_out[1:] = sums[:-1]
    state = (int(ts[bidx[-1]]), int(ts[-1]), int(counts[-1]), float(sums[-1]))
    return state, _with_late(st_out, en_out, cnt_out, tot_out)


def sessionize(
    events: "DataFrame",
    gap_seconds: int = 1800,
    ts_col: str = "event_ts",
    key_col: str = "user_id",
    value_col: str = "value",
) -> "DataFrame":
    """events (streaming or batch-test via availableNow) -> closed sessions.

    State per user: (start, last, n, total) in epoch seconds.  Timeout is
    event-time based: when the watermark passes last+gap the session
    emits and the state clears.

    Late events admitted by the watermark but OLDER than the open
    session's start are handled explicitly: the sorted late prefix is
    gap-clustered against EACH OTHER into runs (two late events within
    ``gap_seconds`` of one another form one session, not two); runs
    other than the newest emit immediately as closed sessions (no future
    event can join them — anything later is newer), and the newest run
    bridges into the open session when within ``gap_seconds`` of its
    start (the session extends backwards and absorbs the run).

    Output/state schemas are DERIVED from the input: the key column
    keeps its name and type; the value column must be numeric.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_type = dict((f.name, f.dataType.simpleString()) for f in events.schema.fields)[
        key_col
    ]
    val_type = dict((f.name, f.dataType.simpleString()) for f in events.schema.fields)[
        value_col
    ]
    if val_type not in ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal"):
        if not val_type.startswith("decimal"):
            raise ValueError(
                f"value column {value_col!r} must be numeric, got {val_type}"
            )
    session_schema = (
        f"{key_col} {key_type}, session_start timestamp, session_end timestamp, "
        "n_events int, total_value double"
    )

    gap_ms = gap_seconds * 1000
    # Arrow hands applyInPandasWithState batches with timestamps
    # converted to spark.sql.session.timeZone and made tz-NAIVE, while
    # the watermark clock setTimeoutTimestamp is compared against is
    # true UTC epoch millis.  Reading the wall clock AS UTC would make
    # the timeout land below the watermark (streaming query dies) west
    # of UTC, and re-localizing wall times python-side is AMBIGUOUS in
    # the DST fall-back hour (any fixed resolution injects a false
    # ~1h gap that splits continuous sessions).  So the epoch millis are
    # computed JVM-SIDE before the stateful apply — a timestamp cast to
    # double is zone-independent true epoch seconds — and ride along as
    # a hidden column; the state function never touches a wall clock on
    # the input side.  Output conversion (instant -> session-zone wall
    # clock) is the unambiguous direction.
    session_tz = "UTC"
    try:
        session_tz = events.sparkSession.conf.get("spark.sql.session.timeZone") or "UTC"
    except Exception:
        pass

    def fn(
        key: Tuple[Any, ...], pdfs: Iterator["Any"], state: "GroupState"
    ) -> Iterable["Any"]:
        import numpy as np
        import pandas as pd

        (user_id,) = key

        def out_frame(st, en, cnt, tot):
            # Vectorized output conversion over closed-session ARRAYS
            # (r14 vectorized the per-session pd.Timestamp chains; r15
            # removes the remaining pandas machinery: profiled at sf0.1,
            # pd.to_datetime(utc).tz_convert.tz_localize x2 plus the
            # dict sanitize in pd.DataFrame cost 2.8 s of the 3.9 s
            # single-threaded kernel pass across 1500 keys).  In the UTC
            # session zone instant -> wall is the identity, so the ns
            # datetimes are pure integer scaling (datetime64[ms] ->
            # [ns]); other zones keep the columnwise pandas conversion —
            # the same instant->wall mapping either way.
            m = len(st)
            if session_tz == "UTC":
                ss = st.astype("datetime64[ms]").astype("datetime64[ns]")
                ee = en.astype("datetime64[ms]").astype("datetime64[ns]")
            else:
                ss = (
                    pd.to_datetime(st, unit="ms", utc=True)
                    .tz_convert(session_tz)
                    .tz_localize(None)
                )
                ee = (
                    pd.to_datetime(en, unit="ms", utc=True)
                    .tz_convert(session_tz)
                    .tz_localize(None)
                )
            # numeric keys broadcast as a typed array; anything else
            # (string keys etc.) keeps the list form pandas sanitizes
            key_vals = (
                np.full(m, user_id)
                if isinstance(user_id, (int, float)) and not isinstance(user_id, bool)
                else [user_id] * m
            )
            return pd.DataFrame(
                {
                    key_col: key_vals,
                    "session_start": ss,
                    "session_end": ee,
                    "n_events": cnt.astype(np.int32),
                    "total_value": tot,
                },
                copy=False,
            )

        if state.hasTimedOut:
            start, last, n, total = state.get
            state.remove()
            yield out_frame(
                np.array([start], np.int64),
                np.array([last], np.int64),
                np.array([n], np.int64),
                np.array([total], np.float64),
            )
            return

        # _hs_utc_ms was computed JVM-side (timestamp cast to double =
        # true epoch seconds, zone- and DST-independent); sort by the
        # instant — across a fall-back transition wall-clock order and
        # event order disagree, and the batch kernel requires ts sorted.
        # fn runs once per KEY; skipping the concat copy for the common
        # single-chunk delivery trims per-key Python overhead (r14).
        chunks = list(pdfs)
        rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
        # stable argsort (r15, VERDICT r14 #3 hardening): under duplicate
        # timestamps the fold order of equal-instant values is now pinned
        # to input order instead of quicksort's partition order — the
        # emitted sessions are identical (segmentation depends only on
        # ts), only sub-ulp total accumulation order could move, and the
        # contract rounds totals.  tests pin the tie behavior.
        ms = rows["_hs_utc_ms"].to_numpy()
        order = np.argsort(ms, kind="stable")
        ts = ms[order]
        vals = rows[value_col].to_numpy(dtype=np.float64)[order]
        if state.exists:
            start, last, n, total = state.get
        else:
            start, last, n, total = int(ts[0]), int(ts[0]), 0, 0.0
        # one vectorized segmentation pass instead of the per-event
        # _advance loop (r15; _advance remains the reference semantics
        # and the late-prefix path inside _advance_batch)
        (start, last, n, total), (c_st, c_en, c_cnt, c_tot) = _advance_batch(
            start, last, n, total, ts, vals, gap_ms
        )
        state.update((start, last, n, total))
        state.setTimeoutTimestamp(last + gap_ms)
        if c_st.size:
            yield out_frame(c_st, c_en, c_cnt, c_tot)

    from pyspark.sql import functions as F

    # unix_millis is exact integer arithmetic on the internal micros;
    # a double round-trip could land epsilon below a whole millisecond
    # and truncate 1 ms early, flipping a gap comparison exactly at the
    # session boundary for sub-second event times.
    with_ms = events.withColumn("_hs_utc_ms", F.unix_millis(F.col(ts_col)))
    return (
        with_ms.withWatermark(ts_col, f"{gap_seconds * 2} seconds")
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=session_schema,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
