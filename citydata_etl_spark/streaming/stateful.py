"""Custom stateful streaming operators on applyInPandasWithState.

EXACT DEDUP (SURVEY.md §2.7 T2 analog, BASELINE.json north-star):
streaming_exact_dedup keeps, per key-group, the set of content hashes
already emitted; a document passes through only the first time its content
is seen across the whole stream — the streaming twin of exact_dedup's
first-occurrence semantics.

Scale posture (all three state dimensions are bounded):
  - SHARDING: the grouping key is a PREFIX of the content hash, so state
    shards across 16**prefix_len groups independent of corpus size;
  - ENTRY WIDTH: state stores TRUNCATED hashes (state_hash_chars hex chars,
    default 16 = 64 bits — collision odds ~n^2/2^65, negligible against
    real duplicate rates), not the full 64-char digest: 4x less state I/O,
    while the OUTPUT still carries the full sha256;
  - LIFETIME: with ttl_ms set, every state entry carries its last-seen
    processing-time stamp and is PRUNED on every invocation once idle past
    the TTL — so an ACTIVE shard's state is bounded by the distinct
    content seen in any ttl_ms window, not the whole stream (a group-level
    ProcessingTimeTimeout would only ever fire for a shard receiving NO
    data at all, which on a continuous stream is no bound). The group
    timeout stays armed as wholesale cleanup for fully idle shards. A
    sighting of suppressed duplicate content REFRESHES its stamp: an
    entry expires only after ttl_ms with no sighting (sliding window).
    ttl_ms=None keeps exact whole-stream dedup (state follows distinct
    content).

SHARD-KEYED STATE: the four int64-keyed operators — dynamic-gap sessions
(t10), late-data sessions (t12), last-touch attribution (t18) and per-slot
KMV buffers (t19) — run on one kernel, _ShardKernel. Rows are grouped by
pmod(key, N_SHARDS), so the per-GROUP machinery of applyInPandasWithState
(Arrow state row, GroupState, pandas frames: ~1 ms a group a batch,
measured — with ~1,500 user groups or 8,640 slot groups it, not the
per-key math, was the stateful stage) is paid once per shard. Each
operator supplies only its per-key step; the kernel concatenates the
shard's frames, groups rows by key with one lexsort, calls the step for
every key with rows (and, for event-time operators, every stored key),
packs the state, arms the timeout at the minimum key candidate clamped
past the watermark, and removes the state once no key is left.

A shard's state is ONE little-endian int64 blob in an `st BINARY` column:

    [LAYOUT | N_SHARDS | n | f | v | keys(n) | fixed(f x n) | lens(n) |
     buffers]

  - LAYOUT tags the format, N_SHARDS is the shard count that wrote it;
  - n keys, ascending, each with f fixed int64 columns (stored column by
    column) and v variable int64 buffers of one length lens[i] per key;
  - buffers: for each key in order, its v buffers back to back.

Restart check: unpacking raises ValueError when the stored shard count is
not N_SHARDS (every key would be read from, and rewritten to, the wrong
shard) or when the blob has no LAYOUT word (the earlier headerless
layout, which cannot be told apart from garbage). N_SHARDS is part of the
state key space: changing it needs a new checkpoint.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def make_dedup_group(state_hash_chars: int, ttl_ms: int | None):
    """Build the per-group dedup function (module-level factory so tests
    can drive it directly with a fake GroupState)."""

    def dedup_group(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # fully idle shard past TTL: drop its seen-set wholesale
            state.remove()
            return
        # seen: truncated hash -> last-seen processing-time ms
        if state.exists:
            hashes, stamps = state.get
            seen: dict = dict(zip(hashes, stamps))
        else:
            seen = {}
        now = 0
        if ttl_ms is not None:
            now = state.getCurrentProcessingTimeMs()
            # per-entry expiry runs on EVERY invocation, so an active
            # shard prunes too — the group timeout alone only ever fires
            # for a shard receiving no data at all
            cutoff = now - ttl_ms
            seen = {h: t for h, t in seen.items() if t > cutoff}
        for pdf in pdfs:
            pdf = pdf.sort_values("doc_id")
            short = pdf["content_sha"].str.slice(0, state_hash_chars)
            fresh = pdf[~short.isin(seen.keys())]
            first = fresh.drop_duplicates(subset=["content_sha"], keep="first")
            # every sighting — emitted or suppressed — refreshes the
            # stamp: an entry expires only after ttl_ms with NO sighting
            seen.update(dict.fromkeys(short, now))
            if len(first):
                yield first[["doc_id", "text", "content_sha"]]
        ordered = sorted(seen)
        state.update((ordered, [seen[h] for h in ordered]))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)

    return dedup_group


def streaming_exact_dedup(
    docs_stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_len: int = 2,
    state_hash_chars: int = 16,
    ttl_ms: int | None = None,
) -> DataFrame:
    """First-occurrence pass-through over a streaming DataFrame of
    (id, text): emits (id, text, content_sha) once per distinct text.

    Within a micro-batch the minimum id wins (deterministic); across
    batches, arrival order wins (stream semantics). With ttl_ms set, each
    seen-hash expires individually once unseen for ttl_ms (sliding-window
    dedup — active shards prune on every batch, and a fully idle shard is
    dropped wholesale by the group timeout); without it, dedup is exact
    over the whole stream.
    """
    hashed = docs_stream.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("text"),
        F.sha2(F.encode(F.col(text_col), "UTF-8"), 256).alias("content_sha"),
    ).withColumn("shard", F.substring("content_sha", 1, prefix_len))

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return hashed.groupBy("shard").applyInPandasWithState(
        make_dedup_group(state_hash_chars, ttl_ms),
        outputStructType="doc_id LONG, text STRING, content_sha STRING",
        stateStructType="hashes ARRAY<STRING>, stamps ARRAY<BIGINT>",
        outputMode="append",
        timeoutConf=timeout,
    )


#: shard count of every shard-keyed operator; stored in each state blob
#: and checked on restart. 64 covers a 16-partition state posture with 4
#: shards a partition and keeps keys/shard high (a 16/64/256 sweep was
#: flat, SCALE_REHEARSAL_r18_SHARDS.json).
N_SHARDS = 64

#: first word of every shard blob: b"CDSHARD1" as a little-endian int64
_LAYOUT = int.from_bytes(b"CDSHARD1", "little")

_FAR_MS = 1000 * 86400 * 1000  # the documented ~1000-day gc boundary

_EMPTY = np.empty(0, np.int64)


def _pack(recs: dict) -> bytes:
    """{key: (fixed ints, variable int64 buffers)} -> one shard blob (the
    layout in the module docstring)."""
    keys = sorted(recs)
    fixed = [recs[k][0] for k in keys]
    var = [recs[k][1] for k in keys]
    nv = len(var[0])
    head = [_LAYOUT, N_SHARDS, len(keys), len(fixed[0]), nv, *keys]
    lens = [len(v[0]) if nv else 0 for v in var]
    return np.concatenate(
        [np.array(head, np.int64), np.array(fixed, np.int64).T.ravel(),
         np.array(lens, np.int64)]
        + [b for v in var for b in v]
    ).astype("<i8", copy=False).tobytes()


def _unpack(blob: bytes) -> dict:
    """Inverse of _pack, after the restart check on the header."""
    a = np.frombuffer(blob, dtype="<i8")
    if len(a) < 5 or a[0] != _LAYOUT:
        raise ValueError(
            "shard state has no layout header (written by the earlier "
            "headerless format?): it cannot be read safely; restart the "
            "query from a new checkpoint"
        )
    if a[1] != N_SHARDS:
        raise ValueError(
            f"shard state was written with {int(a[1])} shards but the "
            f"operator runs with N_SHARDS={N_SHARDS}: keys would map to "
            "the wrong shard; restart the query from a new checkpoint"
        )
    n, nf, nv = a[2:5].tolist()
    keys = a[5:5 + n].tolist()
    p = 5 + n + nf * n
    fixed = a[5 + n:p].reshape(nf, n).T.tolist()
    recs, o = {}, p + n
    for k, f, m in zip(keys, fixed, a[p:p + n].tolist()):
        recs[k] = (f, [a[o + j * m:o + (j + 1) * m] for j in range(nv)])
        o += nv * m
    return recs


class _ShardKernel:
    """The shard-state kernel shared by t10, t12, t18 and t19 (module
    docstring). `step(key, rec, rows, wm_ms) -> (rec, out, cand)` is the
    operator's per-key math: rec is the key's (fixed ints, buffers) or
    None for a new key, rows maps each of `cols` to the key's slice
    (sorted by `order_by` after the key; empty for a stored key without
    rows), out is None or a tuple of output columns, and cand the key's
    timeout candidate (ms). A returned rec of None drops the key. With
    `timed`, the operator runs on event-time timeouts and every stored
    key is stepped on every invocation."""

    def __init__(self, key, cols, order_by, step, schema, timed=False,
                 mode="append"):
        self.key, self.cols, self.order_by, self.step = (
            key, cols, order_by, step
        )
        self.schema, self.timed, self.mode = schema, timed, mode
        self.out_cols = [c.split()[0] for c in schema.split(",")]

    def apply(self, df: DataFrame) -> DataFrame:
        sharded = df.withColumn(
            "shard", F.pmod(F.col(self.key).cast("long"), F.lit(N_SHARDS))
        )
        return sharded.groupBy("shard").applyInPandasWithState(
            self.__call__,
            outputStructType=self.schema,
            stateStructType="st BINARY",
            outputMode=self.mode,
            timeoutConf=GroupStateTimeout.EventTimeTimeout
            if self.timed else GroupStateTimeout.NoTimeout,
        )

    def __call__(
        self, _shard, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        frames = list(pdfs)  # none on a timeout invocation
        rows = (
            pd.concat(frames, ignore_index=True) if frames
            else pd.DataFrame(columns=[self.key, *self.cols])
        )
        keys = rows[self.key].to_numpy(np.int64)
        cols = {c: rows[c].to_numpy(dt) for c, dt in self.cols.items()}
        order = np.lexsort(
            [cols[c] for c in reversed(self.order_by)] + [keys]
        )
        keys = keys[order]
        cols = {c: a[order] for c, a in cols.items()}
        starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]][:len(keys)])
        spans = dict(zip(
            keys[starts].tolist(),
            zip(starts.tolist(), np.r_[starts[1:], len(keys)].tolist()),
        ))
        recs = _unpack(state.get[0]) if state.exists else {}
        wm_ms = state.getCurrentWatermarkMs() if self.timed else 0
        outs, cands = [], []
        for k in sorted(recs.keys() | spans.keys()) if self.timed else spans:
            lo, hi = spans.get(k, (0, 0))
            rec, out, cand = self.step(
                k, recs.get(k), {c: a[lo:hi] for c, a in cols.items()}, wm_ms
            )
            if rec is None:
                del recs[k]
            else:
                recs[k] = rec
                cands.append(cand)
            if out is not None:
                outs.append(out)
        if recs:
            state.update((_pack(recs),))
            if self.timed:
                state.setTimeoutTimestamp(int(max(min(cands), wm_ms + 1)))
        else:
            state.remove()
        if outs:
            yield pd.DataFrame({
                c: np.concatenate([o[i] for o in outs])
                for i, c in enumerate(self.out_cols)
            })


_SESSION_SCHEMA = (
    "user_id LONG, session_id LONG, n_events LONG, "
    "session_start LONG, session_end LONG"
)
_SESSION_COLS = dict.fromkeys(("tsec", "event_id", "thr"), np.int64)


def _session_events(
    events_stream: DataFrame, watermark_delay: str,
    error_gap_s: int, default_gap_s: int,
) -> DataFrame:
    """The sessionizers' input: epoch-second tsec and the gap threshold
    `thr` each event sets for the next ('error' -> error_gap_s). `ts`
    stays in the projection: event-time timeouts need the watermarked
    column."""
    return events_stream.withWatermark("ts", watermark_delay).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.floor(F.unix_timestamp("ts")).cast("long").alias("tsec"),
        F.when(F.col("event_type") == "error", error_gap_s)
        .otherwise(default_gap_s).cast("long").alias("thr"),
        F.col("ts"),
    )


def _session_rows(u, sid, sessions):
    """Output columns for `sessions` numbered from sid + 1, or None."""
    if not sessions:
        return None
    start, end, n = list(zip(*sessions))[:3]
    ids = range(sid + 1, sid + 1 + len(sessions))
    return [u] * len(sessions), list(ids), n, start, end


def _fold_sessions(ts_s, th_s):
    """Sessions over one user's sorted events: (first_idx, last_idx,
    start, end, n, last_thr) per session — the batch twin's fold,
    shared by both sessionizers' per-key steps."""
    sessions = []
    start_i = start = end = prev_thr = None
    for i, (t, thr) in enumerate(zip(ts_s, th_s)):
        if start is None or t - end > prev_thr:
            if start is not None:
                sessions.append(
                    (start_i, i - 1, start, end, i - start_i, prev_thr)
                )
            start_i, start = i, t
        end = t
        prev_thr = thr
    if start is not None:
        sessions.append(
            (start_i, len(ts_s) - 1, start, end,
             len(ts_s) - start_i, prev_thr)
        )
    return sessions


def _open_session_step(u, rec, rows, wm_ms):
    """t10's per-user step. State: (sid, start, end, n, thr, gc) — the
    open session (sid its id, thr the last event's gap) or, with
    start = -1, a tombstone keeping the session counter until gc.

    The new rows fold like the batch twin; their first session continues
    the stored open one when it starts within its gap. Every session but
    the last closed in-data and emits; the last emits (leaving a
    tombstone) once the watermark strictly passes end + thr — delay-0
    admission means no later event can extend it."""
    (sid, start, end, n, thr, gc), _ = rec or ([-1, -1, 0, 0, 0, 0], [])
    sess = [list(s[2:]) for s in _fold_sessions(rows["tsec"], rows["thr"])]
    if start != -1:
        if sess and sess[0][0] - end <= thr:
            sess[0][0], sess[0][2] = start, sess[0][2] + n
        else:
            sess.insert(0, [start, end, n, thr])
        sid -= 1  # the stored open session's id is re-issued below
    if not sess:  # tombstone without rows: gc once its deadline passed
        return (None, None, None) if gc < wm_ms else (rec, None, gc)
    start, end, n, thr = sess[-1]
    horizon_ms = (end + thr) * 1000
    done = len(sess) - (horizon_ms >= wm_ms)
    out = _session_rows(u, sid, sess[:done])
    sid += len(sess)
    if done == len(sess):
        gc = wm_ms + _FAR_MS
        return ([sid, -1, end, 0, thr, gc], []), out, gc
    return (
        ([sid, start, end, n, thr, 0], []), out,
        max(horizon_ms, wm_ms + 1),
    )


def _buffered_step(u, rec, rows, wm_ms):
    """t12's per-user step. State: (sid, gc) and the not-yet-final events
    [tsec, event_id, thr]; an empty buffer is a tombstone keeping the
    session counter until gc.

    Finality rule (conservative, provably safe): after sorting the buffer
    by (tsec, event_id) and folding sessions exactly like the batch twin,
    the PREFIX of sessions with end + last_thr < watermark emits — any
    future admissible event has ts >= watermark > end + last_thr, so it
    can neither land inside such a session nor within its gap horizon,
    and emitting a strict prefix keeps session ids sequential while the
    retained suffix stays one contiguous buffer."""
    (sid, gc), (bt, be, bh) = rec or ([-1, 0], [_EMPTY] * 3)
    bt = np.concatenate([bt, rows["tsec"]])
    be = np.concatenate([be, rows["event_id"]])
    bh = np.concatenate([bh, rows["thr"]])
    if not len(bt):  # tombstone without rows: gc once its deadline passed
        return (None, None, None) if gc < wm_ms else (rec, None, gc)
    order = np.lexsort((be, bt))  # ts primary, eid tie-break
    bt, be, bh = bt[order], be[order], bh[order]
    w_s = wm_ms // 1000
    final, used, cand = [], 0, None
    for _, last, start, end, n, thr in _fold_sessions(bt, bh):
        if end + thr >= w_s:
            # the first unemitted session's horizon (it may still grow —
            # the timeout only forces a re-evaluation at the earliest
            # moment it COULD become final)
            cand = max((end + thr) * 1000, wm_ms + 1)
            break
        final.append((start, end, n))
        used = last + 1
    if cand is None:  # all emitted: tombstone keeping the counter
        gc = cand = wm_ms + _FAR_MS
    else:
        gc = 0
    return (
        ([sid + len(final), gc], [bt[used:], be[used:], bh[used:]]),
        _session_rows(u, sid, final), cand,
    )


_OPEN_SESSIONS = _ShardKernel(
    "user_id", _SESSION_COLS, ("tsec", "event_id"), _open_session_step,
    _SESSION_SCHEMA, timed=True,
)
_BUFFERED_SESSIONS = _ShardKernel(
    "user_id", _SESSION_COLS, (), _buffered_step, _SESSION_SCHEMA,
    timed=True,
)


def streaming_dynamic_gap_sessions(
    events_stream: DataFrame,
    error_gap_s: int = 300,
    default_gap_s: int = 1800,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Dynamic-gap sessionization over an unbounded event stream — the
    STREAMING twin of operators/aggregates.py:sessionize_dynamic (the
    oracled batch form, t5_dynamic_gap_session): the idle timeout
    depends on the PREVIOUS event ('error' -> error_gap_s, else
    default_gap_s), which session_window(ts, expr) cannot express when
    the gap must ride the lag — hence applyInPandasWithState with
    EVENT-TIME timeouts (the processing-time-timeout companion is
    streaming_exact_dedup).

    Emission contract: a session emits the moment it PROVABLY closed —
    either a later in-order event opened the next session, or the
    watermark passed end + gap (no admissible event can extend it).
    State per user is one open session (6 ints): bounded by active
    users, not history — the property that makes sessionization run
    forever. Input needs (event_id, ts TIMESTAMP, user_id, event_type).

    Output: (user_id, session_id, n_events, session_start, session_end)
    with epoch-second BIGINTs, identical to the batch twin's schema.

    watermark_delay MUST be '0 seconds' (validated): delay 0 makes
    admitted events per-user monotone (an event only passes the
    watermark filter if its ts >= the global max ts of every earlier
    batch >= this user's stored session end), which is what lets state
    hold ONE open session instead of an event buffer. A positive delay
    admits out-of-order events that can land BEHIND the stored session
    end — the buffered operator streaming_late_sessions handles those;
    a regressed `end` here would mis-split sessions and diverge from
    the batch twin without any error.

    A shard is stepped whenever any of its users needs attention, so a
    session can emit one batch earlier than a per-user timeout would
    fire; the emitted SET is the same (same `horizon < watermark` rule,
    a flushed session is consumed from state). A tombstone is gc'd after
    ~1000 days of total silence (_FAR_MS) — the documented boundary of
    batch equivalence (a returning user would restart at id 0)."""
    delay = watermark_delay.strip().lower()
    if delay not in ("0 seconds", "0 second", "0 minutes", "0 hours"):
        raise ValueError(
            "streaming_dynamic_gap_sessions requires watermark_delay="
            "'0 seconds': a positive delay admits out-of-order events "
            "behind the stored session end, which the one-open-session "
            "state cannot sessionize correctly (see docstring; a "
            "buffered-state variant is the right tool there)"
        )
    return _OPEN_SESSIONS.apply(_session_events(
        events_stream, watermark_delay, error_gap_s, default_gap_s
    ))


def streaming_late_sessions(
    events_stream: DataFrame,
    watermark_delay: str,
    error_gap_s: int = 300,
    default_gap_s: int = 1800,
) -> DataFrame:
    """Dynamic-gap sessionization that is CORRECT UNDER LATE DATA — the
    buffered-state operator streaming_dynamic_gap_sessions' contract
    points to: a positive watermark delay admits out-of-order events,
    which land in a per-user event buffer inside the state store and
    sort into place before sessions fold; only sessions whose gap
    horizon the watermark has passed emit (provably final — see
    _buffered_step). With every event eventually admitted and flushed,
    the stream's output equals the batch twin (sessionize_dynamic) on
    the full data EXACTLY, which is what the oracle checks on a
    sentinel-closed feed.

    Trade-off vs the zero-delay operator: state per user is the events
    inside the (delay + gap horizon) window, not 6 ints — buffering is
    the price of reordering, pay it only where upstream delivery is
    genuinely out of order (multi-region collectors, retried uploads —
    the reference's Step Functions retry produces exactly such late
    re-deliveries, stepfunction/definition.json:13-23). Empty-buffer
    users keep their session counter as tombstones until the ~1000-day
    gc boundary, as the zero-delay operator documents."""
    return _BUFFERED_SESSIONS.apply(_session_events(
        events_stream, watermark_delay, error_gap_s, default_gap_s
    ))


def _attribute_user(t_s, et, cents, lc0, lv0, horizon_us):
    """The per-user last-touch attribution math over ONE user's
    time-sorted events — vectorized RANGE-tie semantics: running max of
    click/view timestamps INCLUDING every row that shares the current
    tus (prefix cummax read at each tus-group's last index), so all
    touches at a timestamp absorb before any purchase at it
    attributes, exactly like the batch twin's RANGE window. Returns
    (attributions for purchase rows, purchase cents, new lc, new lv)."""
    lc_cum = np.maximum.accumulate(
        np.where(et == "click", t_s, np.int64(lc0))
    )
    lv_cum = np.maximum.accumulate(
        np.where(et == "view", t_s, np.int64(lv0))
    )
    last_of_tus = np.searchsorted(t_s, t_s, side="right") - 1
    eff_lc = lc_cum[last_of_tus]
    eff_lv = lv_cum[last_of_tus]
    is_p = et == "purchase"
    plc, plv, pt = eff_lc[is_p], eff_lv[is_p], t_s[is_p]
    click_ok = (plc >= 0) & (plc >= pt - horizon_us)
    view_ok = (plv >= 0) & (plv >= pt - horizon_us)
    att = np.where(
        click_ok & ((plv < 0) | (plc >= plv)),
        "click",
        np.where(view_ok, "view", "organic"),
    )
    n = len(t_s)
    return (
        att,
        cents[is_p],
        int(lc_cum[n - 1]) if n else int(lc0),
        int(lv_cum[n - 1]) if n else int(lv0),
    )


def _attribution_kernel(horizon_us: int) -> _ShardKernel:
    """t18: per-user state (latest click, latest view); each user's rows,
    sorted by tus, run _attribute_user and its purchases emit at once."""

    def step(u, rec, rows, _wm_ms):
        (lc, lv), _ = rec or ([-1, -1], [])
        att, cents, lc, lv = _attribute_user(
            rows["tus"], rows["event_type"], rows["cents"], lc, lv,
            horizon_us,
        )
        out = (np.full(len(att), u), att, cents) if len(att) else None
        return ([lc, lv], []), out, None

    return _ShardKernel(
        "user_id", {"tus": np.int64, "event_type": object,
                    "cents": np.int64},
        ("tus",), step, "user_id LONG, attribution STRING, cents LONG",
    )


def streaming_last_touch_attribution(
    events_stream: DataFrame, horizon_us: int = 3_600_000_000,
) -> DataFrame:
    """STREAMING last-touch attribution — the unbounded-stream twin of
    a22_attribution: every purchase is credited the moment it arrives,
    against per-user state of just two timestamps (latest click, latest
    view). The batch form scans history with a RANGE-frame running
    max; this form carries the same two values forward across
    micro-batches, so output equals the batch twin EXACTLY when each
    user's feed is time-monotone AND equal-timestamp peers arrive in
    the SAME micro-batch. The second condition is real: watermark-0
    admission is non-strict (ts >= max seen admits a tie), and a
    click at tus T landing one batch AFTER a purchase at T attributes
    that purchase against pre-tie state — the batch twin's RANGE
    frame would have credited the click, and an already-emitted row
    cannot be revised. A bounded time-ordered replay (ties sort
    together) satisfies both conditions; feeds that can straddle ties
    or deliver behind a user's max need the buffered variant (see
    streaming_dynamic_gap_sessions' discussion) — not silently
    approximated here.

    Input: (user_id, event_type, tus BIGINT epoch-micros, cents BIGINT;
    NULL cents count as 0 and are only read on purchases).
    Output: one row per purchase (user_id, attribution, cents),
    append-mode; aggregate downstream as you would any fact stream.
    State: 2 int64s per user ever seen — at 100 TB, bounded by users,
    not events; idle-user eviction would add a ProcessingTimeTimeout
    exactly as streaming_exact_dedup's TTL does."""
    return _attribution_kernel(horizon_us).apply(
        events_stream.withColumn("cents", F.coalesce("cents", F.lit(0)))
    )


def _kmv_kernel(k: int) -> _ShardKernel:
    """t19: per-slot state (update sequence, k-min buffer). Each slot's
    buffer is the sorted distinct union of (stored buffer, new hashes)
    truncated to the k smallest — lossless by the same pigeonhole as
    the batch twin's slot-merge — and emits stamped with its own update
    sequence exactly when the slot receives data."""

    def step(slot, rec, rows, _wm_ms):
        (upd,), (old,) = rec or ([0], [_EMPTY])
        buf = np.unique(np.concatenate([old, rows["hv"]]))[:k]
        upd += 1
        out = (np.full(len(buf), slot), np.full(len(buf), upd), buf)
        return ([upd], [buf]), out, None

    return _ShardKernel(
        "slot", {"hv": np.int64}, (), step, "slot LONG, upd LONG, hv LONG",
        mode="update",
    )


def streaming_slot_kmv(stream: DataFrame, k: int = 64) -> DataFrame:
    """STREAMING per-slot k-minimum-values buffers — the stateful half
    of the sliding-window distinct sketch (t19): input (slot LONG,
    hv LONG) rows, state of AT MOST k int64s per slot regardless of
    slot cardinality (the whole point vs exact streaming distinct,
    whose state grows with true cardinality). Output: the slot's
    current buffer every micro-batch it receives data, stamped with a
    per-slot update sequence; the window merge (slot buffers -> window
    k-mins -> estimate) is plain batch algebra over k-row buffers
    downstream. State per shard stays bounded at slots/shard x k
    int64s (135 slots a shard at sf0.1's 8,640 slots)."""
    return _kmv_kernel(k).apply(stream)
