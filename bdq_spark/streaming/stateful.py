"""Custom stateful streaming operators via ``applyInPandasWithState``.

SURVEY.md §2.3 notes the reference exposes no stateful streaming beyond
``foreachBatch``; Structured Streaming's arbitrary-state API
(``applyInPandasWithState``) is the Spark-native way to express
operators that need per-key state across micro-batches — running
aggregates, anomaly baselines, session machines with custom logic.

Scale notes: state lives in the executor state store keyed by the
grouping columns (shuffled once per micro-batch); timeouts bound state
size.  The same operator runs on batch frames via ``applyInPandas`` with
a fresh empty state per key — so the logic is unit-testable and
oracle-checkable without a stream.

API choice note: Spark 4's newer state-v2 API
(``transformWithStateInPandas`` — typed ValueState/ListState/MapState,
TTL, timers) was evaluated for these operators and is ENVIRONMENT-
BLOCKED here: its state-server protocol requires the ``protobuf``
package (``pyspark/sql/streaming/proto/StateMessage_pb2.py`` imports
``google.protobuf``), which is not in this container and cannot be
installed.  ``applyInPandasWithState`` expresses the same per-key
arbitrary-state semantics with no extra dependency; porting these
operators to ``transformWithState`` when protobuf is available is a
mechanical init/handleInputRows re-wrap of the same module-level folds.
"""

from __future__ import annotations

from typing import Iterable, List

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["running_counter", "running_zscore", "sessionize"]

_STATE_SCHEMA = "n bigint, total double, mx double"


def _fold(rows_n: int, rows_total: float, rows_max: float, state):
    n, total, mx = state
    n += rows_n
    total += rows_total
    mx = rows_max if mx is None else max(mx, rows_max)
    return n, total, mx


def _apply_per_key_bucket(
    df: DataFrame, key_column: str, one_shot, schema: str
) -> DataFrame:
    """The batch path of the three operators.  Grouping by the raw key
    called the UDF once per key: tiny pandas frames whose per-call
    machinery (Arrow slice, sort, copy) dwarfed the fold.  Instead,
    ``one_shot`` runs once per DETERMINISTIC hash bucket of the key,
    sized from the row count (~100k rows per bucket, floored at
    ``defaultParallelism`` for cluster width: data-derived, not a
    local-mode constant), and handles ALL keys of a bucket in one
    pandas pass.  Each operator's result is per-key, so bucketing
    cannot change a value; ``one_shot`` keeps Spark's null-key group
    with ``groupby(dropna=False)``.  The sizing runs one ``count()``
    over ``df``."""
    n_buckets = max(
        df.sparkSession.sparkContext.defaultParallelism,
        -(-df.count() // 100_000),
    )
    bucket = F.pmod(F.xxhash64(F.col(key_column)), F.lit(n_buckets))
    return (
        df.withColumn("__bucket", bucket)
        .groupBy("__bucket")
        .applyInPandas(one_shot, schema=schema)
    )


def running_counter(
    df: DataFrame,
    key_column: str = "user_id",
    value_column: str = "value",
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Per-key running (count, sum, max) maintained across micro-batches.

    Streaming input → ``applyInPandasWithState`` (update mode, state kept
    between triggers).  Batch input → one-shot ``applyInPandas`` with the
    same fold logic, which makes the operator's semantics checkable
    against plain ``groupBy`` aggregation.
    """
    key_type = df.schema[key_column].dataType.simpleString()
    output_schema = (
        f"key {key_type}, n_events bigint, total double, max_value double"
    )

    if df.isStreaming:
        from pyspark.sql.streaming.state import GroupState

        def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
            if state.exists:
                n, total, mx = state.get
            else:
                n, total, mx = 0, 0.0, None
            for pdf in pdfs:
                vals = pdf[value_column].astype(float)
                if len(vals):
                    n, total, mx = _fold(len(vals), float(vals.sum()), float(vals.max()), (n, total, mx))
            state.update((n, total, mx))
            yield pd.DataFrame(
                {
                    "key": [key[0]],
                    "n_events": [n],
                    "total": [total],
                    "max_value": [mx],
                }
            )

        return (
            df.groupBy(key_column)
            .applyInPandasWithState(
                update,
                outputStructType=output_schema,
                stateStructType=_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=timeout,
            )
        )

    # BATCH path (:func:`_apply_per_key_bucket`): count/max are
    # order-free; the float total's last-ulp accumulation order was
    # never deterministic under the per-key path either (post-shuffle
    # row order), and every declared consumer rounds it over exact
    # fixed-point inputs.
    def one_shot(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf[value_column].astype(float)
        agg = (
            pd.DataFrame(
                {"key": pdf[key_column].to_numpy(), "v": vals.to_numpy()}
            )
            .groupby("key", sort=False, dropna=False)["v"]
            .agg(["size", "sum", "max"])
            .reset_index()
        )
        return pd.DataFrame(
            {
                "key": agg["key"],
                "n_events": agg["size"].astype("int64"),
                "total": agg["sum"].astype("float64"),
                "max_value": agg["max"].astype("float64"),
            }
        )

    return _apply_per_key_bucket(df, key_column, one_shot, output_schema)


_ZSCORE_STATE = "n bigint, s bigint, q bigint"


def _zscore_rows_loop(pdf: pd.DataFrame, state, value_column, scale):
    """Exact-arbitrary-precision fallback fold (Python bigints) — the
    pre-r13 row loop, kept for keys whose scaled sums could overflow
    int64 (see :func:`_zscore_rows`)."""
    n, s, q = state
    n_priors, zs = [], []
    for v in pdf[value_column]:
        c = int(round(float(v) * scale))
        n_priors.append(n)
        if n >= 2:
            mean = float(s) / n
            var = float(q) / n - mean * mean
            zs.append(
                round((c - mean) / var**0.5, 6) if var > 0 else None
            )
        else:
            zs.append(None)
        n, s, q = n + 1, s + c, q + c * c
    out = pdf.copy()
    out["n_prior"] = n_priors
    out["zscore"] = pd.array(zs, dtype="Float64")
    return out, (n, s, q)


def _zscore_rows(pdf: pd.DataFrame, state, value_column, scale):
    """Score a sorted batch against the carried (n, Σc, Σc²) state,
    folding each event in AFTER it is scored (prior-only statistics).
    Values are scaled to exact integers, so the accumulated sums are
    exact and every engine derives the identical doubles — the same
    portability contract the LM scorers use with decimals.

    The sums are converted to double BEFORE dividing (``float(s) / n``,
    not Python's correctly-rounded big-int division) so the rounding
    order matches a SQL engine's ``CAST(s AS DOUBLE) / n`` even once a
    key's Σc² exceeds 2^53 — below that the two are identical anyway.

    VECTORIZED (numpy over the frame, not a Python step per row): the
    per-row Python fold becomes numpy prefix sums —
    ``s_prior = cumsum(c) - c`` etc. — with every float op preserved
    bit-for-bit: int64 -> float64 conversion,
    ``/ n``, ``- mean*mean`` and ``sqrt`` are the same correctly-rounded
    IEEE operations elementwise that the loop performed scalar-wise, and
    the final 6-decimal rounding stays PYTHON's correctly-rounded
    ``round`` (numpy's can differ on representation ties).  Exactness
    guard: the prefix sums must stay exact, so batches whose worst-case
    ``|state| + n * max(c^2)`` could exceed int64 take the bigint loop
    instead — same results, just slower (unreachable for 2-decimal money
    under ~9e18 aggregate mass).
    """
    import numpy as np

    n0, s0, q0 = state
    vals = pdf[value_column].to_numpy(dtype="float64")
    if not len(vals):
        out = pdf.copy()
        out["n_prior"] = pd.array([], dtype="int64")
        out["zscore"] = pd.array([], dtype="Float64")
        return out, state
    c = np.rint(vals * scale)  # half-even, same as Python round()
    cmax = float(np.max(np.abs(c)))
    # conservative int64-exactness bound for the running (s, q) sums
    if (
        not np.isfinite(cmax)
        or abs(s0) + len(c) * cmax >= 2**62
        or abs(q0) + len(c) * cmax * cmax >= 2**62
    ):
        return _zscore_rows_loop(pdf, state, value_column, scale)
    ci = c.astype("int64")
    sq = ci * ci
    n_prior = n0 + np.arange(len(ci), dtype="int64")
    s_prior = s0 + np.cumsum(ci) - ci
    q_prior = q0 + np.cumsum(sq) - sq
    with np.errstate(divide="ignore", invalid="ignore"):
        mean = s_prior.astype("float64") / n_prior
        var = q_prior.astype("float64") / n_prior - mean * mean
        z = (ci.astype("float64") - mean) / np.sqrt(var)
    ok = (n_prior >= 2) & (var > 0)
    # Python round (correctly rounded) for the emitted 6-decimal value
    zs = [round(float(v), 6) if k else None for v, k in zip(z, ok)]
    out = pdf.copy()
    out["n_prior"] = n_prior
    out["zscore"] = pd.array(zs, dtype="Float64")
    return out, (
        n0 + len(ci),
        s0 + int(np.sum(ci)),
        q0 + int(np.sum(sq)),
    )


def running_zscore(
    df: DataFrame,
    key_column: str = "user_id",
    ts_column: str = "ts",
    value_column: str = "value",
    order_columns: List[str] = None,
    scale: int = 100,
) -> DataFrame:
    """Per-key streaming anomaly score: each event's z-score against the
    statistics of all PRIOR events of the same key — the standard
    production anomaly-detection shape (payment spikes, sensor drift)
    expressed as arbitrary-state streaming.

    Events are processed in ``(ts_column, *order_columns)`` order per
    key; the first two events of a key score NULL (no variance to
    compare against), as does any event whose prior values are all
    equal.  Output: the key, ordering and value columns plus
    ``(n_prior, zscore)``, one row per input event (append semantics).

    ``scale`` declares the input's fixed-point precision (default 100 =
    2-decimal money): statistics accumulate as EXACT scaled-integer
    sums, which is what makes the operator value-hash-checkable against
    a SQL window re-derivation — floating-point running sums would
    diverge across engines by accumulation order.

    Scale shape: one shuffle on the key per micro-batch; state is three
    longs per key.  Batch mode runs the identical fold per key via
    ``applyInPandas``, so streaming and batch provably agree.
    """
    order_columns = order_columns or []
    key_type = df.schema[key_column].dataType.simpleString()
    carried = [ts_column] + order_columns + [value_column]
    carried_ddl = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in carried
    )
    output_schema = (
        f"{key_column} {key_type}, {carried_ddl}, "
        "n_prior bigint, zscore double"
    )
    sort_cols = [ts_column] + order_columns
    out_cols = [key_column] + carried + ["n_prior", "zscore"]

    if df.isStreaming:
        from pyspark.sql.streaming.state import GroupState

        def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
            # Arrow delivers a key's micro-batch as MULTIPLE chunks (at
            # spark.sql.execution.arrow.maxRecordsPerBatch rows each) in
            # arbitrary row order; sorting chunks independently would
            # score events against statistics that already include later
            # events.  Gather the whole micro-batch, sort ONCE, fold
            # once — same shape as sessionize's extend-then-sort below.
            st = state.get if state.exists else (0, 0, 0)
            chunks = [pdf for pdf in pdfs if len(pdf)]
            if chunks:
                pdf = pd.concat(chunks, ignore_index=True)
                pdf = pdf.sort_values(sort_cols, kind="mergesort")
                scored, st = _zscore_rows(pdf, st, value_column, scale)
                scored[key_column] = key[0]
                yield scored[out_cols]
            state.update(st)

        return (
            df.groupBy(key_column)
            .applyInPandasWithState(
                update,
                outputStructType=output_schema,
                stateStructType=_ZSCORE_STATE,
                outputMode="append",
                timeoutConf="NoTimeout",
            )
        )

    # BATCH path (:func:`_apply_per_key_bucket`): one vectorized fold
    # per bucket, pandas groupby prefix sums over exact int64, so
    # per-key results are bit-identical to the streaming fold.
    import numpy as np

    def vectorized(pdf: pd.DataFrame, c: np.ndarray) -> pd.DataFrame:
        ci = c.astype("int64")
        sq = ci * ci
        keys = pdf[key_column]
        gb = pd.DataFrame({"k": keys.to_numpy(), "ci": ci, "sq": sq}) \
            .groupby("k", sort=False, dropna=False)
        n_prior = gb.cumcount().to_numpy(dtype="int64")
        s_prior = gb["ci"].cumsum().to_numpy() - ci
        q_prior = gb["sq"].cumsum().to_numpy() - sq
        with np.errstate(divide="ignore", invalid="ignore"):
            mean = s_prior.astype("float64") / n_prior
            var = q_prior.astype("float64") / n_prior - mean * mean
            z = (ci.astype("float64") - mean) / np.sqrt(var)
        ok = (n_prior >= 2) & (var > 0)
        zs = [round(float(v), 6) if k else None for v, k in zip(z, ok)]
        out = pdf.copy()
        out["n_prior"] = n_prior
        out["zscore"] = pd.array(zs, dtype="Float64")
        return out[out_cols]

    def one_shot(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            [key_column] + sort_cols, kind="mergesort"
        )
        c = np.rint(pdf[value_column].to_numpy(dtype="float64") * scale)
        # int64 exactness, per key: a key whose (s, q) sums could reach
        # 2^62 (n_k * max|c| or n_k * max(c^2)), or that holds a
        # non-finite value, takes the exact bigint fold; the bucket's
        # other keys stay vectorized
        per_key = pd.DataFrame({
            "k": pdf[key_column].to_numpy(),
            "a": np.where(np.isfinite(c), np.abs(c), np.inf),
        }).groupby("k", sort=False, dropna=False)["a"]
        n_k = per_key.transform("size").to_numpy(dtype="float64")
        cmax_k = per_key.transform("max").to_numpy()
        wide = (n_k * cmax_k >= 2**62) | (n_k * cmax_k * cmax_k >= 2**62)
        pieces = [vectorized(pdf[~wide], c[~wide])]
        for _, g in pdf[wide].groupby(key_column, sort=False, dropna=False):
            scored, _ = _zscore_rows_loop(g, (0, 0, 0), value_column, scale)
            pieces.append(scored[out_cols])
        return pd.concat(pieces, ignore_index=True)

    return _apply_per_key_bucket(df, key_column, one_shot, output_schema)


_SESSION_STATE = "start_ms bigint, last_ms bigint, n bigint"


def _fold_sessions(ts_sorted_ms, state, gap_ms):
    """Fold sorted timestamps + the stored open session into
    ``(closed_sessions, open_state)``.

    The stored open session is merged with the sorted batch as an
    INTERVAL in timeline order, so late events behave exactly like a
    batch replay of the same events: one inside the open session widens
    it; one within ``gap`` of its start extends it backward; one more
    than ``gap`` before its start forms its own earlier session
    (emitted as closed) instead of being absorbed across a silence
    longer than the gap.  Limitation (bounded one-session state): a
    closed session emits as soon as a later event closes it — a
    still-later late event that would have reopened it starts a new
    session instead.

    Module-level (not a closure) so the in-order-delivery property —
    incremental folding over ANY consecutive split of a sorted stream
    equals the one-shot fold — is directly property-tested
    (``tests/test_stateful.py``).
    """
    start, last, n = state
    items = [(t, t, 1) for t in ts_sorted_ms]
    if last is not None:
        items.append((start, last, n))
        items.sort()
    if not items:
        return [], (None, None, 0)
    merged = [items[0]]
    for s, e, c in items[1:]:
        ps, pe, pc = merged[-1]
        if s - pe <= gap_ms:
            merged[-1] = (ps, max(pe, e), pc + c)
        else:
            merged.append((s, e, c))
    closed = [(s, e + gap_ms, c) for s, e, c in merged[:-1]]
    return closed, merged[-1]


def sessionize(
    df: DataFrame,
    key_column: str = "user_id",
    ts_column: str = "ts",
    gap: str = "1 hour",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Custom session machine over ``applyInPandasWithState`` with
    EVENT-TIME TIMEOUT — the arbitrary-state path Spark's native
    ``session_window`` doesn't need, demonstrated on the operator whose
    semantics it CAN check: output rows are ``(user_id,
    session_start_ms, session_end_ms = last event + gap, n_events)``,
    identical to :func:`~bdq_spark.streaming.session_window_agg`.

    Streaming: state holds the open session per key; sessions closed by
    an in-batch gap emit immediately, the trailing open session arms an
    event-time timeout at ``last + gap`` and emits when the watermark
    passes it (append semantics; state for a key is dropped on timeout,
    so state size is bounded by the number of concurrently-open
    sessions).  Batch: the same splitting logic one-shot per key, which
    is what the DuckDB gaps-and-islands oracle checks.

    Real uses of this shape add custom per-session state the native
    operator can't express (distinct pages, conversion flags, decayed
    scores) — the plumbing is identical.

    KEY-TYPE LIMITATION (ADVICE r13): the batch path groups inside
    pandas with ``groupby(dropna=False)``, which treats ``None`` and
    ``NaN`` as ONE NA group, while Spark's ``groupBy`` keeps null and
    NaN (float/double keys) distinct — a double-typed key column
    containing BOTH null and NaN would merge their event streams.
    Integer/string/timestamp keys (every caller here) are unaffected;
    normalize NaN to a sentinel upstream if double keys are ever in
    scope.  Likewise ``pd.to_datetime(...).to_numpy('datetime64[ns]')``
    raises on tz-aware inputs the old per-row ``Timestamp.value`` path
    accepted.
    """
    import re as _re

    # output schema follows the key column's name and actual type (a
    # string or int key must not be mislabeled `user_id bigint`)
    key_type = df.schema[key_column].dataType.simpleString()
    session_output = (
        f"{key_column} {key_type}, session_start_ms bigint, "
        "session_end_ms bigint, n_events bigint"
    )

    m = _re.fullmatch(r"(\d+)\s*(second|minute|hour|day)s?", gap.strip())
    if not m:
        raise ValueError("gap must look like '30 minutes' / '1 hour'")
    gap_ms = int(m.group(1)) * {
        "second": 1_000,
        "minute": 60_000,
        "hour": 3_600_000,
        "day": 86_400_000,
    }[m.group(2)]

    def _split(ts_sorted_ms, start, last, n):
        return _fold_sessions(ts_sorted_ms, (start, last, n), gap_ms)

    if df.isStreaming:
        from pyspark.sql.streaming.state import GroupState

        def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
            if state.hasTimedOut:
                start, last, n = state.get
                state.remove()
                yield pd.DataFrame(
                    {
                        key_column: [key[0]],
                        "session_start_ms": [start],
                        "session_end_ms": [last + gap_ms],
                        "n_events": [n],
                    }
                )
                return
            ts = []
            for pdf in pdfs:
                ts.extend(
                    int(v.value // 1_000_000)
                    for v in pd.to_datetime(pdf[ts_column])
                )
            ts.sort()
            start, last, n = state.get if state.exists else (None, None, 0)
            closed, (start, last, n) = _split(ts, start, last, n)
            state.update((start, last, n))
            state.setTimeoutTimestamp(last + gap_ms)
            if closed:
                yield pd.DataFrame(
                    {
                        key_column: [key[0]] * len(closed),
                        "session_start_ms": [c[0] for c in closed],
                        "session_end_ms": [c[1] for c in closed],
                        "n_events": [c[2] for c in closed],
                    }
                )

        return (
            df.withWatermark(ts_column, watermark)
            .groupBy(key_column)
            .applyInPandasWithState(
                update,
                outputStructType=session_output,
                stateStructType=_SESSION_STATE,
                outputMode="append",
                timeoutConf="EventTimeTimeout",
            )
        )

    # BATCH path (:func:`_apply_per_key_bucket`): one vectorized
    # gaps-and-islands pass per bucket.
    import numpy as np

    def one_shot(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pd.DataFrame(
                {
                    key_column: pd.array([], dtype="object"),
                    "session_start_ms": pd.array([], dtype="int64"),
                    "session_end_ms": pd.array([], dtype="int64"),
                    "n_events": pd.array([], dtype="int64"),
                }
            )
        # ns-normalized epoch millis — identical to the per-row
        # Timestamp.value // 1e6 the pre-r13 loop computed
        t = (
            pd.to_datetime(pdf[ts_column])
            .to_numpy(dtype="datetime64[ns]")
            .astype("int64")
            // 1_000_000
        )
        work = pd.DataFrame(
            {"k": pdf[key_column].to_numpy(), "t": t}
        ).sort_values(["k", "t"], kind="mergesort")
        # islands: a session starts at a key's first event or after a
        # silence STRICTLY longer than the gap (merge rule s - pe <=
        # gap_ms, same as _fold_sessions)
        prev_gap = work.groupby("k", sort=False, dropna=False)["t"].diff()
        sid = np.cumsum(
            (prev_gap.isna() | (prev_gap > gap_ms)).to_numpy()
        )
        g = work.groupby(sid, sort=False)
        tg = g["t"]
        return pd.DataFrame(
            {
                # within a session the key is constant (possibly the
                # null group), so first() per group is the key itself
                key_column: g["k"].first().to_numpy(),
                "session_start_ms": tg.first().to_numpy(dtype="int64"),
                "session_end_ms": tg.last().to_numpy(dtype="int64")
                + gap_ms,
                "n_events": g.size().to_numpy(dtype="int64"),
            }
        )

    return _apply_per_key_bucket(df, key_column, one_shot, session_output)
